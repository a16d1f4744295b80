package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** D2/D3 semantics + the merge/window equivalence property (SURVEY §5):
  * applying per-batch merges must equal the W1 latest-state window over the
  * full concatenated change log.
  */
class MergeSpecTest extends SparkSpec {

  import spark.implicits._

  private def log(rows: (String, Long, Long, Boolean, Double)*) =
    rows.toDF("account_id", "last_modified_ledger", "ledger_entry_change", "deleted", "balance")

  test("tombstone merge: delete/update/insert branches") {
    val target = log(("a", 1, 1, false, 10.0), ("b", 1, 1, false, 20.0))
    val source = log(("a", 2, 1, true, 0.0), ("b", 2, 1, false, 25.0), ("c", 2, 1, false, 30.0))
    val out = MergeOps.merge(target, source, MergeSpec(Seq("account_id"), Some("deleted")))
      .select("account_id", "balance").as[(String, Double)].collect().toMap
    assert(out == Map("b" -> 25.0, "c" -> 30.0))
  }

  test("insertUnique ignores keys already present") {
    val target = log(("a", 1, 1, false, 10.0))
    val source = log(("a", 9, 9, false, 99.0), ("b", 2, 1, false, 20.0))
    val out = MergeOps.insertUnique(target, source, Seq("account_id"))
      .select("account_id", "balance").as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 10.0, "b" -> 20.0))
  }

  test("sequential merges == latest-state window over the whole log") {
    val batch1 = log(("a", 1, 1, false, 10.0), ("b", 1, 1, false, 20.0))
    val batch2 = log(("a", 2, 1, false, 11.0), ("c", 2, 1, false, 30.0))
    val batch3 = log(("b", 3, 1, true, 0.0), ("c", 3, 1, false, 31.0))
    val spec = MergeSpec(Seq("account_id"), Some("deleted"))

    val merged = Seq(batch2, batch3).foldLeft(batch1)((t, b) => MergeOps.merge(t, b, spec))

    val full = batch1.unionByName(batch2).unionByName(batch3)
    val windowed = CurrentState
      .latestByKey(full, Seq("account_id"), Seq("last_modified_ledger", "ledger_entry_change"))
      .filter(!col("deleted"))

    val m = merged.select("account_id", "balance").as[(String, Double)].collect().toSet
    val w = windowed.select("account_id", "balance").as[(String, Double)].collect().toSet
    assert(m == w, s"merge path $m != window path $w")
  }

  test("mergePartitioned == pure merge; untouched partitions are never read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("merge_wh").toString
    // key-derived partitioning: p = custkey % 4 — the contract that lets a
    // merge prune its read to the partitions source keys can live in
    def part(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("p", col("account_id_num") % 4)
    val target = part((0L until 40L).toDF("account_id_num")
      .withColumn("balance", col("account_id_num") * 1.0)
      .withColumn("deleted", lit(false)))
    target.write.mode("overwrite").partitionBy("p").parquet(root)
    val wh = new DelIns.Warehouse(spark, root, Seq("p"))

    // source touches only partitions 1 and 2 (+ a tombstone + an insert)
    val source = part(Seq((1L, 101.0, false), (5L, 105.0, true), (41L, 141.0, false),
      (2L, 202.0, false)).toDF("account_id_num", "balance", "deleted"))
    val spec = MergeSpec(Seq("account_id_num"), Some("deleted"))
    val expected = MergeOps.merge(part(spark.read.parquet(root).drop("p")), source, spec)
      .select("account_id_num", "balance").as[(Long, Double)].collect().toSet

    wh.mergePartitioned(source, spec)
    val got = wh.read().select("account_id_num", "balance")
      .as[(Long, Double)].collect().toSet
    assert(got == expected, s"storage merge drifted from pure merge")
    assert(got.contains((1L, 101.0)) && got.contains((41L, 141.0)) &&
      !got.exists(_._1 == 5L))

    // the pruned target read touches exactly the 2 affected partitions
    val pruned = wh.read().filter(col("p") === 1 || col("p") === 2)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.toString.contains("PartitionFilters: [") &&
      !scan.toString.contains("PartitionFilters: []"),
      s"partition filter must reach the scan:\n$scan")
    scan.metrics.get("numPartitions").map(_.value).foreach { n =>
      assert(n == 2, s"expected 2 partitions read, got $n")
    }
  }

  test("mergePartitioned drops a partition whose rows were all tombstoned") {
    val root = java.nio.file.Files.createTempDirectory("merge_wh2").toString
    val target = Seq((0L, 1.0, false), (4L, 2.0, false), (1L, 3.0, false))
      .toDF("k", "balance", "deleted").withColumn("p", col("k") % 4)
    target.write.mode("overwrite").partitionBy("p").parquet(root)
    val wh = new DelIns.Warehouse(spark, root, Seq("p"))
    // tombstone EVERY key of partition 0
    val source = Seq((0L, 0.0, true), (4L, 0.0, true))
      .toDF("k", "balance", "deleted").withColumn("p", col("k") % 4)
    wh.mergePartitioned(source, MergeSpec(Seq("k"), Some("deleted")))
    val left = wh.read().select("k").as[Long].collect().toSet
    assert(left == Set(1L), s"partition 0 must be fully dropped, got $left")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/p=0")),
      "emptied partition directory must be deleted")
  }

  test("mergePartitioned deletes emptied STRING partitions with special chars") {
    val root = java.nio.file.Files.createTempDirectory("merge_wh3").toString
    // partition values exercising Spark's path escaping: a space (written
    // verbatim) and a colon (escaped as %3A) — URL/form encoding would
    // miss both directories
    val target = Seq((1L, "north america", false), (2L, "emea:apac", false))
      .toDF("k", "region", "deleted")
    target.write.mode("overwrite").partitionBy("region").parquet(root)
    val wh = new DelIns.Warehouse(spark, root, Seq("region"))
    val source = Seq((1L, "north america", true))
      .toDF("k", "region", "deleted")
    wh.mergePartitioned(source, MergeSpec(Seq("k"), Some("deleted")))
    assert(wh.read().select("k").as[Long].collect().toSeq == Seq(2L))
    val leftDirs = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!leftDirs.exists(_.contains("north")),
      s"emptied 'north america' partition dir must be deleted, dirs=$leftDirs")
  }

  test("mergePartitioned stages one file per touched partition, pins " +
      "nothing and leaves no staging dir; a crashed one is never read") {
    val root = java.nio.file.Files.createTempDirectory("merge_wh4").toString
    def part(df: org.apache.spark.sql.DataFrame) = df.withColumn("p", col("k") % 4)
    // several files per partition, as earlier multi-task writes leave them
    part((0L until 40L).toDF("k").withColumn("balance", col("k") * 1.0)
      .withColumn("deleted", lit(false))).repartition(4)
      .write.mode("overwrite").partitionBy("p").parquet(root)
    // the staging dir of a merge that crashed before its swap
    part(Seq((1L, -1.0, false), (100L, -1.0, false)).toDF("k", "balance", "deleted"))
      .write.partitionBy("p").parquet(s"$root/${DelIns.StagingPrefix}crashed")
    val wh = new DelIns.Warehouse(spark, root, Seq("p"))
    def dataFiles(p: Int): Seq[String] =
      new java.io.File(s"$root/p=$p").listFiles().map(_.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSeq
    val untouched = Seq(0, 3).map(dataFiles)
    // touches partitions 1 (update, tombstone, insert) and 2, from 4 input splits
    val source = part(Seq((1L, 101.0, false), (5L, 0.0, true), (41L, 141.0, false),
      (2L, 102.0, false)).toDF("k", "balance", "deleted")).repartition(4)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    wh.mergePartitioned(source, MergeSpec(Seq("k"), Some("deleted")))
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(pinned),
      "the merge must not leave a persisted RDD behind")
    assert(dataFiles(1).size == 1 && dataFiles(2).size == 1,
      s"one file per touched partition: p=1 ${dataFiles(1)}, p=2 ${dataFiles(2)}")
    assert(Seq(0, 3).map(dataFiles) == untouched, "untouched partitions were rewritten")
    val staging = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith(DelIns.StagingPrefix)).toSet
    assert(staging.isEmpty, s"staging dirs left, the crashed one included: $staging")
    val got = wh.read().select("k", "balance").as[(Long, Double)].collect().toMap
    assert(got.size == 40 && !got.contains(5L) && got(41L) == 141.0 &&
      got(1L) == 101.0 && got(2L) == 102.0 && !got.values.exists(_ < 0),
      s"merged table drifted or read the crashed staging dir: $got")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged, null-safely") {
    val before = Seq((1L, Some("a"), 1.0), (2L, None: Option[String], 2.0),
      (3L, Some("c"), 3.0)).toDF("k", "s", "v")
    val after = Seq((1L, Some("a"), 1.0), (2L, None: Option[String], 9.0),
      (4L, Some("d"), 4.0)).toDF("k", "s", "v")
    val d = MergeOps.snapshotDiff(before, after, Seq("k"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(d(1L) == (("unchanged", 0L)))
    assert(d(2L) == (("changed", 1L)))   // null == null must NOT count as change
    assert(d(3L) == (("removed", 0L)))
    assert(d(4L) == (("added", 0L)))
    // diff of a table against itself is all-unchanged
    val self = MergeOps.snapshotDiff(before, before, Seq("k"))
    assert(self.filter(col("change_type") =!= "unchanged").isEmpty)
    // keys-only tables diff as pure membership (empty payload must not crash)
    val m = MergeOps.snapshotDiff(
      Seq(1L, 2L).toDF("k"), Seq(2L, 3L).toDF("k"), Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "removed", 2L -> "unchanged", 3L -> "added"))
  }

  test("scd2Merge: closes open intervals, chains in-batch updates, adds " +
      "new keys, never rewinds history, rejects late data") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val logDf = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0, 1L),
      (1L, ts("2024-01-05 00:00:00"), 11.0, 2L),
      (2L, ts("2024-01-02 00:00:00"), 20.0, 3L))
      .toDF("user_id", "ts", "value", "event_id")
    val target = AsOfJoin.scd2Intervals(logDf, Seq("user_id"), "ts", Seq("event_id"))
    val updates = Seq(
      (1L, ts("2024-01-10 00:00:00"), 12.0, 4L), // closes key 1's open row
      (1L, ts("2024-01-12 00:00:00"), 13.0, 5L), // chains within the batch
      (3L, ts("2024-01-11 00:00:00"), 30.0, 6L)) // brand-new key
      .toDF("user_id", "ts", "value", "event_id")
    val merged = MergeOps.scd2Merge(target, updates, Seq("user_id"), "ts",
      Seq("event_id"))
    val full = AsOfJoin.scd2Intervals(logDf.unionByName(updates),
      Seq("user_id"), "ts", Seq("event_id"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "incremental fold must equal the full recompute")
    // untouched key 2's open row is literally unchanged (still open)
    assert(merged.filter($"user_id" === 2L && $"valid_to" ===
      lit(AsOfJoin.EndOfTime).cast("timestamp")).count() == 1)
    // late data (older than key 1's open valid_from) is refused
    val late = Seq((1L, ts("2024-01-03 00:00:00"), 99.0, 7L))
      .toDF("user_id", "ts", "value", "event_id")
    intercept[IllegalArgumentException] {
      MergeOps.scd2Merge(target, late, Seq("user_id"), "ts", Seq("event_id"))
    }
  }

  test("dedupInsertNewRows keeps the oldest staging row per new key") {
    val staging = log(("a", 1, 1, false, 1.0), ("a", 2, 1, false, 2.0),
      ("d", 1, 1, false, 4.0), ("d", 2, 1, false, 5.0))
    val existing = log(("a", 0, 0, false, 0.0)).select("account_id")
    val out = MergeOps.dedupInsertNewRows(staging, existing,
      Seq("account_id"), Seq("last_modified_ledger", "ledger_entry_change"))
    assert(out.select("account_id", "balance").as[(String, Double)].collect().toSeq ==
      Seq(("d", 4.0)), "existing key 'a' skipped; oldest row of 'd' kept")
  }
}
