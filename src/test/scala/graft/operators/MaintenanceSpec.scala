package graft.operators

import graft.SparkSpec
import graft.core.{BatchId, BatchWindow}
import graft.sources.Tables
import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpec {

  /** The surviving files of a pruned manifest, collected for assertions. */
  private def survivors(rows: org.apache.spark.sql.DataFrame): Seq[String] =
    rows.select("file").collect().map(_.getString(0)).toSeq

  test("truncate empties the table but keeps the schema") {
    val dir = Files.createTempDirectory("maint").toString
    val r = Tables.load(spark, sfDir, "region")
    r.write.parquet(s"$dir/t")
    Maintenance.truncate(spark, s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 0)
    assert(back.schema == r.schema)
  }

  test("enforceScanBudget: an over-budget plan refuses BEFORE any scan " +
      "(zero jobs run), partition pruning shrinks the estimate, and a " +
      "within-budget plan passes through executable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("budget").toString
    (1 to 2000).map(i => (i.toLong, s"2024-01-0${i % 2 + 1}"))
      .toDF("id", "day")
      .write.partitionBy("day").parquet(s"$dir/t")
    val all = spark.read.parquet(s"$dir/t")
    val total = Maintenance.estimateScanBytes(all.groupBy("day").count())
    assert(total > 0, "file-backed plan must estimate positive input")
    // over budget: refuse, and the refusal must not have run ANY job —
    // the estimate is a listing, not a scan
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val err = intercept[IllegalArgumentException] {
      Maintenance.enforceScanBudget(all.groupBy("day").count(), total - 1)
    }
    assert(err.getMessage.contains("scan budget exceeded"))
    Thread.sleep(300) // status tracker updates via the async listener bus
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      == jobsBefore, "an over-budget refusal must not execute anything")
    // partition pruning reaches the estimate: one day's filter halves the
    // billed bytes, so a budget the full scan busts passes for the
    // pruned query — and the returned frame is the same plan, executable
    val pruned = all.filter(col("day") === "2024-01-01").groupBy("day").count()
    val est1 = Maintenance.estimateScanBytes(pruned)
    assert(est1 < total, s"pruned estimate $est1 must be under full $total")
    val ok = Maintenance.enforceScanBudget(pruned, total - 1)
    assert(ok.collect().map(_.getLong(1)).sum == 1000L)
    // a scan living INSIDE a scalar subquery is billed too — the
    // dominant cost of a guarded plan can be entirely in one
    all.createOrReplaceTempView("budget_t")
    val withSub = spark.sql(
      "SELECT * FROM budget_t WHERE id > (SELECT max(id) FROM budget_t) - 100000")
    // outer full scan + whole-table subquery bill ≈ 2x one scan; the
    // 1.5x floor fails if EITHER leg drops out of the estimate
    assert(Maintenance.estimateScanBytes(withSub) * 2 >= 3 * total,
      "outer + subquery scans must both contribute to the estimate")
  }

  test("appendRunStats accumulates one audit row per load") {
    val dir = Files.createTempDirectory("maint2").toString
    val w = BatchWindow(Instant.parse("2024-01-15T00:00:00Z"), Instant.parse("2024-01-15T00:10:00Z"))
    Maintenance.appendRunStats(spark, s"$dir/stats", BatchId("r1", "ledgers"), w, 100, 163, "ledgers")
    Maintenance.appendRunStats(spark, s"$dir/stats", BatchId("r1", "txs"), w, 100, 163, "transactions")
    val stats = spark.read.parquet(s"$dir/stats")
    assert(stats.count() == 2)
    assert(stats.filter(col("table_name") === "ledgers")
      .select("start_ledger").head().getLong(0) == 100)
    assert(stats.schema("batch_run_date").dataType.typeName == "timestamp_ntz")
  }

  test("dailyIncrement selects exactly one day") {
    val ev = Tables.load(spark, sfDir, "events")
    val inc = Maintenance.dailyIncrement(ev, "ts", "2024-01-15")
    assert(inc.count() > 0)
    assert(inc.filter(to_date(col("ts")) =!= "2024-01-15").count() == 0)
  }

  test("compact rewrites the directory to n files with identical content") {
    import spark.implicits._
    val p = Files.createTempDirectory("compact").toString + "/tbl"
    spark.range(1000).toDF("id").repartition(37).write.parquet(p)
    def files = new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(files > 30)
    Maintenance.compact(spark, p, 2)
    assert(files == 2, s"expected 2 files after compact, got $files")
    assert(spark.read.parquet(p).agg(sum("id")).head.getLong(0) == 499500L)
    // a trailing slash must not root the tmp/old siblings inside the table
    Maintenance.compact(spark, p + "/", 1)
    assert(files == 1, s"expected 1 file after trailing-slash compact, got $files")
    assert(spark.read.parquet(p).agg(sum("id")).head.getLong(0) == 499500L)
  }

  test("compactClustered co-clusters while it compacts: same rows, tight envelopes") {
    import spark.implicits._
    val p = Files.createTempDirectory("compactz").toString + "/tbl"
    // write randomly-shuffled keys across many files: every file's key
    // envelope spans the whole domain, so nothing can prune
    (0 until 1000).map(i => (i * 7919) % 1000).toDF("k")
      .repartition(20).write.parquet(p)
    Maintenance.compactClustered(spark, p, 4, col("k"))
    def files = new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(files <= 4)
    val back = spark.read.parquet(p)
    assert(back.count() == 1000 &&
      back.agg(sum("k")).head.getLong(0) == (0 until 1000).map(i => (i * 7919) % 1000).sum)
    assert(!back.columns.contains("__ck"))
    // post-compact, per-file [min,max] ranges are disjoint-ish: a point
    // query's manifest prune hits exactly one file
    val mf = DataSkipping.manifest(spark, p, Seq("k"))
    assert(survivors(DataSkipping.prunedManifestRows(mf, Seq(("k", 10, 10)))).size == 1)
  }

  test("compact recovers a table stranded in __compact_old by a prior crash") {
    import spark.implicits._
    val p = Files.createTempDirectory("compact_crash").toString + "/tbl"
    spark.range(100).toDF("id").repartition(5).write.parquet(p)
    // simulate a crash between the two swap renames: data only in old
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.fs.Path(p + "__compact_old")))
    Maintenance.compact(spark, p, 1)
    assert(spark.read.parquet(p).agg(sum("id")).head.getLong(0) == 4950L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "__compact_old")))
  }

  test("compact refuses a partitioned table root (would flatten the layout)") {
    import spark.implicits._
    val p = Files.createTempDirectory("compact_part").toString + "/tbl"
    (1 to 100).map(i => (i.toLong, i % 3)).toDF("id", "p")
      .write.partitionBy("p").parquet(p)
    val e = intercept[IllegalArgumentException](Maintenance.compact(spark, p, 2))
    assert(e.getMessage.contains("partition subdirs"))
    // compacting one leaf partition dir is the supported shape
    Maintenance.compact(spark, s"$p/p=0", 1)
    assert(spark.read.parquet(s"$p/p=0").count() == 33)
  }

  test("latestFileByPrefix picks the newest matching file") {
    val dir = Files.createTempDirectory("sensor")
    Files.writeString(dir.resolve("mgi_2024_01_01.csv"), "a")
    Thread.sleep(20)
    Files.writeString(dir.resolve("mgi_2024_01_02.csv"), "b")
    Files.writeString(dir.resolve("other.csv"), "c")
    val got = Maintenance.latestFileByPrefix(spark, dir.toString, "mgi_")
    assert(got.exists(_.endsWith("mgi_2024_01_02.csv")))
    assert(Maintenance.latestFileByPrefix(spark, dir.toString, "absent_").isEmpty)
  }
}
