package graft.streaming

import graft.SparkSpec
import graft.sources.SchemaRegistry
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** §2.9: the 10-minute micro-batch ingest as Structured Streaming with
  * Trigger.AvailableNow + del-ins (exactly-once under retry).
  */
class MicroBatchIngestSpec extends SparkSpec {

  private val schemaJson =
    """[
      |  {"name": "sequence", "type": "INTEGER"},
      |  {"name": "closed_at", "type": "TIMESTAMP"}
      |]""".stripMargin

  private val window = graft.core.BatchWindow(
    java.time.Instant.parse("2026-01-13T00:00:00Z"),
    java.time.Instant.parse("2026-01-13T00:10:00Z"))

  test("AvailableNow drains NDJSON files into the warehouse with lineage") {
    val root = Files.createTempDirectory("stream").toString
    val in = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    Files.writeString(java.nio.file.Paths.get(s"$in/100-200-ledgers.txt"),
      """{"sequence": 100, "closed_at": "2026-01-13T00:05:07Z"}
        |{"sequence": 101, "closed_at": "2026-01-13T00:05:12Z"}""".stripMargin)

    val schema = SchemaRegistry.fromJson(schemaJson)
    MicroBatchIngest.runAvailableNow(spark, schema, s"$in/*.txt",
      s"$root/wh", s"$root/ckpt", "run1", "ledgers", window)

    val out = spark.read.parquet(s"$root/wh")
    assert(out.count() == 2)
    assert(out.columns.contains("batch_id") && out.columns.contains("batch_run_date"))
    assert(out.filter(col("batch_id") === "run1-ledgers").count() == 2)

    // second drain with no new files adds nothing (checkpointed offsets)
    MicroBatchIngest.runAvailableNow(spark, schema, s"$in/*.txt",
      s"$root/wh", s"$root/ckpt", "run1", "ledgers", window)
    assert(spark.read.parquet(s"$root/wh").count() == 2)

    // a new file is picked up incrementally
    Files.writeString(java.nio.file.Paths.get(s"$in/200-300-ledgers.txt"),
      """{"sequence": 201, "closed_at": "2026-01-13T00:15:07Z"}""")
    MicroBatchIngest.runAvailableNow(spark, schema, s"$in/*.txt",
      s"$root/wh", s"$root/ckpt", "run1", "ledgers", window)
    assert(spark.read.parquet(s"$root/wh").count() == 3)
  }

  test("a retried trigger is byte-identical, lineage columns included") {
    val root = Files.createTempDirectory("stream_retry").toString
    val in = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    Files.writeString(java.nio.file.Paths.get(s"$in/100-200-ledgers.txt"),
      """{"sequence": 100, "closed_at": "2026-01-13T00:05:07Z"}
        |{"sequence": 101, "closed_at": "2026-01-13T00:05:12Z"}""".stripMargin)
    val schema = SchemaRegistry.fromJson(schemaJson)
    // a "retry" = the same logical run draining the same input from a
    // fresh checkpoint (the failed attempt's progress is discarded)
    MicroBatchIngest.runAvailableNow(spark, schema, s"$in/*.txt",
      s"$root/wh", s"$root/ckpt1", "run1", "ledgers", window)
    val first = spark.read.parquet(s"$root/wh").collect().map(_.toString).sorted
    MicroBatchIngest.runAvailableNow(spark, schema, s"$in/*.txt",
      s"$root/wh", s"$root/ckpt2", "run1", "ledgers", window)
    val second = spark.read.parquet(s"$root/wh").collect().map(_.toString).sorted
    assert(first.sameElements(second),
      "retried trigger must rewrite identical rows including batch_run_date/batch_insert_ts")
    assert(spark.read.parquet(s"$root/wh")
      .select("batch_insert_ts").distinct().count() == 1)
  }

  test("a second drain of the same window compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val schema = SchemaRegistry.fromJson(schemaJson)
    // each drain is a new streaming query on a cloned session; its tasks
    // must find the classes the first drain generated
    def drain(tag: String): Long = {
      val root = Files.createTempDirectory(s"stream_codegen_$tag").toString
      val in = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(in))
      Files.writeString(java.nio.file.Paths.get(s"$in/100-200-ledgers.txt"),
        """{"sequence": 100, "closed_at": "2026-01-13T00:05:07Z"}
          |{"sequence": 101, "closed_at": "2026-01-13T00:05:12Z"}""".stripMargin)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      MicroBatchIngest.runAvailableNow(spark, schema, s"$in/*.txt",
        s"$root/wh", s"$root/ckpt", "run1", "ledgers", window)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    drain("first")
    assert(drain("second") == 0L)
  }

  test("NTZ ingest proof: batch_run_date lands TIMESTAMP_NTZ and del-ins " +
      "delete predicates match NTZ batches byte-identically") {
    import org.apache.spark.sql.types.TimestampNTZType
    val root = Files.createTempDirectory("stream_ntz").toString
    val in = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    Files.writeString(java.nio.file.Paths.get(s"$in/100-200-ledgers.txt"),
      """{"sequence": 100, "closed_at": "2026-01-13T00:05:07Z"}
        |{"sequence": 101, "closed_at": "2026-01-13T00:05:12Z"}""".stripMargin)
    val schema = SchemaRegistry.fromJson(schemaJson)
    MicroBatchIngest.runAvailableNow(spark, schema, s"$in/*.txt",
      s"$root/wh", s"$root/ck1", "run1", "ledgers", window)
    val wh = spark.read.parquet(s"$root/wh")
    // the reference's batch_run_date is DATETIME (timezone-naive, SURVEY
    // §1.2) — the stamped column must survive the streaming write as NTZ,
    // not silently widen to an instant type
    assert(wh.schema("batch_run_date").dataType == TimestampNTZType)
    assert(wh.select("batch_run_date").distinct().count() == 1)

    // the pure del-ins path keyed on the NTZ lineage: a re-export of the
    // SAME logical batch (same run + window -> same NTZ batch_run_date)
    // must replace the old rows exactly — the delete predicate comparing
    // NTZ values byte-for-byte, never dropping or doubling a batch
    val target = wh
    val rerun = graft.core.Batch.stampLineage(
      spark.read.schema(schema).json(s"$in/*.txt"),
      graft.core.BatchId("run1", "ledgers"), window, insertTs = window.end)
      .withColumn("p_batch", lit("run1-000000"))
    val afterRetry = graft.operators.DelIns.delIns(target, rerun,
      Seq("batch_run_date", "batch_id"))
    assert(afterRetry.count() == target.count(),
      "same NTZ batch key must replace, not append")
    // the using-column anti join inside delIns reorders columns (keys
    // first), so pin one explicit order on both sides of the compare
    val cols = target.columns.map(col).toSeq
    assert(afterRetry.select(cols: _*).exceptAll(rerun.select(cols: _*)).isEmpty,
      "retried NTZ batch must land byte-identical")

    // a DIFFERENT window (next interval) gets a different NTZ run date and
    // must append alongside, not delete the prior batch
    val w2 = graft.core.BatchWindow(
      window.start.plusSeconds(600), window.end.plusSeconds(600))
    val nextBatch = graft.core.Batch.stampLineage(
      spark.read.schema(schema).json(s"$in/*.txt"),
      graft.core.BatchId("run1", "ledgers"), w2, insertTs = w2.end)
      .withColumn("p_batch", lit("run1-000000"))
    val appended = graft.operators.DelIns.delIns(target, nextBatch,
      Seq("batch_run_date", "batch_id"))
    assert(appended.count() == target.count() + nextBatch.count(),
      "a different NTZ run date is a different batch — both survive")
  }

  test("mergeDrain: final state is independent of micro-batch slicing, tombstones hold") {
    import spark.implicits._
    val changes = Seq(
      // key, value, version, deleted
      (1L, "v1", 1L, false), (2L, "v1", 1L, false), (3L, "v1", 1L, false),
      (2L, "v2", 2L, false),              // update
      (3L, "gone", 2L, true),             // tombstone
      (3L, "late", 1L, false),            // late lower-version redelivery
      (4L, "new", 2L, false)
    ).toDF("k", "v", "version", "deleted")

    def drain(nFiles: Int, tag: String): Map[Long, (String, Long, Boolean)] = {
      val root = Files.createTempDirectory(s"merge_drain_$tag").toString
      changes.repartition(nFiles).write.parquet(s"$root/in")
      val stream = spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      val fin = MicroBatchIngest.mergeDrain(
        stream, Seq("k"), "version", s"$root/state", s"$root/ck")
      spark.read.parquet(fin).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
        .toMap
    }

    val expected = Map(
      1L -> (("v1", 1L, false)), 2L -> (("v2", 2L, false)),
      3L -> (("gone", 2L, true)), 4L -> (("new", 2L, false)))
    // every slicing folds to the same state: the late k=3 v1 row can land
    // before OR after the tombstone's batch and must never resurrect it
    assert(drain(1, "one") == expected)
    assert(drain(3, "three") == expected)
    assert(drain(7, "seven") == expected)
  }

  test("mergeDrain resumes from a durable checkpoint without losing pre-restart state") {
    import spark.implicits._
    val root = Files.createTempDirectory("merge_resume").toString
    // first run: seed arrives, commits, "process dies" (drain completes)
    Seq((1L, "v1", 1L, false), (2L, "v1", 1L, false))
      .toDF("k", "v", "version", "deleted")
      .write.parquet(s"$root/in")
    val schema = spark.read.parquet(s"$root/in").schema
    val s1 = spark.readStream.schema(schema).parquet(s"$root/in")
    MicroBatchIngest.mergeDrain(s1, Seq("k"), "version", s"$root/state", s"$root/ck")
    // restart: only NEW files are unprocessed; the committed seed batch is
    // skipped by the source and must be recovered from state_v*
    Seq((2L, "v2", 2L, false), (3L, "new", 1L, false))
      .toDF("k", "v", "version", "deleted")
      .write.mode("append").parquet(s"$root/in")
    val s2 = spark.readStream.schema(schema).parquet(s"$root/in")
    val fin = MicroBatchIngest.mergeDrain(s2, Seq("k"), "version",
      s"$root/state", s"$root/ck")
    val got = spark.read.parquet(fin).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "v1", 2L -> "v2", 3L -> "new"),
      s"pre-restart keys must survive the resume, got $got")
  }

  test("mergeDrain with a FRESH checkpoint ignores a dead run's leftover state") {
    import spark.implicits._
    val root = Files.createTempDirectory("merge_stale").toString
    // a dead logical run left state behind in the same stateRoot
    Seq((99L, "stale", 9L, false)).toDF("k", "v", "version", "deleted")
      .write.parquet(s"$root/state/state_v7")
    Seq((1L, "live", 1L, false)).toDF("k", "v", "version", "deleted")
      .write.parquet(s"$root/in")
    val schema = spark.read.parquet(s"$root/in").schema
    val st = spark.readStream.schema(schema).parquet(s"$root/in")
    val fin = MicroBatchIngest.mergeDrain(st, Seq("k"), "version",
      s"$root/state", s"$root/ck")
    // batch 0 reads versions < 0 = nothing: the dead run's keys must NOT
    // leak into the new stream's state
    val keys = spark.read.parquet(fin).select("k").as[Long].collect().toSet
    assert(keys == Set(1L), s"stale state leaked: $keys")
  }

  test("windowed counts aggregate per 10-minute window with watermark") {
    import spark.implicits._
    val ev = Seq(
      ("2024-01-01 00:01:00", "click", 1.0),
      ("2024-01-01 00:02:00", "click", 2.0),
      ("2024-01-01 00:11:00", "click", 3.0))
      .toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = MicroBatchIngest.windowedCounts(ev, "ts", "event_type")
    val rows = out.select(col("window.start").cast("string"), col("n"), col("value_sum"))
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0)._2 == 2 && rows(0)._3 == 3.0)
    assert(rows(1)._2 == 1 && rows(1)._3 == 3.0)
  }

  test("sessionize closes a session only after the gap passes the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, ts: String, uid: Long) =
      graft.typed.Event(id, java.sql.Timestamp.valueOf(ts), uid, "click", Some(1.0), "{}")
    val src = MemoryStream[graft.typed.Event]
    val out = MicroBatchIngest.sessionize(src.toDS(), gapSeconds = 600L)
    val q = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    // session 1: two events 5 min apart; then 20 min of silence, session 2
    src.addData(ev(1, "2024-01-01 10:00:00", 7), ev(2, "2024-01-01 10:05:00", 7))
    q.processAllAvailable()
    src.addData(ev(3, "2024-01-01 10:25:00", 7)) // opens session 2
    q.processAllAvailable()
    // advance event time far enough that session 2's gap also expires
    src.addData(ev(4, "2024-01-01 11:00:00", 8))
    q.processAllAvailable()
    src.addData(ev(5, "2024-01-01 12:00:00", 8)) // push watermark past all gaps
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions_out")
      .as[graft.typed.Session].collect().filter(_.user_id == 7)
      .sortBy(_.start_ts.getTime)
    assert(sessions.length == 2, s"got ${sessions.toSeq}")
    assert(sessions(0).n_events == 2 && sessions(0).value_sum == 2.0)
    assert(sessions(0).end_ts.toString.startsWith("2024-01-01 10:05"))
    assert(sessions(1).n_events == 1)
  }

  test("sessionize: a late in-watermark BRIDGE event merges two pending " +
      "sessions into one — neither may close while a bridge is possible") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, ts: String, uid: Long) =
      graft.typed.Event(id, java.sql.Timestamp.valueOf(ts), uid, "click", Some(1.0), "{}")
    val src = MemoryStream[graft.typed.Event]
    val out = MicroBatchIngest.sessionize(src.toDS(), gapSeconds = 600L)
    val q = out.writeStream.format("memory").queryName("sessions_bridge")
      .outputMode("append").start()
    // batch 1: t=10:00; batch 2: t=10:18 — 18 min apart (> 10-min gap),
    // so a naive stream would close [10:00] NOW, though the watermark
    // (10:08) still admits an event between them
    src.addData(ev(1, "2024-01-01 10:00:00", 9))
    q.processAllAvailable()
    src.addData(ev(2, "2024-01-01 10:18:00", 9))
    q.processAllAvailable()
    // batch 3: the bridge at 10:09 (inside the 10:08 watermark) — gaps
    // 9 min and 9 min, so batch semantics say ONE session of 3 events
    src.addData(ev(3, "2024-01-01 10:09:00", 9))
    q.processAllAvailable()
    src.addData(ev(4, "2024-01-01 12:00:00", 10)) // expire everything
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions_bridge")
      .as[graft.typed.Session].collect().filter(_.user_id == 9)
    assert(sessions.length == 1, s"bridged session must be ONE: ${sessions.toSeq}")
    assert(sessions(0).n_events == 3 && sessions(0).value_sum == 3.0)
    assert(sessions(0).start_ts.toString.startsWith("2024-01-01 10:00") &&
      sessions(0).end_ts.toString.startsWith("2024-01-01 10:18"))
  }

  test("sessionize: a late in-watermark event widens the session, never splits it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, ts: String, uid: Long) =
      graft.typed.Event(id, java.sql.Timestamp.valueOf(ts), uid, "click", Some(1.0), "{}")
    val src = MemoryStream[graft.typed.Event]
    val out = MicroBatchIngest.sessionize(src.toDS(), gapSeconds = 600L)
    val q = out.writeStream.format("memory").queryName("sessions_ooo")
      .outputMode("append").start()
    // batch 1 establishes a session [10:00, 10:08]
    src.addData(ev(1, "2024-01-01 10:00:00", 7), ev(2, "2024-01-01 10:08:00", 7))
    q.processAllAvailable()
    // batch 2 delivers an OLDER event (10:04, inside the watermark) then
    // 10:15. If the merge regressed end_ts to 10:04, the 10:15 event
    // would measure an 11-min gap and wrongly open a second session; from
    // the true max end (10:08) it is 7 min — one session.
    src.addData(ev(3, "2024-01-01 10:04:00", 7), ev(4, "2024-01-01 10:15:00", 7))
    q.processAllAvailable()
    src.addData(ev(5, "2024-01-01 12:00:00", 8)) // advance watermark, close it
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions_ooo")
      .as[graft.typed.Session].collect().filter(_.user_id == 7)
    assert(sessions.length == 1, s"late event split the session: ${sessions.toSeq}")
    assert(sessions.head.n_events == 4 &&
      sessions.head.start_ts.toString.startsWith("2024-01-01 10:00") &&
      sessions.head.end_ts.toString.startsWith("2024-01-01 10:15"), sessions.head.toString)
  }

  test("streaming dedup drops redelivered ids across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val ev = src.toDF().toDF("event_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = MicroBatchIngest.streamingDedup(ev, "ts", Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    src.addData((1L, "2024-01-01 00:01:00"), (2L, "2024-01-01 00:02:00"),
      (1L, "2024-01-01 00:01:00")) // in-batch duplicate
    q.processAllAvailable()
    // redelivery in a later micro-batch: state store still holds id 2
    src.addData((2L, "2024-01-01 00:02:30"), (3L, "2024-01-01 00:03:00"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
  }

  test("stream-stream join matches a click buffered batches before its purchase") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(src: MemoryStream[(Long, String, Long)]) =
      src.toDF().toDF("event_id", "ts_s", "user_id")
        .withColumn("ts", col("ts_s").cast("timestamp"))
    val clicks = MemoryStream[(Long, String, Long)]
    val purchases = MemoryStream[(Long, String, Long)]
    val out = MicroBatchIngest.streamStreamAttribution(ev(purchases), ev(clicks))
    val q = out.writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    // click arrives FIRST, alone in its micro-batch
    clicks.addData((10L, "2024-01-01 00:05:00", 1L))
    q.processAllAvailable()
    // its purchase arrives 20 min later, in a LATER batch; a second user's
    // click is outside the 30-min window and must not match
    purchases.addData((20L, "2024-01-01 00:25:00", 1L))
    clicks.addData((11L, "2024-01-01 08:00:00", 2L))
    purchases.addData((21L, "2024-01-01 09:00:00", 2L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sj_out").select("p_id", "c_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((20L, 10L)), s"got $got")
  }

  test("streaming KMV estimate converges across micro-batches with O(k) state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): String = {
      md.reset(); md.digest(s.getBytes).map("%02x".format(_)).mkString
    }
    val src = MemoryStream[(String, String)]
    val out = MicroBatchIngest.streamingDistinctEstimate(src.toDS(), k = 32)
    val q = out.writeStream.format("memory").queryName("kmv_out")
      .outputMode("update").start()
    // batch 1: 500 distinct values; batch 2: 500 redeliveries + 1500 new
    src.addData((1 to 500).map(i => ("g", h(s"v$i"))): _*)
    q.processAllAvailable()
    src.addData((1 to 2000).map(i => ("g", h(s"v$i"))): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("kmv_out").as[graft.typed.KmvEstimate]
      .collect().sortBy(_.est_distinct)
    assert(rows.length == 2)
    // both snapshots estimate their batch's cumulative distinct count
    assert(math.abs(rows(0).est_distinct - 500) / 500.0 < 0.35, rows(0).toString)
    assert(math.abs(rows(1).est_distinct - 2000) / 2000.0 < 0.35, rows(1).toString)
    // matches the batch sketch on the same data exactly
    val batch = (1 to 2000).map(i => ("g", h(s"v$i"))).toDF("key", "hv")
      .groupBy("key")
      .agg(call_function("graft_kmv_kth", col("hv"), lit(32)).as("sk"))
      .select(col("sk.n"), col("sk.kth")).head
    val batchEst = graft.plans.KmvKthMin.estimate(
      batch.getInt(0), Option(batch.getString(1)), 32)
    assert(math.abs(rows(1).est_distinct - batchEst) < 1e-9)
  }

  test("streaming heavy hitters fold exactly across micro-batches below k distinct") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val out = MicroBatchIngest.streamingHeavyHitters(src.toDS(), k = 4)
    val q = out.writeStream.format("memory").queryName("hh_out")
      .outputMode("update").start()
    src.addData(Seq.fill(5)((1L, "a")) ++ Seq.fill(2)((1L, "b")): _*)
    q.processAllAvailable()
    // second batch extends existing counters and adds a third item
    src.addData(Seq.fill(3)((1L, "b")) ++ Seq.fill(4)((1L, "c")): _*)
    q.processAllAvailable()
    q.stop()
    val snaps = spark.table("hh_out").as[(Long, Seq[(String, Long)])]
      .collect().sortBy(_._2.map(_._2).sum)
    assert(snaps.length == 2)
    assert(snaps(0)._2 == Seq(("a", 5L), ("b", 2L)))
    // cumulative, exact, sorted (cnt desc, item asc)
    assert(snaps(1)._2 == Seq(("a", 5L), ("b", 5L), ("c", 4L)))
  }
}
