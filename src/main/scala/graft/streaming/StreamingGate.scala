package graft.streaming

import graft.core.{GraftSession, Pins}
import graft.sources.{Parquet, Tables}
import graft.typed.Event
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampNTZType, TimestampType}

/** Batch-callable drains of the streaming pipelines, so the stateful
  * operators go through the SAME oracle hash gate as the batch ones.
  *
  * Each gate stages a deterministic input under a scratch dir, runs the
  * real Structured Streaming pipeline over it through [[Drain.run]]
  * (fresh checkpoint per run — the drain is the unit under test), spills
  * every micro-batch's output to parquet via foreachBatch (distributed —
  * no driver collect), and returns a batch DataFrame over the drained
  * result. The DuckDB oracle states the equivalent batch semantics:
  * sessionization is gaps-and-islands SQL, watermarked dedup is DISTINCT,
  * the KMV keyed state is the batch sketch re-derivation.
  */
object StreamingGate {

  type QFn = (SparkSession, String) => DataFrame

  private def scratch(tag: String, dir: String): String =
    graft.core.Scratch.dir(s"stream_$tag", dir)

  private def cleanDir(spark: SparkSession, path: String): Unit =
    graft.core.Scratch.clean(spark, path)

  /** [[Drain.run]] with shuffle partitions scoped to DRAIN state volume.
    * Stateful-operator partitions are fixed at the query's FIRST start
    * from spark.sql.shuffle.partitions, and every state store instance
    * pays open+commit fsyncs per micro-batch (a stream-stream join keeps
    * FOUR stores per partition — measured taskSum 116 s vs cpuSum 3 s at
    * 32 partitions on the drain volume). State partitioning is sized to
    * the state volume, not the session's scan parallelism: 8 is ample
    * for a gate drain; a cluster deployment sizes this in its own conf
    * (the setting is scoped to the drain and restored).
    */
  private[streaming] def scopedDrain[T](ds: Dataset[T], ck: String,
                                        outputMode: String = "append")
                                       (fn: (Dataset[T], Long) => Unit): Unit =
    GraftSession.withConf(ds.sparkSession, "spark.sql.shuffle.partitions" -> "8") {
      Drain.run(ds, ck, outputMode)(fn)
    }

  /** Stage `df` to parquet and reopen it as a file stream (the shape real
    * ingest has: files arriving in a directory).
    */
  private def stage(spark: SparkSession, df: DataFrame, in: String): DataFrame = {
    cleanDir(spark, in)
    df.write.mode("overwrite").parquet(in)
    spark.readStream.schema(df.schema).parquet(in)
  }

  /** Stage `df` as `n` parquet files (round-robin, or hashed on `by`) and
    * reopen them as a stream of SINGLE-FILE micro-batches, so a fold
    * really runs once per file (the default would drain all files in
    * one batch).
    */
  private def stageSlices(spark: SparkSession, df: DataFrame, n: Int, in: String,
                          by: Column*): DataFrame = {
    cleanDir(spark, in)
    (if (by.isEmpty) df.repartition(n) else df.repartition(n, by: _*))
      .write.mode("overwrite").parquet(in)
    spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(in)
  }

  /** The input version of batch `id` in a versioned-fold gate: the newest
    * `state_v<j>`, j < id, under `root` ([[Drain.stateBefore]]), else the
    * gate's seed state at `root/seed`.
    */
  private def stateOrSeed(spark: SparkSession, root: String)(id: Long): String =
    Drain.stateBefore(spark, root, id).getOrElse(s"$root/seed")

  private def drain[T](ds: Dataset[T], out: String, ck: String,
                       withBatchId: Boolean = false,
                       outputMode: String = "append"): Unit = {
    cleanDir(ds.sparkSession, out); cleanDir(ds.sparkSession, ck)
    scopedDrain(ds, ck, outputMode) { (b: Dataset[T], id: Long) =>
      val df = if (withBatchId) b.toDF().withColumn("__batch", lit(id)) else b.toDF()
      df.write.mode("append").parquet(out)
    }
  }

  /** Sessionize drained to a table. A flush row per user at max(ts) +
    * 10 gaps closes every real session inside the drain (the stream never
    * ends at a watermark otherwise); flush sessions themselves stay open
    * in state and are additionally filtered by start_ts. value_sum stays
    * out of the gate projection: the state machine accumulates doubles in
    * event order, and a cross-engine hash over order-sensitive float sums
    * would test summation order, not sessionization (specs cover it).
    */
  def sessionizeGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gap = 1800L
    val ev0 = Tables.load(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // NTZ→TIMESTAMP at the gate boundary: the typed Event encoder and the
    // event-time state machine need TIMESTAMP (the driver's events.ts is
    // naive). UTC session zone makes the cast a wall-clock bijection; the
    // output projection casts back so the drained result keeps the
    // source's type and the DuckDB oracle hashes match.
    val tsWasNtz = ev0.schema("ts").dataType == TimestampNTZType
    val ev = if (tsWasNtz) ev0.withColumn("ts", col("ts").cast(TimestampType)) else ev0
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    require(maxTs != null, "sessionizeGate: events table is empty or all-null ts")
    val flushTs = new java.sql.Timestamp(maxTs.getTime + gap * 1000L * 10)
    val flush = ev.select(col("user_id")).distinct()
      .select(lit(-1L).as("event_id"), lit(flushTs).as("ts"), col("user_id"),
        lit("flush").as("event_type"), lit(null).cast("double").as("value"),
        lit("{}").as("props"))
    val in = scratch("sess_in", dir)
    val out = scratch("sess_out", dir)
    val ck = scratch("sess_ck", dir)
    val stream = stage(spark, ev.unionByName(flush), in).as[Event]
    drain(MicroBatchIngest.sessionize(stream, gap), out, ck)
    def back(c: String) =
      (if (tsWasNtz) col(c).cast(TimestampNTZType) else col(c)).as(c)
    Parquet.read(spark, out)
      .filter(col("start_ts") < lit(flushTs))
      .select(col("user_id"), back("start_ts"), back("end_ts"), col("n_events"))
  }

  /** Watermarked streaming dedup drained to a table: the input redelivers
    * every tenth event (same batch, inside the watermark) and the drained
    * output must aggregate exactly like the clean source.
    */
  def dedupGate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val redelivered = ev.filter(col("event_id") % 10 === 0)
    val in = scratch("dd_in", dir)
    val out = scratch("dd_out", dir)
    val ck = scratch("dd_ck", dir)
    val stream = stage(spark, ev.unionByName(redelivered), in)
    drain(MicroBatchIngest.streamingDedup(stream, "ts", Seq("event_id")), out, ck)
    Parquet.read(spark, out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("value_sum"),
        sum(col("event_id")).as("id_sum"))
  }

  /** Watermarked windowed aggregation drained to a table: per (10-minute
    * tumbling window, event type) counts in append mode. A flush row per
    * type far past max(ts) pushes the final watermark beyond every real
    * window (append mode only emits a window once the watermark passes
    * its end; without the flush the last 30 minutes of windows would
    * stay buffered when AvailableNow stops). Flush windows are filtered
    * from the drained output. value_sum stays out of the projection —
    * floats sum in arrival order inside the state and a cross-engine
    * hash over that tests summation order, not windowing (specs cover
    * it).
    */
  def windowedCountsGate(spark: SparkSession, dir: String): DataFrame = {
    val ev0 = Tables.load(spark, dir, "events")
      .select("ts", "event_type", "value")
    val tsWasNtz = ev0.schema("ts").dataType == TimestampNTZType
    val ev = if (tsWasNtz) ev0.withColumn("ts", col("ts").cast(TimestampType)) else ev0
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    require(maxTs != null, "windowedCountsGate: events table is empty or all-null ts")
    val flushTs = new java.sql.Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000)
    val flush = ev.select(col("event_type")).distinct()
      .select(lit(flushTs).as("ts"), col("event_type"),
        lit(null).cast("double").as("value"))
    val in = scratch("wc_in", dir)
    val out = scratch("wc_out", dir)
    val ck = scratch("wc_ck", dir)
    val stream = stage(spark, ev.unionByName(flush), in)
    drain(MicroBatchIngest.windowedCounts(stream, "ts", "event_type"), out, ck)
    Parquet.read(spark, out)
      .filter(col("window.start") < lit(flushTs))
      .select(
        (if (tsWasNtz) col("window.start").cast(TimestampNTZType)
         else col("window.start")).as("w_start"),
        col("event_type"), col("n"))
  }

  /** Streaming KMV distinct-estimate drained to a table: per event type,
    * the keyed O(k) state folds each batch's hashes; the LAST emitted row
    * per key (max batch id) is the final sketch, compared against the
    * batch re-derivation oracle.
    */
  def kmvGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 32
    val pairs = Tables.load(spark, dir, "events")
      .select(col("event_type").as("_1"), md5(col("user_id").cast("string")).as("_2"))
    val in = scratch("kmv_in", dir)
    val out = scratch("kmv_out", dir)
    val ck = scratch("kmv_ck", dir)
    val stream = stage(spark, pairs.toDF(), in).as[(String, String)]
    drain(MicroBatchIngest.streamingDistinctEstimate(stream, k), out, ck,
      withBatchId = true, outputMode = "update")
    Parquet.read(spark, out)
      .groupBy(col("key"))
      .agg(max_by(struct(col("n_distinct_capped"), col("est_distinct")),
        col("__batch")).as("fin"))
      .select(
        col("key").as("event_type"),
        col("fin.n_distinct_capped").cast("long").as("nd_capped"),
        when(col("fin.n_distinct_capped") < k, col("fin.est_distinct"))
          .otherwise(round(col("fin.est_distinct"), 3)).as("est_distinct"))
  }

  /** Streaming upsert (MERGE drain) into accumulated state: a change feed
    * derived from `orders` — a full seed at version 1, then updates
    * (doubled totalprice) and tombstones for key subsets at version 2 —
    * streams through [[MicroBatchIngest.mergeDrain]]. The staged input is
    * multi-file, so the file source slices it into arbitrary micro-batches;
    * the latest-version-wins tombstone-preserving fold makes the final
    * state independent of that slicing, and the oracle states it as plain
    * batch SQL (max-version row per key, deletes filtered at read).
    */
  def upsertGate(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val seed = orders.select(
      col("o_orderkey"), col("o_totalprice"),
      lit(1L).as("version"), lit(false).as("deleted"))
    val changes = orders.filter(col("o_orderkey") % 7 === 0).select(
      col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
      lit(2L).as("version"), (col("o_orderkey") % 21 === 0).as("deleted"))
    val in = scratch("ups_in", dir)
    val state = scratch("ups_state", dir)
    val ck = scratch("ups_ck", dir)
    // the drain is the unit under test: fresh state AND a fresh checkpoint
    // (a stale checkpoint would skip the re-staged input's batches)
    cleanDir(spark, state)
    cleanDir(spark, ck)
    val stream = stageSlices(spark, seed.unionByName(changes), 4, in)
    val fin = MicroBatchIngest.mergeDrain(
      stream, Seq("o_orderkey"), "version", state, ck)
    Parquet.read(spark, fin)
      .filter(!col("deleted"))
      .select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast("double").as("totalprice"),
        col("version"))
  }

  /** Stream-stream interval join drained to a table: purchases and clicks
    * arrive as two file streams (staged from the same events table); each
    * purchase picks up the user's clicks from the preceding 30 minutes.
    * The oracle is the equivalent batch interval join.
    */
  def streamJoinGate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val inP = scratch("sj_p", dir)
    val inC = scratch("sj_c", dir)
    val out = scratch("sj_out", dir)
    val ck = scratch("sj_ck", dir)
    val p = stage(spark, ev.filter(col("event_type") === "purchase"), inP)
    val c = stage(spark, ev.filter(col("event_type") === "click"), inC)
    drain(MicroBatchIngest.streamStreamAttribution(p, c), out, ck)
    Parquet.read(spark, out)
      .select(col("user_id"), col("p_id"), col("c_id"), col("p_ts"), col("c_ts"))
  }

  /** Streaming incremental near-dup ingest drained to a component mapping:
    * the delta crawl (doc_id % 10 == 0, the same split the batch
    * incremental gates use) arrives as a file stream in single-file
    * micro-batches, and each batch folds through
    * [[graft.operators.Dedup.ingestDeltaCrawl]] — candidate pairs against
    * the evolving index, supernode-contracted component fold, delta-sized
    * index append. The gate starts from the SAME staged index/mapping
    * artifacts the batch gates amortize, and the drained result is the
    * final mapping. The oracle is the FULL-corpus CC recompute
    * ([[graft.queries.TrainingQueries.dedupCcOracle]]): cross-batch pairs
    * are found when the later doc arrives, so the accumulated pair set
    * equals the batch relation and min-label CC is associative across the
    * per-crawl contraction — the mapping is independent of how the stream
    * was sliced, and the gate proves it on real micro-batches.
    */
  def incrDedupGate(spark: SparkSession, dir: String): DataFrame = {
    val (idx0, mapping0) =
      graft.queries.TrainingQueries.stagedIncrementalArtifacts(spark, dir)
    val delta = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val in = scratch("incr_in", dir)
    val idxRoot = scratch("incr_idx", dir)
    val mapRoot = scratch("incr_map", dir)
    val ck = scratch("incr_ck", dir)
    Seq(idxRoot, mapRoot, ck).foreach(cleanDir(spark, _))
    // the gate gets its own EVOLVING copy of the index (appended per
    // batch) so the shared staged artifact stays immutable for the batch
    // gates — a raw FILE copy of the immutable parquet dirs, not a Spark
    // rewrite (the staged artifact is already in storage form; re-writing
    // it through an executor plan cost ~2 s of the gate for nothing)
    locally {
      val _ = idx0 // staged artifacts are guaranteed built above
      val src = graft.queries.TrainingQueries.stagedIncrementalRoot(dir)
      val conf = spark.sparkContext.hadoopConfiguration
      val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(src), conf)
      Seq("digests", "bands", "sizes").foreach { part =>
        org.apache.hadoop.fs.FileUtil.copy(
          f, new org.apache.hadoop.fs.Path(s"$src/$part"),
          f, new org.apache.hadoop.fs.Path(s"$idxRoot/$part"),
          false, conf)
      }
    }
    mapping0.write.mode("overwrite").parquet(s"$mapRoot/seed")
    // two deterministic files (hash-partitioned on doc_id), one per
    // micro-batch, with near-dup pairs genuinely straddling the batch
    // boundary. Not on doc_id % 2: every delta doc_id is a multiple of
    // 10, and both values of a 0/1 key hash to the same one of two
    // partitions, so either leaves one file. Two batches exercise
    // everything a third did — cross-batch candidates, index append,
    // mapping fold — at one fold less of fixed micro-batch machinery;
    // slicing-independence itself is pinned by the oracle (ANY slicing
    // must equal the full recompute) and by the batch incremental spec.
    val stream = stageSlices(spark, delta, 2, in, col("doc_id"))
    val mappingBefore = stateOrSeed(spark, mapRoot) _
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      if (!b.isEmpty)
        graft.operators.Dedup.ingestDeltaCrawl(
          b, "doc_id", "text", idxRoot,
          Parquet.read(spark, mappingBefore(id)), s"$mapRoot/state_v$id",
          txnId = s"batch-$id")
    }
    Parquet.read(spark, mappingBefore(Long.MaxValue))
  }

  /** Streaming weighted (priority) sampling drained per key: documents
    * arrive in single-file micro-batches and each batch folds the per-key
    * top-(k+1) priority candidates
    * ([[graft.operators.Sampling.priorityCandidatesPerKey]] — the fold is
    * ASSOCIATIVE: top-(k+1) of a union == top-(k+1) of per-slice
    * top-(k+1)s) into a versioned state table; the drained read runs the
    * batch per-key sampler over the folded state, so the sample AND the
    * (k+1)-th-priority estimator threshold equal the whole-corpus batch
    * result exactly, however the stream was sliced. State is bounded at
    * keys × (k+1) rows regardless of stream length.
    */
  def prioritySampleGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars"))
    val in = scratch("ps_in", dir)
    val stateRoot = scratch("ps_state", dir)
    val ck = scratch("ps_ck", dir)
    Seq(stateRoot, ck).foreach(cleanDir(spark, _))
    docs.limit(0).write.mode("overwrite").parquet(s"$stateRoot/seed")
    val stream = stageSlices(spark, docs, 4, in)
    // the fold's input version derives from the batch id, so a replayed
    // batch re-reads the same prior state (Drain.stateBefore)
    val stateBefore = stateOrSeed(spark, stateRoot) _
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      if (!b.isEmpty)
        Sampling.priorityCandidatesPerKey(
            Parquet.read(spark, stateBefore(id)).unionByName(
              b.select(col("lang"), col("doc_id"), col("n_chars"))),
            "lang", "doc_id", "n_chars", k = 20)
          .write.mode("overwrite").parquet(s"$stateRoot/state_v$id")
    }
    Sampling.prioritySamplePerKey(
        Parquet.read(spark, stateBefore(Long.MaxValue)),
        "lang", "doc_id", "n_chars", k = 20)
      .select(col("lang"), col("doc_id"),
        col("n_chars").cast("long").as("weight"),
        col("priority"), col("est_weight"))
  }

  /** Streaming incremental SCD2 maintenance drained to the interval
    * table: the post-cut purchase log arrives as a file stream in
    * TIME-ORDERED single-file micro-batches (files staged sequentially so
    * modification times ascend — the file source drains oldest-first,
    * the shape real time-partitioned ingest has), and each batch folds
    * through [[graft.operators.MergeOps.scd2Merge]] — touched keys' open
    * intervals close, new ones append, closed history never rewinds, and
    * the late-data guard stays ON (time-ordered arrival is exactly its
    * precondition). The oracle is the FULL-recompute window over the
    * whole log: only a correct N-fold incremental maintenance matches it.
    */
  def scd2Gate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{AsOfJoin, MergeOps}
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"), col("ts"))
    val cut = lit("2024-01-22 00:00:00").cast("timestamp")
    val in = scratch("scd2_in", dir)
    val store = scratch("scd2_store", dir)
    val ck = scratch("scd2_ck", dir)
    Seq(store, ck).foreach(cleanDir(spark, _))
    AsOfJoin.scd2Intervals(ev.filter(col("ts") < cut),
        Seq("user_id"), "ts", Seq("event_id"))
      .write.mode("overwrite").parquet(s"$store/seed")
    // stage three ascending time windows as ordered files (shared helper)
    val bounds = Seq("2024-01-25 00:00:00", "2024-01-28 00:00:00",
      "2200-01-01 00:00:00")
    val stream = stageOrderedSlices(spark, in, bounds.zipWithIndex.map { case (hiS, i) =>
      val lo = if (i == 0) cut else lit(bounds(i - 1)).cast("timestamp")
      ev.filter(col("ts") >= lo && col("ts") < lit(hiS).cast("timestamp"))
    })
    val stateBefore = stateOrSeed(spark, store) _
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      if (!b.isEmpty)
        MergeOps.scd2Merge(Parquet.read(spark, stateBefore(id)), b,
            Seq("user_id"), "ts", Seq("event_id"))
          .write.mode("overwrite").parquet(s"$store/state_v$id")
    }
    Parquet.read(spark, stateBefore(Long.MaxValue))
      .select("user_id", "event_id", "value", "valid_from", "valid_to")
  }

  /** Write each slice as one parquet file into `in` with ASCENDING
    * mtimes and reopen `in` as a `maxFilesPerTrigger=1` stream, which
    * replays them as ordered micro-batches (every slice has the first
    * slice's schema).
    *
    * ONE write job for every slice (was one sequential coalesce(1) job
    * per slice, ~3x the fixed job cost): rows are tagged with their slice
    * ordinal and written partitionBy(tag) from a single task — the writer
    * splits files by partition value, so each slice lands in its own file
    * with the ORIGINAL columns only (the tag is directory metadata, not
    * file content) — then each file renames into place and gets an
    * explicitly stamped ascending mtime, which is what the file source
    * orders batches by (it used to come from the writes being
    * sequential). An EMPTY slice writes no partition dir and stages no
    * file: output-equivalent, because every ordered-slice gate no-ops on
    * empty batches (the audit seq and watermark advance only on rows).
    */
  private def stageOrderedSlices(spark: SparkSession, in: String,
                                 slices: Seq[DataFrame]): DataFrame = {
    import org.apache.hadoop.fs.Path
    cleanDir(spark, in)
    val conf = spark.sparkContext.hadoopConfiguration
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(in), conf)
    f.mkdirs(new Path(in))
    val tagged = slices.zipWithIndex
      .map { case (df, i) => df.withColumn("__slice", lit(i)) }
      .reduce(_.unionByName(_))
    val tmp = s"$in/__stage_all"
    tagged.coalesce(1).write.mode("overwrite")
      .partitionBy("__slice").parquet(tmp)
    val base = System.currentTimeMillis()
    slices.indices.foreach { i =>
      val dir = new Path(tmp, s"__slice=$i")
      if (f.exists(dir)) {
        val part = f.listStatus(dir)
          .map(_.getPath).find(_.getName.startsWith("part-")).get
        val dst = new Path(in, s"slice_$i.parquet")
        // rename (not byte copy): same filesystem, and ChecksumFileSystem
        // carries the .crc sidecar along with it
        if (!f.rename(part, dst))
          sys.error(s"stageOrderedSlices: rename $part -> $dst failed")
        f.setTimes(dst, base + i * 1000L, -1)
      }
    }
    f.delete(new Path(tmp), true)
    spark.readStream.schema(slices.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
  }

  /** Watermark late-data ACCOUNTING drained to a table — the operational
    * completeness signal every watermarked deployment needs ("how much
    * did the watermark drop, and which rows"): four ascending weekly
    * micro-batches with every 7th event redelivered one slice late, and
    * a per-batch audit of exactly Spark's global-watermark rule — the
    * watermark entering batch b is max(event time over batches < b)
    * minus the delay, rows below it are late. The audit is explicit
    * relational arithmetic in the drain (one aggregate per batch + a
    * driver scalar for the running max), so the oracle can replay it:
    * batch assignment, per-batch maxima, and the late rule are all
    * deterministic SQL.
    */
  def lateAuditGate(spark: SparkSession, dir: String): DataFrame = {
    val delayUs = 600L * 1000000L
    val ev0 = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"))
    val tsWasNtz = ev0.schema("ts").dataType == TimestampNTZType
    val ev = if (tsWasNtz) ev0.withColumn("ts", col("ts").cast(TimestampType))
             else ev0
    val natural = when(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"), 0)
      .when(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"), 1)
      .when(col("ts") < lit("2024-01-22 00:00:00").cast("timestamp"), 2)
      .otherwise(3)
    val staged = least(
      natural + when(col("event_id") % 7 === 0, 1).otherwise(0), lit(3))
    val tagged = ev.withColumn("__b", staged)
    val in = scratch("late_in", dir)
    val ck = scratch("late_ck", dir)
    cleanDir(spark, ck)
    val stream = stageOrderedSlices(spark, in,
      (0 to 3).map(i => tagged.filter(col("__b") === i).drop("__b")))
    var maxSeenUs = Long.MinValue
    var seq = 0
    val audit = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
    scopedDrain(stream, ck) { (b: DataFrame, _: Long) =>
      if (!b.isEmpty) {
        val wm = if (maxSeenUs == Long.MinValue) Long.MinValue
                 else maxSeenUs - delayUs
        val late = unix_micros(col("ts")) < lit(wm)
        val r = b.agg(count(lit(1)).as("n"),
          coalesce(sum(when(late, 1L)), lit(0L)).as("nl"),
          coalesce(sum(when(late, col("event_id"))), lit(0L)).as("ls"),
          max(unix_micros(col("ts"))).as("mx")).head
        audit += ((seq, r.getLong(0), r.getLong(1), r.getLong(2)))
        maxSeenUs = math.max(maxSeenUs, r.getLong(3))
        seq += 1
      }
    }
    import spark.implicits._
    audit.toSeq.toDF("batch_seq", "n_total", "n_late", "late_id_sum")
  }

  /** Streaming Misra-Gries heavy hitters drained to a table: per user,
    * the O(k) keyed counter map folds each batch; the LAST emitted row per
    * key is the final summary. k exceeds the per-user distinct event-type
    * count, so MG is exact and the plain count/rank SQL is a true oracle.
    */
  def heavyHittersGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.load(spark, dir, "events")
      .select(col("user_id").as("_1"), col("event_type").as("_2"))
    val in = scratch("hh_in", dir)
    val out = scratch("hh_out", dir)
    val ck = scratch("hh_ck", dir)
    val stream = stage(spark, pairs.toDF(), in).as[(Long, String)]
    drain(MicroBatchIngest.streamingHeavyHitters(stream, k = 8), out, ck,
      withBatchId = true, outputMode = "update")
    Parquet.read(spark, out)
      .groupBy(col("_1").as("user_id"))
      .agg(max_by(col("_2"), col("__batch")).as("items"))
      .select(col("user_id"), posexplode(slice(col("items"), 1, 3)).as(Seq("r0", "e")))
      .select(col("user_id"), (col("r0") + 1).cast("long").as("rank"),
        col("e._1").as("event_type"), col("e._2").as("cnt"))
  }

  /** Streaming observability-mart maintenance: the event stream drains in
    * single-file micro-batches, each folded into the daily KMV sketch
    * mart by [[graft.operators.SketchMart.mergeDaily]] (union + re-slice
    * — associative, commutative, idempotent, so the final mart is
    * independent of the slicing and of redeliveries). The gate answers
    * the weekly range-distinct question from the streamed mart; the
    * oracle sketches each week's raw rows directly.
    */
  def sketchMartGate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(to_date(col("ts")).as("day"),
        md5(col("user_id").cast("string")).as("h"))
    val in = scratch("skm_in", dir)
    val mart = scratch("skm_mart", dir)
    val ck = scratch("skm_ck", dir)
    cleanDir(spark, mart); cleanDir(spark, ck)
    // days really arrive split across micro-batches and the merge fold
    // has to reconcile (three batches: every day straddles batches under
    // round-robin repartition, which is all the reconciliation proof
    // needs — the oracle pins slicing-independence by matching the full
    // recompute)
    val stream = stageSlices(spark, ev, 3, in)
    scopedDrain(stream, ck) { (b: DataFrame, _: Long) =>
      graft.operators.SketchMart.mergeDaily(b, mart, 32, col("h"), col("day"))
    }
    graft.operators.SketchMart.mergedDistinct(spark, mart, 32,
      date_trunc("week", col("day")).cast("date"), "week")
  }

  /** Exactly-once streaming ingest into the versioned table: every
    * micro-batch commits through [[graft.sinks.VersionedTable.commitBatch]]
    * with a deterministic txn id, and the gate then REPLAYS the whole
    * drain from a fresh checkpoint — redelivering every batch with the
    * same txn ids. If the idempotent commit were broken the replay would
    * double every count and the oracle hash would catch it; the oracle
    * states plain single-ingestion semantics.
    */
  def versionedIngestGate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val in = scratch("vi_in", dir)
    val tbl = scratch("vi_tbl", dir)
    cleanDir(spark, tbl)
    val stream = stageSlices(spark, ev, 4, in)
    // the session's own shuffle width: this drain is not partition-scoped
    def drainOnce(ck: String): Unit = {
      cleanDir(spark, ck)
      Drain.run(stream, ck) { (b: DataFrame, id: Long) =>
        graft.sinks.VersionedTable.commitBatch(
          b, tbl, overwrite = false, txnId = s"ingest-$id")
      }
    }
    drainOnce(scratch("vi_ck1", dir))
    drainOnce(scratch("vi_ck2", dir)) // full replay, same txn ids
    graft.sinks.VersionedTable.read(spark, tbl)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("value_sum"),
        sum(col("event_id")).as("id_sum"))
  }

  /** Streaming MULTIMODAL ingest: PNG payloads arrive in micro-batches,
    * each batch is DECODED (real javax.imageio) and dHashed inside the
    * batch — pixels never outlive their micro-batch — and the tiny
    * (doc_id, phash) fingerprints commit exactly-once into a versioned
    * index table ([[graft.sinks.VersionedTable.commitBatch]], replay-safe
    * txn ids). The drained read answers the perceptual-dup question over
    * the ACCUMULATED index; the oracle replays decode -> grid -> dHash ->
    * bands -> Hamming verify for the whole corpus from the pixel law, so
    * the gate pins that the incremental fold of a real binary decode
    * equals the batch derivation regardless of slicing.
    */
  def imageIngestGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthPngTable(spark, n = 30, w = 32, h = 32)
      .unionByName(Multimodal.synthPngTable(spark, n = 6, w = 32, h = 32,
        idOffset = 100L, xShift = 1))
    val in = scratch("img_in", dir)
    val idx = scratch("img_idx", dir)
    val ck = scratch("img_ck", dir)
    Seq(idx, ck).foreach(cleanDir(spark, _))
    val stream = stageSlices(spark, media, 3, in)
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      graft.sinks.VersionedTable.commitBatch(
        Multimodal.imageHashes(b, "doc_id", "payload"),
        idx, overwrite = false, txnId = s"img-$id")
    }
    Multimodal.hashDupPairs(
      graft.sinks.VersionedTable.read(spark, idx), maxHamming = 8)
  }

  /** Streaming VIDEO ingest: AVI payloads arrive in micro-batches, each
    * batch is container-parsed and frame-decoded (real RIFF/DIB path)
    * inside the batch — pixels never outlive their micro-batch — and the
    * tiny (doc_id, frame_idx, phash) frame fingerprints commit
    * exactly-once into a versioned index. The drained read answers the
    * video-level perceptual-dup question over the ACCUMULATED index; the
    * oracle replays decode -> per-frame grids -> dHash -> bands ->
    * verify -> video rollup for the whole corpus from the frame law, so
    * the gate pins that the incremental fold of a real binary video
    * decode equals the batch derivation regardless of slicing.
    */
  def videoIngestGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthAviTable(spark, n = 10, w = 24, h = 16,
        nFrames = 4, fps = 10)
      .unionByName(Multimodal.synthAviTable(spark, n = 3, w = 24, h = 16,
        nFrames = 4, fps = 10, idOffset = 100L, xShift = 1))
    val in = scratch("vid_in", dir)
    val idx = scratch("vid_idx", dir)
    val ck = scratch("vid_ck", dir)
    Seq(idx, ck).foreach(cleanDir(spark, _))
    val stream = stageSlices(spark, media, 3, in)
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      graft.sinks.VersionedTable.commitBatch(
        Multimodal.videoFrameHashes(b, "doc_id", "payload"),
        idx, overwrite = false, txnId = s"vid-$id")
    }
    Multimodal.videoPairsFromFrameHashes(
      graft.sinks.VersionedTable.read(spark, idx),
      maxHamming = 8, minShared = 2)
  }

  /** Streaming classifier inference with a FROZEN model artifact — the
    * production train/infer split: the weight table is trained ONCE
    * offline over the labeled corpus and persisted (the model
    * artifact), then document micro-batches score against the frozen
    * broadcast weights and the (doc_id, margin, keep) verdicts commit
    * exactly-once. Per-doc inference is batch-local, so the drained
    * verdict table must equal the whole-corpus batch derivation (the
    * t_quality_classifier oracle) REGARDLESS of slicing — the gate pins
    * that streaming inference commutes with corpus slicing and that a
    * replayed trigger cannot double-score a doc.
    */
  def qualityFilterGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityClassifier
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val in = scratch("qc_in", dir)
    val idx = scratch("qc_idx", dir)
    val ck = scratch("qc_ck", dir)
    val model = scratch("qc_model", dir)
    Seq(idx, ck, model).foreach(cleanDir(spark, _))
    val sf = Pins.fill(QualityClassifier.featurizeSeeded(docs, "doc_id", "text",
      QualityClassifier.sparkDensitySeed, dims = 64))
    QualityClassifier.trainWeights(sf).write.mode("overwrite").parquet(model)
    Pins.release(sf)
    val stream = stageSlices(spark, docs, 2, in)
    // the frozen model is one lazy 64-row scan reused by every batch
    val w = Parquet.read(spark, model)
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      graft.sinks.VersionedTable.commitBatch(
        QualityClassifier.score(
          QualityClassifier.featurize(b, "doc_id", "text", dims = 64), w),
        idx, overwrite = false, txnId = s"qc-$id")
    }
    graft.sinks.VersionedTable.read(spark, idx)
  }

  /** Streaming ANN index ingest — the vector-pipeline form of the
    * frozen-model contract: the IVF index is built ONCE over the
    * existing corpus (centroids frozen), then embedding micro-batches
    * are assigned to their nearest frozen centroid and the quantized
    * (vec, cell) rows commit exactly-once into a versioned delta index.
    * The drained probe answers over base ∪ delta restricted to the
    * probed cells — and must equal the BATCH appendDelta derivation
    * (the t_ann_ivf_append oracle) regardless of how the delta was
    * sliced into batches, because assignment depends only on the saved
    * centroid table. A replayed trigger cannot double-insert a vector
    * (txn-id idempotence), which a raw parquet-append index would.
    */
  def annIngestGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{IvfIndex, VectorFunctions => VF}
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
    val existing = emb.filter(col("vec_id") % 100 =!= 57)
    val delta = emb.filter(col("vec_id") % 100 === 57)
    val base = scratch("ann_base", dir)
    val in = scratch("ann_in", dir)
    val idx = scratch("ann_delta", dir)
    val ck = scratch("ann_ck", dir)
    Seq(idx, ck).foreach(cleanDir(spark, _))
    IvfIndex.build(existing, nlist = 16, base)
    val stream = stageSlices(spark, delta, 2, in)
    // frozen centroids: one lazy 16-row scan reused by every batch
    val cents = Parquet.read(spark, s"$base/centroids")
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      val asn = IvfIndex.assign(b, cents, "vec_id", "embedding")
      graft.sinks.VersionedTable.commitBatch(
        b.join(asn, "vec_id")
          .withColumn("sc", VF.quantScale(col("embedding")))
          .withColumn("q8", VF.quantize(col("embedding"), col("sc"))),
        idx, overwrite = false, txnId = s"ann-$id")
    }
    val cells = IvfIndex.probedCells(spark, base, q, nprobe = 4)
    val cols = Seq("vec_id", "label", "embedding", "cell").map(col)
    val scan = Parquet.read(spark, s"$base/index").select(cols: _*)
      .unionByName(graft.sinks.VersionedTable.read(spark, idx)
        .select(cols: _*))
      .filter(col("cell").isin(cells: _*))
    IvfIndex.topKOver(scan, q, k = 10)
      .select("vec_id", "label", "cos")
  }

  /** Streaming volume monitoring — the QA battery's anomaly readout fed
    * by a streamed fold: each micro-batch commits its PARTIAL per-day
    * event counts exactly-once; partial counts sum associatively and
    * commutatively, so the drained daily table equals the batch
    * aggregation under any slicing, and the identical day-windowed
    * z-score readout ([[graft.operators.QualityChecks
    * .volumeAnomalyFromDaily]]) runs over it. The gate's oracle IS the
    * batch qa_volume_anomaly oracle — a drain that double-counted a
    * replayed trigger or dropped a slice would shift a mean and break a
    * z-score.
    */
  def volumeAnomalyGate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"))
    val in = scratch("va_in", dir)
    val idx = scratch("va_idx", dir)
    val ck = scratch("va_ck", dir)
    Seq(idx, ck).foreach(cleanDir(spark, _))
    val stream = stageSlices(spark, ev, 3, in)
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      graft.sinks.VersionedTable.commitBatch(
        b.groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n")),
        idx, overwrite = false, txnId = s"va-$id")
    }
    val daily = graft.sinks.VersionedTable.read(spark, idx)
      .groupBy("day").agg(sum(col("n")).as("n"))
    graft.operators.QualityChecks.volumeAnomalyFromDaily(daily,
      window = 7, zThreshold = 3.0)
  }

  /** Streaming distribution-drift monitoring — st_volume_anomaly's
    * sibling at the DISTRIBUTION level: the reference/live period split
    * is fixed configuration (resolved once from the log's day range,
    * the way a deployed monitor pins its reference window), each
    * micro-batch commits PARTIAL (event_type, period, bin) counts
    * exactly-once, partials sum associatively, and the drained bin
    * table feeds the identical fixed-point chi-square readout
    * ([[graft.operators.Drift.histDrift]]). Oracle = the batch t_drift
    * oracle verbatim.
    */
  def driftGate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("ts"), col("event_type"), col("value"))
    val in = scratch("dr_in", dir)
    val idx = scratch("dr_idx", dir)
    val ck = scratch("dr_ck", dir)
    Seq(idx, ck).foreach(cleanDir(spark, _))
    // the monitor's configured reference window: one scalar read over
    // the log resolves the period boundary the per-batch binning uses
    val rng = ev.agg(min(to_date(col("ts"))).as("d0"),
      max(to_date(col("ts"))).as("d1")).head
    val (d0, d1) = (rng.getDate(0), rng.getDate(1))
    val cutDays = ((d1.toLocalDate.toEpochDay -
      d0.toLocalDate.toEpochDay) / 2).toInt
    val stream = stageSlices(spark, ev, 3, in)
    scopedDrain(stream, ck) { (b: DataFrame, id: Long) =>
      graft.sinks.VersionedTable.commitBatch(
        b.withColumn("period",
            when(to_date(col("ts")) <
              date_add(lit(d0), cutDays), "A").otherwise("B"))
          .withColumn("bin", floor(col("value") / 5.0).cast("long"))
          .groupBy(col("event_type"), col("period"), col("bin"))
          .agg(count(lit(1)).as("cnt")),
        idx, overwrite = false, txnId = s"dr-$id")
    }
    val binned = graft.sinks.VersionedTable.read(spark, idx)
      .groupBy("event_type", "period", "bin")
      .agg(sum(col("cnt")).as("cnt"))
    graft.operators.Drift.histDrift(binned, "event_type")
  }

  /** Streaming alert routing drained through the sent-alert ledger: the
    * reference's monitor runs on a cadence (every 15 minutes,
    * dbt_data_quality_alerts_dag.py:15), so its engine shape is a
    * micro-batch drain — each arriving batch of check results folds
    * through [[graft.operators.Alerting.routeAlerts]], which suppresses
    * already-alerted checks against the versioned ledger and commits
    * exactly-once under the batch's run id. The staged input is the
    * SAME two-run volume-drop fixture the batch gate routes
    * ([[graft.queries.WarehouseQueries.volumeDropRuns]] — one
    * definition, so the check rule cannot drift), staged as
    * time-ordered single-file batches (runs arrive in cadence order by
    * construction). The drained ledger must equal the batch routing —
    * the oracle is qa_alert_route's, verbatim.
    */
  def alertRouteGate(spark: SparkSession, dir: String): DataFrame = {
    val runs = graft.queries.WarehouseQueries.volumeDropRuns(spark, dir)
    val in = scratch("alrt_in", dir)
    val root = scratch("alrt_state", dir)
    val ck = scratch("alrt_ck", dir)
    Seq(root, ck).foreach(cleanDir(spark, _))
    val stream = stageOrderedSlices(spark, in, Seq(
      runs.filter(col("run_id") === "w2"),
      runs.filter(col("run_id") === "w3")))
    scopedDrain(stream, ck) { (b: DataFrame, _: Long) =>
      if (!b.isEmpty) {
        // one staged file per monitor run, so the batch's run id is a
        // single value — read it as the routing txn (a replayed batch
        // re-routes under the same txn and no-ops)
        val runId = b.select("run_id").head.getString(0)
        graft.operators.Alerting.routeAlerts(b.drop("run_id"), root, runId)
      }
    }
    graft.operators.Alerting.sentAlerts(spark, root)
  }

  /** XDR decode IN-STREAM: the tx-envelope corpus (the s2_tx_operations
    * fixture verbatim) arrives as parquet files of (k, bin) rows; each
    * micro-batch decodes the envelope and fans out to per-operation rows
    * — a stateless scan → project → generate plan, no state store, the
    * whole-record decode running as one codegen'd expression inside the
    * micro-batch. The drained table must equal the batch fan-out: the
    * gate reuses the s2_tx_operations oracle verbatim.
    */
  def xdrOpsGate(spark: SparkSession, dir: String): DataFrame = {
    val fixture = graft.queries.WarehouseQueries.txEnvelopeFixture(spark, dir)
    val in = scratch("xdrops_in", dir)
    val out = scratch("xdrops_out", dir)
    val ck = scratch("xdrops_ck", dir)
    val stream = stage(spark, fixture, in)
    drain(graft.queries.WarehouseQueries.txOpsProject(stream), out, ck)
    Parquet.read(spark, out)
  }

  /** State-change ingest IN-STREAM: LedgerEntry wire records (the
    * s3_ledger_entry fixture verbatim) arrive as parquet files of
    * (k, bin) rows; each micro-batch decodes the whole record — the
    * data union dispatched across all ten entry types — and lands the
    * routed projection. Stateless scan → project, no state store; the
    * drained table must equal the batch decode, so the gate reuses the
    * s3_ledger_entry oracle verbatim. This is the reference's
    * state_table_dag shape: a ledger-entry-changes stream fanning into
    * per-table rows.
    */
  def ledgerEntriesGate(spark: SparkSession, dir: String): DataFrame = {
    val fixture = graft.queries.WarehouseQueries.ledgerEntryFixture(spark, dir)
    val in = scratch("ldgent_in", dir)
    val out = scratch("ldgent_out", dir)
    val ck = scratch("ldgent_ck", dir)
    val stream = stage(spark, fixture, in)
    drain(graft.queries.WarehouseQueries.ledgerEntryProject(stream), out, ck)
    Parquet.read(spark, out)
  }

  val queries: Map[String, QFn] = Map(
    "st_xdr_ops" -> (xdrOpsGate(_, _)),
    "st_ledger_entries" -> (ledgerEntriesGate(_, _)),
    "st_sessionize" -> (sessionizeGate(_, _)),
    "st_dedup" -> (dedupGate(_, _)),
    "st_kmv_estimate" -> (kmvGate(_, _)),
    "st_upsert" -> (upsertGate(_, _)),
    "st_stream_join" -> (streamJoinGate(_, _)),
    "st_heavy_hitters" -> (heavyHittersGate(_, _)),
    "st_sketch_mart" -> (sketchMartGate(_, _)),
    "st_windowed_counts" -> (windowedCountsGate(_, _)),
    "st_versioned_ingest" -> (versionedIngestGate(_, _)),
    "st_incr_dedup" -> (incrDedupGate(_, _)),
    "st_late_audit" -> (lateAuditGate(_, _)),
    "st_scd2" -> (scd2Gate(_, _)),
    "st_priority_sample" -> (prioritySampleGate(_, _)),
    "st_image_ingest" -> (imageIngestGate(_, _)),
    "st_video_ingest" -> (videoIngestGate(_, _)),
    "st_quality_filter" -> (qualityFilterGate(_, _)),
    "st_ann_ingest" -> (annIngestGate(_, _)),
    "st_volume_anomaly" -> (volumeAnomalyGate(_, _)),
    "st_drift" -> (driftGate(_, _)),
    "st_alert_route" -> (alertRouteGate(_, _)))

  /** Batch-semantics oracles. Sessionize merge rule: an event merges when
    * its gap to the session's running max end is <= 1800 s, so a session
    * break is a strictly-greater gap between consecutive ordered events.
    */
  val oracles: Map[String, String] = Map(
    // the FULL-corpus CC recompute: only a slicing-independent incremental
    // fold whose accumulated pairs equal the batch relation can match it
    "st_incr_dedup" -> graft.queries.TrainingQueries.dedupCcOracle,

    // the batch volume-anomaly derivation verbatim: associatively
    // folded partial day counts must reproduce the batch daily table
    "st_volume_anomaly" ->
      graft.queries.WarehouseQueries.oracles("qa_volume_anomaly"),

    // the batch drift derivation verbatim: associatively folded partial
    // bin counts must reproduce the batch histogram
    "st_drift" -> graft.queries.TrainingQueries.oracles("t_drift"),

    // the batch alert-routing law verbatim: cadence-ordered monitor
    // batches folded through the ledger must produce exactly the batch
    // routing's emission set and txn attribution
    "st_alert_route" ->
      graft.queries.WarehouseQueries.oracles("qa_alert_route"),

    // the batch per-operation fan-out law verbatim: decoding the same
    // envelope corpus through micro-batches must produce exactly the
    // batch decode's row set
    "st_xdr_ops" ->
      graft.queries.WarehouseQueries.oracles("s2_tx_operations"),

    // the batch LedgerEntry wire-record law verbatim: decoding the same
    // state-change corpus through micro-batches must produce exactly
    // the batch decode's routed rows
    "st_ledger_entries" ->
      graft.queries.WarehouseQueries.oracles("s3_ledger_entry"),

    // the frozen-centroid IVF derivation (the t_ann_ivf_append oracle):
    // a streamed delta ingest must land every vector in the cell the
    // batch appendDelta would, and the drained probe must match
    "st_ann_ingest" -> graft.queries.TrainingQueries.annIvfOracle,

    // the whole-corpus batch classifier derivation VERBATIM (one oracle
    // definition — the engines' seed rule is likewise shared via
    // QualityClassifier.sparkDensitySeed, so neither side can drift):
    // frozen-model streaming inference must reproduce it regardless of
    // slicing
    "st_quality_filter" ->
      graft.queries.TrainingQueries.oracles("t_quality_classifier"),

    // whole-corpus replay of the video-decode derivation from the frame
    // law (the t_video_dedup oracle over the gate's 10 + 3 fixture):
    // only an incremental fold whose accumulated frame-hash index equals
    // the batch decode can match the video-pair rollup
    "st_video_ingest" ->
      graft.queries.OracleSql.videoDedup(scenes = 10, shifted = 3),

    // whole-corpus replay of the real-decode derivation from the pixel
    // law (the t_image_dedup oracle over the gate's 30 + 6 fixture):
    // only an incremental fold whose accumulated index equals the batch
    // decode can match the banded Hamming pair set
    "st_image_ingest" ->
      graft.queries.OracleSql.imageDedup(scenes = 30, shifted = 6),

    // the whole-corpus batch sampler: only an associative top-(k+1) fold
    // whose state preserves the global (k+1)-th priority can match the
    // estimator threshold exactly
    "st_priority_sample" ->
      graft.queries.TrainingQueries.oracles("t_sample_priority_key"),

    // the batch interval law verbatim
    "st_scd2" -> graft.queries.WarehouseQueries.oracles("w3_scd2_intervals"),

    "st_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL
        |           OR date_diff('millisecond', prev, ts) > 1800000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM y)
        |SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
        |  COUNT(*) AS n_events
        |FROM z GROUP BY user_id, grp""".stripMargin,

    // epoch-aligned 10-minute tumbling buckets, integer µs arithmetic so
    // boundary rows can't drift through a double epoch
    "st_windowed_counts" ->
      """SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS w_start,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the batch per-type aggregate verbatim: each event counted once
    "st_dedup" -> graft.queries.WarehouseQueries.oracles("k6_optimize"),

    // Spark's global-watermark rule replayed relationally: batch = time
    // slice (+1 for the every-7th redelivery), watermark entering batch b
    // = max event time of batches < b minus 600 s, late = ts below it.
    "st_late_audit" ->
      """WITH st AS (
        |  SELECT event_id, ts,
        |    LEAST(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 0
        |               WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1
        |               WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 2
        |               ELSE 3 END
        |          + CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END, 3) AS b
        |  FROM events),
        |mx AS (SELECT b, MAX(ts) AS mb FROM st GROUP BY b),
        |wm AS (
        |  SELECT s.b, MAX(m.mb) - INTERVAL 600 SECONDS AS wmv
        |  FROM (SELECT DISTINCT b FROM st) s
        |  JOIN mx m ON m.b < s.b GROUP BY s.b),
        |agg AS (
        |  SELECT st.b, COUNT(*) AS n_total,
        |    CAST(COALESCE(SUM(CASE WHEN w.wmv IS NOT NULL AND st.ts < w.wmv
        |                           THEN 1 END), 0) AS BIGINT) AS n_late,
        |    CAST(COALESCE(SUM(CASE WHEN w.wmv IS NOT NULL AND st.ts < w.wmv
        |                           THEN st.event_id END), 0) AS BIGINT) AS late_id_sum
        |  FROM st LEFT JOIN wm w ON st.b = w.b
        |  GROUP BY 1)
        |SELECT CAST(DENSE_RANK() OVER (ORDER BY b) - 1 AS INTEGER) AS batch_seq,
        |  n_total, n_late, late_id_sum
        |FROM agg""".stripMargin,

    // single-ingestion semantics: the gate ingests TWICE (full replay
    // with identical txn ids) — only idempotent commits hash-match this
    "st_versioned_ingest" -> graft.queries.WarehouseQueries.oracles("k6_optimize"),

    "st_stream_join" ->
      """SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id,
        |  p.ts AS p_ts, c.ts AS c_ts
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 1800 SECONDS
        | AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'""".stripMargin,

    "st_upsert" ->
      """WITH seed AS (
        |  SELECT o_orderkey, o_totalprice, CAST(1 AS BIGINT) AS version,
        |    false AS deleted
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
        |    CAST(2 AS BIGINT) AS version, (o_orderkey % 21 = 0) AS deleted
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |allc AS (SELECT * FROM seed UNION ALL SELECT * FROM upd),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY version DESC) AS rn
        |  FROM allc)
        |SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
        |  version
        |FROM latest WHERE rn = 1 AND NOT deleted""".stripMargin,

    // identical to t_sketch_mart's oracle: the streamed fold must land on
    // the same mart a batch build would
    "st_sketch_mart" -> graft.queries.TrainingQueries.oracles("t_sketch_mart"),

    "st_heavy_hitters" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, event_type, cnt,
        |    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rank
        |  FROM c)
        |SELECT user_id, CAST(rank AS BIGINT) AS rank, event_type, cnt
        |FROM r WHERE rank <= 3""".stripMargin,

    // the batch KMV estimate verbatim
    "st_kmv_estimate" -> graft.queries.TrainingQueries.oracles("t_sketch_kmv"))
}
