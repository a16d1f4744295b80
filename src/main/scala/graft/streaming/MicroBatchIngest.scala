package graft.streaming

import graft.core.{Batch, BatchId, BatchWindow}
import graft.operators.DelIns
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Micro-batch ingestion as Structured Streaming.
  *
  * The reference's "streams" are 10-minute cron DAGs
  * (reference dags/history_tables_dag.py:43, a 10-minute cron) that export a
  * ledger range to NDJSON and del-ins load it. Structurally that is a file
  * stream with an AvailableNow trigger: each trigger drains the files that
  * arrived since the last checkpoint, stamps batch lineage, and writes via
  * the same idempotent del-ins path — rerunning a failed trigger overwrites
  * the same batch partitions, so end-to-end semantics stay exactly-once
  * without any new machinery.
  */
object MicroBatchIngest {

  /** Event-time adapter: Spark's watermark machinery (withWatermark,
    * stream-stream join ranges, EventTimeTimeout) accepts only TIMESTAMP,
    * but the reference's DATETIME columns are timezone-naive (SURVEY §1.2,
    * reference dags/stellar_etl_airflow/build_del_ins_from_gcs_to_bq_task.py:77-83)
    * and so is the driver's `events.ts` (parquet timestamp[us] without
    * isAdjustedToUTC reads as TIMESTAMP_NTZ). Under the engine's pinned UTC
    * session zone (GraftSession.tune) NTZ↔TIMESTAMP casting is a wall-clock
    * bijection, so every event-time operator here adapts NTZ inputs at the
    * boundary and casts back on output — callers keep the type they
    * supplied end-to-end.
    */
  private[streaming] def toEventTime(df: DataFrame, cols: Seq[String])
  : (DataFrame, Seq[String]) = {
    val ntz = cols.filter(c => df.schema(c).dataType == TimestampNTZType)
    (ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType))), ntz)
  }

  private[streaming] def fromEventTime(df: DataFrame, ntz: Seq[String]): DataFrame =
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampNTZType)))

  /** Drain all currently-available NDJSON files into the warehouse, one
    * del-ins batch per micro-batch. Blocks until the drain completes.
    *
    * The lineage stamp derives ENTIRELY from the logical run — the caller's
    * `window` (the scheduler's data interval, as in the reference's batch
    * macros, reference dags/stellar_etl_airflow/macros.py:1-15 and
    * build_export_task.py:143-147) and the deterministic micro-batch id —
    * never from wall clock. A retried trigger therefore rewrites its
    * partitions BYTE-IDENTICAL (IdempotencySpec proves run-twice equality
    * including the lineage columns); an Instant.now() stamp would leave
    * rows-replaced idempotency intact but break replay audits that diff
    * re-exported batches, exactly the property the reference pins by
    * stamping batch metadata once at export.
    */
  def runAvailableNow(spark: SparkSession, schema: StructType, inputGlob: String,
                      warehousePath: String, checkpoint: String,
                      runId: String, alias: String, window: BatchWindow): Unit = {
    val stream = spark.readStream
      .schema(schema)
      .option("mode", "FAILFAST")
      .json(inputGlob)

    Drain.run(stream, checkpoint) { (batch: DataFrame, batchId: Long) =>
      val stamped = Batch
        .stampLineage(batch, BatchId(runId, alias), window, insertTs = window.end)
        .withColumn("p_batch", lit(f"$runId%s-$batchId%06d"))
      new DelIns.Warehouse(spark, warehousePath, Seq("p_batch")).loadBatch(stamped)
      ()
    }
  }

  /** Streaming upsert into a warehouse table: each micro-batch MERGES its
    * change rows into the accumulated state (the reference's
    * apply-changes MERGE, reference
    * dags/stellar_etl_airflow/build_apply_gcs_changes_to_bq_task.py:116-149,
    * driven by a stream instead of a cron batch).
    *
    * Semantics are latest-VERSION-wins with tombstones PRESERVED in state:
    * the surviving row per key is the one with the highest `versionCol`
    * (deletes included), and consumers filter `deletedCol` at read time.
    * Keeping tombstones (rather than dropping rows on delete, as a naive
    * MERGE drain would) makes the fold per-key commutative across
    * micro-batches — a late-arriving lower-version update cannot resurrect
    * a deleted key — so the drained result is independent of how the file
    * source happened to slice files into batches. `versionCol` must be
    * unique per key across the feed (the reference's
    * last_modified_ledger+change ordering; equal versions tie-break
    * arbitrarily and only the final max-version row is defined).
    *
    * State versions as parquet dirs (`state_v<batchId>`): each batch reads
    * the previous version, folds, writes the next — never reading the dir
    * it writes. Per-batch work is ONE hash shuffle on the key (min_by-style
    * latest aggregation), proportional to accumulated keys; at warehouse
    * scale the same fold runs partition-scoped via
    * `DelIns.Warehouse.mergePartitioned`.
    *
    * Returns the path of the final state version.
    */
  def mergeDrain(changes: DataFrame, keys: Seq[String], versionCol: String,
                 stateRoot: String, checkpoint: String): String = {
    val spark = changes.sparkSession
    // Restart safety: when resuming from a durable checkpoint the file
    // source SKIPS already-committed batches, so the previous state must
    // be recovered from storage — an in-memory pointer alone would fold
    // the first post-restart batch against nothing and silently drop
    // every pre-restart key. Each batch reads the newest state version
    // STRICTLY BELOW its own batch id (Drain.stateBefore), and batch 0 of
    // a fresh checkpoint reads nothing even if the stateRoot holds
    // leftovers from a dead run (ck and stateRoot form one logical
    // stream; pair them).
    // tracks the newest version THIS run wrote, for the return value only
    @volatile var lastWritten: Option[String] = None
    Drain.run(changes, checkpoint) { (batch: DataFrame, batchId: Long) =>
      val prev = Drain.stateBefore(spark, stateRoot, batchId).map(Parquet.read(spark, _))
      val union = prev.fold(batch)(_.unionByName(batch))
      val next = graft.operators.CurrentState
        .lastByKeyAgg(union, keys, Seq(versionCol))
      val out = s"$stateRoot/state_v$batchId"
      next.write.mode("overwrite").parquet(out)
      lastWritten = Some(out)
      ()
    }
    // no new batches on a resume: the newest committed version IS the state
    lastWritten.orElse(Drain.stateBefore(spark, stateRoot, Long.MaxValue))
      .getOrElse(sys.error("mergeDrain: no batches and no prior state"))
  }

  /** Watermarked stream-stream interval join: attach to each purchase the
    * same user's clicks from the preceding 30 minutes — last-touch
    * attribution, the canonical TWO-SIDED streaming state shape (every
    * prior stateful op here keeps state on one side only). The range
    * predicate plus both watermarks is what lets Spark garbage-collect
    * both join buffers: a click older than the 30-minute watermark plus
    * the 30-minute window can never match a future purchase, so state
    * stays bounded at any stream length — an unconstrained stream-stream
    * join would buffer forever.
    */
  def streamStreamAttribution(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val watermark = "30 minutes"
    val (p0, pNtz) = toEventTime(
      purchases.select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user")),
      Seq("p_ts"))
    val p = p0.withWatermark("p_ts", watermark)
    val (c0, cNtz) = toEventTime(
      clicks.select(col("event_id").as("c_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user")),
      Seq("c_ts"))
    val c = c0.withWatermark("c_ts", watermark)
    val joined = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1800 SECONDS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("p_id"), col("c_id"),
        col("p_ts"), col("c_ts"))
    fromEventTime(joined, pNtz ++ cNtz)
  }

  /** Windowed per-event-type counts with a watermark — the aggregation shape
    * the reference's 10-minute batch stats table records per run
    * (reference dags/stellar_etl_airflow/build_batch_stats.py:9-43), kept
    * incremental here by watermarked state instead of full recompute.
    * 10-minute windows under a 30-minute watermark; sums the `value` column.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String): DataFrame = {
    // output window bounds stay TIMESTAMP even for NTZ input: the struct is
    // a derived bucket label, not the caller's column
    val (adapted, _) = toEventTime(events, Seq(tsCol))
    adapted
      .withWatermark(tsCol, "30 minutes")
      .groupBy(window(col(tsCol), "10 minutes"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
  }

  /** Streaming exact dedup: drop redelivered events by id, with state
    * bounded by the watermark. The reference gets the same guarantee from
    * the del-ins batch key (any retry overwrites the same batch); in a true
    * streaming ingest the dedup state must live in the engine, and bounding
    * it by event time is what keeps the state store finite at 100 TB/day —
    * dropDuplicates without a watermark would grow state forever.
    */
  def streamingDedup(events: DataFrame, tsCol: String, idCols: Seq[String]): DataFrame = {
    val (adapted, ntz) = toEventTime(events, Seq(tsCol))
    fromEventTime(
      adapted
        .withWatermark(tsCol, "30 minutes")
        .dropDuplicatesWithinWatermark(idCols),
      ntz)
  }

  /** Sessionization via flatMapGroupsWithState: group a user's events into
    * activity sessions separated by >= `gapSeconds` of silence, emitting a
    * session row once its gap has definitively passed (event-time timeout).
    * The canonical "custom state machine" streaming shape — state per key
    * is one open session, bounded by the watermark, so the state store
    * stays finite regardless of history length.
    */
  def sessionize(events: org.apache.spark.sql.Dataset[graft.typed.Event],
                 gapSeconds: Long = 1800L)
  : org.apache.spark.sql.Dataset[graft.typed.Session] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapSeconds * 1000L
    events
      .withWatermark("ts", s"$gapSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[graft.typed.Event],
         state: GroupState[List[graft.typed.Session]]) =>
          // State is the LIST of not-yet-definitive sessions, not just
          // the newest one: closing a session the moment a later event
          // opens the next would be premature while the watermark still
          // admits a BRIDGE event between them (t=1000 then t=4000 with
          // gap 1800: a late t=2500 inside the watermark merges both
          // into ONE session — an eagerly-emitted [1000,1000] row could
          // never be retracted and would contradict the batch
          // gaps-and-islands semantics the oracle states).
          val incoming = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .map(e => graft.typed.Session(uid, e.ts, e.ts, 1L,
              e.value.getOrElse(0.0)))
          val all = (state.getOption.getOrElse(Nil) ++ incoming)
            .sortBy(s => (s.start_ts.getTime, s.end_ts.getTime))
          // interval-merge under the gap rule (sorted by start, bounds
          // only ever widen; sums fold in start order — deterministic)
          val merged = all.foldLeft(List.empty[graft.typed.Session]) {
            case (cur :: rest, s)
              if s.start_ts.getTime - cur.end_ts.getTime <= gapMs =>
              cur.copy(
                end_ts = if (s.end_ts.after(cur.end_ts)) s.end_ts
                         else cur.end_ts,
                n_events = cur.n_events + s.n_events,
                value_sum = cur.value_sum + s.value_sum) :: rest
            case (acc, s) => s :: acc
          }.reverse
          // a session is definitive only once NO in-watermark event can
          // still merge into it: end + gap strictly behind the watermark
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) =
            merged.partition(_.end_ts.getTime + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            state.setTimeoutTimestamp(
              math.max(open.map(_.end_ts.getTime + gapMs).min, wm + 1L))
          }
          closed.iterator
      }
  }

  /** Streaming distinct-count estimate: the KMV sketch
    * (graft.plans.KmvKthMin) as incrementally-maintained keyed state.
    * Each trigger folds the batch's hashes into the group's k retained
    * minima — state is O(k) short strings per key FOREVER, versus the
    * unbounded key set an exact streaming countDistinct would have to
    * hold. Input rows are (group key, hash string).
    */
  def streamingDistinctEstimate(
      pairs: org.apache.spark.sql.Dataset[(String, String)], k: Int = 32)
  : org.apache.spark.sql.Dataset[graft.typed.KmvEstimate] = {
    import pairs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    pairs.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[(String, String)], state: GroupState[List[String]]) =>
          val buf = new java.util.TreeSet[String]()
          state.getOption.foreach(_.foreach(buf.add))
          // skip null hashes, matching the batch aggregate's null handling
          it.foreach { case (_, h) =>
            if (h != null) graft.plans.KmvKthMin.boundedAdd(buf, h, k)
          }
          val mins = {
            val b = List.newBuilder[String]
            val iter = buf.iterator()
            while (iter.hasNext) b += iter.next()
            b.result()
          }
          state.update(mins)
          val kth = if (buf.size >= k) Some(buf.last) else None
          graft.typed.KmvEstimate(key, buf.size,
            graft.plans.KmvKthMin.estimate(buf.size, kth, k))
      }
  }

  /** Streaming Misra-Gries heavy hitters per key: the keyed state is one
    * O(k) counter map folded batch-by-batch with the same MG update the
    * batch aggregate ([[graft.plans.MgTopK]]) runs, emitting the current
    * (count desc, item asc)-sorted summary each trigger — "top items per
    * key so far" over an unbounded stream in bounded state. Below k
    * distinct items per key the counts are exact and order-independent,
    * which is the regime the oracle gate pins.
    */
  def streamingHeavyHitters(
      pairs: org.apache.spark.sql.Dataset[(Long, String)], k: Int)
  : org.apache.spark.sql.Dataset[(Long, Seq[(String, Long)])] = {
    import pairs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    pairs.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[(Long, String)], state: GroupState[Map[String, Long]]) =>
          val buf = new java.util.HashMap[String, Long]()
          state.getOption.foreach(_.foreach { case (s, c) => buf.put(s, c) })
          it.foreach { case (_, v) =>
            if (v != null) graft.plans.MgTopK.updateMap(buf, v, k)
          }
          val snap = {
            val b = Map.newBuilder[String, Long]
            val es = buf.entrySet().iterator()
            while (es.hasNext) { val e = es.next(); b += (e.getKey -> e.getValue) }
            b.result()
          }
          state.update(snap)
          (key, snap.toSeq.sortBy { case (item, cnt) => (-cnt, item) })
      }
  }
}
