package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sinks.VersionedTable

/** Alert routing + run reporting — the ops tail of the QA battery (the
  * reference routes dbt/Elementary failures to Slack every 15 minutes
  * and ships a weekly run report: reference
  * dags/dbt_data_quality_alerts_dag.py:26-37 `monitor --filters
  * statuses:fail,error`, dags/elementary_report_dag.py:30-45
  * `send-report --days-back 7`, both through
  * build_elementary_slack_alert_task.py:11-85).
  *
  * The engine analog is sink-agnostic: [[routeAlerts]] turns a batch of
  * check results into the NEW failures only — deduplicated against a
  * versioned sent-alert ledger exactly the way Elementary's monitor
  * suppresses re-sends — and commits them exactly-once
  * ([[VersionedTable.commitBatch]] txn replay protection, so a retried
  * monitor run cannot double-post). What leaves the engine is a small
  * DataFrame of alert rows (webhook/chat delivery is a one-line sink a
  * deployment wires; this container has zero egress by design).
  * [[runReport]] is the send-report aggregate: per-check run/failure
  * totals over a bounded history window.
  *
  * Scale posture: the ledger is check-count-sized (not event-sized), the
  * dedup is one broadcast-scale anti-join, and the report is one hash
  * aggregate over (runs x checks) rows.
  */
object Alerting {

  val alertSchema: StructType = StructType(Seq(
    StructField("check_key", StringType),
    StructField("violations", LongType),
    StructField("txn", StringType)))

  /** The sent-alert ledger's current rows (empty before the first
    * routing — the bootstrap read). */
  def sentAlerts(spark: SparkSession, stateRoot: String): DataFrame =
    VersionedTable.latestVersion(spark, stateRoot) match {
      case Some(_) => VersionedTable.read(spark, stateRoot, None)
        .select(col("check_key"), col("violations"), col("txn"))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], alertSchema)
    }

  /** Route one monitor run: keep `statuses:fail,error` rows (the
    * reference's filter), drop every check_key the ledger alerted on
    * within the suppression window, commit the remainder under `txnId`
    * (replayed txns no-op), and return the rows routed BY THIS RUN —
    * read back from the committed ledger, so a replay returns the
    * original batch instead of re-routing. `results` columns:
    * check_key, status, violations.
    *
    * `suppressLastRuns` is the re-send suppression window, counted in
    * MONITOR RUNS (every run commits a ledger version — even an
    * all-pass run records its txn — so "last N versions" is "last N
    * runs"): only alerts sent within the newest N runs suppress.
    * A check that fails, recovers, and fails again N+ runs later
    * re-alerts — Elementary's interval suppression, with runs as the
    * deterministic unit instead of wall-clock hours
    * (elementary's monitor suppresses re-sends inside
    * `suppression_interval`; the reference runs it every 15 minutes, so
    * runs and hours are interconvertible). The default
    * `Int.MaxValue` suppresses against the whole ledger — permanent
    * dedup, the strictest setting; pass a finite window for
    * reference-faithful episodic re-alerting. Window membership is
    * resolved by COMMIT order (the manifest history), not by txn id
    * spelling, so run ids need not order lexicographically here.
    *
    * Concurrency: safe under racing monitors. The suppression anti-join
    * reads the ledger at entry and the commit is conditional on that
    * version still being latest ([[VersionedTable.commitBatchIf]]), so
    * of two monitors racing the same ledger exactly one lands; the
    * loser errors with its stale decision unshipped ("advanced since
    * this writer read it — retry"), and its retry re-reads the ledger
    * and suppresses correctly. The reference gets the same outcome by
    * serializing monitor runs (`max_active_runs=1`,
    * dbt_data_quality_alerts_dag.py:19); here the ledger enforces it.
    * Retries of the SAME run are safe at any overlap (txn replay
    * no-ops before the precondition).
    */
  def routeAlerts(results: DataFrame, stateRoot: String, txnId: String,
                  suppressLastRuns: Int = Int.MaxValue): DataFrame = {
    val spark = results.sparkSession
    val entryV = VersionedTable.latestVersion(spark, stateRoot)
    val ledger = entryV match {
      case Some(v) => VersionedTable.read(spark, stateRoot, Some(v))
        .select(col("check_key"), col("violations"), col("txn"))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], alertSchema)
    }
    val suppressing =
      if (suppressLastRuns == Int.MaxValue || entryV.isEmpty) ledger
      else {
        // newest-N txns by commit order; history is manifest-sized
        val recent = VersionedTable.history(spark, stateRoot)
          .select("version", "txn_id").collect()
          .filter(!_.isNullAt(1))
          .sortBy(-_.getLong(0))
          .take(suppressLastRuns)
          .map(_.getString(1)).toSeq
        if (recent.isEmpty) ledger.limit(0)
        else ledger.filter(col("txn").isin(recent: _*))
      }
    val fresh = results
      .filter(lower(col("status")).isin("fail", "error"))
      .select(col("check_key"), col("violations").cast("long").as("violations"))
      .join(suppressing.select("check_key"), Seq("check_key"), "left_anti")
      .withColumn("txn", lit(txnId))
    VersionedTable.commitBatchIf(fresh, stateRoot, overwrite = false, txnId, entryV)
    sentAlerts(spark, stateRoot).filter(col("txn") === txnId)
  }

  /** The send-report aggregate over a check-run history
    * (run_id, check_key, status, violations): per check — runs observed,
    * failures, failure rate, the first failing run (empty string when
    * the check never failed — a null would make the report row
    * disappear from naive joins), the LATEST run's status, and the worst
    * violation count. One hash aggregate; max_by gives the latest
    * status without a window over the history.
    *
    * Run ORDER: run ids are the order key and must sort
    * LEXICOGRAPHICALLY in run order (ISO timestamps,
    * zero-padded sequence ids); that constraint is ENFORCED, not just
    * documented: the aggregate also computes the latest run under the
    * one plausible rival ordering (length-then-lex, which ranks the
    * unpadded run-9 < run-10 correctly where plain lex inverts them),
    * and any check where the two orderings disagree on the latest run
    * fails the query with a raise_error naming both candidates — an
    * unpadded scheme misreports loudly instead of silently.
    *
    * The guard's REACH is exactly length-inconsistency: an id scheme
    * that is equal-length but non-chronological (e.g. 'MM-DD-YYYY'
    * dates) agrees under both orderings and still silently misreports
    * first/latest — no ordering oracle exists inside the ids alone. And
    * because raise_error evaluates inside the aggregate, one
    * inconsistent check_key fails the ENTIRE report at collect time.
    */
  def runReport(history: DataFrame): DataFrame = {
    val ord = col("run_id")
    val base = history
      .withColumn("failed",
        lower(col("status")).isin("fail", "error"))
      .groupBy("check_key")
      .agg(
        count(lit(1)).as("n_runs"),
        sum(when(col("failed"), 1L).otherwise(0L)).as("n_failures"),
        (sum(when(col("failed"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("fail_rate"),
        // min_by skips null order keys, so the when() confines it to
        // failed rows; null (never failed) coalesces to ""
        coalesce(min_by(col("run_id"), when(col("failed"), ord)), lit(""))
          .as("first_failed_run"),
        max_by(lower(col("status")), ord).as("last_status"),
        max(col("violations").cast("long")).as("worst_violations"),
        max(col("run_id")).as("_lex_last"),
        max_by(col("run_id"), struct(length(col("run_id")), col("run_id")))
          .as("_len_last"))
    base.withColumn("last_status",
        when(col("_lex_last") =!= col("_len_last"),
          raise_error(concat(
            lit("runReport: run ids do not order consistently ("),
            col("_lex_last"), lit(" vs "), col("_len_last"),
            lit(") — zero-pad sequence ids"))))
          .otherwise(col("last_status")))
      .drop("_lex_last", "_len_last")
  }
}
