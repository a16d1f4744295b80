package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's default tuning.
  *
  * The reference (stellar-etl-airflow) delegates physical execution to
  * BigQuery; here Catalyst/Tungsten own it, so the session carries the
  * engine-wide defaults: AQE (runtime coalesce + skew-join handling),
  * a shuffle-partition count sized for the local[32] harness (on a real
  * cluster this would be ~2-3x total cores and AQE coalesces down), and
  * UTC session time so DATETIME-naive columns (`batch_run_date`, see
  * reference dags/stellar_etl_airflow/build_del_ins_from_gcs_to_bq_task.py:77-83)
  * compare consistently.
  */
object GraftSession {

  def builder(appName: String = "graft", master: String = "local[32]"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", "32")
      // static conf: the default 100-entry generated-class cache evicts
      // under a many-query session and every re-run re-pays Janino+JIT
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    tune(spark)
    spark
  }

  /** Apply runtime-settable defaults to an externally created session
    * (the Verify/Bench drivers build their own), and register the engine's
    * native functions. Safe to call repeatedly.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    // Parquet timestamps stay INT96 (the default): pyarrow/pandas read INT96
    // as tz-NAIVE timestamp[ns], which is what oracle comparisons expect —
    // INT64 micros would come back tz-aware (isAdjustedToUTC) and mismatch.
    // The ns range limit is handled by the ns-safe AsOfJoin.EndOfTime
    // sentinel instead (9999-12-31 overflows int64 nanos and wraps).
    graft.plans.GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.IntervalBroadcastRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.IntervalBroadcastRule
    spark
  }

  /** Run `body` with the given session conf keys set, restoring every key
    * to its value from BEFORE the call in a finally — whatever `body` did
    * to it meanwhile, and also when `body` throws. A leaked override (AQE
    * off, a narrowed shuffle width) would silently change every later
    * query in a long-lived session. The settings are session-global for
    * the body's duration: a query planned concurrently on the SAME
    * session sees them too.
    */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val was = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
