package graft.sinks

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink family (K1–K8).
  *
  * The reference's sinks are BigQuery load/DML/EXPORT jobs; here they are
  * partitioned columnar writes. The lake export (K3, the reference's
  * `EXPORT DATA ... format='avro' ... order by closed_at`) is
  * [[AvroIO.write]]: one Avro container file per partition, each ordered
  * by a `sortWithinPartitions` on the order key upstream.
  */
object Sinks {

  /** K1: partitioned append with write-time clustering. `clusterCols`
    * emulates BigQuery clustering (reference airflow_variables_prod.json
    * cluster fields) via sortWithinPartitions — rows co-located on the
    * cluster key inside each file give the same scan-pruning benefit
    * min/max parquet stats provide.
    */
  def partitionedAppend(df: DataFrame, path: String,
                        partitionCols: Seq[String], clusterCols: Seq[String] = Nil): Unit = {
    // co-locate partition values BEFORE partitionBy — but through AQE's
    // REBALANCE, not a plain repartition: a plain hash repartition on
    // the partition columns fixed the small-files explosion (every
    // input task x partition value emitting its own tiny file) yet
    // serialized each value through ONE task, so write throughput and
    // task memory scaled with the largest partition and one hot day
    // stalled the job. REBALANCE is value-clustered with BOTH adaptive
    // legs: undersized partitions coalesce (each writer task still emits
    // one file per value it holds — no explosion) and a skewed value
    // SPLITS across tasks sized by bytes
    // (spark.sql.adaptive.optimizeSkewsInRebalancePartitions), so
    // parallelism follows data volume instead of a fixed salt's file
    // multiplier. Cluster-sorting happens within each co-located task so
    // files keep tight min/max stats.
    val placed = df.hint("rebalance", partitionCols.map(col): _*)
    val sorted =
      if (clusterCols.nonEmpty)
        placed.sortWithinPartitions((partitionCols ++ clusterCols).map(col): _*)
      else placed
    sorted.write.mode("append").partitionBy(partitionCols: _*).parquet(path)
  }

  /** K2: truncate-replace (WRITE_TRUNCATE). */
  def truncateReplace(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** K4: single-file NDJSON export (the reference's TVL feed,
    * reference dags/dbt_stellar_marts_dag.py:162-178). coalesce(1) is only
    * sane for small marts — by construction this feed is one.
    */
  def jsonExport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(path)

  /** K5: table copy. */
  def copyTable(spark: SparkSession, srcPath: String, dstPath: String): Unit =
    truncateReplace(Parquet.read(spark, srcPath), dstPath)

  /** K6: snapshot clone — versioned directory copies in lieu of BigQuery's
    * `CLONE ... FOR SYSTEM_TIME AS OF` (reference
    * dags/dag_stellar_dbt_staging_refresh.py:84-88). On a table format with
    * time travel this is a metadata-only CLONE VERSION AS OF.
    */
  def snapshot(spark: SparkSession, srcPath: String, snapshotRoot: String,
               version: String): String = {
    val dst = s"$snapshotRoot/version=$version"
    copyTable(spark, srcPath, dst)
    dst
  }

  /** K7: sandbox CTAS — last `months` months re-partitioned by day
    * (reference dags/queries/create_table.sql:1-9).
    */
  def sandboxCtas(df: DataFrame, path: String, tsCol: String, months: Int): Unit = {
    val cutoff = add_months(current_date(), -months)
    df.filter(col(tsCol) >= cutoff)
      .withColumn("p_day", to_date(date_trunc("day", col(tsCol))))
      // one file per day partition, not one per (day x task): partitionBy
      // writes a file per key per input task, and the resulting small-file
      // explosion is what kills day-partitioned tables at scale
      .repartition(col("p_day"))
      .write.mode("overwrite").partitionBy("p_day").parquet(path)
  }

  /** Bucketed catalog table — the vanilla-Spark analog of the reference's
    * clustering declarations (reference airflow_variables_prod.json cluster
    * fields): co-partitioned storage so repeated joins/aggs on the bucket
    * key run with NO exchange. At 100 TB this turns
    * the nightly fact-to-fact joins from full shuffles into local merges.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
}
