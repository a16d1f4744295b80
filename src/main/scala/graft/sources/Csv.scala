package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV partner-file loads (S5).
  *
  * The reference loads partner CSV dumps with a header row skipped and a
  * declared schema, truncate-replacing the target table (reference
  * dags/partner_pipeline_dag.py:57-71,
  * ext_stellar_partner_pipeline_dag.py:85-101). Schema is declared, never
  * inferred — same contract as the NDJSON path.
  */
object Csv {

  def read(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .csv(paths: _*)

  /** Load the newest partner file for a prefix (S6 sensor semantics) and
    * truncate-replace the target — the reference's partner pipeline in one
    * call. Returns None when no file has arrived yet.
    */
  def loadLatest(spark: SparkSession, schema: StructType,
                 dir: String, prefix: String, targetPath: String): Option[Long] =
    graft.operators.Maintenance.latestFileByPrefix(spark, dir, prefix).map { f =>
      val df = read(spark, schema, f)
      graft.sinks.Sinks.truncateReplace(df, targetPath)
      Parquet.read(spark, targetPath).count()
    }
}
