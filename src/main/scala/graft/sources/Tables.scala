package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * `events.ts` is written as parquet TIMESTAMP(NANOS); Spark's TimestampType
  * is microseconds, so we read nanos as long and floor-divide to micros —
  * exactly the truncation DuckDB applies when it reads the same file, which
  * keeps oracle comparisons bit-identical.
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    name match {
      case "events" => readEvents(spark, path)
      case _        => spark.read.parquet(path)
    }
  }

  private def readEvents(spark: SparkSession, path: String): DataFrame = {
    // Spark can't represent TIMESTAMP(NANOS) natively: the session reads
    // it as the raw int64 (GraftSession.tune), truncated to micros here
    val raw = spark.read.parquet(path)
    val tsType = raw.schema("ts").dataType.typeName
    if (tsType == "long")
      // integer div, not double div: ns values ~1.7e18 exceed double's 2^53
      // exact range, and DuckDB truncates ns->us, so we must too.
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
}
