package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * In the test data (sf0.001, sf0.01, sf0.1) `events.ts` is parquet
  * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark loads as
  * TIMESTAMP_NTZ and `readEvents` passes through unchanged. A writer that
  * emits TIMESTAMP(NANOS) instead produces a column Spark cannot hold as a
  * timestamp: the session reads it as the raw int64 (GraftSession.tune),
  * and `readEvents` integer-divides it to micros — exactly the truncation
  * DuckDB applies when it reads the same file, which keeps oracle
  * comparisons bit-identical on such input too.
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    name match {
      case "events" => readEvents(spark, path)
      case _        => Parquet.read(spark, path)
    }
  }

  private def readEvents(spark: SparkSession, path: String): DataFrame = {
    // Spark can't represent TIMESTAMP(NANOS) natively: the session reads
    // it as the raw int64 (GraftSession.tune), truncated to micros here
    val raw = Parquet.read(spark, path)
    val tsType = raw.schema("ts").dataType.typeName
    if (tsType == "long")
      // integer div, not double div: ns values ~1.7e18 exceed double's 2^53
      // exact range, and DuckDB truncates ns->us, so we must too.
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
}
