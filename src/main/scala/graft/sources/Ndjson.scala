package graft.sources

import graft.core.Pins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** NDJSON batch-file ingestion (operator S4).
  *
  * The reference's exchange format is newline-delimited JSON files named
  * `[start]-[end]-[table].txt`, loaded with a declared schema and zero bad
  * records tolerated (reference
  * dags/stellar_etl_airflow/build_gcs_to_bq_task.py:120,
  * build_del_ins_from_gcs_to_bq_task.py:143-203 `max_bad_records=0`).
  * FAILFAST reproduces the zero-tolerance contract; the declared schema
  * (never inferred — autodetect=False) keeps the scan single-pass and the
  * types stable under schema evolution.
  */
object Ndjson {

  def read(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "FAILFAST")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS]")
      .json(paths: _*)

  /** Permissive variant recording bad rows, for sources where the upstream
    * contract is weaker (external/partner feeds, S5/S7).
    */
  def readPermissive(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(paths: _*)

  /** Quarantine split: the middle ground between FAILFAST (kill the batch
    * on one bad byte) and silently dropping malformed lines — parse
    * permissively, route malformed source lines to a quarantine relation
    * (raw text preserved for replay after the upstream fix), and return
    * clean rows without the bookkeeping column.
    *
    * The parsed batch is CACHED: Spark disallows plans whose referenced
    * columns are only the internal corrupt-record column (the quarantine
    * leg's shape), and the documented workaround — persist the parse — is
    * also the right call here: the split runs per batch FILE (a bounded
    * micro-batch, never the corpus), both legs read the one cached parse,
    * and the caller releases it after draining them.
    */
  final case class QuarantineSplit(good: DataFrame, quarantine: DataFrame,
                                   private val raw: DataFrame) {
    /** Free the shared parse — call after BOTH legs' actions have run,
      * or it stays pinned until the caller's scope ends.
      */
    def release(): Unit = Pins.release(raw)
  }

  def readWithQuarantine(spark: SparkSession, schema: StructType, paths: String*)
  : QuarantineSplit = {
    val raw = Pins.keep(readPermissive(spark, schema, paths: _*))
    val good = raw.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = raw.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNotNull)
      .select("_corrupt_record")
    QuarantineSplit(good, bad, raw)
  }
}
