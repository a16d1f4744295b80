package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** BigQuery-style JSON table schemas → Spark StructType.
  *
  * The reference declares every table's schema as a JSON array of
  * `{name, type, mode, fields?}` objects (reference schemas dir, loaded
  * with autodetect=False — see
  * reference dags/stellar_etl_airflow/build_apply_gcs_changes_to_bq_task.py:20-39).
  * Mapping rules (SURVEY §1.2):
  *   STRING→String, INTEGER/INT64→Long, FLOAT/FLOAT64→Double,
  *   BOOLEAN/BOOL→Boolean, NUMERIC→Decimal(38,9), BIGNUMERIC→Decimal(38,9),
  *   DATETIME→TimestampNTZ (timezone-naive), TIMESTAMP→Timestamp,
  *   DATE→Date, BYTES→Binary, JSON→String (extracted with get_json_object),
  *   RECORD/STRUCT→Struct, mode REPEATED→Array, mode REQUIRED→non-null.
  */
object SchemaRegistry {

  private val mapper = new ObjectMapper()

  def fromJson(json: String): StructType = {
    val root = mapper.readTree(json)
    require(root.isArray, "expected a JSON array of field objects")
    StructType(root.elements().asScala.map(field).toSeq)
  }

  private def field(node: JsonNode): StructField = {
    val name = node.get("name").asText()
    val mode = Option(node.get("mode")).map(_.asText().toUpperCase).getOrElse("NULLABLE")
    val base = node.get("type").asText().toUpperCase match {
      case "STRING"                  => StringType
      case "INTEGER" | "INT64"       => LongType
      case "FLOAT" | "FLOAT64"       => DoubleType
      case "BOOLEAN" | "BOOL"        => BooleanType
      case "NUMERIC" | "BIGNUMERIC"  => DecimalType(38, 9)
      case "DATETIME"                => TimestampNTZType
      case "TIMESTAMP"               => TimestampType
      case "DATE"                    => DateType
      case "BYTES"                   => BinaryType
      case "JSON"                    => StringType
      case "RECORD" | "STRUCT" =>
        StructType(node.get("fields").elements().asScala.map(field).toSeq)
      case other => throw new IllegalArgumentException(s"unsupported type $other for $name")
    }
    val dt = if (mode == "REPEATED") ArrayType(base, containsNull = true) else base
    StructField(name, dt, nullable = mode != "REQUIRED" && mode != "REPEATED")
  }
}
