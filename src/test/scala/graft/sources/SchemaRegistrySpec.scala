package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SchemaRegistrySpec extends AnyFunSuite {

  // Shapes mirror the reference's schema JSON (schemas/accounts_schema.json
  // etc.): flat scalars, DATETIME vs TIMESTAMP, REPEATED, nested RECORD.
  private val json =
    """[
      |  {"name": "account_id", "type": "STRING", "mode": "NULLABLE"},
      |  {"name": "balance", "type": "FLOAT"},
      |  {"name": "sequence_number", "type": "INTEGER"},
      |  {"name": "deleted", "type": "BOOLEAN"},
      |  {"name": "fee", "type": "NUMERIC"},
      |  {"name": "batch_run_date", "type": "DATETIME"},
      |  {"name": "closed_at", "type": "TIMESTAMP"},
      |  {"name": "ledger_header", "type": "BYTES"},
      |  {"name": "key_decoded", "type": "JSON"},
      |  {"name": "extra_signers", "type": "STRING", "mode": "REPEATED"},
      |  {"name": "ledger_id", "type": "INTEGER", "mode": "REQUIRED"},
      |  {"name": "details", "type": "RECORD", "fields": [
      |     {"name": "amount", "type": "FLOAT"},
      |     {"name": "claimants", "type": "RECORD", "mode": "REPEATED", "fields": [
      |        {"name": "destination", "type": "STRING"}]}]}
      |]""".stripMargin

  test("BigQuery schema JSON maps to the SURVEY §1.2 Spark types") {
    val s = SchemaRegistry.fromJson(json)
    assert(s("account_id").dataType == StringType)
    assert(s("balance").dataType == DoubleType)
    assert(s("sequence_number").dataType == LongType)
    assert(s("deleted").dataType == BooleanType)
    assert(s("fee").dataType == DecimalType(38, 9))
    assert(s("batch_run_date").dataType == TimestampNTZType, "DATETIME is tz-naive")
    assert(s("closed_at").dataType == TimestampType)
    assert(s("ledger_header").dataType == BinaryType)
    assert(s("key_decoded").dataType == StringType)
    assert(s("extra_signers").dataType == ArrayType(StringType, containsNull = true))
    assert(s("ledger_id").nullable == false)
    val details = s("details").dataType.asInstanceOf[StructType]
    assert(details("amount").dataType == DoubleType)
    assert(details("claimants").dataType ==
      ArrayType(StructType(Seq(StructField("destination", StringType))), containsNull = true))
  }
}
