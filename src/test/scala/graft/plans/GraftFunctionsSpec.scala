package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

class GraftFunctionsSpec extends SparkSpec {

  private val expectedNames = Set(
    "graft_cosine", "graft_hplane_sig", "graft_shingles", "graft_kmv_kth",
    "graft_kmv_mins", "graft_mg_topk", "graft_hilbert", "graft_nfc",
    "graft_strkey_decode", "graft_strkey_encode", "graft_xdr_u32",
    "graft_xdr_u64", "graft_xdr_bytes", "graft_xdr_ledger_header",
    "graft_xdr_account_entry", "graft_xdr_tx_envelope", "graft_xdr_trust_line",
    "graft_xdr_offer", "graft_xdr_liquidity_pool", "graft_xdr_claimable_balance",
    "graft_xdr_contract_data", "graft_xdr_ttl", "graft_xdr_contract_code",
    "graft_xdr_config_setting", "graft_xdr_ledger_key", "graft_xdr_ledger_entry",
    "graft_xdr_tx_result", "graft_xdr_entry_changes")

  private def graftNames(s: org.apache.spark.sql.SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet

  test("register installs exactly the 28 graft_* functions") {
    val fresh = spark.newSession()
    assert(graftNames(fresh).isEmpty)
    GraftFunctions.register(fresh)
    assert(expectedNames.size == 28)
    assert(graftNames(fresh) == expectedNames)
    GraftFunctions.register(fresh) // idempotent
    assert(graftNames(fresh) == expectedNames)
  }

  test("a wrong arity fails with a message naming the function") {
    GraftFunctions.register(spark)
    Seq(
      "graft_xdr_ttl(X'00', 1)" -> "graft_xdr_ttl(bin) takes one binary arg",
      "graft_cosine(array(1.0f))" -> "graft_cosine(a, b) takes two array<float> args",
      "graft_xdr_bytes(X'00', 1)" ->
        "graft_xdr_bytes(bin, offset, len) takes a binary column and two int literals"
    ).foreach { case (call, usage) =>
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains(usage)), s"$call: ${messages.mkString(" | ")}")
    }
  }

  test("every XDR record plans as graft_xdr_<name>(child) and its codegen " +
      "calls the record's decode") {
    GraftFunctions.register(spark)
    // a non-foldable binary column: constant folding would decode it
    // interpreted at plan time
    val bin = spark.range(1, 5).select(unhex(lpad(hex(col("id")), 8, "0")).as("b"))
    XdrRecords.all.foreach { r =>
      val df = bin.select(call_function(r.sqlName, col("b")).as("r"))
      val decodes = df.queryExecution.executedPlan
        .flatMap(_.expressions.flatMap(_.collect { case d: XdrDecode => d }))
      assert(decodes.map(_.record) == Seq(r), r.sqlName)
      val d = decodes.head
      assert(d.toString == s"${r.sqlName}(${d.child})")
      val forwarder = r.getClass.getName.stripSuffix("$") + ".decode("
      val bound = d.withNewChildren(Seq(BoundReference(0, BinaryType, nullable = true)))
      assert(bound.genCode(new CodegenContext).code.toString.contains(forwarder),
        s"${r.sqlName}: no $forwarder call")
      // four-byte buffers are too short for every record: all quarantine
      assert(df.collect().forall(_.isNullAt(0)), r.sqlName)
    }
  }
}
