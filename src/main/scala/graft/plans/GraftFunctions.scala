package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import scala.reflect.ClassTag

/** The engine's native SQL functions (`graft_cosine`, `graft_xdr_*`, ...),
  * installed on a session by [[GraftFunctions.register]], which
  * `GraftSession.tune` calls.
  */
object GraftFunctions {

  /** One SQL function, from its name, the usage a wrong call reports, its
    * argument count and the builder of its expression. */
  private def native[E <: Expression](name: String, usage: String, arity: Int)(
      build: Seq[Expression] => E)(implicit tag: ClassTag[E])
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(tag.runtimeClass.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name$usage")
        build(args)
      })

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private val natives: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    native("graft_cosine", "(a, b) takes two array<float> args", 2)(
      a => CosineSimilarity(a(0), a(1))),
    native("graft_hplane_sig",
        "(vec, planes, dims) takes an array<float> and two int literals", 3)(
      a => HyperplaneSig(a(0), litInt(a(1), "planes"), litInt(a(2), "dims"))),
    native("graft_shingles", "(text, n) takes a string and an int literal", 2)(
      a => ShingleArray(a(0), litInt(a(1), "n"))),
    native("graft_kmv_kth", "(hash, k) takes a string column and an int literal", 2)(
      a => KmvKthMin(a(0), litInt(a(1), "k"))),
    native("graft_kmv_mins", "(hash, k) takes a string column and an int literal", 2)(
      a => KmvMins(a(0), litInt(a(1), "k"))),
    native("graft_mg_topk", "(value, k) takes a string column and an int literal", 2)(
      a => MgTopK(a(0), litInt(a(1), "k"))),
    native("graft_hilbert", "(x, y, bits) takes two bigint columns and an int literal", 3)(
      a => HilbertIndex(a(0), a(1), litInt(a(2), "bits"))),
    native("graft_nfc", "(text) takes one string arg", 1)(a => NfcNormalize(a(0))),
    native("graft_strkey_decode", "(addr) takes one string arg", 1)(
      a => StrkeyDecode(a(0))),
    native("graft_strkey_encode",
        "(payload, version) takes a binary column and an int literal", 2)(
      a => StrkeyEncode(a(0), litInt(a(1), "version"))),
    native("graft_xdr_u32", "(bin, offset) takes a binary column and an int literal", 2)(
      a => XdrU32(a(0), litInt(a(1), "offset"))),
    native("graft_xdr_u64", "(bin, offset) takes a binary column and an int literal", 2)(
      a => XdrU64(a(0), litInt(a(1), "offset"))),
    native("graft_xdr_bytes",
        "(bin, offset, len) takes a binary column and two int literals", 3)(
      a => XdrBytes(a(0), litInt(a(1), "offset"), litInt(a(2), "len")))
  ) ++ XdrRecords.all.map(r =>
    native(r.sqlName, "(bin) takes one binary arg", 1)(a => XdrDecode(a(0), r)))

  /** Idempotently register the engine's native functions on a session. */
  def register(spark: SparkSession): Unit =
    natives.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
