package graft.queries

import graft.SparkSpec
import graft.queries.XdrFixture._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins the bytes the XDR fixture encoders write: every s2_/s3_ gate and
  * the two XDR drains decode records built from these helpers. */
class XdrFixtureSpec extends SparkSpec {

  /** Lowercase hex of each encoding, evaluated on one row with k = 7. */
  private def hexOf(cs: Column*): Seq[String] =
    spark.range(1).select(lit(7L).as("k"))
      .select(cs.map(c => lower(hex(c))): _*)
      .head().toSeq.map(_.asInstanceOf[String])

  test("u32 writes a big-endian 4-byte word over 0 <= c < 2^32") {
    assert(hexOf(u32(lit(1L)), u32(lit(0x01020304L)), u32(lit(4294967295L))) ==
      Seq("00000001", "01020304", "ffffffff"))
  }

  test("i64 writes 8 big-endian bytes, two's complement when negative") {
    assert(hexOf(i64(lit(0x0102030405060708L)), i64(lit(1L)), i64(lit(-2L))) ==
      Seq("0102030405060708", "0000000000000001", "fffffffffffffffe"))
  }

  test("i32e writes the two's-complement word of a signed int32, " +
      "which u32 gets wrong below zero") {
    assert(hexOf(i32e(lit(-1L)), i32e(lit(-2L)), i32e(lit(5L)),
        i32e(lit(-2147483648L))) ==
      Seq("ffffffff", "fffffffe", "00000005", "80000000"))
    // hex(-2) is 16 characters and lpad keeps the left 8
    assert(hexOf(u32(lit(-2L))) == Seq("ffffffff"))
  }

  test("varStr writes the length word, the bytes, then zero padding to a " +
      "multiple of 4, for lengths 0 to 4") {
    val out = hexOf((0 to 4).map(n => varStr(lit("abcd"), lit(n.toLong))): _*)
    assert(out == Seq(
      "00000000",
      "00000001" + "61" + "000000",
      "00000002" + "6162" + "0000",
      "00000003" + "616263" + "00",
      "00000004" + "61626364"))
    assert(out.forall(_.length % 8 == 0))
  }

  test("key material and the asset union have their XDR widths") {
    val out = hexOf(h16("x"), key32, empty,
      asset(lit(0L), "s"), asset(lit(1L), "s"), asset(lit(2L), "s"))
    assert(out.map(_.length / 2) == Seq(16, 32, 0, 4, 44, 52))
    assert(out(3) == "00000000")
    assert(out(4).startsWith("00000001") && out(5).startsWith("00000002"))
  }

  test("rows keeps every n-th key as k and round-trips the record as bin") {
    val got = rows(spark, sfDir, "customer", "c_custkey", 17)(u32(k))
      .select(col("k"), lower(hex(col("bin"))).as("bin")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = r.getLong(0)
      assert(key % 17 == 0)
      assert(r.getString(1) == f"$key%08x")
    }
  }
}
