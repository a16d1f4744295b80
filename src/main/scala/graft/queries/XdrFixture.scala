package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The write side of the XDR wire format (RFC 4506, big-endian, 4-byte
  * aligned) for the synthetic records the `s2_*`/`s3_*` gates and the
  * st_xdr_ops / st_ledger_entries drains decode. Every helper is a Column
  * expression over the row key `k`, so a fixture is one per-row
  * projection and its oracle restates each field from `k` alone. The
  * fixtures keep only their record layouts; the encoders live here.
  */
private[graft] object XdrFixture {

  /** The row key and its decimal spelling, the seed of every hashed field. */
  val k: Column = col("k")
  val ks: Column = k.cast("string")

  /** Big-endian uint32, valid for 0 <= c < 2^32 only: `hex` of a negative
    * long is 16 characters and `lpad` keeps the LEFT 8. A signed int32
    * goes through [[i32e]].
    */
  def u32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))

  /** Signed int32 as its two's-complement word. */
  def i32e(c: Column): Column = u32(pmod(c, lit(4294967296L)))

  /** Big-endian int64 / uint64 (`hex` of a negative long is already its
    * 16-character two's complement). */
  def i64(c: Column): Column = unhex(lpad(hex(c), 16, "0"))

  /** 16 bytes: md5(k ‖ tag). Two make a 32-byte hash or key. */
  def h16(tag: String): Column = unhex(md5(concat(ks, lit(tag))))

  /** Row k's 32-byte ed25519 account key. */
  val key32: Column = unhex(concat(md5(ks), md5(concat(ks, lit("a")))))

  /** No bytes: an absent vector slot or optional tail. */
  val empty: Column = unhex(lit(""))

  /** string<max> / opaque<max>: the length word, the first `len` bytes of
    * `str`, then zero padding to a multiple of 4 bytes. */
  def varStr(str: Column, len: Column): Column =
    concat(u32(len), str.substr(lit(1), len).cast("binary"),
      unhex(lit("000000")).substr(lit(1), (lit(4) - pmod(len, lit(4))) % lit(4)))

  /** The Asset union by `sel`: 0 native, 1 alphanum4, 2 (otherwise)
    * alphanum12. The code is a prefix of md5(k ‖ tag); the issuer is the
    * ed25519 key h16(tag + "i") ‖ h16(tag + "j").
    */
  def asset(sel: Column, tag: String): Column =
    when(sel === 0L, u32(lit(0L)))
      .when(sel === 1L, concat(u32(lit(1L)),
        substring(md5(concat(ks, lit(tag))), 1, 3).cast("binary"),
        unhex(lit("00")), u32(lit(0L)), h16(tag + "i"), h16(tag + "j")))
      .otherwise(concat(u32(lit(2L)),
        substring(md5(concat(ks, lit(tag))), 1, 10).cast("binary"),
        unhex(lit("0000")), u32(lit(0L)), h16(tag + "i"), h16(tag + "j")))

  /** The (k, bin) row source: the rows of `table` whose `keyCol` is a
    * multiple of `every`, k = that key as long, bin = `xdr` through the
    * base64 round trip of the transport field the reference lands.
    */
  def rows(s: SparkSession, dir: String, table: String, keyCol: String, every: Int)
          (xdr: Column): DataFrame =
    Tables.load(s, dir, table).filter(col(keyCol) % every === 0)
      .select(col(keyCol).cast("long").as("k"))
      .withColumn("bin", unbase64(base64(xdr)))
}
