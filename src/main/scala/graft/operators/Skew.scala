package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys.
  *
  * AQE's skew-join splitting (enabled engine-wide by GraftSession) handles
  * most skew at runtime; explicit salting remains the tool of choice when a
  * single key dominates so heavily that even split partitions bottleneck —
  * e.g. the native-asset rows in the reference's trade tables, where one
  * asset id covers a large share of all trades (the XLM special-casing in
  * reference dags/ddls/queries/v_relevant_asset_trades.sql:60-68 exists for
  * the same reason).
  *
  * Shape: the fact side gets a deterministic salt in [0, salts); the
  * (smaller) build side is replicated `salts` times. The join key becomes
  * (key, salt), spreading each hot key over `salts` reducers at the cost of
  * build-side duplication — bounded and chosen by the caller.
  */
object Skew {

  /** Deterministic salt derived from the row's own columns (no rand(), so
    * retries and re-runs land rows in the same buckets).
    */
  def saltColumn(cols: Seq[Column], salts: Int): Column =
    pmod(xxhash64(cols: _*), lit(salts))

  /** Inner join only: the BUILD side is replicated salts times, so a
    * join type that emits unmatched build rows would emit each of them
    * salts times. */
  def saltedJoin(facts: DataFrame, build: DataFrame, keys: Seq[String],
                 salts: Int, factSaltSource: Seq[String] = Nil): DataFrame = {
    require(salts > 0, "salts must be positive")
    val saltSrc = if (factSaltSource.nonEmpty) factSaltSource else facts.columns.toSeq
    val salted = facts.withColumn("__salt", saltColumn(saltSrc.map(facts(_)), salts))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0L), lit((salts - 1).toLong))))
    salted.join(replicated, keys :+ "__salt", "inner").drop("__salt")
  }

  /** Bloom semi-join reduction: shrink the FACT side before the shuffle
    * when the other side is too selective to ignore but its distinct key
    * set is too large to broadcast exactly. The dim keys fold into an
    * m-bucket k-hash Bloom bit set (≤ m int rows — broadcastable no
    * matter how many keys); the fact side passes through k broadcast
    * LEFT SEMI joins, one per hash, each map-side, so fact rows whose key
    * cannot match never enter the real join's exchange. False positives
    * just ride through to the exact join; no true match is ever dropped,
    * so the result EQUALS the plain join — the classic distributed
    * semi-join reduction (Spark's AQE runtime bloom filter, made explicit
    * and deterministic).
    */
  /** The i-th Bloom bit of a join key. xxhash64, not md5: these bits
    * never face the DuckDB oracle (the reduction's oracle is the plain
    * join itself), so the cheap codegen'd hash wins — the per-row filter
    * cost is what the reduction has to amortize against saved shuffle
    * bytes.
    */
  def bloomJoinBit(key: Column, i: Int, m: Int): Column =
    pmod(xxhash64(key, lit(i)), lit(m.toLong))

  def bloomReduceJoin(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String,
                      m: Int, k: Int): DataFrame = {
    // inner only: the bloom prefilter DROPS fact rows that cannot match,
    // exactly what a fact-preserving outer join must keep (null-padded)
    val bits = dim
      .select(explode(array((0 until k).map(i =>
        bloomJoinBit(col(dimKey), i, m)): _*)).as("__bit"))
      .distinct()
    val reduced = (0 until k).foldLeft(fact) { (f, i) =>
      f.join(broadcast(bits), bloomJoinBit(col(factKey), i, m) === col("__bit"),
        "left_semi")
    }
    reduced.join(dim, reduced(factKey) === dim(dimKey), "inner")
  }
}
