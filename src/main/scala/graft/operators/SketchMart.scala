package graft.operators

import graft.core.Pins
import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pre-aggregated distinct-count sketches as a MART: one KMV sketch row
  * per day, merged at query time to answer distinct counts over arbitrary
  * day ranges without rescanning the raw log.
  *
  * Soundness: the k smallest distinct hashes of a union are each among the
  * k smallest of their own partition, so re-sketching the union of per-day
  * retained sets to k yields EXACTLY the sketch a direct pass over the
  * range's raw rows would build — merged estimates equal direct estimates,
  * which is what the oracle checks.
  *
  * Scale shape: the build is one map-side-combinable aggregate over the
  * log (each partition reduces to ≤k short strings before the shuffle);
  * the mart has one row per day; a range query reads days×k strings. At
  * 100 TB the raw log is scanned exactly once per day's load — every
  * subsequent "distinct users this week/month/quarter" is a mart-only
  * query, the same reason the reference pre-aggregates its stats marts.
  */
object SketchMart {

  /** Build (overwrite) the daily sketch mart: (day, mins array). Written
    * day-PARTITIONED — the same layout [[mergeDaily]] maintains, so a
    * full build followed by incremental maintenance is one directory
    * structure (a flat build would leave root-level files the partition
    * replace never replaces: conflicting leaf depths or double-counted
    * days on the next read). */
  def buildDaily(events: DataFrame, dir: String, k: Int,
                 hash: Column, day: Column): Unit =
    events.groupBy(day.as("day"))
      .agg(call_function("graft_kmv_mins", hash, lit(k)).as("mins"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

  /** MERGE a batch into the daily mart: sketch the batch's rows, combine
    * with each touched day's EXISTING sketch (union + sort + re-slice —
    * the exact merge the soundness argument covers), replace only those
    * day partitions; the rest of the mart's files are never read or
    * rewritten. It does not assume the batch carries a whole day, so it
    * is the right fold for STREAMING maintenance (foreachBatch): KMV
    * merge is associative, commutative, and idempotent (set union), so
    * any micro-batch slicing — and any redelivery — converges to the
    * same mart.
    */
  def mergeDaily(batch: DataFrame, dir: String, k: Int,
                 hash: Column, day: Column): Unit = Pins.scope {
    val spark = batch.sparkSession
    // the union leg AND the semi-join probe both read this aggregate:
    // cut it eagerly (days-sized) or the batch sketch executes twice
    // per micro-batch; the scope frees it once the mart is replaced
    val newSk = Pins.cut(batch.groupBy(day.as("day"))
      .agg(call_function("graft_kmv_mins", hash, lit(k)).as("mins")))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir))) newSk
      else newSk.unionByName(
          Parquet.read(spark, dir).join(newSk.select("day"), Seq("day"), "left_semi"))
        .groupBy("day")
        .agg(slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))),
          1, k).as("mins"))
    // the plan READS the partitions it replaces: the staged replace
    // leaves them untouched until the write has committed. Every touched
    // day has a merged row, so the staged days are all it swaps.
    DelIns.stagedReplace(merged, dir, Seq("day"), Nil)
  }

  /** Merge daily sketches into per-`period` sketches and estimate. The
    * merged union is re-sketched with the same bounded rule (sort, slice
    * to k); below k retained values the size IS the exact distinct count,
    * at k the classic (k-1)/U(k) estimator applies — identical to the
    * single-shot [[graft.plans.KmvKthMin]] estimate rule.
    */
  def mergedDistinct(spark: SparkSession, dir: String, k: Int,
                     period: Column, periodName: String): DataFrame =
    Parquet.read(spark, dir)
      .groupBy(period.as(periodName))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))),
        1, k).as("u"))
      .select((col(periodName) +: estimateCols(k)): _*)

  /** Cumulative growth curve: distinct users SO FAR per day, from the
    * mart alone — each day's row merges the expanding prefix of daily
    * sketches (an ordered window over ONE row per day, calendar-bounded
    * like the volume monitor, never over raw data). The curve every
    * growth dashboard draws, priced at days × k strings.
    */
  def cumulativeDistinct(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Parquet.read(spark, dir)
      .withColumn("u",
        slice(array_sort(array_distinct(flatten(collect_list(col("mins")).over(w)))),
          1, k))
      .select((col("day") +: estimateCols(k)): _*)
  }

  /** The ONE copy of the KMV distinct estimator over a sorted mins
    * array: exact size below k, else (k-1)·2^52 / hex-prefix(U(k)) —
    * every read-out (daily mart, cumulative curve, set operations)
    * derives from this expression so the arithmetic can't drift from
    * the oracles' literal form.
    */
  private def kmvEstimate(mins: Column, k: Int): Column =
    when(size(mins) < k, size(mins).cast("double"))
      .otherwise(round(
        lit((k - 1).toDouble * graft.plans.KmvKthMin.TwoPow52) /
          conv(substring(element_at(mins, k), 1, 13), 16, 10)
            .cast("long").cast("double"),
        3))

  /** The shared KMV read-out: retained-count (exact below k) and the
    * (k-1)/U(k) estimate over a merged, sorted, k-sliced array column
    * named `u`.
    */
  private def estimateCols(k: Int): Seq[Column] = Seq(
    size(col("u")).cast("long").as("nd_capped"),
    kmvEstimate(col("u"), k).as("est_distinct"))

  /** KMV set-operation read-out — the reason k-min sketches beat plain
    * distinct counters: two sketches ANSWER INTERSECTION/JACCARD queries
    * their inputs were never scanned for. U = the k smallest of the
    * merged mins is itself the union's KMV sketch; the fraction of U
    * present in BOTH input sketches estimates Jaccard (Beyer et al.),
    * and intersection = jaccard x the standard (k-1)/U(k) union
    * estimate. Every step is array algebra over two ≤k arrays — exact
    * given the sketches, so the oracle replays it; at scale the
    * sketches come from the mergeable daily mart, never raw data.
    */
  def overlapEstimate(sketches: DataFrame, keyCol: String, minsCol: String,
                      keyA: String, keyB: String, k: Int): DataFrame = {
    val a = sketches.filter(col(keyCol) === keyA).select(col(minsCol).as("a"))
    val b = sketches.filter(col(keyCol) === keyB).select(col(minsCol).as("b"))
    a.crossJoin(b)
      .withColumn("u", slice(array_sort(array_union(col("a"), col("b"))), 1, k))
      .withColumn("n_common",
        size(array_intersect(array_intersect(col("u"), col("a")), col("b")))
          .cast("long"))
      .withColumn("union_est", kmvEstimate(col("u"), k))
      .withColumn("jaccard_est",
        col("n_common").cast("double") / size(col("u")).cast("double"))
      .withColumn("inter_est", round(col("jaccard_est") * col("union_est"), 3))
      .select("n_common", "jaccard_est", "union_est", "inter_est")
  }

  /** Build (overwrite) the daily fixed-bin histogram mart of a value
    * column: (day, bin, cnt) with bin = floor(value / width). Histograms
    * are the trivially-mergeable quantile summary: bin counts ADD, so a
    * range quantile query sums mart rows instead of rescanning and
    * re-sorting raw values — exact to within one bin width. The build is
    * one map-side-combinable hash aggregate.
    */
  def buildValueHist(events: DataFrame, dir: String, width: Double,
                     day: Column, value: Column): Unit =
    events.groupBy(day.as("day"),
        floor(value / lit(width)).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(dir)

  /** Merge daily histograms into per-`period` quantiles. Deterministic
    * rule (reproducible on any engine, no sketch randomness): the q-th
    * quantile lives in the first bin whose cumulative count reaches
    * ceil(q*n), linearly interpolated inside the bin by rank. The window
    * runs over MART rows (periods × bins), never raw data, so this stays
    * cheap at any log size.
    */
  def mergedHistQuantiles(spark: SparkSession, dir: String, width: Double,
                          period: Column, periodName: String,
                          qs: Seq[Double]): DataFrame = {
    val bins = Parquet.read(spark, dir)
      .groupBy(period.as(periodName), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
    val byBin = Window.partitionBy(periodName).orderBy("bin")
    val whole = Window.partitionBy(periodName)
    val cum = bins
      .withColumn("cum", sum(col("cnt")).over(byBin))
      .withColumn("n", sum(col("cnt")).over(whole))
    qs.map { q =>
      val name = s"p${math.round(q * 100)}"
      val target = ceil(col("s.n") * lit(q))
      cum.filter(col("cum") >= ceil(col("n") * lit(q)))
        .groupBy(col(periodName))
        .agg(min(struct(col("bin"), col("cnt"), col("cum"), col("n"))).as("s"))
        .select(col(periodName),
          round(col("s.bin") * lit(width) +
            lit(width) * (target - (col("s.cum") - col("s.cnt"))) / col("s.cnt"),
            6).as(name))
    }.reduce(_.join(_, periodName))
  }

  /** Count-Min frequency mart: per-day counter grids answering "how often
    * did key X occur in day range R" from d×w counters per day — the
    * point-FREQUENCY companion to the KMV mart's distinct counts and the
    * Misra-Gries top-k (MG finds the heavy keys, CM prices an arbitrary
    * one). Each input row increments one counter per hash row r (bucket =
    * md5(key|r) mod w), so a day's sketch is ≤ d×w rows no matter how many
    * events the day saw, counters merge across days by addition, and the
    * estimate min_r(counter[r][h_r(x)]) never undercounts (every counter
    * the key touches holds its true count plus nonnegative collisions).
    * The md5-derived buckets make the whole computation engine-reproducible
    * — the DuckDB oracle rebuilds the grid from the same rule.
    *
    * Scale shape: the build is one narrow explode (d rows per event)
    * into a map-side-combinable hash aggregate bounded by d×w groups per
    * partition; point queries touch days×d×w mart rows and the counter
    * sum broadcasts (d×w rows) into the probe join.
    */
  def cmBucket(key: Column, row: Int, w: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit("|"), lit(row))), 1, 13),
      16, 10).cast("long") % w

  /** Build (overwrite) the daily CM mart: (day, r, c, n), day-partitioned. */
  def buildCmDaily(events: DataFrame, dir: String, d: Int, w: Int,
                   key: Column, day: Column): Unit =
    events.select(day.as("day"), key.cast("string").as("k"))
      .select(col("day"), explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), cmBucket(col("k"), r, w).as("c"))): _*)).as("rc"))
      .groupBy(col("day"), col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

  /** Estimate each probe key's occurrence count over the mart's days:
    * merge counters by addition, probe min over rows. Probes that hash to
    * counters no day ever touched read as 0.
    */
  def cmEstimates(spark: SparkSession, dir: String, d: Int, w: Int,
                  probes: DataFrame, probeKey: String): DataFrame = {
    val counters = Parquet.read(spark, dir)
      .groupBy("r", "c").agg(sum("n").as("n"))
    val rc = probes.select(col(probeKey),
        explode(array((0 until d).map(r =>
          struct(lit(r).as("r"),
            cmBucket(col(probeKey), r, w).as("c"))): _*)).as("rc"))
      .select(col(probeKey), col("rc.r").as("r"), col("rc.c").as("c"))
    rc.join(broadcast(counters), Seq("r", "c"), "left_outer")
      .na.fill(0L, Seq("n"))
      .groupBy(probeKey)
      .agg(min(col("n")).cast("long").as("est_count"))
  }
}
