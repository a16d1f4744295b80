package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchMartSpec extends SparkSpec {

  import spark.implicits._

  /** Fresh per-test dir: Scratch paths are deterministic ACROSS suite
    * runs, and dynamic-overwrite marts would merge with a previous run's
    * leftovers.
    */
  private def scratch(tag: String) = {
    val d = graft.core.Scratch.dir(tag, "sketchmartspec")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d), true)
    d
  }

  test("overlapEstimate: exact when k covers the union; estimate within " +
      "sketch error when it doesn't") {
    // A = {0..39}, B = {20..59}: |A∩B| = 20, |A∪B| = 60, jaccard = 1/3
    val rows = (0 until 40).map(i => ("a", s"e$i")) ++
      (20 until 60).map(i => ("b", s"e$i"))
    val el = rows.toDF("key", "v").select(col("key"), md5(col("v")).as("hv"))
    def sketch(k: Int) = el.groupBy("key")
      .agg(call_function("graft_kmv_mins", col("hv"), lit(k)).as("mins"))
    // k = 64 >= |A∪B|: everything exact
    val exact = SketchMart.overlapEstimate(sketch(64), "key", "mins", "a", "b", 64)
      .head
    assert(exact.getLong(0) == 20L)            // n_common
    assert(exact.getDouble(1) == 20.0 / 60.0)  // jaccard
    assert(exact.getDouble(2) == 60.0)         // union (exact below k)
    assert(exact.getDouble(3) == 20.0)         // intersection
    // k = 16 < |A∪B|: a real estimate — union within 3x, jaccard in (0,1)
    val est = SketchMart.overlapEstimate(sketch(16), "key", "mins", "a", "b", 16)
      .head
    assert(est.getDouble(2) > 20.0 && est.getDouble(2) < 180.0,
      s"union estimate ${est.getDouble(2)} implausible for truth 60")
    assert(est.getDouble(1) >= 0.0 && est.getDouble(1) <= 1.0)
  }

  test("daily KMV mart merged to a range equals the direct range sketch") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(to_date(col("ts")).as("day"),
        md5(col("user_id").cast("string")).as("h"))
    val dir = scratch("kmv")
    SketchMart.buildDaily(ev, dir, k = 16, col("h"), col("day"))
    // merge ALL days into one range sketch
    val merged = SketchMart.mergedDistinct(spark, dir, k = 16,
      lit(1), "r").select("nd_capped", "est_distinct").head
    val direct = ev
      .agg(call_function("graft_kmv_mins", col("h"), lit(16)).as("m"))
      .select(slice(col("m"), 1, 16).as("u"))
      .select(size(col("u")).cast("long"),
        try_element_at(col("u"), lit(16))).head
    assert(merged.getLong(0) == direct.getLong(0))
    // estimates derive from the same kth hash -> must agree
    val est = graft.plans.KmvKthMin.estimate(
      direct.getLong(0).toInt, Option(direct.getString(1)), 16)
    if (merged.getLong(0) >= 16)
      assert(math.abs(merged.getDouble(1) - est) < 0.5)
  }

  test("merged weekly histogram quantiles track the exact percentiles") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val dir = scratch("hist")
    val width = 2.0
    SketchMart.buildValueHist(ev, dir, width, to_date(col("ts")), col("value"))
    val weekly = SketchMart.mergedHistQuantiles(spark, dir, width,
      date_trunc("week", col("day")).cast("date"), "week", Seq(0.5, 0.9))
      .collect().map(r => r.getDate(0).toString -> (r.getDouble(1), r.getDouble(2))).toMap
    // the histogram rule targets the ceil(q*n)-th order statistic; the
    // estimate lands in that element's bin, so it is exact to within one
    // bin width OF THAT RANK VALUE (not of the interpolated percentile,
    // which can sit a whole order-stat gap away in a sparse tail)
    val byV = org.apache.spark.sql.expressions.Window
      .partitionBy("week").orderBy("value")
    val ranked = ev
      .withColumn("week", date_trunc("week", to_date(col("ts"))).cast("date"))
      .withColumn("rn", row_number().over(byV))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("week")))
    val exact = ranked
      .filter(col("rn") === ceil(col("n") * 0.5) ||
        col("rn") === ceil(col("n") * 0.9))
      .groupBy("week")
      .agg(min(when(col("rn") === ceil(col("n") * 0.5), col("value"))).as("e50"),
        min(when(col("rn") === ceil(col("n") * 0.9), col("value"))).as("e90"))
      .collect().map(r => r.getDate(0).toString -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(weekly.keySet == exact.keySet && weekly.nonEmpty)
    weekly.foreach { case (wk, (p50, p90)) =>
      assert(math.abs(p50 - exact(wk)._1) <= width, s"$wk p50 $p50 vs ${exact(wk)._1}")
      assert(math.abs(p90 - exact(wk)._2) <= width, s"$wk p90 $p90 vs ${exact(wk)._2}")
    }
  }

  test("incremental upsert touches only the new day's partition") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(to_date(col("ts")).as("day"),
        md5(col("user_id").cast("string")).as("h"))
    val dir = scratch("inc")
    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getDate(0))
    assert(days.length >= 2)
    val last = days.last
    // seed with all but the last day, then merge the last day's batch
    SketchMart.mergeDaily(ev.filter(col("day") < lit(last)), dir, 16,
      col("h"), col("day"))
    def fileStates(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = fileStates()
    SketchMart.mergeDaily(ev.filter(col("day") === lit(last)), dir, 16,
      col("h"), col("day"))
    val after = fileStates()
    // every pre-existing file survives bit-untouched
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"old partition file rewritten: $p")
    }
    assert(after.size > before.size, "the new day's partition was added")
    // and the incrementally-maintained mart answers like a full rebuild
    val fullDir = scratch("incfull")
    SketchMart.buildDaily(ev, fullDir, 16, col("h"), col("day"))
    val a = SketchMart.mergedDistinct(spark, dir, 16, lit(1), "r").head
    val b = SketchMart.mergedDistinct(spark, fullDir, 16, lit(1), "r").head
    assert(a.getLong(1) == b.getLong(1) && a.getDouble(2) == b.getDouble(2))
  }

  test("cumulative curve: each day equals a direct sketch of its prefix") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(to_date(col("ts")).as("day"),
        md5(col("user_id").cast("string")).as("h"))
    val dir = scratch("cum")
    SketchMart.buildDaily(ev, dir, 16, col("h"), col("day"))
    val curve = SketchMart.cumulativeDistinct(spark, dir, 16)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val days = ev.select("day").distinct().collect().map(_.getDate(0)).sorted
    days.foreach { d =>
      val direct = ev.filter(col("day") <= lit(d))
        .agg(call_function("graft_kmv_mins", col("h"), lit(16)).as("m"))
        .select(size(slice(col("m"), 1, 16))).head.getInt(0)
      assert(curve(d.toString) == direct.toLong, s"day $d")
    }
    // monotone non-decreasing by construction
    val ordered = days.map(d => curve(d.toString))
    assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
  }

  test("mergeDaily: any batch slicing and redelivery converge to the same mart") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(to_date(col("ts")).as("day"),
        md5(col("user_id").cast("string")).as("h"))
      .withColumn("slice", col("h").substr(1, 1))
    def foldInto(dir: String, slices: Seq[Seq[String]]): Unit =
      slices.foreach { ss =>
        SketchMart.mergeDaily(ev.filter(col("slice").isin(ss: _*)), dir, 16,
          col("h"), col("day"))
      }
    val hexs = "0123456789abcdef".map(_.toString)
    val oneShot = scratch("m1")
    val sliced = scratch("m2")
    val redelivered = scratch("m3")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    foldInto(oneShot, Seq(hexs))                     // everything at once
    foldInto(sliced, hexs.grouped(3).toSeq)          // six tiny batches
    foldInto(redelivered, hexs.grouped(3).toSeq ++ Seq(hexs.take(5)))  // replay
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(pinned),
      "a merge must not leave its checkpointed batch sketch behind")
    def martOf(dir: String) = spark.read.parquet(dir)
      .orderBy("day").collect()
      .map(r => (r.getDate(1).toString, r.getSeq[String](0))).toSeq
    assert(martOf(sliced) == martOf(oneShot))
    assert(martOf(redelivered) == martOf(oneShot))
  }

  test("histogram mart rows stay bounded by days x bins, not raw rows") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val dir = scratch("histsize")
    SketchMart.buildValueHist(ev, dir, 5.0, to_date(col("ts")), col("value"))
    val mart = spark.read.parquet(dir)
    val days = ev.select(to_date(col("ts"))).distinct().count()
    val maxBins = 100 // 0..500 at width 5
    assert(mart.count() <= days * maxBins)
    assert(mart.agg(sum("cnt")).head.getLong(0) == ev.count())
  }

  test("CM mart: bounded per-day size, never-undercount, day-range merge") {
    val (d, w) = (4, 32)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val dir = scratch("cm")
    SketchMart.buildCmDaily(ev, dir, d, w, col("user_id"), to_date(col("ts")))
    val mart = spark.read.parquet(dir)
    val days = ev.select(to_date(col("ts"))).distinct().count()
    assert(mart.count() <= days * d * w, "a day's sketch is at most d x w rows")
    // every counter row's total equals the event count (each event lands
    // in exactly one counter per hash row)
    assert(mart.agg(sum("n")).head.getLong(0) == ev.count() * d)

    val probes = ev.select(col("user_id")).distinct()
    val est = SketchMart.cmEstimates(spark, dir, d, w, probes, "user_id")
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("true_n"))
    val joined = est.join(exact, Seq("user_id"))
      .select(col("user_id"), col("est_count"), col("true_n"))
      .as[(Long, Long, Long)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (u, e, t) =>
      assert(e >= t, s"CM undercounted user $u: est $e < true $t") }

    // a restricted day range (one day partition) must equal a CM built
    // over just that day
    val someDay = ev.select(to_date(col("ts")).as("d0")).orderBy("d0").head.getDate(0)
    val ranged = SketchMart.cmEstimates(spark, s"$dir/day=$someDay", d, w, probes, "user_id")
    val dir2 = scratch("cm1day")
    SketchMart.buildCmDaily(ev.filter(to_date(col("ts")) === lit(someDay)),
      dir2, d, w, col("user_id"), to_date(col("ts")))
    val direct = SketchMart.cmEstimates(spark, dir2, d, w, probes, "user_id")
    assert(ranged.orderBy("user_id").collect().toSeq ==
      direct.orderBy("user_id").collect().toSeq)
  }
}
