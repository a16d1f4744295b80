package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** dbt-test analog: violation counting on a dirty fixture, and the
  * one-scan fusion property that makes a battery affordable at 100 TB. */
class QualityChecksSpec extends SparkSpec {
  import QualityChecks._

  test("battery counts each violation kind on a dirty fixture") {
    import spark.implicits._
    val dirty = Seq(
      (Some(1L), Some("ok"), 5.0),
      (Some(1L), Some("ok"), -2.0),   // dup key + negative
      (Some(2L), None, 1.0),          // null type
      (None, Some("bogus"), 3.0))     // null key + bad value
      .toDF("id", "typ", "v")
    val res = battery(dirty, "dirty",
      Seq(notNull("id"), notNull("typ"),
        acceptedValues("typ", Seq("ok")), nonNegative("v")),
      Seq(unique(Seq("id")), minRows(10)))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(res("not_null_id") == ((1L, false)))
    assert(res("not_null_typ") == ((1L, false)))
    assert(res("accepted_values_typ") == ((1L, false)))
    assert(res("non_negative_v") == ((1L, false)))
    // 4 rows, 2 distinct non-null ids (countDistinct ignores the null
    // row — its nullness is the not_null check's finding, not this one's)
    // -> surplus = 4 - 2 = 2
    assert(res("unique_id") == ((2L, false)))
    assert(res("min_rows_10") == ((1L, false)))
  }

  test("a clean battery passes everything") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val res = battery(ev, "events",
      Seq(notNull("ts"), nonNegative("value")),
      Seq(unique(Seq("event_id")), minRows(1),
        recency("ts", "2024-02-01 00:00:00", 48)))
    assert(res.filter(!col("passed")).count() == 0)
  }

  test("relationship counts orphaned child keys, broadcast anti join") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq((10L, Some(1L)), (11L, Some(2L)), (12L, Some(9L)),
      (13L, None: Option[Long])).toDF("id", "fk")
    val r = relationship(child, "fk", parent, "pk", "child", "parent")
    val row = r.head()
    assert(row.getString(1) == "rel_fk_parent")
    assert(row.getLong(2) == 1L && !row.getBoolean(3)) // only fk=9; null fk exempt
    val clean = relationship(child.filter(col("fk") =!= 9L), "fk",
      parent, "pk", "child", "parent").head()
    assert(clean.getLong(2) == 0L && clean.getBoolean(3))
    // the parent side must broadcast: the check's cost is one child scan
    val p = r.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"parent key set must broadcast into an anti join:\n$p")
  }

  test("the whole battery fuses into a single scan of the table") {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val res = battery(ev, "events",
      Seq(notNull("ts"), notNull("event_type"), nonNegative("value")),
      Seq(unique(Seq("event_id")), minRows(1)))
    val scans = res.queryExecution.executedPlan.toString()
      .split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans")
  }

  test("volume anomaly flags the spike day and only the spike day after warmup") {
    import spark.implicits._
    // 10 steady days of 10 rows, then a 100-row spike, then steady again
    val rows = (1 to 12).flatMap { d =>
      val n = if (d == 11) 100 else 10
      Seq.fill(n)(java.sql.Date.valueOf(f"2024-03-$d%02d"))
    }
    val df = rows.toDF("day")
    val out = QualityChecks.volumeAnomaly(df, col("day"), window = 7, zThreshold = 3.0)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))).toList
    assert(out.length == 12)
    // first 7 days: no full history -> z null, flagged for review
    out.take(7).foreach { case (_, _, z, fl) => assert(z.isEmpty && fl) }
    // steady post-warmup days are unflagged with z == 0
    out.drop(7).filter(_._1 != "2024-03-11").foreach { case (d, _, z, fl) =>
      if (d < "2024-03-12") { assert(z.contains(0.0) && !fl, d) }
    }
    // the spike: mean_prev 10, variance floored at 1 -> z = 90
    val spike = out.find(_._1 == "2024-03-11").get
    assert(spike._2 == 100 && spike._3.contains(90.0) && spike._4)
    // the day after the spike sees an inflated trailing mean but stays
    // inside 3 sigma of its window's own variance
    val after = out.find(_._1 == "2024-03-12").get
    assert(!after._4, s"post-spike day wrongly flagged: $after")
  }

  test("numeric profile matches float stddev_pop within fixed-point resolution") {
    import spark.implicits._
    val df = Seq(Some(1.25), Some(2.5), None, Some(10.0), Some(4.75))
      .toDF("value").repartition(4)
    val p = QualityChecks.numericProfile(df, "t", Seq("value"), scale = 2).head
    assert(p.getLong(2) == 4 && p.getLong(3) == 1)   // n, n_null
    assert(p.getDouble(4) == 1.25 && p.getDouble(5) == 10.0)
    val (mean, std) = (p.getDouble(6), p.getDouble(7))
    val ref = df.agg(avg("value"), expr("stddev_pop(value)")).head
    assert(math.abs(mean - ref.getDouble(0)) < 0.005)
    assert(math.abs(std - ref.getDouble(1)) < 0.005)
    // and the fixed-point result is partitioning-independent
    val p1 = QualityChecks.numericProfile(df.coalesce(1), "t", Seq("value"), 2).head
    assert(p1.getDouble(6) == mean && p1.getDouble(7) == std)
  }

  test("ewmaDaily: window-sum rewrite equals the sequential halving " +
      "recurrence exactly, on hand and random series") {
    import spark.implicits._
    def fixture(counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (c, d) => Seq.fill(c)(java.sql.Date.valueOf(f"2024-03-${d + 1}%02d"))
    }.toDF("day")
    def got(counts: Seq[Int]): Seq[Double] =
      QualityChecks.ewmaDaily(fixture(counts), col("day"))
        .orderBy("day").select("ewma").as[Double].collect().toSeq
    def recur(counts: Seq[Int]): Seq[Double] =
      counts.tail.scanLeft(counts.head.toDouble)((acc, v) => (acc + v) / 2.0)
    assert(got(Seq(8, 4, 6)) == Seq(8.0, 6.0, 6.0))
    val rnd = new scala.util.Random(7)
    val series = Seq.fill(25)(rnd.nextInt(200) + 1)
    assert(got(series) == recur(series)) // bit-exact, not approximately
  }

  test("ewmaDailyLong: chunked fold equals the exact form on short series, " +
      "extends past 40 days matching the recurrence, guards per chunk") {
    import spark.implicits._
    def fixture(counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (c, d) => Seq.fill(c)(java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 3, 1).plusDays(d)))
    }.toDF("day")
    def series(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.orderBy("day").select("ewma").as[Double].collect().toSeq
    def recur(counts: Seq[Int]): Seq[Double] =
      counts.tail.scanLeft(counts.head.toDouble)((acc, v) => (acc + v) / 2.0)
    // small values: every intermediate fits a double's 53-bit mantissa,
    // so chunked (three 7-day chunks + remainder) == exact, bit-for-bit
    val rnd = new scala.util.Random(11)
    val short = Seq.fill(25)(rnd.nextInt(14) + 1)
    assert(series(QualityChecks.ewmaDailyLong(fixture(short), col("day"),
      chunkDays = 7)) ==
      series(QualityChecks.ewmaDaily(fixture(short), col("day"))))
    // 60 days: the exact form's old horizon — ewmaDaily now dispatches to
    // the chunked fold instead of throwing, and the result follows the
    // halving recurrence (float-rounded at chunk cuts only)
    val long = Seq.fill(60)(rnd.nextInt(200) + 1)
    val got60 = series(QualityChecks.ewmaDaily(fixture(long), col("day")))
    val want60 = recur(long)
    assert(got60.size == 60)
    assert(got60.zip(want60).forall { case (a, b) =>
      math.abs(a - b) <= 1e-9 * math.max(1.0, b.abs) })
    // and the dispatch is exactly ewmaDailyLong at the default chunking
    assert(got60 == series(
      QualityChecks.ewmaDailyLong(fixture(long), col("day"), chunkDays = 32)))
    // per-chunk overflow guard fires on volumes the chunk sum can't hold
    val wide = spark.range(0, 10).select(
      lit(java.sql.Date.valueOf("2024-03-01")).as("day"))
    val huge = intercept[IllegalArgumentException] {
      // maxN is the daily row count (10) — force the failure via chunkDays
      // out of range instead of materializing 2^40 rows
      QualityChecks.ewmaDailyLong(wide, col("day"), chunkDays = 61)
    }
    assert(huge.getMessage.contains("chunkDays"))
  }

  test("suppressSmallCells: no published row under k, totals preserved, " +
      "suppressed cell count reported") {
    import spark.implicits._
    // enough small cells that their union clears k: sentinel published
    val df = (Seq.fill(10)("a") ++ Seq.fill(7)("b") ++
      Seq("c", "c", "d", "e", "e", "f"))
      .map(g => (g, 1)).toDF("grp", "v")
    val out = QualityChecks.suppressSmallCells(df, Seq("grp"), k = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("a") == ((10L, 1L)) && out("b") == ((7L, 1L)))
    assert(out("__suppressed__") == ((6L, 4L))) // c(2)+d(1)+e(2)+f(1)
    assert(Seq("c", "d", "e", "f").forall(!out.contains(_)))
    assert(out.values.map(_._1).sum == 23L) // totals preserved
    // the k guarantee holds for EVERY published row, sentinel included
    assert(out.values.forall(_._1 >= 5L))
    // secondary suppression: a sentinel whose own total is under k is
    // withheld entirely — never published as a sub-k row
    val small = (Seq.fill(10)("a") ++ Seq("c", "c", "d"))
      .map(g => (g, 1)).toDF("grp", "v")
    val out2 = QualityChecks.suppressSmallCells(small, Seq("grp"), k = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 == Map("a" -> 10L)) // c+d = 3 < 5: withheld
    // a dims value that naturally equals the sentinel must fail loudly,
    // not silently merge real data into the suppression bucket
    val clash = (Seq.fill(10)("a") ++ Seq.fill(8)("__suppressed__"))
      .map(g => (g, 1)).toDF("grp", "v")
    val err = intercept[Exception] {
      QualityChecks.suppressSmallCells(clash, Seq("grp"), k = 5).collect()
    }
    assert(err.getMessage.contains("sentinel"))
  }

  test("madAnomaly: hand-computed medians; robust where the z-score's own " +
      "stats absorb the outlier; exact .5 medians on even counts") {
    import spark.implicits._
    // day d repeated c times -> daily count c
    def fixture(counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (c, d) => Seq.fill(c)(java.sql.Date.valueOf(f"2024-02-${d + 1}%02d"))
    }.toDF("day")
    // counts (8,10,12,14,100): med=12, devs (4,2,0,2,88), mad=2, 3*mad=6
    val out = QualityChecks.madAnomaly(fixture(Seq(8, 10, 12, 14, 100)),
        col("day"), k = 3.0)
      .collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(100L) == (88.0, true))
    assert(out(8L) == (4.0, false) && out(12L) == (0.0, false))
    // even day count: median is the exact .5 average
    val even = QualityChecks.madAnomaly(fixture(Seq(10, 21)), col("day"), k = 3.0)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(even(10L) == 5.5 && even(21L) == 5.5) // med 15.5, devs both 5.5
  }
}
