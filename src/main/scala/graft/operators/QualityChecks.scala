package graft.operators

import graft.core.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Post-hoc data-quality checks — the engine-side analog of the
  * reference's dbt test surface: singular tests every 30 minutes
  * (reference dags/dbt_singular_tests_dag.py:18-37), daily recency tests
  * (reference dags/dbt_recency_tests_dag.py:15-34), and the Elementary
  * monitor + alert feed (reference dags/dbt_data_quality_alerts_dag.py:15-39,
  * build_elementary_slack_alert_task.py:11-85).
  *
  * Scale posture: every check lowers to an AGGREGATE over the audited
  * table — a per-row violation predicate becomes `count(when(pred, 1))`,
  * uniqueness becomes `count(*) - count(distinct keys)`, recency a
  * predicate on `max(ts)` — and [[battery]] fuses ALL checks on a table
  * into ONE scan + one partial-aggregated pass. Auditing a 100 TB table
  * with a dozen checks costs one read, not twelve; results land in the
  * same (table, check, violations, passed) shape Elementary reports.
  */
object QualityChecks {

  /** A check that counts violating ROWS (fused as count(when(pred,1))). */
  final case class RowCheck(name: String, violation: Column)

  /** A check expressed directly as an aggregate violation count. */
  final case class AggCheck(name: String, violations: Column)

  def notNull(c: String): RowCheck =
    RowCheck(s"not_null_$c", col(c).isNull)

  /** dbt accepted_values: non-null values outside the allow-list. */
  def acceptedValues(c: String, vals: Seq[String]): RowCheck =
    RowCheck(s"accepted_values_$c",
      col(c).isNotNull && !col(c).isin(vals: _*))

  def nonNegative(c: String): RowCheck =
    RowCheck(s"non_negative_$c", col(c) < 0)

  /** dbt unique: number of surplus rows beyond one per key. */
  def unique(keys: Seq[String]): AggCheck =
    AggCheck(s"unique_${keys.mkString("_")}",
      (count(lit(1)) - countDistinct(col(keys.head), keys.tail.map(col): _*))
        .cast("long"))

  /** Recency vs an explicit as-of instant (the scheduler's logical time —
    * never wall-clock, so reruns are byte-identical; reference
    * dbt_recency_tests_dag.py runs with Airflow's logical date). */
  def recency(tsCol: String, asOf: String, maxHours: Int): AggCheck =
    AggCheck(s"recency_${tsCol}_${maxHours}h",
      // an EMPTY table (max is NULL) is the most-stale state there is —
      // NULL < cutoff would be NULL and fall through to "passed"
      when(max(col(tsCol)).isNull ||
        max(col(tsCol)) <
          to_timestamp(lit(asOf)) - expr(s"INTERVAL $maxHours HOURS"), 1L)
        .otherwise(0L))

  def minRows(n: Long): AggCheck =
    AggCheck(s"min_rows_$n", when(count(lit(1)) < n, 1L).otherwise(0L))

  /** dbt relationships (FK integrity): child rows whose non-null key has
    * no match in the parent — the one dbt test shape that inherently reads
    * TWO tables, so it can't fuse into [[battery]]'s single scan. Shape:
    * distinct-project the parent's key column (tiny vs the fact table →
    * Catalyst broadcasts it), then a left-anti count on the child. Emits
    * the same (table, check, violations, passed) row as the battery.
    */
  def relationship(child: DataFrame, childKey: String,
                   parent: DataFrame, parentKey: String,
                   childTable: String, parentTable: String): DataFrame = {
    val name = s"rel_${childKey}_$parentTable"
    child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).cast("long").as("violations"))
      .select(lit(childTable).as("table_name"), lit(name).as("check_name"),
        col("violations"), (col("violations") === 0L).as("passed"))
  }

  /** Volume-anomaly audit (the dbt-elementary volume monitor analog):
    * per-day row counts z-scored against the TRAILING `window` days. A
    * day with |z| above the threshold — or with no history yet — is
    * flagged for review before its batch propagates downstream.
    *
    * Determinism: daily counts are integers, so the trailing mean and
    * variance stay in exact integer arithmetic
    * (var = (w·Σc² − (Σc)²) / w², computed over BIGINTs) until the final
    * sqrt/division, which are single correctly-rounded IEEE ops — the
    * statistic hashes identically on any engine. The window runs over
    * DAILY rows (one per partition), never raw data.
    */
  def volumeAnomaly(df: DataFrame, dayCol: org.apache.spark.sql.Column,
                    window: Int, zThreshold: Double): DataFrame =
    volumeAnomalyFromDaily(dailyCounts(df, dayCol), window, zThreshold)

  /** [[volumeAnomaly]] over a PRE-AGGREGATED (day, n) table — the form a
    * streaming monitor folds: per-batch partial day counts sum
    * associatively, so a drained count table feeds the identical
    * z-score readout ([[graft.streaming.StreamingGate]]'s drain). The
    * day-ordered window is day-count-sized — bounded at any log size.
    */
  def volumeAnomalyFromDaily(daily: DataFrame, window: Int,
                             zThreshold: Double): DataFrame = {
    val trail = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(-window, -1)
    daily
      // a null day would sort FIRST in Spark's window (and LAST in
      // DuckDB's) and shift every early trailing mean — the dailyCounts
      // guard, applied here so pre-aggregated (streamed) inputs get it
      // too
      .filter(col("day").isNotNull)
      .withColumn("w", count(lit(1)).over(trail))
      .withColumn("s1", sum(col("n")).over(trail))
      .withColumn("s2", sum(col("n") * col("n")).over(trail))
      .withColumn("mean_prev",
        round(col("s1").cast("double") / col("w"), 6))
      .withColumn("z", when(col("w") < lit(window.toLong), lit(null))
        .otherwise(round(
          (col("n") - col("s1").cast("double") / col("w")) /
            sqrt(greatest(
              (col("w") * col("s2") - col("s1") * col("s1")).cast("double") /
                (col("w") * col("w")),
              lit(1.0))),
          6)))
      .select(col("day"), col("n"), col("mean_prev"), col("z"),
        (col("z").isNull || abs(col("z")) > zThreshold).as("flagged"))
  }

  /** Robust volume anomaly via median + MAD — the complement of
    * [[volumeAnomaly]]'s z-score: a z-score's mean/variance ABSORB the
    * outliers they're meant to find (one 10x day inflates the trailing
    * stddev and masks the next spike); median absolute deviation is the
    * standard robust scale estimate (breakdown point 50%). Exactness:
    * daily counts are integers, the exact median of integers is an
    * integer or a two-mid .5 average, so med, dev = |n − med|, MAD, and
    * k·MAD are all dyadic rationals — bit-identical on any engine with
    * no rounding. The two medians are RESULT-sized aggregated scalars
    * (one row each) inlined as literals — the PageRank dangling-mass
    * pattern, not a data-sized collect; the exact `percentile` sorts
    * day-count rows (≤ calendar size), never raw data.
    */
  def madAnomaly(df: DataFrame, dayCol: org.apache.spark.sql.Column,
                 k: Double = 3.0): DataFrame = Pins.scope {
    val daily = Pins.keep(dailyCounts(df, dayCol))
    val medRow = daily.agg(expr("percentile(n, 0.5)")).head
    if (medRow.isNullAt(0)) {
      // empty input: no days, no medians — an empty result, not an NPE
      return daily.select(col("day"), col("n"), lit(0.0).as("dev"),
        lit(false).as("is_anomaly")).filter(lit(false))
    }
    val med = medRow.getDouble(0)
    val withDev = daily.withColumn("dev", abs(col("n") - lit(med)))
    val mad = withDev.agg(expr("percentile(dev, 0.5)")).head.getDouble(0)
    val out = withDev.select(col("day"), col("n"), col("dev"),
      (col("dev") > lit(k * mad)).as("is_anomaly"))
    Pins.local(df.sparkSession, out.collect().toIndexedSeq, out.schema)
  }

  /** EWMA-smoothed daily volume at alpha = 1/2 — the monitoring
    * baseline ("is today unusual vs the smoothed trend"). The halving
    * recurrence ewma_t = (ewma_{t-1} + v_t)/2 is rewritten as ONE
    * integer window sum: ewma_t = (Σ_{i<=t} v_i·w_i) / 2^(t+1) with
    * w_1 = 4 and w_i = 2^i — everything stays BIGINT until a single
    * division by a power of two, so the smoothed series is exactly a
    * dyadic rational and bit-identical on any engine (a float fold
    * would be summation-order-dependent). The window runs over DAILY
    * rows (calendar-bounded, the volumeAnomaly precedent), and the 2^i
    * weights bound the exact single-window form to ~50 days — the
    * intended dashboard horizon. Longer histories automatically take
    * the chunk-by-month path ([[ewmaDailyLong]]): same recurrence,
    * exact per-chunk sums, a rescaled dyadic carry at each chunk cut.
    *
    * BEHAVIOR CHANGE (2026-08, round 5): histories over 40 days used to
    * THROW here; they now auto-dispatch to the chunked form, whose
    * values past each chunk cut carry one double rounding per cut
    * instead of the single-window bit-exact dyadic guarantee (the first
    * chunk is still bit-identical to the exact form). Consumers
    * comparing against baselines stored from a pre-change run — or from
    * a chunk-by-hand workaround — will see values exist past day 40 and
    * differ at float precision from such workarounds with other chunk
    * widths; `qa_ewma_long` pins the current contract.
    */
  def ewmaDaily(df: DataFrame,
                dayCol: org.apache.spark.sql.Column): DataFrame = Pins.scope {
    import org.apache.spark.sql.expressions.Window
    // null days dropped EXPLICITLY: Spark windows order nulls first,
    // DuckDB's row_number orders them last — an unfiltered null day
    // would silently shift every weight between engines
    // persisted (the madAnomaly precedent): the guard aggregate and the
    // returned plan both read the daily relation — without the cache the
    // raw-table aggregation would run twice
    val daily = Pins.keep(dailyCounts(df, dayCol))
    // the weighted bigint sum is exact only while Σ n_i·2^i fits a long:
    // bound BOTH the day count and the peak daily volume (n_max·2^(d+1)
    // <= Long.Max guarantees the sum; a day-count bound alone would let
    // a high-volume series overflow silently, and past rn=63 shiftleft
    // itself wraps). One aggregated-scalar read over calendar-sized rows.
    val g = daily.agg(count(lit(1)), coalesce(max(col("n")), lit(0L))).head
    val (nDays, maxN) = (g.getLong(0), g.getLong(1))
    if (nDays > 40) {
      // past the exact-single-window horizon, fall through to the
      // chunked form instead of failing — a quarter of history yields a
      // result, not an exception. The first chunk reproduces the exact
      // form's prefix bit-for-bit (same w_1 = 4 initialization).
      return ewmaChunked(daily, chunkDays = 32, maxN)
    }
    if (!(nDays == 0 || maxN <= (Long.MaxValue >> (nDays + 1)))) {
      // the scope frees the daily pin on this throw too
      sys.error(s"ewmaDaily weighted sum would overflow: max daily " +
        s"count $maxN over $nDays days exceeds " +
        s"${Long.MaxValue >> (nDays + 1)}")
    }
    val w = Window.orderBy("day")
    // cut the small (calendar-sized) result so the daily pin is freed
    // HERE, with this scope; the cut outlives it
    Pins.cut(daily.withColumn("rn", row_number().over(w))
      .withColumn("wi", when(col("rn") === 1, lit(4L))
        .otherwise(expr("shiftleft(1L, CAST(rn AS INT))")))
      .withColumn("sw", sum(col("n") * col("wi"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("n"),
        (col("sw").cast("double") / pow(lit(2.0), col("rn") + 1)).as("ewma")))
  }

  private def dailyCounts(df: DataFrame,
                          dayCol: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(dayCol.as("day")).agg(count(lit(1)).as("n"))
      .filter(col("day").isNotNull)

  /** [[ewmaDaily]] for histories of ANY length — the chunk-by-month form
    * the exact single-window version promises. Days are split into
    * `chunkDays`-sized chunks; within a chunk the weighted sum is the
    * same exact BIGINT window sum (per-chunk overflow guard, so the
    * horizon no longer bounds the series), and the chunk-boundary state
    * folds through the rescaled recurrence
    * `E_j = (2·E_{j-1} + T_j) / 2^(s_j+1)` — the dyadic weights rescale
    * cleanly at a chunk cut, so each output value carries at most two
    * float roundings (the bigint→double cast and one add) in a FIXED
    * order regardless of history length: bit-identical on any engine,
    * and the oracle replays the fold with a recursive CTE. The carry
    * fold runs on the driver over CHUNK-sized rows (calendar/32 — ~114
    * for a decade), the [[madAnomaly]] bounded-collect pattern; the
    * returned relation is the calendar-sized daily series itself.
    */
  def ewmaDailyLong(df: DataFrame, dayCol: org.apache.spark.sql.Column,
                    chunkDays: Int = 32): DataFrame = Pins.scope {
    val daily = Pins.keep(dailyCounts(df, dayCol))
    val maxN = daily.agg(coalesce(max(col("n")), lit(0L))).head.getLong(0)
    ewmaChunked(daily, chunkDays, maxN)
  }

  /** Shared chunked body: `daily` arrives pinned in the caller's scope,
    * which frees it on every exit path (the result is a collected
    * calendar-sized local relation, so no plan reads it afterwards). */
  private def ewmaChunked(daily: DataFrame, chunkDays: Int,
                          maxN: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkDays >= 1 && chunkDays <= 60,
      s"chunkDays must be in [1, 60], got $chunkDays")
    // per-CHUNK overflow guard: the weighted sum inside one chunk is
    // at most maxN · 2^(chunkDays+1); the chunk cut is exactly what
    // keeps this bound independent of total history length
    require(maxN <= (Long.MaxValue >> (chunkDays + 2)),
      s"ewma chunk sum would overflow: max daily count $maxN with " +
        s"chunkDays=$chunkDays exceeds ${Long.MaxValue >> (chunkDays + 2)} " +
        "— use a smaller chunkDays")
    val w = Window.orderBy("day")
    val inChunk = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("ck", expr(s"CAST((rn - 1) div $chunkDays AS BIGINT)"))
      .withColumn("r", (col("rn") - col("ck") * chunkDays).cast("int"))
      // the global first row keeps the w_1 = 4 initialization (ewma_1 =
      // v_1); every other weight is the local 2^r
      .withColumn("wi", when(col("rn") === 1, lit(4L))
        .otherwise(expr("shiftleft(1L, r)")))
      .withColumn("sw", sum(col("n") * col("wi"))
        .over(Window.partitionBy("ck").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // chunk totals: one row per chunk (calendar/chunkDays — bounded),
    // folded in order on the driver into the carry series E_j
    val tots = inChunk.groupBy(col("ck"))
      .agg(expr("max_by(sw, r)").as("t"), max(col("r")).as("s"))
      .orderBy("ck").collect()
    var e = 0.0
    val carriesSeq = tots.map { row =>
      val ePrev = e
      e = (2.0 * e + row.getLong(1).toDouble) /
        math.pow(2.0, row.getInt(2) + 1.0)
      (row.getLong(0), ePrev)
    }.toIndexedSeq
    val spark = daily.sparkSession
    import spark.implicits._
    val carries = broadcast(carriesSeq.toDF("ck", "e_prev"))
    val out = inChunk.join(carries, Seq("ck"))
      .select(col("day"), col("n"),
        ((lit(2.0) * col("e_prev") + col("sw").cast("double")) /
          pow(lit(2.0), col("r") + 1)).as("ewma"))
    // calendar-sized by construction: collect to release the pin
    Pins.local(spark, out.orderBy("day").collect().toIndexedSeq, out.schema)
  }

  /** Small-cell suppression — the k-anonymity-style export guard
    * (census primary suppression): dimension combinations with fewer
    * than k members are RE-AGGREGATED into a sentinel bucket instead of
    * published, so no released row describes fewer than k individuals
    * while column totals are preserved (re-keying, not dropping). Two
    * map-side-combinable aggregates with a CASE re-key between them —
    * no join, no window; at 100 TB this is two hash-agg passes over
    * cell-count rows, not raw data, after the first aggregate.
    */
  def suppressSmallCells(df: DataFrame, dims: Seq[String], k: Long): DataFrame = {
    val sentinel = "__suppressed__"
    require(dims.nonEmpty && k >= 1, s"need dims and k >= 1, got $dims / $k")
    val counts = df.groupBy(dims.map(col): _*).agg(count(lit(1)).as("n"))
    // A dims value NATURALLY equal to the sentinel would silently merge
    // real data into the suppression bucket (and confuse the secondary-
    // suppression filter) — fail the run loudly instead, in the plan
    // itself (stays lazy and distributed; evaluated over cell-count
    // rows, not raw data).
    val rekeyed = counts.select(
      dims.map(d =>
        when(col(d) === lit(sentinel),
          raise_error(lit(s"suppressSmallCells: column '$d' naturally " +
            s"contains the sentinel value '$sentinel'")))
          .otherwise(when(col("n") < k, lit(sentinel)).otherwise(col(d)))
          .as(d)) :+
        col("n"): _*)
    rekeyed.groupBy(dims.map(col): _*)
      .agg(sum(col("n")).as("n"), count(lit(1)).cast("long").as("n_cells"))
      // the sentinel bucket must itself satisfy k (secondary suppression):
      // if even the UNION of small cells is under k, it is withheld
      // entirely — publishing it would be a sub-k row, the exact leak the
      // operator exists to prevent. Totals are preserved except in that
      // withheld case, by construction.
      .filter(!(col(dims.head) === sentinel && col("n") < k))
  }

  /** Numeric column profile (the dbt-profiler / data-card shape): one
    * FUSED aggregate pass emitting, per column: row count, null count,
    * min, max, mean, population stddev.
    *
    * Determinism: each value is fixed-pointed (×10^scale, rounded, BIGINT)
    * so Σv and Σv² are DECIMAL(38,0) integer sums — order-independent —
    * and variance is the exact integer form (n·Σv² − (Σv)²) / n² scaled
    * back; only the final sqrt/divisions are floating point (single
    * correctly-rounded ops). A float Σ would hash differently per
    * partitioning; this profile is bit-stable on any engine.
    */
  def numericProfile(df: DataFrame, table: String, cols: Seq[String],
                     scale: Int): DataFrame = {
    val fx = math.pow(10.0, scale)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val aggs = cols.flatMap { c =>
      val v = round(col(c).cast("double") * fx).cast(dec)
      Seq(
        count(col(c)).as(s"${c}_n"),
        (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
        min(col(c).cast("double")).as(s"${c}_min"),
        max(col(c).cast("double")).as(s"${c}_max"),
        sum(v).as(s"${c}_s1"),
        sum(v * v).as(s"${c}_s2"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      val n = col(s"${c}_n").cast("double")
      val s1 = col(s"${c}_s1").cast("double")
      val s2 = col(s"${c}_s2").cast("double")
      struct(
        lit(table).as("table_name"), lit(c).as("column_name"),
        col(s"${c}_n").as("n"), col(s"${c}_nulls").as("n_null"),
        col(s"${c}_min").as("min_v"), col(s"${c}_max").as("max_v"),
        round(s1 / n / fx, 6).as("mean_v"),
        // clamp the radicand at 0: for a near-constant column with
        // large fixed-point sums the double subtraction of two ~equal
        // 1e32-scale products can land a hair NEGATIVE (ulp error on
        // sums past 2^53), and sqrt of that is NaN where the true
        // variance is 0
        round(sqrt(greatest(n * s2 - s1 * s1, lit(0.0))) / n / fx, 6)
          .as("std_v"))
    }
    wide.select(explode(array(structs: _*)).as("p")).select(col("p.*"))
  }

  /** Run every check on `df` in a single fused aggregate, then unpivot to
    * one result row per check. */
  def battery(df: DataFrame, table: String,
              rowChecks: Seq[RowCheck], aggChecks: Seq[AggCheck]): DataFrame = {
    val aggs =
      rowChecks.map(rc => count(when(rc.violation, 1)).as(rc.name)) ++
        aggChecks.map(ac => ac.violations.as(ac.name))
    require(aggs.nonEmpty, "battery needs at least one check")
    // NOTE (r10 optimization pass): a Dedup.spread before this aggregate
    // was tried to break the one-file scan+partial-agg single-task fusion
    // and REVERTED — interleaved min-of-3 measured the extra exchange
    // 1.4-1.7x slower than the fused single task at gate volumes, and at
    // production split counts the fusion never happens anyway.
    val one = df.agg(aggs.head, aggs.tail: _*)
    val pairs = (rowChecks.map(_.name) ++ aggChecks.map(_.name)).map(n =>
      struct(lit(n).as("check_name"), col(n).cast("long").as("violations")))
    one.select(explode(array(pairs: _*)).as("c"))
      .select(lit(table).as("table_name"),
        col("c.check_name").as("check_name"),
        col("c.violations").as("violations"),
        (col("c.violations") === 0).as("passed"))
  }
}
