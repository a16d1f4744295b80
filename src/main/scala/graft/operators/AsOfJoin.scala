package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 interval construction (W3) + as-of / interval joins (J3).
  *
  * The reference builds price validity intervals with
  * `lead(last_updated_ts, 1, '9999-12-31') over (partition by asset order by ts)`
  * and then left-joins facts on the equi key plus
  * `fact.ts >= valid_from AND fact.ts < valid_to`
  * (reference dags/ddls/queries/v_liquidity_pool_trade_volume.sql:31-52,83-91
  * and v_relevant_asset_trades.sql:28-52,80-91).
  *
  * Physical shape: with an equi key Catalyst runs this as a hash/sort-merge
  * join on the key with the range predicate as a residual filter — one
  * shuffle on the key, linear in both inputs, which holds at 100 TB. The
  * keyless leg (the reference's global XLM price) would degenerate to a
  * cartesian range scan, so [[asOfGlobal]] requires the interval side to be
  * broadcast-small — exactly how the reference treats its one-row/day price
  * feed.
  */
object AsOfJoin {

  /** Open-interval sentinel. The reference uses '9999-12-31'
    * (v_liquidity_pool_trade_volume.sql:37-41), which overflows int64
    * NANOSECONDS — any consumer that materializes timestamp[ns] (pyarrow,
    * pandas) silently wraps it. 2200-01-01 is far past any real event and
    * survives every timestamp unit an engine might pick.
    */
  val EndOfTime = "2200-01-01 00:00:00"

  /** Build SCD2 validity intervals from a change log: each row becomes
    * [tsCol, next tsCol) per key; ties are broken by `tieBreak` so the
    * intervals are deterministic even with duplicate timestamps.
    */
  def scd2Intervals(log: DataFrame, keys: Seq[String], tsCol: String,
                    tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val order = (tsCol +: tieBreak).map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    log.withColumn("valid_from", col(tsCol))
      .withColumn("valid_to",
        coalesce(lead(col(tsCol), 1).over(w), lit(EndOfTime).cast("timestamp")))
  }

  /** Keyed as-of join: for each fact row, the interval (if any) containing
    * factTs. Left-outer, row-preserving when intervals don't overlap.
    */
  def asOf(facts: DataFrame, intervals: DataFrame,
           equi: Seq[(String, String)], factTs: String): DataFrame = {
    val cond = equi.map { case (f, i) => facts(f) === intervals(i) }
      .reduce(_ && _) &&
      facts(factTs) >= intervals("valid_from") &&
      facts(factTs) < intervals("valid_to")
    facts.join(intervals, cond, "left_outer")
  }

  /** Keyless as-of (global scalar series). The interval side MUST be small:
    * we broadcast it explicitly so the plan is a BroadcastNestedLoopJoin over
    * a tiny build side instead of a shuffled cartesian product.
    */
  def asOfGlobal(facts: DataFrame, intervals: DataFrame, factTs: String): DataFrame =
    facts.join(broadcast(intervals),
      facts(factTs) >= intervals("valid_from") && facts(factTs) < intervals("valid_to"),
      "left_outer")

  /** Latest-value-per-key (W4): rank desc = 1. */
  def latest(log: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(c => col(c).desc): _*)
    log.withColumn("__r", rank().over(w)).filter(col("__r") === 1).drop("__r")
  }

  /** Union-window as-of join — the LARGE-intervals scale path for [[asOf]].
    *
    * [[asOf]] runs as an equi join on the key with the range predicate as a
    * residual filter. That is linear in network cost, but the join itself
    * materializes |facts(k)| x |intervals(k)| candidate pairs per key before
    * the residual prunes them — a key with 10^4 facts and 10^4 price changes
    * produces 10^8 intermediate pairs. This form instead UNIONs the event
    * (interval-start) rows into the fact stream and takes, per fact, the
    * most recent preceding event via `last(..., ignoreNulls)` over a
    * running window: ONE shuffle + sort on the key, strictly linear in
    * |facts| + |events| with O(1) window state (no frame buffering), no
    * pair blowup. Semantics are identical to
    * `asOf(facts, scd2Intervals(events, ...), ...)`: at equal timestamps the
    * event sorts before the fact (interval start is inclusive), and among
    * events tied on ts the last by `eventTieBreak` wins (its SCD2 interval
    * is the non-empty one). The event payload rides in a struct so a NULL
    * payload value still overrides an older event (ignoreNulls skips only
    * rows with no event, never events carrying nulls).
    */
  def asOfUnion(facts: DataFrame, events: DataFrame,
                equi: Seq[(String, String)], factTs: String, eventTs: String,
                payload: Seq[(String, String)],
                eventTieBreak: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val factCols = facts.columns.toSeq
    val keyNames = equi.map(_._1)
    val tieNames = eventTieBreak.zipWithIndex.map { case (_, i) => s"__tie$i" }

    // aligned union schema: keys, __ts, __side, tie columns (native event
    // types — casting would corrupt numeric tie order), payload struct,
    // fact struct. Null legs are typed from the source DataFrames' schemas;
    // payload columns are renamed inside the struct so an output name may
    // collide with a fact column without ambiguity until the caller picks.
    val payType = StructType(payload.map { case (e, out) =>
      StructField(out, events.schema(e).dataType, nullable = true) })
    val factType = StructType(facts.schema.fields)
    val factLeg = facts.select(
      keyNames.map(c => facts(c).as(c)) ++
        Seq(facts(factTs).as("__ts"), lit(1).as("__side")) ++
        eventTieBreak.zipWithIndex.map { case (c, i) =>
          lit(null).cast(events.schema(c).dataType).as(s"__tie$i") } ++
        Seq(lit(null).cast(payType).as("__pay"),
          struct(factCols.map(facts(_)): _*).as("__fact")): _*)
    val eventLeg = events.select(
      equi.map { case (f, e) => events(e).as(f) } ++
        Seq(events(eventTs).as("__ts"), lit(0).as("__side")) ++
        eventTieBreak.zipWithIndex.map { case (c, i) => events(c).as(s"__tie$i") } ++
        Seq(struct(payload.map { case (e, out) => events(e).as(out) }: _*).as("__pay"),
          lit(null).cast(factType).as("__fact")): _*)

    val order = col("__ts") +: col("__side") +: tieNames.map(col)
    val w = Window.partitionBy(keyNames.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    factLeg.unionByName(eventLeg)
      .withColumn("__asof", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(factCols.map(c => col(s"__fact.$c").as(c)) ++
        payload.map { case (_, out) => col(s"__asof.$out").as(out) }: _*)
  }

  /** Keyed as-of join with AUTOMATIC regime selection — the
    * [[graft.operators.LinkAnalysis.coEngagementEdges]] pattern applied
    * to J3's two keyed forms, which produce provably identical results
    * (`AsOfJoinSpec`) but invert in cost with per-key density:
    *
    *  - equi + residual ([[asOf]] over [[scd2Intervals]]): one shuffle,
    *    but the join materializes `Σ_k f_k·e_k` candidate pairs before
    *    the range residual prunes them — a hot key with 10^4 facts and
    *    10^4 events costs 10^8 pairs.
    *  - union-window ([[asOfUnion]]): one shuffle + sort, strictly
    *    linear in |facts| + |events|, O(1) window state.
    *
    * The selector reads the pair volume and both sizes as ONE scalar
    * action (per-key counts full-outer-joined, three sums) and takes the
    * union-window form when pairs exceed `pairBudgetFactor ×
    * (|facts| + |events|)` — pair volume within a small factor of the
    * data already moved is noise; past it, the blowup is the dominant
    * term (`Probe scale`'s joins mode measured 3.5 s vs 0.5 s at 10× per-
    * key density). Output shape is [[asOfUnion]]'s: the fact columns
    * plus the renamed payload of the prevailing event.
    */
  def asOfAuto(facts: DataFrame, events: DataFrame,
               equi: Seq[(String, String)], factTs: String, eventTs: String,
               payload: Seq[(String, String)],
               eventTieBreak: Seq[String] = Seq.empty,
               pairBudgetFactor: Long = 4L): DataFrame = {
    // Null-key normalization: the two regimes agree only on non-null
    // keys — the equi branch's === never matches a null key (null-key
    // facts get a null payload), while the union window's partitionBy
    // GROUPS null keys (a null-key fact would pick up the latest
    // null-key event). A data-dependent selector must never change
    // results, so null-key EVENT rows are dropped here: both branches
    // then give every null-key fact a null payload, and fact rows are
    // preserved either way (`AsOfJoinSpec` pins the null-key case on
    // both forced regimes).
    val ev = equi.map(_._2).foldLeft(events)((d, c) => d.filter(col(c).isNotNull))
    val fk = facts.groupBy(equi.map { case (f, _) => col(f) }: _*)
      .agg(count(lit(1)).as("__f"))
    val ek0 = ev.groupBy(equi.map { case (_, e) => col(e) }: _*)
      .agg(count(lit(1)).as("__e"))
    // align event key names to the fact side for the full-outer key join
    val ek = equi.foldLeft(ek0) { case (d, (f, e)) =>
      if (f == e) d else d.withColumnRenamed(e, f) }
    val stats = fk.join(ek, equi.map(_._1), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("__f"), lit(0L)) * coalesce(col("__e"), lit(0L))),
          lit(0L)).as("pairs"),
        coalesce(sum(coalesce(col("__f"), lit(0L))), lit(0L)).as("nf"),
        coalesce(sum(coalesce(col("__e"), lit(0L))), lit(0L)).as("ne"))
      .head
    val (pairs, nf, ne) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    if (chooseUnionWindow(pairs, nf, ne, pairBudgetFactor)) {
      asOfUnion(facts, ev, equi, factTs, eventTs, payload, eventTieBreak)
    } else {
      // facts and events routinely derive from the SAME source relation
      // (a self-as-of on one log): project the interval side to unique
      // __-prefixed names first, so no column resolves to both sides of
      // the join (Spark's ambiguous-self-join check would reject the
      // DataFrame-qualified references otherwise)
      val ivl = scd2Intervals(ev, equi.map(_._2), eventTs, eventTieBreak)
        .select(
          equi.map { case (f, e) => col(e).as(s"__k_$f") } ++
            payload.map { case (e, out) => col(e).as(s"__p_$out") } ++
            Seq(col("valid_from").as("__vf"), col("valid_to").as("__vt")): _*)
      val cond = equi.map { case (f, _) => facts(f) === col(s"__k_$f") }
        .reduce(_ && _) &&
        facts(factTs) >= col("__vf") && facts(factTs) < col("__vt")
      facts.join(ivl, cond, "left_outer")
        .select(facts.columns.toSeq.map(c => facts(c).as(c)) ++
          payload.map { case (_, out) => col(s"__p_$out").as(out) }: _*)
    }
  }

  /** The measured crossover: union-window once the equi join's candidate
    * pair volume exceeds `factor` × the rows either form must move. */
  private[graft] def chooseUnionWindow(pairs: Long, nFacts: Long,
                                       nEvents: Long, factor: Long): Boolean =
    pairs > factor * (nFacts + nEvents)

  /** Binned interval join — the LARGE-intervals scale path for
    * [[asOfGlobal]]: point-in-interval when the interval side is too big to
    * broadcast and there is no equi key to shuffle on. Each interval is
    * replicated to the fixed-width time bins it spans (`binSeconds`), each
    * fact lands in exactly one bin, and the join becomes an ordinary equi
    * join on the bin id with the range predicate as residual — a uniform
    * shuffle on time, no cartesian, no broadcast-size requirement.
    * Replication factor is interval_length / binSeconds + 1, so pick
    * `binSeconds` near the median interval length. Open-ended intervals
    * (the [[EndOfTime]] sentinel) are clamped to the facts' max timestamp
    * before binning — the clamp is a broadcast one-row scalar, and it only
    * removes bins no fact can occupy, so results are unchanged.
    */
  def intervalJoinBinned(facts: DataFrame, intervals: DataFrame, factTs: String,
                         binSeconds: Long): DataFrame = {
    require(binSeconds >= 1, s"binSeconds must be >= 1, got $binSeconds")
    val hi = facts.agg(max(col(factTs)).as("__maxTs"))
    val ivl = intervals
      .crossJoin(broadcast(hi))
      .withColumn("__end",
        least(col("valid_to"), col("__maxTs") + expr("INTERVAL 1 SECOND")))
      .withColumn("__b", explode(sequence(
        floor(unix_timestamp(col("valid_from")) / binSeconds).cast("long"),
        floor(unix_timestamp(col("__end")) / binSeconds).cast("long"))))
      .drop("__maxTs", "__end")
    val f = facts.withColumn("__b",
      floor(unix_timestamp(col(factTs)) / binSeconds).cast("long"))
    f.join(ivl,
        f("__b") === ivl("__b") &&
          f(factTs) >= ivl("valid_from") && f(factTs) < ivl("valid_to"),
        "left_outer")
      .drop("__b")
  }
}
