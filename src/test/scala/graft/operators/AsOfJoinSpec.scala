package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("scd2Intervals builds half-open ranges closed by end-of-time") {
    val log = Seq(
      ("xlm", ts("2024-01-01 00:00:00"), 1.0),
      ("xlm", ts("2024-01-02 00:00:00"), 2.0),
      ("btc", ts("2024-01-01 12:00:00"), 9.0))
      .toDF("asset", "updated", "price")
    val iv = AsOfJoin.scd2Intervals(log, Seq("asset"), "updated")
      .select("asset", "price", "valid_from", "valid_to")
      .as[(String, Double, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().sortBy(r => (r._1, r._3.getTime))
    assert(iv.length == 3)
    val xlm1 = iv.find(r => r._1 == "xlm" && r._2 == 1.0).get
    assert(xlm1._4 == ts("2024-01-02 00:00:00"), "interval closed by successor")
    val btc = iv.find(_._1 == "btc").get
    assert(btc._4.toString.startsWith("2200-01-01"), "open interval runs to end-of-time")
  }

  test("asOf attaches the prevailing interval, null before first") {
    val log = Seq(("xlm", ts("2024-01-02 00:00:00"), 2.0)).toDF("asset", "updated", "price")
    val iv = AsOfJoin.scd2Intervals(log, Seq("asset"), "updated")
      .select(col("asset").as("p_asset"), col("price"), col("valid_from"), col("valid_to"))
    val facts = Seq(
      (1L, "xlm", ts("2024-01-01 00:00:00")),
      (2L, "xlm", ts("2024-01-03 00:00:00")))
      .toDF("id", "asset", "t")
    val out = AsOfJoin.asOf(facts, iv, Seq("asset" -> "p_asset"), "t")
      .select("id", "price").as[(Long, Option[Double])].collect().toMap
    assert(out(1L).isEmpty, "fact before first interval gets null")
    assert(out(2L).contains(2.0))
  }

  test("asOfGlobal plans as a broadcast nested-loop join, not a cartesian") {
    val facts = (1 to 100).map(i => (i.toLong, ts(f"2024-01-01 ${i % 24}%02d:00:00")))
      .toDF("id", "t")
    val iv = Seq((1.0, ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00")))
      .toDF("price", "valid_from", "valid_to")
    val out = AsOfJoin.asOfGlobal(facts, iv, "t")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected BNLJ in:\n$plan")
    assert(out.count() == 100)
  }

  test("asOfUnion == asOf over ties, null payloads, and uncovered facts") {
    val events = Seq(
      // two events tied on ts for user 1: the later event_id's interval wins
      (1L, ts("2024-01-02 00:00:00"), 10L, Some(1.0)),
      (1L, ts("2024-01-02 00:00:00"), 11L, Some(2.0)),
      // a later event carrying a NULL payload must still override
      (1L, ts("2024-01-04 00:00:00"), 12L, None: Option[Double]),
      (2L, ts("2024-01-01 00:00:00"), 20L, Some(9.0)))
      .toDF("user_id", "ts", "event_id", "value")
    val facts = Seq(
      (100L, 1L, ts("2024-01-01 00:00:00")), // before first event -> null
      (101L, 1L, ts("2024-01-02 00:00:00")), // exactly at event ts -> covered
      (102L, 1L, ts("2024-01-03 00:00:00")), // between events
      (103L, 1L, ts("2024-01-05 00:00:00")), // after the null-payload event
      (104L, 2L, ts("2024-01-02 00:00:00")),
      (105L, 3L, ts("2024-01-02 00:00:00"))) // key with no events
      .toDF("fact_id", "user_id", "ts")

    val viaJoin = {
      val iv = AsOfJoin.scd2Intervals(events, Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id").as("e_user"), col("value").as("price"),
          col("valid_from"), col("valid_to"))
      AsOfJoin.asOf(facts, iv, Seq("user_id" -> "e_user"), "ts")
        .select(col("fact_id"), col("price"))
    }
    val viaUnion = AsOfJoin.asOfUnion(facts, events,
        Seq("user_id" -> "user_id"), "ts", "ts",
        payload = Seq("value" -> "price"), eventTieBreak = Seq("event_id"))
      .select(col("fact_id"), col("price"))

    val a = viaJoin.as[(Long, Option[Double])].collect().toMap
    val b = viaUnion.as[(Long, Option[Double])].collect().toMap
    assert(b == a)
    assert(b(100L).isEmpty && b(105L).isEmpty)
    assert(b(101L).contains(2.0), "later event_id wins the ts tie")
    assert(b(103L).isEmpty, "null payload from the latest event overrides")

    // the scale claim: no join operator at all — one window over a union
    val plan = viaUnion.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"expected a join-free plan:\n$plan")

    // asOfAuto: BOTH forced regimes reproduce the same result through the
    // one entry point — factor 0 forces union-window (any pair volume
    // exceeds 0), Long.MaxValue/4 forces equi+residual
    def auto(factor: Long) = AsOfJoin.asOfAuto(facts, events,
        Seq("user_id" -> "user_id"), "ts", "ts",
        payload = Seq("value" -> "price"), eventTieBreak = Seq("event_id"),
        pairBudgetFactor = factor)
      .select(col("fact_id"), col("price"))
      .as[(Long, Option[Double])].collect().toMap
    assert(auto(0L) == a && auto(Long.MaxValue / 4) == a,
      "regime choice must be invisible to results")
    // the selector itself: hot-key pair blowup flips to union-window
    assert(!AsOfJoin.chooseUnionWindow(pairs = 100, nFacts = 50, nEvents = 50,
      factor = 4))
    assert(AsOfJoin.chooseUnionWindow(pairs = 100000000L, nFacts = 10000,
      nEvents = 10000, factor = 4))
  }

  test("asOfAuto null equi keys: both forced regimes give null-key facts " +
      "a null payload — selection stays invisible when keys are null") {
    // a null-key EVENT and a null-key FACT: SQL window partitioning
    // would group the nulls together (fact 202 picking up value 7.0),
    // while the equi branch's === never matches them — asOfAuto
    // normalizes by dropping null-key event rows, so BOTH regimes give
    // every null-key fact a null payload and keep the fact row.
    val events = Seq(
      (Some(1L), ts("2024-01-01 00:00:00"), 10L, Some(5.0)),
      (None: Option[Long], ts("2024-01-01 00:00:00"), 11L, Some(7.0)))
      .toDF("user_id", "ts", "event_id", "value")
    val facts = Seq(
      (200L, Some(1L), ts("2024-01-02 00:00:00")),
      (202L, None: Option[Long], ts("2024-01-02 00:00:00")))
      .toDF("fact_id", "user_id", "ts")
    def auto(factor: Long) = AsOfJoin.asOfAuto(facts, events,
        Seq("user_id" -> "user_id"), "ts", "ts",
        payload = Seq("value" -> "price"), eventTieBreak = Seq("event_id"),
        pairBudgetFactor = factor)
      .select(col("fact_id"), col("price"))
      .as[(Long, Option[Double])].collect().toMap
    val (viaUnion, viaEqui) = (auto(0L), auto(Long.MaxValue / 4))
    assert(viaUnion == viaEqui,
      s"regimes diverge on null keys: $viaUnion vs $viaEqui")
    assert(viaUnion == Map(200L -> Some(5.0), 202L -> None),
      s"null-key facts keep their row with a null payload: $viaUnion")
  }

  test("intervalJoinBinned == asOfGlobal and plans as an equi join") {
    val iv = Seq(
      (1.0, ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00")),
      (2.0, ts("2024-01-03 00:00:00"), ts("2200-01-01 00:00:00")))
      .toDF("price", "valid_from", "valid_to")
    val facts = (1 to 200).map(i =>
      (i.toLong, ts(f"2024-01-0${1 + i % 5}%d ${i % 24}%02d:00:00")))
      .toDF("id", "t") // includes days 4-5, past the first interval
    val expect = AsOfJoin.asOfGlobal(facts, iv, "t")
      .select("id", "price").as[(Long, Option[Double])].collect().toMap
    val binned = AsOfJoin.intervalJoinBinned(facts, iv, "t", binSeconds = 3600)
    val got = binned.select("id", "price").as[(Long, Option[Double])].collect().toMap
    assert(got == expect)
    // the fact x interval join must be an equi join on the bin key (the
    // one-row scalar clamp legitimately plans as a 1-row broadcast cross)
    val plan = binned.queryExecution.executedPlan.toString
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[__b".r
      .findFirstIn(plan).isDefined,
      s"bin replication must become an equi join on __b:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }
}
