package graft.operators

import graft.SparkSpec
import graft.sinks.Sinks
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SkewAndBucketSpec extends SparkSpec {

  test("saltedJoin returns exactly the plain-join result") {
    val li = Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, Seq("l_orderkey")).agg(
      count(lit(1)), sum("l_quantity"), sum("o_totalprice")).collect()(0)
    val salted = Skew.saltedJoin(li, o, Seq("l_orderkey"), salts = 8).agg(
      count(lit(1)), sum("l_quantity"), sum("o_totalprice")).collect()(0)
    assert(plain == salted)
  }

  test("salt is deterministic and spreads a hot key over all buckets") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val s1 = li.select(Skew.saltColumn(Seq(col("l_orderkey"), col("l_linenumber")), 8).as("s"))
    val s2 = li.select(Skew.saltColumn(Seq(col("l_orderkey"), col("l_linenumber")), 8).as("s"))
    assert(s1.collect().toSeq == s2.collect().toSeq, "same rows, same salts")
    assert(s1.distinct().count() == 8, "all salt buckets used")
  }

  test("bucketed tables join without an exchange") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    Sinks.writeBucketed(li, "li_b", 8, Seq("l_orderkey"))
    Sinks.writeBucketed(o, "o_b", 8, Seq("o_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == li.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("bloomReduceJoin: equals the plain join, prunes fact rows pre-shuffle") {
    import spark.implicits._
    val fact = (1L to 20000L).map(i => (i, i % 997)).toDF("fid", "key")
    // a selective dim: 20 distinct keys
    val dim = (0L until 997L by 50L).map(k => (k, s"d$k")).toDF("dkey", "payload")
    val (m, k) = (1 << 12, 2)
    val got = Skew.bloomReduceJoin(fact, dim, "key", "dkey", m, k)
    val want = fact.join(dim, fact("key") === dim("dkey"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // the semi reduction really shrinks the fact side before the join
    val bits = dim.select(explode(array((0 until k).map(i =>
      Skew.bloomJoinBit(col("dkey"), i, m)): _*)).as("__bit")).distinct()
    val reduced = (0 until k).foldLeft(fact) { (f, i) =>
      f.join(broadcast(bits),
        Skew.bloomJoinBit(col("key"), i, m) === col("__bit"),
        "left_semi")
    }
    val (nFact, nReduced) = (fact.count(), reduced.count())
    assert(nReduced < nFact / 2,
      s"bloom reduction kept $nReduced of $nFact fact rows")
    // and the reduction itself is broadcast semi joins (map-side, no
    // exchange of the fact side)
    val plan = reduced.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("LeftSemi"), s"expected semi joins in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(fid"),
      s"fact side must not shuffle for the reduction:\n$plan")
  }
}
