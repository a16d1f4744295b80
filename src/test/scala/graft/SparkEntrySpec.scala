package graft

import graft.core.Pins
import org.apache.spark.sql.functions.col

/** The driver contract itself: every registered query must carry a DuckDB
  * oracle (a query without one silently downgrades to a rows-only check
  * at the driver — this spec makes that a build failure instead), and the
  * flagship entry must return rows on the smoke-test scale.
  */
class SparkEntrySpec extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"orphaned oracles: ${(o -- q).toSeq.sorted}")
  }

  test("no two registries define the same query or oracle name") {
    val named = Seq("WarehouseQueries", "TrainingQueries", "StreamingGate", "LakeExports")
      .zip(SparkEntry.registries)
    assert(named.size == 4)
    for (((a, (qa, oa)), i) <- named.zipWithIndex; (b, (qb, ob)) <- named.drop(i + 1)) {
      val q = qa.keySet.intersect(qb.keySet)
      val o = oa.keySet.intersect(ob.keySet)
      assert(q.isEmpty, s"queries in both $a and $b: ${q.toSeq.sorted}")
      assert(o.isEmpty, s"oracles in both $a and $b: ${o.toSeq.sorted}")
    }
  }

  test("entry returns rows on the smoke scale") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("eachQuery reports a query that pins a relation and throws as failed, " +
      "unpins it, and still runs the next selected query") {
    spark.catalog.clearCache()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val qs: Map[String, SparkEntry.Query] = Map(
      "a_pin_then_throw" -> { (s, _) =>
        val df = s.range(10).toDF("id")
        df.cache().count()
        throw new IllegalStateException("query failed")
      },
      "b_cut" -> { (s, _) =>
        val cut = Pins.cut(s.range(5).toDF("id"))
        assert(s.sparkContext.getPersistentRDDs.keySet != pinned, "the cut holds blocks")
        cut.filter(col("id") > 1)
      },
      "b_next" -> ((s, _) => s.range(3).toDF("id")),
      "c_not_selected" -> ((_, _) => sys.error("not selected")))
    val res = SparkEntry.eachQuery(spark, "a_pin,b_", qs)((_, fn) => fn(spark, sfDir).count())
    assert(res.map(_._1) == Seq("a_pin_then_throw", "b_cut", "b_next"))
    assert(res.head._2.failed.get.getMessage == "query failed")
    assert(res(1)._2.get == 3L)
    assert(res(2)._2.get == 3L)
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned)
  }
}
