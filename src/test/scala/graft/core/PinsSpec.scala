package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class PinsSpec extends SparkSpec {

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope frees every pin made in it, checkpoints included, on return and on throw") {
    val before = persisted
    val n = Pins.scope {
      val a = Pins.fill(spark.range(10).toDF("id"))
      val b = Pins.keep(a.filter(col("id") > 2))
      val c = Pins.cut(b.filter(col("id") > 4))
      assert(persisted.size == before.size + 3, "fill, keep and cut each hold blocks")
      c.count()
    }
    assert(n == 5L)
    assert(persisted == before)
    intercept[IllegalStateException] {
      Pins.scope {
        Pins.cut(spark.range(4).toDF("id"))
        throw new IllegalStateException("body failed")
      }
    }
    assert(persisted == before)
  }

  test("release frees a pin at once; the pin a scope returns moves to the enclosing scope") {
    val before = persisted
    Pins.scope {
      val a = Pins.cut(spark.range(3).toDF("id"))
      Pins.release(a)
      assert(persisted == before)
      val kept = Pins.scope {
        Pins.keep(spark.range(8).toDF("id")).count()
        Pins.cut(spark.range(6).toDF("id"))
      }
      assert(persisted.size == before.size + 1, "only the returned cut outlives the inner scope")
      assert(kept.count() == 6L)
    }
    assert(persisted == before)
  }

  test("local is a one-partition relation over the given rows") {
    val df = spark.range(5).toDF("id")
    val out = Pins.local(spark, df.collect().toIndexedSeq, df.schema)
    assert(out.rdd.getNumPartitions == 1)
    assert(out.collect().map(_.getLong(0)).toSeq == (0L until 5L))
  }

  test("src/main caches, checkpoints and unpersists only through Pins") {
    val hits = graft.SourceScan.hits(
      raw"\.persist\(|\.cache\(\)|localCheckpoint\(|unpersist\(".r, "graft/core/Pins.scala")
    assert(hits.isEmpty, hits.mkString("pin calls outside graft.core.Pins:\n", "\n", ""))
  }
}
