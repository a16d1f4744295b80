package graft.core

import graft.SparkSpec

class GraftSessionSpec extends SparkSpec {

  private val partitions = "spark.sql.shuffle.partitions"

  test("withConf restores each key to its value from before the call, " +
      "whatever the body set it to") {
    GraftSession.withConf(spark, partitions -> "5") {
      val seen = GraftSession.withConf(spark, partitions -> "3",
          "spark.sql.adaptive.enabled" -> "false") {
        spark.conf.set(partitions, "1")
        spark.conf.get("spark.sql.adaptive.enabled")
      }
      assert(seen == "false")
      assert(spark.conf.get(partitions) == "5")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    }
  }

  test("withConf restores when the body throws, and unsets a key that " +
      "was unset") {
    val key = "spark.graft.test.unsetBefore"
    GraftSession.withConf(spark, partitions -> "5") {
      intercept[IllegalStateException] {
        GraftSession.withConf(spark, partitions -> "3", key -> "x") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(partitions) == "5")
      assert(spark.conf.getOption(key).isEmpty)
    }
  }

  test("iterationWidth gives one partition per 2,000 rows, at least 1 and " +
      "at most the session width") {
    GraftSession.withConf(spark, partitions -> "5") {
      def w(rows: Long) = GraftSession.iterationWidth(spark, rows)
      assert(w(0L) == 1)
      assert(w(1999L) == 1)
      assert(w(2000L) == 2)
      assert(w(7999L) == 4)
      assert(w(8000L) == 5)
      assert(w(1000000000L) == 5)
      assert(w(Long.MaxValue) == 5)
    }
  }

  test("loading events leaves the session conf unchanged") {
    val fresh = GraftSession.tune(spark.newSession())
    val before = fresh.conf.getAll
    val ev = graft.sources.Tables.load(fresh, sfDir, "events")
    assert(ev.limit(1).collect().length == 1)
    assert(fresh.conf.getAll == before)
  }
}
