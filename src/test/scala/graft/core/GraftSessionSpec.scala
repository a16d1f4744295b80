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
}
