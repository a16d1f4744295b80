package graft.sinks

import graft.SparkSpec
import graft.sources.Tables
import java.nio.file.Files
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("sinks").toString

  test("partitionedAppend lays out partition dirs and appends") {
    val root = tmp()
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("p_day", to_date(col("ts")).cast("string"))
    val d1 = ev.filter(col("p_day") === "2024-01-01")
    Sinks.partitionedAppend(d1, s"$root/t", Seq("p_day"), clusterCols = Seq("user_id"))
    Sinks.partitionedAppend(ev.filter(col("p_day") === "2024-01-02"), s"$root/t", Seq("p_day"))
    val back = spark.read.parquet(s"$root/t")
    assert(back.select("p_day").distinct().count() == 2)
    // append mode: re-appending the same partition duplicates (del-ins is
    // the dedup layer, tested separately)
    Sinks.partitionedAppend(d1, s"$root/t", Seq("p_day"))
    assert(spark.read.parquet(s"$root/t").filter(col("p_day") === "2024-01-01").count()
      == 2 * d1.count())
  }

  test("jsonExport emits a single NDJSON file") {
    val root = tmp()
    Sinks.jsonExport(Tables.load(spark, sfDir, "region"), s"$root/feed")
    val files = new java.io.File(s"$root/feed").listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(files.length == 1)
    assert(spark.read.json(s"$root/feed").count() == 5)
  }

  test("snapshot clones are independent versions") {
    val root = tmp()
    val r = Tables.load(spark, sfDir, "region")
    Sinks.truncateReplace(r, s"$root/t")
    val v1 = Sinks.snapshot(spark, s"$root/t", s"$root/snap", "v1")
    Sinks.truncateReplace(r.limit(2), s"$root/t")
    assert(spark.read.parquet(s"$root/t").count() == 2)
    assert(spark.read.parquet(v1).count() == 5, "snapshot unaffected by overwrite")
  }

  test("sandboxCtas partitions by day and applies retention window") {
    val root = tmp()
    val ev = Tables.load(spark, sfDir, "events")
    Sinks.sandboxCtas(ev, s"$root/sandbox", "ts", months = 1200)
    val back = spark.read.parquet(s"$root/sandbox")
    assert(back.columns.contains("p_day"))
    assert(back.count() == ev.count())
  }
}
