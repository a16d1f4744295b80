package graft.core

import graft.SparkSpec
import graft.operators.{DelIns, IncrementalMart, MergeOps, MergeSpec}
import graft.streaming.MicroBatchIngest
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The at-rest codec: `GraftSession.tune` makes every parquet file the
  * engine writes zstd, and no writer picks a codec of its own. */
class AtRestCodecSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString

  /** Column-chunk codec names, read from the footer of every parquet data
    * file under `dir` (recursively), keyed by the file's parent dir. */
  private def codecs(dir: String): Map[String, Set[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    val found = files(new java.io.File(dir))
    assert(found.nonEmpty, s"no parquet file under $dir")
    found.groupBy(_.getParentFile.getName).map { case (parent, fs) =>
      parent -> fs.flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
        finally r.close()
      }.toSet
    }
  }

  private def allZstd(dir: String): Unit = {
    val seen = codecs(dir)
    assert(seen.values.forall(_ == Set("ZSTD")), s"$dir: $seen")
  }

  private def part(df: DataFrame) = df.withColumn("p", col("k") % 4)

  test("loadBatch, mergePartitioned, IncrementalMart.refresh and mergeDrain write zstd") {
    val table = tmp("codec_wh")
    val wh = new DelIns.Warehouse(spark, table, Seq("p"))
    wh.loadBatch(part((0L until 40L).toDF("k").withColumn("deleted", lit(false))))
    allZstd(table)
    wh.mergePartitioned(part(Seq((1L, true), (41L, false)).toDF("k", "deleted")),
      MergeSpec(Seq("k"), Some("deleted")))
    allZstd(table)

    val mart = tmp("codec_mart")
    val fact = Seq(("2024-01-01 10:00:00", 1L), ("2024-01-02 10:00:00", 2L))
      .toDF("ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val martFn: DataFrame => DataFrame =
      _.groupBy(to_date(col("ts")).as("day")).agg(sum("v").as("total"))
    IncrementalMart.full(fact.limit(1), mart, martFn)
    IncrementalMart.refresh(spark, fact, mart, fact.filter(col("v") === 2L), "ts", martFn)
    assert(codecs(mart).keySet == Set("p_day=2024-01-01", "p_day=2024-01-02"))
    allZstd(mart)

    val root = tmp("codec_drain")
    Seq((1L, 1L, false), (2L, 1L, false), (1L, 2L, true)).toDF("k", "version", "deleted")
      .repartition(2).write.parquet(s"$root/in")
    val changes = spark.readStream.schema(spark.read.parquet(s"$root/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    MicroBatchIngest.mergeDrain(changes, Seq("k"), "version", s"$root/state", s"$root/ck")
    assert(codecs(s"$root/state").keySet == Set("state_v0", "state_v1"))
    allZstd(s"$root/state")
  }

  test("a table with snappy partitions merges to the full recompute; only " +
      "the touched partitions come out zstd") {
    val table = tmp("codec_mixed")
    val target = part((0L until 40L).toDF("k").withColumn("balance", col("k") * 1.0)
      .withColumn("deleted", lit(false)))
    target.write.mode("overwrite").option("compression", "snappy")
      .partitionBy("p").parquet(table)
    assert(codecs(table).values.forall(_ == Set("SNAPPY")))
    // touches partitions 1 (update, tombstone, insert) and 2
    val source = part(Seq((1L, 101.0, false), (5L, 0.0, true), (41L, 141.0, false),
      (2L, 102.0, false)).toDF("k", "balance", "deleted"))
    val spec = MergeSpec(Seq("k"), Some("deleted"))
    val expected = MergeOps.merge(target, source, spec)
      .select("k", "balance").as[(Long, Double)].collect().toSet
    val wh = new DelIns.Warehouse(spark, table, Seq("p"))
    wh.mergePartitioned(source, spec)
    assert(wh.read().select("k", "balance").as[(Long, Double)].collect().toSet == expected)
    assert(codecs(table) == Map("p=0" -> Set("SNAPPY"), "p=1" -> Set("ZSTD"),
      "p=2" -> Set("ZSTD"), "p=3" -> Set("SNAPPY")))
  }

  test("src/main sets a parquet codec only in GraftSession") {
    val hits = graft.SourceScan.hits(
      raw"parquet\.compression|\.option\(\s*\x22compression\x22|\x22compression\x22\s*->".r,
      "graft/core/GraftSession.scala")
    assert(hits.isEmpty, hits.mkString("codec settings outside GraftSession.tune:\n", "\n", ""))
  }
}
