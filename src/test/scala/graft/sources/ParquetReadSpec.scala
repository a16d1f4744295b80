package graft.sources

import graft.SparkSpec
import graft.operators.{DelIns, MergeSpec}
import graft.sinks.VersionedTable
import graft.tools.Probe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Parquet.read` declares the schema Spark's own inference gives, read
  * from one footer on the driver, so opening a table starts no Spark job. */
class ParquetReadSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString

  private val tables = new java.io.File(sfDir).list().toSeq
    .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  private def sameSchema(ours: DataFrame, paths: String*): Unit =
    assert(ours.schema == spark.read.parquet(paths: _*).schema, paths.mkString(", "))

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val rec = new Probe.Recorder(spark)
    try { rec.reset(); body; rec.jobs.size } finally rec.close()
  }

  private def parquetFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(_.getPath).filter(_.endsWith(".parquet")).sorted
  }

  test("every sf0.001 table loads with the schema Spark infers, events included") {
    assert(tables.contains("events") && tables.size >= 10, tables)
    tables.foreach(t => sameSchema(Tables.load(spark, sfDir, t), s"$sfDir/$t.parquet"))
  }

  test("a merged Warehouse table keeps its partition columns, last and in order") {
    val table = tmp("pq_wh")
    val wh = new DelIns.Warehouse(spark, table, Seq("p", "q"))
    def parted(df: DataFrame) =
      df.withColumn("p", col("k") % 3).withColumn("q", (col("k") % 2).cast("string"))
    wh.loadBatch(parted((0L until 30L).toDF("k").withColumn("v", col("k") * 1.5)
      .withColumn("deleted", lit(false))))
    wh.mergePartitioned(parted(Seq((1L, 0.0, true), (31L, 2.0, false))
      .toDF("k", "v", "deleted")), MergeSpec(Seq("k"), Some("deleted")))
    sameSchema(wh.read(), table)
    assert(wh.read().columns.toSeq == Seq("k", "v", "deleted", "p", "q"))
  }

  test("a single file, and files of two schemas in either order") {
    val root = tmp("pq_files")
    (0 until 4).toDF("a").write.parquet(s"$root/a")
    (0 until 4).toDF("a").withColumn("b", lit("x")).write.parquet(s"$root/b")
    val file = parquetFiles(s"$root/a").head
    sameSchema(Parquet.read(spark, file), file)
    sameSchema(Parquet.read(spark, s"$root/b", s"$root/a"), s"$root/b", s"$root/a")
    assert(Parquet.read(spark, s"$root/b", s"$root/a").columns.toSeq == Seq("a"))
    val bFile = parquetFiles(s"$root/b").head
    sameSchema(Parquet.read(spark, bFile, file), bFile, file)
  }

  test("partitions of two schemas: the first file in full-path order sets the schema") {
    val root = tmp("pq_order")
    // "k=1-x/..." sorts before "k=1/..." ('-' < '/'), though "k=1" < "k=1-x"
    (0 until 2).toDF("a").write.parquet(s"$root/k=1")
    (0 until 2).toDF("a").withColumn("b", lit(1)).write.parquet(s"$root/k=1-x")
    sameSchema(Parquet.read(spark, root), root)
    assert(Parquet.read(spark, root).columns.toSeq == Seq("a", "b", "k"))
  }

  test("a data file that also holds its partition column reads as Spark infers it") {
    val root = tmp("pq_partcol")
    Seq((1L, 7L)).toDF("k", "p").write.parquet(s"$root/p=7")
    sameSchema(Parquet.read(spark, root), root)
  }

  test("every VersionedTable version reads with the schema Spark infers") {
    val root = tmp("pq_vt")
    VersionedTable.commit((0L until 5L).toDF("k"), root, overwrite = true)
    val v0 = parquetFiles(root)
    VersionedTable.commit((5L until 9L).toDF("k").withColumn("s", lit("y")), root,
      overwrite = true)
    val v1 = parquetFiles(root).diff(v0)
    sameSchema(VersionedTable.read(spark, root, Some(0L)), v0: _*)
    sameSchema(VersionedTable.read(spark, root, Some(1L)), v1: _*)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("k", "s"))
  }

  test("a missing path and an empty directory fail as spark.read.parquet does") {
    val missing = s"${tmp("pq_missing")}/nothing"
    val empty = tmp("pq_empty")
    new java.io.File(s"$empty/_SUCCESS").createNewFile()
    for (p <- Seq(missing, empty)) {
      val ours = intercept[Exception](Parquet.read(spark, p))
      val theirs = intercept[Exception](spark.read.parquet(p))
      assert(ours.getClass == theirs.getClass && ours.getMessage == theirs.getMessage, p)
    }
  }

  test("opening tables starts no Spark job") {
    val table = tmp("pq_jobs")
    new DelIns.Warehouse(spark, table, Seq("p"))
      .loadBatch((0L until 20L).toDF("k").withColumn("p", col("k") % 4))
    val vt = tmp("pq_jobs_vt")
    VersionedTable.commit((0L until 5L).toDF("k"), vt, overwrite = true)
    val file = parquetFiles(table).head
    assert(jobs(spark.read.parquet(table)) > 0, "the listener must see inference jobs")
    assert(jobs {
      tables.foreach(Tables.load(spark, sfDir, _))
      new DelIns.Warehouse(spark, table, Seq("p")).read()
      VersionedTable.read(spark, vt)
      Parquet.read(spark, file)
    } == 0)
  }

  test("src/main reads parquet only through Parquet.read") {
    val hits = graft.SourceScan.hits(
      raw"\.read(\s*\.\w+\([^()]*\))*\s*\.parquet\(".r, "graft/sources/Parquet.scala")
    assert(hits.isEmpty, hits.mkString("parquet reads outside graft.sources.Parquet:\n", "\n", ""))
  }
}
