package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental mart refresh: observational equivalence to full recompute,
  * and the partition-isolation property that makes it cheap at scale. */
class IncrementalMartSpec extends SparkSpec {

  private def ev = graft.sources.Tables.load(spark, sfDir, "events")

  private val martFn: DataFrame => DataFrame = f =>
    f.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))

  private def canon(df: DataFrame): Set[String] =
    df.select("day", "event_type", "n", "value_sum")
      .collect().map(_.mkString("|")).toSet

  test("refresh(seed+batch) == full recompute over the whole fact") {
    val mart = graft.core.Scratch.dir("incmart_spec", sfDir)
    val cut = lit("2024-01-20").cast("date")
    val seed = ev.filter(to_date(col("ts")) < cut)
    val batch = ev.filter(to_date(col("ts")) >= cut)
    IncrementalMart.full(seed, mart, martFn)
    IncrementalMart.refresh(spark, seed.unionByName(batch), mart, batch, "ts", martFn)
    assert(canon(spark.read.parquet(mart)) == canon(martFn(ev)))
  }

  test("refresh rewrites ONLY the batch's partitions") {
    val mart = graft.core.Scratch.dir("incmart_iso", sfDir)
    val cut = lit("2024-01-20").cast("date")
    val seed = ev.filter(to_date(col("ts")) < cut)
    val batch = ev.filter(to_date(col("ts")) >= cut)
    IncrementalMart.full(seed, mart, martFn)
    val dir = new java.io.File(mart)
    def partFiles(): Map[String, Set[String]] =
      dir.listFiles().filter(f => f.isDirectory && f.getName.startsWith("p_day="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = partFiles()
    IncrementalMart.refresh(spark, seed.unionByName(batch), mart, batch, "ts", martFn)
    val after = partFiles()
    val batchDays = batch.select(to_date(col("ts")).cast("string")).distinct()
      .collect().map(r => s"p_day=${r.getString(0)}").toSet
    // untouched day directories keep their exact files; new days appear
    before.keys.filterNot(batchDays).foreach { d =>
      assert(after(d) == before(d), s"untouched partition $d was rewritten")
    }
    assert(batchDays.subsetOf(after.keySet))
  }

  test("refresh stages one file per touched day, pins nothing and leaves " +
      "no staging dir; a crashed one is never read") {
    val mart = graft.core.Scratch.dir("incmart_staged", sfDir)
    // a row-level mart: no shuffle of its own, so each of the fact's 4
    // input splits would write its own file into every day it holds
    val rows: DataFrame => DataFrame =
      _.select(to_date(col("ts")).as("day"), col("event_id"), col("value"))
    val cut = lit("2024-01-20").cast("date")
    val seed = ev.filter(to_date(col("ts")) < cut)
    val batch = ev.filter(to_date(col("ts")) >= cut)
    IncrementalMart.full(seed, mart, rows)
    // the staging dir of a refresh that crashed before its swap
    rows(batch).withColumn("value", lit(-1.0)).withColumn("p_day", col("day"))
      .write.partitionBy("p_day").parquet(s"$mart/${DelIns.StagingPrefix}crashed")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    IncrementalMart.refresh(spark, seed.unionByName(batch).repartition(4), mart,
      batch.repartition(4), "ts", rows)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(pinned),
      "the refresh must not leave a persisted RDD behind")
    val batchDays = batch.select(to_date(col("ts")).cast("string")).distinct()
      .collect().map(r => s"p_day=${r.getString(0)}").toSeq
    assert(batchDays.nonEmpty)
    batchDays.foreach { d =>
      val files = new java.io.File(s"$mart/$d").listFiles().map(_.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      assert(files.length == 1, s"$d: one data file per touched day, got ${files.toSeq}")
    }
    val staging = new java.io.File(mart).listFiles().map(_.getName)
      .filter(_.startsWith(DelIns.StagingPrefix)).toSet
    assert(staging.isEmpty, s"staging dirs left, the crashed one included: $staging")
    val stored = spark.read.parquet(mart).select("day", "event_id", "value")
    assert(stored.exceptAll(rows(ev)).isEmpty && rows(ev).exceptAll(stored).isEmpty,
      "the mart must equal the full recompute, without the crashed staging rows")
  }

  test("a touched day that recomputes to ZERO mart rows drops its " +
      "partition — dynamic overwrite alone would leave it stale") {
    import spark.implicits._
    val mart = graft.core.Scratch.dir("incmart_empty", sfDir)
    // row-reducing mart: only positive amounts survive
    val fn: DataFrame => DataFrame = f =>
      f.filter(col("amount") > 0)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("amount")).as("total"))
    val mk = (d: String, amt: Long) =>
      (java.sql.Timestamp.valueOf(s"$d 10:00:00"), amt)
    val seed = Seq(mk("2024-01-01", 5L), mk("2024-01-02", 7L))
      .toDF("ts", "amount")
    IncrementalMart.full(seed, mart, fn)
    assert(spark.read.parquet(mart).count() == 2)
    // the del-ins reload of Jan 2 zeroed its amounts: the recompute
    // yields no mart row for that day, so the stale partition must go
    val reloaded = Seq(mk("2024-01-01", 5L), mk("2024-01-02", -3L))
      .toDF("ts", "amount")
    val batch = Seq(mk("2024-01-02", -3L)).toDF("ts", "amount")
    IncrementalMart.refresh(spark, reloaded, mart, batch, "ts", fn)
    val got = spark.read.parquet(mart)
      .select(col("day").cast("string"), col("total"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("2024-01-01", 5L)),
      s"stale Jan-2 partition must be dropped: $got")
    val stored = spark.read.parquet(mart).select("day", "total")
    val recomputed = fn(reloaded).select("day", "total")
    assert(stored.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(stored).isEmpty,
      "stored mart must equal the full recompute")
  }
}
