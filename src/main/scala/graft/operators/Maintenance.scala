package graft.operators

import graft.core.{Batch, BatchId, BatchWindow, Pins}
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maintenance/ops operators (D6–D8, S6).
  *
  * - D6 truncate: the reference's testnet reset truncates all tables
  *   (reference dags/stellar_etl_airflow/build_delete_data_for_reset_task.py:8-30,
  *   dataset_reset_dag.py:53-272).
  * - D7 batch-stats audit: every run appends one row per table to
  *   history_archives_dag_runs (reference
  *   dags/stellar_etl_airflow/build_batch_stats.py:9-43) — the run ledger
  *   that makes gap/overlap reconciliation possible.
  * - D8 daily sandbox increment: INSERT INTO sandbox SELECT ... WHERE
  *   date_trunc(day) = X (reference dags/queries/update_table.sql:1-4).
  * - S6 file sensor: pick the newest partner file for a prefix (reference
  *   dags/partner_pipeline_dag.py:47-55 picks the latest blob by updated ts).
  */
object Maintenance {

  /** D6: truncate a parquet table in place, preserving its schema. */
  def truncate(spark: SparkSession, path: String): Unit = {
    val schema = Parquet.read(spark, path).schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .write.mode("overwrite").parquet(path)
  }

  val runStatsSchema: StructType = StructType(Seq(
    StructField("batch_id", StringType),
    StructField("batch_run_date", TimestampNTZType),
    StructField("start_ledger", LongType),
    StructField("end_ledger", LongType),
    StructField("table_name", StringType),
    StructField("batch_insert_ts", TimestampType)))

  /** D7: append one audit row for a completed batch load. */
  def appendRunStats(spark: SparkSession, statsPath: String,
                     id: BatchId, w: BatchWindow,
                     startLedger: Long, endLedger: Long, table: String): Unit = {
    import java.time.Instant
    val row = Row(id.value, Batch.naiveRunDate(w),
      startLedger, endLedger, table, Instant.now())
    Pins.local(spark, Seq(row), runStatsSchema)
      .write.mode("append").parquet(statsPath)
  }

  /** D8: one day's increment of a source table (append the result to the
    * sandbox copy; the filter prunes to a single day partition).
    */
  def dailyIncrement(src: DataFrame, tsCol: String, day: String): DataFrame =
    src.filter(to_date(col(tsCol)) === lit(day).cast("date"))

  /** Estimated input bytes of `df`'s plan — the "bytes billed" a
    * warehouse would charge, computed from FILE METADATA ONLY (the
    * physical plan's file listings, AFTER partition pruning and before
    * any task runs). Non-file leaves (in-memory relations, ranges)
    * estimate 0, like a warehouse's cached/metadata reads.
    */
  def estimateScanBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val main = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.totalFileSize
    }.sum
    // a scalar/IN subquery's scan is billed too — the dominant cost of a
    // guarded plan can live entirely inside one. At this stage subquery
    // expressions still hold LOGICAL plans (PlanSubqueries runs in
    // execution prep), so they are estimated from their file indexes:
    // partition-pruning-free, i.e. conservatively the whole table — a
    // cost CAP may overbill, never underbill
    val subs = df.queryExecution.sparkPlan
      .flatMap(_.expressions)
      .flatMap(_.collect { case pe: PlanExpression[_] => pe.plan })
      .collect { case lp: LogicalPlan =>
        lp.collectWithSubqueries {
          case l: LogicalRelation => l.relation match {
            case fs: HadoopFsRelation => fs.location.sizeInBytes
            case _ => 0L
          }
        }.sum
      }.sum
    main + subs
  }

  /** Cost guardrail (the reference caps bytes billed per dbt job —
    * reference airflow_variables_prod.json:120 `dbt_maximum_bytes_billed`,
    * SURVEY §4): refuse a plan whose estimated input exceeds `maxBytes`
    * BEFORE anything executes. The estimate is listing-only, so an
    * over-budget query costs a metadata walk, not a scan; partition
    * pruning is already applied, so a well-filtered query over a huge
    * table passes on what it actually reads. Returns `df` unchanged when
    * within budget (compose at submit time: `enforceScanBudget(q, cap)`).
    */
  def enforceScanBudget(df: DataFrame, maxBytes: Long): DataFrame = {
    require(maxBytes >= 0, s"scan budget must be >= 0, got $maxBytes")
    val est = estimateScanBytes(df)
    require(est <= maxBytes,
      s"scan budget exceeded: plan would read ~$est input bytes, over the " +
        s"$maxBytes-byte budget — refused before execution " +
        "(dbt_maximum_bytes_billed analog)")
    df
  }

  /** Small-file compaction: rewrite a table (or one partition's) directory
    * into `n` files. Ten-minute micro-batches each appending a handful of
    * files is the reference's layout; at cluster scale the accumulated
    * small files dominate scan planning and NameNode/listing cost, so a
    * periodic partition-scoped compact is part of the maintenance surface.
    * Writes to a sibling tmp dir and swaps by renaming the OLD dir aside
    * first — the read never overlaps the overwrite, and at no point is
    * the data deletable-only: a crash mid-swap leaves either the original
    * (as `...__compact_old`) or the compacted copy on disk, never neither.
    */
  /** [[compact]] that also CO-CLUSTERS while it rewrites (the OPTIMIZE ..
    * ZORDER BY analog): files come out range-contiguous on `key` — e.g. a
    * [[DataSkipping.zValue]] interleave — so the same maintenance pass
    * that fixes small files also tightens every file's min/max envelope
    * for manifest/row-group pruning. Identical crash-safety path.
    */
  def compactClustered(spark: SparkSession, path: String, n: Int,
                       key: org.apache.spark.sql.Column): Unit =
    compactImpl(spark, path, n, Some(key))

  def compact(spark: SparkSession, path: String, n: Int): Unit =
    compactImpl(spark, path, n, None)

  private def compactImpl(spark: SparkSession, path: String, n: Int,
                          clusterKey: Option[org.apache.spark.sql.Column]): Unit = {
    require(n >= 1, s"compact needs n >= 1 files, got $n")
    // normalize: a trailing slash would root the tmp/old siblings INSIDE
    // the table dir, turning the swap into self-destruction
    val norm = path.replaceAll("/+$", "")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(norm), spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(norm + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(norm + "__compact_old")
    val dst0 = new org.apache.hadoop.fs.Path(norm)
    // crash recovery FIRST (before the guard's listing and the cleanup): a
    // prior run that died between its two swap renames left the data only
    // in __compact_old — restore it, or the cleanup below would delete the
    // last surviving copy and the guard would choke on the missing dir
    if (!fs.exists(dst0) && fs.exists(old) && !fs.rename(old, dst0))
      sys.error(s"compact: could not restore $old to $dst0 after a prior crash")
    // refuse a partitioned table ROOT: rewriting it unpartitioned would
    // flatten `p=.../` directories into plain columns and lose pruning —
    // compact runs per leaf (partition) directory, like retention does
    val hasPartitionDirs = fs.listStatus(dst0)
      .exists(st => st.isDirectory && st.getPath.getName.contains("="))
    require(!hasPartitionDirs,
      s"compact targets a leaf/partition dir; $norm has partition subdirs — compact each")
    fs.delete(tmp, true); fs.delete(old, true)
    val src = Parquet.read(spark, norm)
    val shaped = clusterKey match {
      case Some(k) =>
        src.withColumn("__ck", k)
          .repartitionByRange(n, org.apache.spark.sql.functions.col("__ck"))
          .sortWithinPartitions(org.apache.spark.sql.functions.col("__ck"))
          .drop("__ck")
      case None => src.repartition(n)
    }
    shaped.write.mode("overwrite").parquet(tmp.toString)
    val dst = new org.apache.hadoop.fs.Path(norm)
    if (!fs.rename(dst, old))
      sys.error(s"compact: could not move $dst aside to $old")
    if (!fs.rename(tmp, dst)) {
      fs.rename(old, dst) // restore — the original is still intact
      sys.error(s"compact: rename $tmp -> $dst failed; original restored")
    }
    fs.delete(old, true)
  }

  /** S6: newest file under `dir` whose name starts with `prefix`
    * (None when absent — the sensor's "not yet arrived" state).
    */
  def latestFileByPrefix(spark: SparkSession, dir: String, prefix: String): Option[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) return None
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
      .sortBy(st => (st.getModificationTime, st.getPath.getName))
      .lastOption.map(_.getPath.toString)
  }
}
