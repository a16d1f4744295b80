package graft.operators

import graft.sources.Parquet
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Idempotent del-ins batch loads (D1/D5) — the heart of the reference.
  *
  * Every load is retry-safe because it first deletes any rows carrying the
  * same (batch_run_date, batch_id) and then appends the batch (reference
  * dags/stellar_etl_airflow/build_del_ins_from_gcs_to_bq_task.py:79-203;
  * standalone delete build_delete_data_task.py:9-41, whose comment notes the
  * predicate deliberately hits the partition column so the delete prunes).
  *
  * Two layers:
  *  - [[delIns]]: the pure semantics (DataFrame -> DataFrame), used by the
  *    oracle-checked queries and property tests.
  *  - [[Warehouse]]: a partitioned-parquet materialization where a batch
  *    maps onto a partition directory, so del-ins becomes dynamic partition
  *    overwrite — no read-modify-write of the whole table, which is the only
  *    version that survives 100 TB.
  */
object DelIns {

  /** Pure del-ins: drop target rows matching the batch key, append batch. */
  def delIns(target: DataFrame, batch: DataFrame, batchKeys: Seq[String]): DataFrame = {
    val keyed = batch.select(batchKeys.map(col): _*).distinct()
    target.join(keyed, batchKeys, "left_anti")
      .unionByName(batch.select(target.columns.map(col).toSeq: _*))
  }

  /** Names a staging directory: Spark's file index skips `_`-prefixed
    * names, so a reader of the table never sees one. */
  private[operators] val StagingPrefix = "_staging-"

  /** Replace partitions of the partitioned parquet table at `path` with
    * the rows of `df`, which carries `partitionCols` — the one commit of
    * the writers that READ what they replace: the state merge
    * ([[Warehouse.mergePartitioned]]), the mart refresh
    * ([[IncrementalMart.refresh]]) and the sketch-mart merge
    * ([[SketchMart.mergeDaily]]).
    *
    *  1. `df` is written once under `<path>/_staging-<uuid>`, clustered by
    *     the partition columns: a rebalance on them lets AQE write one
    *     file per partition at small scale and split a partition by its
    *     advisory size at large scale. No reader sees a staging
    *     directory ([[StagingPrefix]]), and one a crash left behind is
    *     deleted first.
    *  2. The live files stay untouched until that job has committed, so a
    *     retried task re-reads the pre-merge rows; nothing has to cut the
    *     lineage first.
    *  3. The written partitions come from a listing of the staging
    *     directory, not from a Spark job. Each of them, and each partition
    *     of `touched` (values in `partitionCols` order), is swapped: the
    *     live directory is deleted and the staged one, if any, renamed in.
    *     A touched partition the result has no rows for (all tombstoned, or
    *     a row-reducing mart) stays deleted.
    *
    * Between one partition's delete and its rename the partition is
    * absent, the same window as Spark's dynamic partition overwrite.
    *
    * One writer per table: the caller must not run two replaces (or a
    * replace and any other write) on `path` at once. That contract is
    * what lets a replace first delete every `_staging-*` directory it
    * finds: with no other writer, each one is the leftover of a replace
    * that crashed before its swap, never read and otherwise never freed.
    */
  private[operators] def stagedReplace(df: DataFrame, path: String,
                                       partitionCols: Seq[String],
                                       touched: Seq[Row]): Unit = {
    val fs = FileSystem.get(new java.net.URI(path),
      df.sparkSession.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    if (fs.exists(root))
      fs.listStatus(root).filter(_.getPath.getName.startsWith(StagingPrefix))
        .foreach(s => fs.delete(s.getPath, true))
    val staging = new Path(root, StagingPrefix + java.util.UUID.randomUUID())
    df.hint("rebalance", partitionCols.map(col): _*)
      .write.partitionBy(partitionCols: _*).parquet(staging.toString)
    def written(dir: Path, rel: String, depth: Int): Seq[String] =
      if (depth == 0) Seq(rel)
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { s =>
          val name = s.getPath.getName
          written(s.getPath, if (rel.isEmpty) name else s"$rel/$name", depth - 1)
        }
    val staged = written(staging, "", partitionCols.size).toSet
    // directory names must use Spark's own partition-path escaping —
    // URL/form encoding diverges (space -> '+', unescaped unicode) — and
    // a null value must render as its __HIVE_DEFAULT_PARTITION__
    // directory (String.valueOf would render "null"), or the doomed
    // directory would be silently missed
    val touchedDirs = touched.map(r => partitionCols.zipWithIndex.map { case (c, i) =>
      ExternalCatalogUtils.getPartitionPathString(c, Option(r.get(i)).map(_.toString).orNull)
    }.mkString("/"))
    (staged ++ touchedDirs).foreach { rel =>
      val live = new Path(path, rel)
      fs.delete(live, true)
      if (staged.contains(rel)) {
        fs.mkdirs(live.getParent)
        if (!fs.rename(new Path(staging, rel), live))
          sys.error(s"stagedReplace: could not move staged $rel into $path")
      }
    }
    fs.delete(staging, true)
  }

  /** Partitioned warehouse table rooted at `path`, partitioned by
    * `partitionCols` (the derived month/day column of SURVEY §1.3 plus
    * batch_id). Loading a batch = dynamic partition overwrite of exactly the
    * batch's partitions: Spark only rewrites directories the batch touches.
    */
  final class Warehouse(spark: SparkSession, path: String, partitionCols: Seq[String]) {

    /** Dynamic partition-overwrite is requested PER WRITE (the writer
      * option takes precedence over the session conf) — setting it
      * session-wide would leak: a later whole-table overwrite elsewhere
      * (an IVF index rebuild, a truncate-replace) would silently become a
      * partial one and leave stale partitions behind, and streaming's
      * per-query session clones wouldn't reliably observe a mutated conf.
      */
    def loadBatch(batch: DataFrame): Unit = {
      // without partition columns "dynamic overwrite" has no partitions
      // to scope to and silently becomes a WHOLE-TABLE overwrite — each
      // batch would erase all previous batches
      require(partitionCols.nonEmpty,
        "loadBatch needs a partitioned table (del-ins scopes the " +
          "overwrite to the batch's partitions)")
      batch.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*)
        .parquet(path)
    }

    def read(): DataFrame = Parquet.read(spark, path)

    /** D2/D3 merge against storage that touches ONLY partitions holding
      * affected keys (the reference's MERGE is transactional in the
      * warehouse, reference
      * dags/stellar_etl_airflow/build_apply_gcs_changes_to_bq_task.py:116-149;
      * on partitioned parquet the analog is read-merge-replace scoped to
      * the key-derived partitions).
      *
      * Contract: the source rows carry the table's partition columns,
      * derived from the merge key by the same rule as the stored data — so
      * a key lives in exactly one partition and the merge needs to read
      * nothing else. The scan of untouched partitions is pruned at the
      * file listing (MergeSpecTest asserts the scan's partition count),
      * and [[stagedReplace]] swaps only the affected directories; a
      * partition whose rows were ALL tombstoned produces no output rows,
      * so its directory is dropped.
      */
    def mergePartitioned(source: DataFrame, spec: MergeSpec): Unit = {
      require(partitionCols.nonEmpty, "mergePartitioned needs a partitioned table")
      val affected = source.select(partitionCols.map(col): _*).distinct().collect().toSeq
      if (affected.isEmpty) return
      val prune = affected.map { r =>
        partitionCols.zipWithIndex
          // null-safe equality: `===` on a null partition value is null,
          // so the prune would read ZERO target rows of the null
          // partition while the replace still swaps its directory —
          // silently deleting every unmerged key in it
          .map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _)
      stagedReplace(MergeOps.merge(read().filter(prune), source, spec),
        path, partitionCols, affected)
    }

    /** D5/K7 retention: drop partitions older than the cutoff — a metadata
      * listing plus directory deletes, never a data rewrite (the reference's
      * 450-day partition expiry, reference dags/queries/create_table.sql:1-9).
      */
    /** The shared expired-directory listing: decode with SPARK'S OWN
      * partition-path unescaping, not URL/form decoding — URLDecoder
      * turns a literal '+' (which Spark's escapePathName does NOT
      * escape, e.g. a tz-suffixed timestamp value) into a space and
      * silently moves the value across the cutoff comparison. */
    private def expiredDirs(fs: org.apache.hadoop.fs.FileSystem,
                            cutoff: String, partitionCol: String)
    : Seq[org.apache.hadoop.fs.FileStatus] = {
      val root = new org.apache.hadoop.fs.Path(path)
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(_.isDirectory)
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith(s"$partitionCol=") &&
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(n.stripPrefix(s"$partitionCol=")) < cutoff
        }
    }

    def expirePartitions(cutoff: String, partitionCol: String): Seq[String] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      val dropped = expiredDirs(fs, cutoff, partitionCol)
      dropped.foreach { st =>
        if (!fs.delete(st.getPath, true) && fs.exists(st.getPath))
          sys.error(s"expirePartitions: could not delete ${st.getPath}")
      }
      dropped.map(_.getPath.getName)
    }

    /** Retention with ARCHIVAL: expired partitions move to a cold-tier
      * root (the GCS archive-class lifecycle analog) instead of being
      * deleted — directory renames, never a data rewrite. An archived
      * partition that already exists cold (a retried run) is replaced,
      * keeping the move idempotent. Restore is the same rename back.
      */
    def archivePartitions(cutoff: String, partitionCol: String,
                          archiveRoot: String): Seq[String] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      val moved = expiredDirs(fs, cutoff, partitionCol)
      if (moved.isEmpty) return Seq.empty
      val cold = new org.apache.hadoop.fs.Path(archiveRoot)
      fs.mkdirs(cold)
      moved.foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(cold, st.getPath.getName)
        fs.delete(dst, true)
        if (!fs.rename(st.getPath, dst))
          sys.error(s"archive: could not move ${st.getPath} to $dst")
      }
      moved.map(_.getPath.getName)
    }
  }
}
