package graft.sinks

import graft.sources.Parquet
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based versioned table: snapshot isolation, time travel, and
  * METADATA-ONLY clones over plain parquet — the semantics of the
  * reference's `CLONE ... FOR SYSTEM_TIME AS OF` staging refresh
  * (reference dags/dag_stellar_dbt_staging_refresh.py:84-88) without a
  * table-format dependency (the image ships no Delta/Iceberg).
  *
  * Layout: immutable data files under `root/data/<uuid>/part-*.parquet`;
  * each commit writes `root/_manifests/v<N>.manifest` — a newline list of
  * the file paths (relative to root) that ARE version N. Readers resolve
  * one manifest and scan exactly its files; writers never mutate a data
  * file, so every historical version stays readable until an explicit
  * vacuum. The manifest write is the commit point (tmp + atomic rename on
  * the local/HDFS-style filesystems this targets): a crash before the
  * rename leaves the previous version current and some orphaned data
  * files — never a torn table.
  *
  * Clone = write the target's v0 manifest pointing at the SOURCE's data
  * files, qualified absolute — zero bytes of data move, exactly the
  * metadata-only CLONE the reference's staging refresh relies on being
  * cheap. Clones are snapshots: later source commits append new files,
  * never touch old ones, so the clone keeps reading its frozen file set.
  *
  * At 100 TB: commits add one small manifest write per batch; reads list
  * one manifest instead of a recursive directory walk (cheaper than
  * plain parquet dirs, the same trick table formats use); time travel
  * and rollback are manifest pointer moves.
  */
object VersionedTable {

  private def fs(spark: SparkSession, root: String): FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")

  private def versions(f: FileSystem, root: String): Seq[Long] =
    if (!f.exists(manifestDir(root))) Seq.empty
    else f.listStatus(manifestDir(root)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .sorted

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(fs(spark, root), root).lastOption

  /** Manifest terminator, written LAST. The no-hardlink CREATE_NEW
    * fallback in [[publishNoReplace]] writes the final name in place, so
    * a concurrent reader can observe a partially-flushed manifest whose
    * prefix is complete lines — without a completeness mark it would
    * pass a non-empty check and silently act on a TRUNCATED file set
    * (worse: a concurrent commit reading prev mid-write would carry the
    * truncated set forward, permanently dropping live files). Requiring
    * the terminator turns every torn read into a retryable error. */
  private val Terminator = "#end"

  /** Parsed-manifest cache keyed on (qualified path, mtime, length).
    * Manifests are WRITE-ONCE — [[publishNoReplace]] fences the final
    * name, so a matching (mtime, length) proves the bytes are the ones
    * parsed before — and multi-commit callers (streaming drains, the
    * dataset refresh, OPTIMIZE/vacuum chains) re-read the newest manifest
    * once per operation: the cache turns each re-read into one stat call
    * instead of an open+read+parse of a file that grows with the live
    * file count and the txn ledger. Only terminator-COMPLETE manifests
    * are cached (the legacy/torn classification below must re-run until
    * the manifest is complete or superseded). Bounded LRU, synchronized:
    * commits may run from foreachBatch and query threads concurrently. */
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long, Long), Seq[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Seq[String]]): Boolean =
        size() > 256
    }

  private def manifestLines(f: FileSystem, root: String, v: Long): Seq[String] = {
    val p = new Path(manifestDir(root), s"v$v.manifest")
    val st = f.getFileStatus(p)
    val key = (f.makeQualified(p).toString, st.getModificationTime, st.getLen)
    manifestCache.synchronized(Option(manifestCache.get(key))) match {
      case Some(hit) => hit
      case None =>
        // On checksummed filesystems (file:// is ChecksumFileSystem) this
        // open VERIFIES the .crc sidecar as it reads: a corrupted
        // manifest throws a ChecksumException here instead of parsing.
        val in = f.open(p)
        val ls =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
          finally in.close()
        if (ls.lastOption.contains(Terminator)) {
          val body = ls.init
          manifestCache.synchronized(manifestCache.put(key, body))
          body
        } else {
          // No terminator: either a legacy manifest (written before the
          // terminator format existed — must stay readable) or a torn
          // CREATE_NEW-fallback write (in flight, or permanently torn by
          // a writer that died hard mid-write). Only SOUND evidence
          // distinguishes them — never mtime age, which mis-classifies a
          // hard-crashed torn write as legacy once it ages (silent file
          // loss) and mis-ages mid-write manifests under clock skew:
          //   - a manifest a LATER version supersedes cannot be mid-write
          //     or torn (its successor's commit read it complete);
          //   - a VERIFIED checksum sidecar proves the write completed —
          //     both write paths produce the sidecar only after the full
          //     content is out (f.create writes it with the content;
          //     carrySidecar copies it after the fallback's write+close),
          //     and the open above already verified the bytes against it.
          // A terminator-less manifest with neither stays a loud
          // retryable error forever — the pre-terminator backlog without
          // sidecars needs an explicit one-shot migration (append the
          // terminator), not an inference that can also admit torn files.
          val superseded = versions(f, root).lastOption.exists(_ > v)
          val checksummed = f match {
            case cf: org.apache.hadoop.fs.ChecksumFileSystem =>
              cf.getRawFileSystem.exists(cf.getChecksumFile(p))
            case _ => false
          }
          if (superseded || checksummed) ls
          else sys.error(s"VersionedTable: manifest v$v of $root is " +
            "incomplete (no terminator line, no verified checksum " +
            "sidecar, not superseded) — a concurrent publish may be " +
            "mid-write; retry. A legacy pre-terminator manifest reads " +
            "fine once superseded or via its checksum sidecar; one with " +
            "neither needs a one-shot migration that appends the " +
            "terminator after a human confirms the file set")
        }
    }
  }

  // '#'-prefixed lines are metadata (the txn ledger); the rest are files
  private def readManifest(f: FileSystem, root: String, v: Long): Seq[String] =
    manifestLines(f, root, v).filterNot(_.startsWith("#"))

  /** The FULL txn ledger recorded in one manifest. Every commit carries
    * the whole set forward (plus its own id), so the newest manifest
    * alone answers "was this txn already committed?" — an O(1) check per
    * commit instead of a walk over history, and vacuum can drop old
    * manifests without losing the replay protection exactly-once needs.
    */
  private def manifestTxns(f: FileSystem, root: String, v: Long): Seq[String] =
    manifestLines(f, root, v).collect {
      case l if l.startsWith("#txn:") => l.stripPrefix("#txn:") }

  /** Publish `tmp` as `fin` atomically, FAILING (returning false) if
    * `fin` already exists — the fencing primitive the commit protocol
    * rests on. Plain rename is NOT that primitive on local filesystems
    * (File.renameTo silently overwrites an existing destination), so on
    * file:// the publish is a hard LINK — link(2) is atomic and fails
    * with EEXIST — with the tmp unlinked after; on HDFS-like stores,
    * FileSystem.rename already refuses an existing destination. */
  private def publishNoReplace(f: FileSystem, tmp: Path, fin: Path): Boolean =
    if (f.getUri.getScheme == null || f.getUri.getScheme == "file") {
      val src = java.nio.file.Paths.get(tmp.toUri.getPath)
      val dst = java.nio.file.Paths.get(fin.toUri.getPath)
      // carry the ChecksumFileSystem sidecar (.name.crc) to the final
      // name so the published manifest keeps its checksum — best-effort:
      // a missing sidecar merely skips verification on read
      def carrySidecar(): Unit = {
        val sc = src.resolveSibling("." + src.getFileName.toString + ".crc")
        val dc = dst.resolveSibling("." + dst.getFileName.toString + ".crc")
        if (java.nio.file.Files.exists(sc))
          try { java.nio.file.Files.copy(sc, dc); () }
          catch { case _: java.io.IOException => () }
      }
      try {
        java.nio.file.Files.createLink(dst, src)
        carrySidecar()
        f.delete(tmp, false) // Hadoop delete drops the checksum sidecar too
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          // no hard-link support on this mount (some NFS/CIFS/FAT):
          // fall back to an O_EXCL create-and-write of the FINAL name.
          // Same at-most-one-winner fence (CREATE_NEW fails with EEXIST);
          // the one concession is that a concurrent reader can
          // transiently observe a short manifest — which the terminator
          // check in manifestLines turns into a retryable error (the
          // last line is written last, so ANY truncated prefix lacks
          // it) — never a torn table or a lost update.
          try {
            val out = java.nio.file.Files.newOutputStream(dst,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            // a mid-write failure (disk full, I/O error) must not leave
            // a TORN final manifest permanently blocking this version:
            // unwind the created name before rethrowing
            try { try out.write(java.nio.file.Files.readAllBytes(src))
                  finally out.close() }
            catch { case e: Throwable =>
              java.nio.file.Files.deleteIfExists(dst); throw e }
            carrySidecar()
            f.delete(tmp, false)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
      }
    } else f.rename(tmp, fin)

  private def writeManifest(f: FileSystem, root: String, v: Long,
                            files: Seq[String], txns: Seq[String] = Seq.empty): Unit = {
    f.mkdirs(manifestDir(root))
    // Version claim, advisory half: createNewFile is O_EXCL on local and
    // create-no-overwrite on HDFS, so of two concurrent commits both
    // reading prev = N exactly one claims v and the loser fails fast
    // BEFORE writing a manifest. The claim alone is not the safety
    // argument — see the publish below. Claim markers are dot-files the
    // version listing ignores.
    val claim = new Path(manifestDir(root), s".v$v.claim")
    val fin = new Path(manifestDir(root), s"v$v.manifest")
    if (!f.createNewFile(claim)) {
      // crash recovery: a committer that died between claim and publish
      // leaves an orphan claim that would block v forever. A claim with
      // NO manifest after a 60s grace period is treated as such an
      // orphan — break it and re-race the claim (two recoverers both
      // deleting is idempotent; createNewFile picks one winner). A LIVE
      // committer inside the grace window still errors out here. If the
      // grace call is ever WRONG — a live committer paused past 60s, or
      // clock skew on a remote mount mis-ages the claim — the breaker
      // cannot cause a lost update: both writers proceed to the
      // no-replace publish and exactly one lands; the other errors.
      val stale = !f.exists(fin) &&
        scala.util.Try(f.getFileStatus(claim).getModificationTime)
          .toOption.exists(_ < System.currentTimeMillis() - 60000L)
      if (stale) f.delete(claim, false)
      if (!stale || !f.createNewFile(claim))
        sys.error(s"VersionedTable: version $v of $root already claimed " +
          "by a concurrent commit — re-read the latest version and retry")
    }
    // tmp is nonce-suffixed: after a broken claim, the stale committer
    // and the recoverer each write their OWN staging file rather than
    // corrupting a shared one mid-write
    val nonce = java.util.UUID.randomUUID().toString
    val tmp = new Path(manifestDir(root), s".v$v.manifest.tmp.$nonce")
    val out = f.create(tmp, true)
    val body = txns.map(t => s"#txn:$t\n").mkString +
      files.mkString("\n") + "\n" + Terminator + "\n"
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    // Publish, fencing half: atomic create-if-absent of the FINAL name.
    // Whatever the claim machinery concluded, at most one writer's
    // manifest can ever become v$v.manifest; a fenced-out writer (e.g.
    // one whose claim was broken while it was paused) errors here with
    // its staging file cleaned up, and the winner's manifest and txn
    // ledger are untouched.
    if (!publishNoReplace(f, tmp, fin)) {
      f.delete(tmp, false)
      sys.error(s"VersionedTable: version $v of $root was committed by a " +
        "concurrent writer — re-read the latest version and retry")
    }
  }

  /** One manifest read serving both halves: (live files, txn ledger). */
  private def manifestState(f: FileSystem, root: String,
                            v: Long): (Seq[String], Seq[String]) = {
    val ls = manifestLines(f, root, v)
    (ls.filterNot(_.startsWith("#")),
      ls.collect { case l if l.startsWith("#txn:") => l.stripPrefix("#txn:") })
  }

  /** Write `df`'s rows as new immutable data files; return their paths
    * (absolute). No manifest is written here — callers compose.
    */
  private def writeDataFiles(df: DataFrame, root: String): Seq[String] = {
    val spark = df.sparkSession
    val dir = new Path(new Path(root, "data"), java.util.UUID.randomUUID().toString)
    df.write.parquet(dir.toString)
    val f = fs(spark, root)
    f.listStatus(dir).toSeq.map(_.getPath.toString)
      .filter(p => p.endsWith(".parquet") || p.contains("part-"))
      .filterNot(_.endsWith("_SUCCESS"))
  }

  /** Commit `df` as the next version: `overwrite = true` replaces the
    * live file set, `false` appends to it. Returns the new version id.
    */
  def commit(df: DataFrame, root: String, overwrite: Boolean): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val prev = versions(f, root).lastOption
    val (prevFiles, prevTxns) = prev.map(manifestState(f, root, _))
      .getOrElse((Seq.empty[String], Seq.empty[String]))
    val newFiles = writeDataFiles(df, root)
    val live = if (overwrite) newFiles else prevFiles ++ newFiles
    val v = prev.map(_ + 1).getOrElse(0L)
    // the txn ledger rides through EVERY commit — a plain commit between
    // streaming batches must not erase the replay protection
    writeManifest(f, root, v, live, prevTxns)
    v
  }

  /** Idempotent commit for exactly-once streaming sinks: the txn id
    * (e.g. "checkpoint-name/batchId") rides IN the committed manifest,
    * so a replayed foreachBatch — same data, same txn — sees its id in
    * history and becomes a no-op instead of a duplicate append. The txn
    * check and the commit share the manifest rename as their atomicity
    * point: a crash before the rename leaves no txn recorded and the
    * retry commits cleanly. This is the transactional-writer pattern
    * table formats use for streaming exactly-once.
    */
  def commitBatch(df: DataFrame, root: String, overwrite: Boolean,
                  txnId: String): Long =
    commitBatchCore(df, root, overwrite, txnId, expectedPrev = None)

  /** [[commitBatch]] with an optimistic-concurrency precondition: the
    * commit only lands if the table's latest version still equals
    * `expected` (the version the caller READ its inputs at). A writer
    * whose read snapshot went stale — another commit landed in between —
    * errors out BEFORE writing, instead of committing a decision derived
    * from outdated state (the lost-update/double-emit shape). Replays of
    * an already-committed txn still no-op regardless of the precondition:
    * their rows are already in, whatever the table did since.
    *
    * The check alone has a read-then-claim window; it composes with the
    * claim+fence in [[writeManifest]] (two writers passing the same
    * precondition target the same version — exactly one publishes).
    */
  def commitBatchIf(df: DataFrame, root: String, overwrite: Boolean,
                    txnId: String, expected: Option[Long]): Long =
    commitBatchCore(df, root, overwrite, txnId, Some(expected))

  private def commitBatchCore(df: DataFrame, root: String, overwrite: Boolean,
                              txnId: String,
                              expectedPrev: Option[Option[Long]]): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val prev = versions(f, root).lastOption
    val (prevFiles, prevTxns) = prev.map(manifestState(f, root, _))
      .getOrElse((Seq.empty[String], Seq.empty[String]))
    if (prevTxns.contains(txnId)) prev.get // replay: committed, no-op
    else {
      expectedPrev.foreach { exp =>
        if (exp != prev) sys.error(
          s"VersionedTable: $root advanced from $exp to $prev since this " +
            "writer read it — re-read the latest version and retry")
      }
      val newFiles = writeDataFiles(df, root)
      val live = if (overwrite) newFiles else prevFiles ++ newFiles
      val v = prev.map(_ + 1).getOrElse(0L)
      writeManifest(f, root, v, live, prevTxns :+ txnId)
      v
    }
  }

  /** Drop history: keep the newest `keepLast` versions' manifests and
    * delete every data file under this root referenced by NO kept
    * manifest. Exactly-once survives vacuum — the full txn ledger rides
    * in every manifest, so the kept newest one still refutes any replay.
    * Like any shallow-clone format, a source with live clones must not
    * be vacuumed past the clone points — clones reference the source's
    * files by path.
    */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "must keep at least the current version")
    val f = fs(spark, root)
    val all = versions(f, root)
    val (drop, keep) = all.splitAt(math.max(all.length - keepLast, 0))
    val live = keep.flatMap(readManifest(f, root, _)).toSet
    val dataRoot = new Path(root, "data")
    if (f.exists(dataRoot)) {
      val it = f.listFiles(dataRoot, true)
      val doomed = scala.collection.mutable.ListBuffer.empty[Path]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !live.contains(st.getPath.toString) &&
          !st.getPath.getName.startsWith("_")) doomed += st.getPath
      }
      doomed.foreach(f.delete(_, false))
    }
    drop.foreach(v => f.delete(new Path(manifestDir(root), s"v$v.manifest"), false))
  }

  /** Read one version (default: latest). Scans exactly the manifest's
    * files — historical versions stay readable because data files are
    * immutable.
    */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val f = fs(spark, root)
    val v = version.orElse(versions(f, root).lastOption)
      .getOrElse(sys.error(s"VersionedTable: no versions at $root"))
    val files = readManifest(f, root, v)
    require(files.nonEmpty, s"VersionedTable: empty manifest $root v$v")
    Parquet.read(spark, files: _*)
  }

  /** METADATA-ONLY clone of `srcRoot` at `version` into `dstRoot`: the
    * clone's v0 manifest points at the source's immutable files — zero
    * data bytes copied, constant-time at any table size. Later commits
    * to the clone write their own files; later commits to the source
    * never mutate the referenced ones.
    */
  def cloneAt(spark: SparkSession, srcRoot: String, version: Long,
              dstRoot: String): Unit = {
    val srcFs = fs(spark, srcRoot)
    // the manifest write resolves against the DESTINATION's filesystem —
    // src and dst may live on different schemes
    writeManifest(fs(spark, dstRoot), dstRoot, 0L,
      readManifest(srcFs, srcRoot, version),
      // the txn ledger clones too: replaying a cloned stream checkpoint
      // against the clone must stay a no-op
      manifestTxns(srcFs, srcRoot, version))
  }

  /** Change data feed between two versions — CDC-PRODUCE, the complement
    * of the reference's apply-changes CDC consumption (reference
    * dags/stellar_etl_airflow/build_apply_gcs_changes_to_bq_task.py):
    * every row in a file added since `fromVersion` surfaces as an
    * `insert`, every row in a file dropped since then as a `delete`.
    * Because data files are immutable, the diff is a FILE-SET diff — the
    * feed reads only changed files, never the table; an append-only
    * history yields a pure insert feed sized by the delta.
    */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val f = fs(spark, root)
    val before = readManifest(f, root, fromVersion).toSet
    val after = readManifest(f, root, toVersion).toSet
    val added = (after -- before).toSeq.sorted
    val removed = (before -- after).toSeq.sorted
    def tagged(files: Seq[String], op: String): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(Parquet.read(spark, files: _*).withColumn("_change_type", lit(op)))
    (tagged(added, "insert"), tagged(removed, "delete")) match {
      case (Some(i), Some(d)) => i.unionByName(d)
      case (Some(i), None)    => i
      case (None, Some(d))    => d
      case (None, None) =>
        read(spark, root, Some(toVersion)).limit(0)
          .withColumn("_change_type", lit(""))
    }
  }

  /** DESCRIBE HISTORY analog: one row per version — the txn id THIS
    * version introduced (null for non-streaming commits; the ledger
    * itself accumulates, so "introduced" is the diff against the prior
    * version) and its live file count. Manifest-sized, never touches
    * data files.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, root)
    import spark.implicits._
    val vs = versions(f, root)
    val states = vs.map(v => v -> manifestState(f, root, v)).toMap
    vs.map { v =>
      // a commit appends its OWN txn as the ledger's last line, so the
      // version's txn is lastOption exactly when its ledger grew over
      // its predecessor's; for the oldest kept version after vacuum the
      // predecessor is gone — report None (unknown provenance) rather
      // than an arbitrary inherited txn (v0 is the exception: no
      // predecessor ever existed, so a non-empty ledger is its own)
      val cur = states(v)._2
      val own = vs.filter(_ < v).lastOption match {
        case Some(p) => if (cur.length > states(p)._2.length) cur.lastOption
                        else None
        case None => if (v == 0L) cur.lastOption else None
      }
      (v, own, states(v)._1.length.toLong)
    }.toDF("version", "txn_id", "n_files")
  }

  /** OPTIMIZE analog — compaction (and optional clustering) as a
    * metadata-only table operation: rewrite the CURRENT live rows as
    * `targetFiles` fresh immutable files, cluster-sorted when
    * `clusterBy` is given (range-partitioned + sorted within files — the
    * layout zone-map/min-max skipping prunes on, the OPTIMIZE ZORDER
    * use case; pass a [[graft.operators.DataSkipping.zValue]] column
    * through a projection first for true multi-dim interleaving), and
    * commit the rewritten set as a NEW version. History is untouched:
    * old versions keep reading the old files until [[vacuum]] reclaims
    * them, the txn ledger rides forward, and a crash mid-rewrite leaves
    * the previous version current. At 100 TB this is the nightly
    * small-file/clustering maintenance job every streaming-ingested
    * table needs — and because it is just another commit, it composes
    * with time travel, clones, CDF, and rollback for free.
    */
  def optimize(spark: SparkSession, root: String, targetFiles: Int,
               clusterBy: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.col
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val f = fs(spark, root)
    val prev = versions(f, root).lastOption
      .getOrElse(sys.error(s"VersionedTable: nothing to optimize at $root"))
    val cur = read(spark, root, Some(prev))
    val arranged =
      if (clusterBy.isEmpty) cur.repartition(targetFiles)
      else cur.repartitionByRange(targetFiles, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    val newFiles = writeDataFiles(arranged, root)
    val v = prev + 1
    writeManifest(f, root, v, newFiles, manifestTxns(f, root, prev))
    v
  }

  /** Dataset-level staging refresh — the reference's dbt staging-refresh
    * flow (reference dags/dag_stellar_dbt_staging_refresh.py:58-200):
    * enumerate every table in a source dataset, skip backup-named ones
    * (the reference's `_.*bkp_[0-9]{8}` exclusion), CREATE-OR-REPLACE a
    * METADATA-ONLY clone of each into the staging dataset under a suffix
    * rule, optionally `FOR SYSTEM_TIME AS OF` a cutoff (`:84-88`), and
    * re-register the given catalog views over their staging name.
    * Returns the reference script's outcome report: one (kind, name) row
    * per object — cloned_table / cloned_view / missing_table /
    * missing_view / missing_dataset.
    *
    * A "dataset" is a directory of [[VersionedTable]] roots (each child
    * dir with a `_manifests` dir is a table — the INFORMATION_SCHEMA
    * enumeration); views live in `spark.catalog`. The SYSTEM_TIME cutoff
    * resolves per table to the newest version whose manifest commit
    * mtime is <= `asOfMillis` — a table with no version that old reports
    * missing_table, mirroring the reference's exception leg. Each clone
    * is a manifest pointer write ([[cloneAt]]): zero data bytes move no
    * matter the table size, so refreshing an N-table dataset costs N
    * small file writes — the property the reference's staging DAG relies
    * on being cheap enough to run on every dbt PR.
    */
  def datasetRefresh(spark: SparkSession, srcRoot: String, dstRoot: String,
                     suffix: String = "",
                     asOfMillis: Option[Long] = None,
                     views: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    val f = fs(spark, srcRoot)
    val srcPath = new Path(srcRoot)
    // the reference's backup-table skip rule
    val exclude = "_.*bkp_[0-9]{8}".r
    val tableRows: Seq[(String, String)] =
      if (!f.exists(srcPath)) Seq(("missing_dataset", srcPath.getName))
      else {
        val tables = f.listStatus(srcPath).toSeq
          .filter(st => st.isDirectory &&
            f.exists(new Path(st.getPath, "_manifests")))
          .map(_.getPath.getName)
          .filter(n => exclude.findFirstIn(n).isEmpty)
          .sorted
        // destructive-precondition guard, computed over the WHOLE
        // enumeration: every clone destination must differ from — and
        // not be an ANCESTOR of — every source table root, else the
        // CREATE OR REPLACE delete below destroys source manifests and
        // data (dstRoot == srcRoot with an empty suffix, a suffix
        // colliding with a sibling table's name, or a dst directory the
        // sources live under). Paths are FileSystem-qualified so a
        // scheme or relative/absolute spelling difference cannot slip
        // past an exact-string compare.
        val srcTablePaths = tables
          .map(n => f.makeQualified(new Path(s"$srcRoot/$n")).toString).toSet
        def guardDst(dst: String): Unit = {
          val q = fs(spark, dst).makeQualified(new Path(dst)).toString
          require(!srcTablePaths.contains(q) &&
              // dst an ANCESTOR of a source table (deleting it deletes
              // the table under it)...
              !srcTablePaths.exists(_.startsWith(q + "/")) &&
              // ...or a DESCENDANT of one (deleting it wipes part of the
              // table's own tree, e.g. a dstRoot misconfigured to a
              // source table root puts every clone inside that table)
              !srcTablePaths.exists(p => q.startsWith(p + "/")),
            s"datasetRefresh: staging destination $dst resolves into a " +
              "source table root — refusing to touch the source")
        }
        tables.map { name =>
          val tRoot = s"$srcRoot/$name"
          val cut = asOfMillis.getOrElse(Long.MaxValue)
          val pick = versions(f, tRoot).reverse.find { v =>
            f.getFileStatus(new Path(manifestDir(tRoot), s"v$v.manifest"))
              .getModificationTime <= cut
          }
          pick match {
            case None => ("missing_table", name)
            case Some(v) =>
              val dst = s"$dstRoot/$name$suffix"
              guardDst(dst)
              // CREATE OR REPLACE: drop any previous staging clone's
              // manifests (its data lives in the SOURCE — nothing to reap)
              fs(spark, dst).delete(new Path(dst), true)
              cloneAt(spark, tRoot, v, dst)
              ("cloned_table", name)
          }
        }
      }
    val viewRows = views.map { name =>
      if (spark.catalog.tableExists(name)) {
        // CREATE OR REPLACE VIEW <name><suffix> AS SELECT * FROM <name>
        spark.table(name).createOrReplaceTempView(s"$name$suffix")
        ("cloned_view", name)
      } else ("missing_view", name)
    }
    (tableRows ++ viewRows).toDF("kind", "name")
  }

  /** Roll the table back to `version` by committing its manifest as the
    * newest — history is preserved (roll-forward is another rollback).
    */
  def rollback(spark: SparkSession, root: String, version: Long): Long = {
    val f = fs(spark, root)
    val newest = versions(f, root).last
    val v = newest + 1
    // files roll back; the txn ledger does NOT — a replayed batch from
    // before the rollback point is still a replay
    writeManifest(f, root, v, readManifest(f, root, version),
      manifestTxns(f, root, newest))
    v
  }
}
