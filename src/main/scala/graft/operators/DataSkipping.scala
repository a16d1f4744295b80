package graft.operators

import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping on plain parquet: a per-file min/max MANIFEST
  * (the zone-map / Delta-stats analog, maintained as a table) plus
  * Z-ORDER clustering so multi-column range boxes prune well.
  *
  * Parquet row-group stats already skip WITHIN a file; what a 100 TB lake
  * needs on top is skipping whole FILES without opening them — the
  * manifest is built once per load (one pass), and a range query consults
  * manifest rows (files × columns, driver-small by the same argument as
  * IVF centroids) to enumerate the files that can possibly match, then
  * reads only those. Pruning is sound by the min/max proof: a skipped
  * file's [min,max] is disjoint from the predicate range, so results are
  * IDENTICAL to the full scan — which is exactly what the oracle checks.
  *
  * Linear sort clusters one column tightly but leaves the second
  * column's per-file ranges wide; Z-order interleaves the bits of both
  * ranks so every file covers a small square in (a,b) space and BOTH
  * predicates prune (spec-measured).
  */
object DataSkipping {

  /** Morton/Z-value of two non-negative ints confined to `bits` bits
    * each: bit i of `a` lands at position 2i, bit i of `b` at 2i+1.
    * Pure shifts/masks — codegen'd, no UDF.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zValue bits must be in [1,31], got $bits")
    // widen FIRST: on IntegerType inputs the shift would run in 32-bit
    // arithmetic where shift amounts mask & 31 — bit positions >= 31
    // silently wrap (colliding z-values, negative sort keys) for any
    // bits >= 16
    val (al, bl) = (a.cast("long"), b.cast("long"))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(bl, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Hilbert-curve alternative to [[zValue]] (native `graft_hilbert`,
    * see [[graft.plans.HilbertIndex]] for the locality argument): the
    * continuous curve gives an axis-aligned query box fewer curve-range
    * splits than Z-order's quadrant jumps — fewer files touched at equal
    * clustering. Inputs mask to the 2^bits grid.
    */
  def hilbertValue(a: Column, b: Column, bits: Int): Column =
    call_function("graft_hilbert",
      a.cast("long"), b.cast("long"), lit(bits))

  /** Write `df` clustered by `key` into `nFiles` range-contiguous files.
    * Range partitioning makes per-file key ranges disjoint, which is what
    * gives the manifest tight [min,max] envelopes to prune against.
    */
  def writeClustered(df: DataFrame, dir: String, key: Column, nFiles: Int): Unit =
    df.withColumn("__ck", key)
      .repartitionByRange(nFiles, col("__ck"))
      .sortWithinPartitions(col("__ck"))
      .drop("__ck")
      .write.mode("overwrite").parquet(dir)

  /** One manifest row per file: row count + [min,max] per tracked column.
    * One aggregation pass; rebuild after each load (or union per-batch
    * manifests — min/max merge associatively).
    */
  def manifest(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    Parquet.read(spark, dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))): _*)

  /** The manifest rows whose envelopes intersect EVERY [lo,hi] box — the
    * candidate set for a conjunctive range predicate, as a RELATION: the
    * prune is a distributed filter over the manifest table, nothing
    * touches the driver here.
    */
  def prunedManifestRows(manifest: DataFrame,
                         boxes: Seq[(String, Any, Any)]): DataFrame =
    boxes.foldLeft(manifest) { case (m, (c, lo, hi)) =>
      m.filter(col(s"${c}_max") >= lit(lo) && col(s"${c}_min") <= lit(hi))
    }

  /** Persist the surviving file set as a PRUNED-MANIFEST artifact (one
    * path per line, distributed text write — the symlink-manifest
    * pattern lake engines hand each other). At 10^5–10^6 files this is
    * a distributed filter + write, not a driver collect; the artifact
    * is also the natural cache when many queries share a predicate.
    */
  def writePrunedManifest(rows: DataFrame, outDir: String): Unit =
    rows.select(col("file")).write.mode("overwrite").text(outDir)

  /** Scan exactly the files a pruned-manifest artifact lists. Split
    * planning inherently needs the path strings on the driver — every
    * datasource does — but they arrive by STREAMING the artifact's
    * lines through Hadoop FS (constant memory above the final path
    * array, no Spark job, no query collect) and go straight into the
    * reader's file index. `schemaFrom` supplies the schema when the
    * artifact lists nothing (a fully-pruned read is an empty frame,
    * not an error).
    */
  def readViaPrunedManifest(spark: SparkSession, manifestDir: String,
                            schemaFrom: => DataFrame): DataFrame = {
    val files = manifestPaths(spark, manifestDir)
    // schemaFrom is by-name: the common (files survive) case never
    // evaluates it — the schema probe is free except when everything
    // was pruned and an empty, correctly-typed frame must come from
    // somewhere
    if (files.isEmpty) schemaFrom.filter(lit(false))
    else Parquet.read(spark, files: _*)
  }

  private def manifestPaths(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(p).filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .foreach { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).foreach(out += _)
        finally in.close()
      }
    out.toSeq
  }

  /** Read only the files that can match, then apply the EXACT predicate
    * (pruning is a superset guarantee, never the final filter). The
    * candidate set flows distributed-filter -> pruned-manifest artifact
    * (`manifestOut`) -> streamed into the reader — no query collect of
    * file lists anywhere on this path.
    */
  def prunedRead(spark: SparkSession, manifest: DataFrame,
                 boxes: Seq[(String, Any, Any)],
                 manifestOut: String): DataFrame = {
    writePrunedManifest(prunedManifestRows(manifest, boxes), manifestOut)
    // all-pruned schema probe, evaluated ONLY in that case (by-name):
    // one manifest row's path, headOption so an empty manifest reports
    // itself instead of a bare NoSuchElement
    val df = readViaPrunedManifest(spark, manifestOut,
      schemaFrom = Parquet.read(spark,
        manifest.select(col("file")).limit(1).collect().headOption
          .map(_.getString(0))
          .getOrElse(sys.error(
            "prunedRead: manifest lists no files — no schema to type " +
              "the empty result with"))))
    boxes.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
  }

  // ---- Bloom-filter manifest: point/IN-list skipping ----
  //
  // Zone maps prune RANGE predicates on the cluster key; they are useless
  // for point lookups on a column the layout is NOT ordered by (every
  // file's [min,max] spans the domain). The bloom manifest stores, per
  // file, the set of set-bit positions of an m-bit k-hash Bloom filter
  // over the column — a file can be skipped when ANY of a probe value's k
  // bits is absent. A contained value always has all its bits set, so
  // skipping has no false negatives: the pruned read equals the full-scan
  // filter exactly (false positives only cost extra candidate files).
  // This is the Delta/Iceberg bloom-skipping analog, maintained as a
  // plain table; md5-derived bit positions keep it engine-reproducible.

  /** The k bit positions of one value (Spark-side, codegen'd). */
  def bloomBits(value: Column, m: Int, k: Int): Column =
    array((0 until k).map(i =>
      conv(substring(md5(concat(value.cast("string"), lit("#"), lit(i))), 1, 13),
        16, 10).cast("long").mod(m).cast("int")): _*)

  /** The same k positions computed driver-side for a probe literal —
    * byte-identical to [[bloomBits]] (same md5, same slice, same mod).
    */
  def bloomBitsOf(value: String, m: Int, k: Int): Seq[Int] =
    (0 until k).map { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$value#$i".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.substring(0, 13)
      (java.lang.Long.parseLong(hex, 16) % m).toInt
    }

  /** One manifest row per file: the sorted distinct set-bit positions of
    * the file's Bloom filter over `colName`. One narrow explode + one
    * per-file set-collect; size is bounded by min(m, k x rows_per_file).
    */
  def bloomManifest(spark: SparkSession, dir: String, colName: String,
                    m: Int, k: Int): DataFrame =
    Parquet.read(spark, dir)
      .select(input_file_name().as("file"),
        explode(bloomBits(col(colName), m, k)).as("bit"))
      .groupBy("file")
      .agg(sort_array(collect_set(col("bit"))).as("bits"))

  /** Manifest rows of files that may contain at least one of `values`
    * (all k distinct bits of some value present in the file's bit set) —
    * a distributed filter, the Bloom analog of [[prunedManifestRows]].
    */
  def bloomPrunedManifestRows(manifest: DataFrame, values: Seq[String],
                              m: Int, k: Int): DataFrame = {
    require(values.nonEmpty, "bloom pruning needs at least one probe value")
    val hit = values.map { v =>
      val bits = bloomBitsOf(v, m, k).distinct
      size(array_intersect(col("bits"),
        lit(bits.toArray))) === bits.length
    }.reduce(_ || _)
    manifest.filter(hit)
  }

  /** Bloom-pruned IN-list read: only candidate files are opened, then the
    * exact IN predicate applies (false positives filtered here). Same
    * no-collect flow as [[prunedRead]]: distributed filter ->
    * pruned-manifest artifact -> streamed into the reader.
    */
  def bloomPrunedRead(spark: SparkSession, manifest: DataFrame, colName: String,
                      values: Seq[String], m: Int, k: Int,
                      manifestOut: String): DataFrame = {
    writePrunedManifest(
      bloomPrunedManifestRows(manifest, values, m, k), manifestOut)
    val df = readViaPrunedManifest(spark, manifestOut,
      schemaFrom = Parquet.read(spark,
        manifest.select(col("file")).limit(1).collect().headOption
          .map(_.getString(0))
          .getOrElse(sys.error(
            "bloomPrunedRead: manifest lists no files — no schema to " +
              "type the empty result with"))))
    df.filter(col(colName).cast("string").isin(values: _*))
  }
}
