package graft.functions

import graft.core.Pins
import graft.functions.{VectorFunctions => VF}
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF ANN with an explicit index/query split — the configuration a 100 TB
  * corpus actually runs.
  *
  * The composable [[VectorFunctions.ivfTopK]] recomputes cell assignments
  * inside every query; correct, but at scale the per-query assignment pass
  * is the corpus-wide scan the operator exists to avoid. Here the index is
  * MATERIALIZED once: every vector is assigned to its nearest centroid and
  * written to a parquet table PARTITIONED BY cell, together with its int8
  * quantization (scale + codes, 4x smaller than the float vector). A query
  * then
  *   1. reads only the tiny centroid table (driver-side, nlist rows),
  *   2. picks its nprobe nearest cells,
  *   3. scans ONLY those cells' partitions — storage-level partition
  *      pruning, no job touches the other nlist - nprobe cells' files —
  *   4. ranks by exact cosine (float path) or integer dot product over the
  *      int8 codes (quantized path: 4x less scan bandwidth).
  *
  * Cell rule (deterministic, oracle-reproducible): centroids are the
  * vectors with id < nlist; assignment is argmax of round(cosine, 6) with
  * ties to the smallest centroid id — identical to ivfTopK's rule, so the
  * same DuckDB oracle re-derives the cells.
  */
object IvfIndex {

  /** The seed rule requires ids 0..nlist-1 to exist — silently-missing
    * seeds would shrink the cell set and skew every assignment.
    */
  def validateSeeds(corpus: DataFrame, nlist: Int, idCol: String): Unit = {
    val n = corpus.filter(col(idCol) < nlist).select(idCol).distinct().count()
    require(n == nlist,
      s"IVF seed rule needs ids 0..${nlist - 1} present; found $n of $nlist")
  }

  def seedCentroids(corpus: DataFrame, nlist: Int,
                    idCol: String, vecCol: String): DataFrame =
    corpus.filter(col(idCol) < nlist)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))

  /** Nearest-centroid assignment: one broadcast of the centroid table, one
    * map-side pass over the corpus, one max_by aggregate — the shape that
    * holds at any corpus size. `centroids` must be (cid, cvec).
    */
  def assign(corpus: DataFrame, centroids: DataFrame,
             idCol: String, vecCol: String,
             nativeCosine: Boolean = true): DataFrame = {
    val cos: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
      if (nativeCosine) VF.cosineNative else VF.cosine
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centroids))
      .withColumn("cc", round(cos(col(vecCol), col("cvec")), 6))
      .groupBy(col(idCol))
      .agg(max_by(col("cid"), struct(col("cc"), (-col("cid")).as("neg"))).as("cell"))
  }

  /** Build the index: centroid table + cell-partitioned corpus with int8
    * codes. All corpus columns pass through, so the query path needs no
    * join back to the source table.
    */
  def build(corpus: DataFrame, nlist: Int, dir: String): Unit = {
    validateSeeds(corpus, nlist, "vec_id")
    val spark = corpus.sparkSession
    // drop the whole index dir first: under dynamic partition-overwrite
    // (which the warehouse paths enable transiently, and any caller might
    // leave set) a rebuild would only replace cells present in the NEW
    // assignment and serve stale vectors from cells that lost all members
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val cents = seedCentroids(corpus, nlist, "vec_id", "embedding")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    val asn = assign(corpus, cents, "vec_id", "embedding")
    corpus.join(asn, "vec_id")
      .withColumn("sc", VF.quantScale(col("embedding")))
      .withColumn("q8", VF.quantize(col("embedding"), col("sc")))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/index")
  }

  /** Incremental index maintenance: fold a DELTA batch into an existing
    * index without touching the indexed vectors — the per-crawl shape.
    * Assignment depends only on the SAVED centroid table, so
    * build(existing) followed by appendDelta(delta) produces exactly the
    * index build(existing ∪ delta) would with those centroids
    * (spec-pinned): one broadcast assignment pass over the delta rows
    * only, quantize, append the files into their cell partitions.
    * Re-seeding or re-training centroids remains a separate, rarer
    * rebuild action — drifted centroids degrade recall, not correctness,
    * exactly as in any IVF deployment.
    */
  def appendDelta(spark: SparkSession, dir: String, delta: DataFrame): Unit = {
    val cents = Parquet.read(spark, s"$dir/centroids")
    val asn = assign(delta, cents, "vec_id", "embedding")
    delta.join(asn, "vec_id")
      .withColumn("sc", VF.quantScale(col("embedding")))
      .withColumn("q8", VF.quantize(col("embedding"), col("sc")))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/index")
  }

  /** The query's nprobe nearest cells. nlist rows reduce to nprobe scalars
    * on the driver BY DESIGN: partition pruning needs literal predicates,
    * and the centroid table is the one relation that is small at any
    * corpus size (it scales with nlist, not rows).
    */
  def probedCells(spark: SparkSession, dir: String, queryVec: DataFrame,
                  nprobe: Int): Seq[Long] = {
    Parquet.read(spark, s"$dir/centroids")
      .crossJoin(broadcast(queryVec.select(col("embedding").as("__qv"))))
      .withColumn("qc", round(VF.cosineNative(col("cvec"), col("__qv")), 6))
      .orderBy(col("qc").desc, col("cid"))
      .limit(nprobe)
      .select(col("cid").cast("long"))
      .collect().map(_.getLong(0)).toSeq
  }

  /** Float-exact top-k over the probed cells only. The isin filter lands in
    * the scan's PartitionFilters — files of unprobed cells are never opened
    * (PlanAuditSpec asserts this).
    */
  def topK(spark: SparkSession, dir: String, queryVec: DataFrame,
           k: Int, nprobe: Int): DataFrame = {
    val cells = probedCells(spark, dir, queryVec, nprobe)
    topKOver(Parquet.read(spark, s"$dir/index")
      .filter(col("cell").isin(cells: _*)), queryVec, k)
  }

  /** The ranking half of [[topK]] over an ALREADY-ASSEMBLED probed scan
    * (e.g. base index ∪ a streamed delta index) — ONE definition of the
    * ranking contract (round cos to 6, tie-break by id, TakeOrdered k)
    * so every probe path ranks identically. */
  def topKOver(scan: DataFrame, queryVec: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queryVec.select(col("embedding").as("__qv")))
    scan.crossJoin(q)
      .withColumn("cos", round(VF.cosineNative(col("embedding"), col("__qv")), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Quantized top-k over the probed cells: integer dot product over the
    * stored int8 codes, rescaled by the two scales — the probed-cell scan
    * reads a quarter of the float bytes and multiplies integers.
    */
  def topKQuant(spark: SparkSession, dir: String, queryVec: DataFrame,
                k: Int, nprobe: Int): DataFrame = {
    val cells = probedCells(spark, dir, queryVec, nprobe)
    val q = broadcast(
      queryVec.withColumn("scref", VF.quantScale(col("embedding")))
        .select(VF.quantize(col("embedding"), col("scref")).as("qref"), col("scref")))
    Parquet.read(spark, s"$dir/index")
      .filter(col("cell").isin(cells: _*))
      .crossJoin(q)
      .withColumn("dp",
        aggregate(zip_with(col("q8"), col("qref"),
          (x, y) => x.cast("long") * y.cast("long")), lit(0L), (a, v) => a + v))
      .withColumn("score",
        // an all-zero vector has scale 0 (quantScale's convention):
        // score 0, never 0/0 = NaN (NaN sorts largest and would rank it
        // first in every top-k)
        when(col("sc") === 0.0 || col("scref") === 0.0, lit(0.0))
          .otherwise(round(
            col("dp").cast("double") / (col("sc") * col("scref")), 3)))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** IVF query under caller-supplied centroids (e.g. [[lloydCentroids]]
    * output, double-typed): assignment + probing use the all-double
    * composable cosine; the final ranking over probed cells uses the
    * native float expression (corpus x query are both float vectors).
    */
  def topKWithCentroids(corpus: DataFrame, centroids: DataFrame, queryVec: DataFrame,
                        k: Int, nprobe: Int): DataFrame = {
    val asn = assign(corpus, centroids, "vec_id", "embedding", nativeCosine = false)
    val q = broadcast(queryVec.select(col("embedding").as("__qv")))
    val probed = broadcast(centroids.crossJoin(q)
      .withColumn("qc", round(VF.cosine(col("cvec"), col("__qv")), 6))
      .orderBy(col("qc").desc, col("cid"))
      .limit(nprobe)
      .select(col("cid").as("cell")))
    corpus.join(asn.join(probed, "cell"), "vec_id")
      .crossJoin(q)
      .withColumn("cos", round(VF.cosineNative(col("embedding"), col("__qv")), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  // ---- Product quantization (PQ) ----
  //
  // The int8 path compresses 4x but still stores every dimension. PQ
  // compresses to m BYTES per vector: the dim-space splits into m
  // subspaces of dsub dims, each subspace gets its own ksub-entry
  // codebook, and a vector is stored as its m nearest-codeword ids.
  // A query builds an m x ksub lookup table of subspace dot products
  // ONCE (asymmetric distance computation), after which scoring a vector
  // is m table lookups + integer-ish adds — the scan reads m bytes per
  // vector instead of 4*dims. 64 dims, m=8, ksub=16: 256 bytes -> 8
  // bytes, 32x. Codebooks follow the same deterministic seed rule as the
  // IVF coarse quantizer (subspace slices of vectors id < ksub; codes by
  // round-6 L2 with min-id ties), so the DuckDB oracle replays the whole
  // pipeline. ADC scores are fixed-pointed (round(dot*1e6) as long)
  // before the cross-subspace sum so the 8-term addition is
  // order-independent and engine-exact.

  /** Seed codebooks: (u, j, cvec) — subspace u's codeword j is dims
    * [u*dsub, (u+1)*dsub) of the vector with id j.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, dsub: Int, ksub: Int): DataFrame = {
    validateSeeds(corpus, ksub, "vec_id")
    corpus.filter(col("vec_id") < ksub)
      .select(col("vec_id").as("j"), explode(array((0 until m).map(u =>
        struct(lit(u).as("u"),
          transform(slice(col("embedding"), u * dsub + 1, dsub), _.cast("double"))
            .as("cvec"))): _*)).as("s"))
      .select(col("s.u").as("u"), col("j"), col("s.cvec").as("cvec"))
  }

  /** Encode: each vector's m codes (nearest codeword per subspace by
    * round-6 L2, ties to the smallest codeword id). One narrow explode
    * (rows x m), a broadcast join against the m x ksub codebook, two
    * hash aggregates — no shuffle of vector data beyond the code rows.
    */
  def pqCodes(corpus: DataFrame, codebooks: DataFrame, m: Int, dsub: Int): DataFrame =
    corpus.select(col("vec_id"), explode(array((0 until m).map(u =>
        struct(lit(u).as("u"), slice(col("embedding"), u * dsub + 1, dsub).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.u").as("u"), col("s.sv").as("sv"))
      .join(broadcast(codebooks), "u")
      .withColumn("l2", round(aggregate(
        zip_with(col("sv"), col("cvec"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), _ + _), 6))
      .groupBy(col("vec_id"), col("u"))
      .agg(min(struct(col("l2"), col("j"))).getField("j").as("code"))
      .groupBy(col("vec_id"))
      .agg(transform(sort_array(collect_list(struct(col("u"), col("code")))),
        _.getField("code")).as("codes"))

  /** ADC top-k: score = sum over subspaces of LUT[u][code_u], the lookup
    * table being the query's round-6 subspace dot products fixed-pointed
    * to micro-units. The LUT is m x ksub rows and broadcasts; the scan
    * touches only (id, codes).
    */
  def pqTopK(corpus: DataFrame, codes: DataFrame, codebooks: DataFrame,
             queryVec: DataFrame, k: Int, m: Int, dsub: Int): DataFrame = {
    val lut = codebooks
      .crossJoin(broadcast(queryVec.select(col("embedding").as("__qv"))))
      .withColumn("s6", round(aggregate(
        zip_with(slice(col("__qv"), col("u") * dsub + 1, lit(dsub)), col("cvec"),
          (x, c) => x.cast("double") * c),
        lit(0.0), _ + _) * 1e6).cast("long"))
      .select(col("u"), col("j"), col("s6"))
    val adc = codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("cu", "code")))
      .join(broadcast(lut), col("cu") === col("u") && col("code") === col("j"))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("s6")).cast("double") / 1e6, 3).as("score"))
    // metadata columns (label here) pass through when present — a
    // hardcoded col("label") would break every external corpus without
    // one at analysis time
    val passthrough = corpus.columns.filter(_ == "label").map(col).toSeq
    corpus.select((col("vec_id") +: passthrough): _*)
      .join(adc, "vec_id")
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Two-stage retrieval, the production ANN pattern: the PQ-ADC scan
    * produces a `shortlist`-sized candidate set from the 32x-compressed
    * codes (bandwidth-bound, never touches a float vector), then ONLY
    * those candidates' full vectors are fetched and scored with exact
    * cosine. At 100 TB the first stage reads the code table (corpus/32
    * bytes), the second a shortlist-sized point lookup — the full-vector
    * corpus is never scanned. The shortlist is result-sized, so the
    * rerank join broadcasts it and the final sort is over `shortlist`
    * rows.
    */
  def pqRerankTopK(corpus: DataFrame, codes: DataFrame, codebooks: DataFrame,
                   queryVec: DataFrame, k: Int, shortlist: Int, m: Int, dsub: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val short = pqTopK(corpus, codes, codebooks, queryVec, shortlist, m, dsub)
      .select(col("vec_id"))
    val passthrough = corpus.columns.filter(_ == "label").map(col).toSeq
    corpus.join(broadcast(short), "vec_id")
      .crossJoin(broadcast(queryVec.select(col("embedding").as("__qv"))))
      .withColumn("cos",
        round(VectorFunctions.cosineNative(col("embedding"), col("__qv")), 6))
      .select((col("vec_id") +: passthrough) :+ col("cos"): _*)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic Lloyd refinement of the seed centroids: `iters` rounds
    * of assign -> per-cell element-wise mean. Everything is reproducible on
    * any engine:
    *   - assignment uses the all-double composable cosine (centroid means
    *     are doubles, not floats) with round-6 + min-cid ties,
    *   - each dimension's mean is a LEFT-TO-RIGHT double fold over members
    *     ordered by id (collect_list sorted on (id, value)), divided by the
    *     member count and rounded to 6 — the same fold the DuckDB oracle's
    *     ordered list_sum performs, so the centroids match bit-for-bit.
    * Shape at scale: one posexplode (rows x dims), two hash aggregates per
    * round — the canonical distributed k-means step.
    */
  def lloydCentroids(corpus: DataFrame, nlist: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    var cents = seedCentroids(corpus, nlist, "vec_id", "embedding")
      .select(col("cid"), transform(col("cvec"), _.cast("double")).as("cvec"))
    for (_ <- 1 to iters) {
      val asn = assign(corpus, cents, "vec_id", "embedding", nativeCosine = false)
      val members = corpus
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .join(asn, "vec_id")
      val next = members.groupBy(col("cell"), col("dim"))
        .agg(sort_array(collect_list(
          struct(col("vec_id").as("i"), col("val").cast("double").as("v")))).as("vs"))
        .select(col("cell"), col("dim"),
          round(
            aggregate(col("vs"), lit(0.0), (acc, s) => acc + s.getField("v")) /
              size(col("vs")),
            6).as("m"))
        .groupBy(col("cell"))
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
          _.getField("m")).as("cvec"))
        .select(col("cell").as("cid"), col("cvec"))
      // Pin each round's centroids as a LOCAL relation — nlist rows,
      // bounded by design: the same driver-scalar pattern as probedCells
      // and the rank loop's inlined aggregates. Left lazy, every round's
      // two aggregates nest inside the NEXT round's broadcast subplan, so
      // plan depth (and driver planning time) grows with iters, and any
      // downstream consumer referencing the centroid table twice (e.g.
      // topKWithCentroids' assign + probe legs) re-executes the whole
      // chain. The collected doubles round-trip bit-exactly, so the
      // oracle replay is unaffected.
      //
      // DRIVER-SIZE CONTRACT (the probedCells bound, stated where the
      // collect happens): this moves nlist x dim doubles through the
      // driver PER ROUND. At the declared gates (nlist <= 16, dim <= 64)
      // that is KBs; a production IVF with nlist ~10^4-10^5 and dim ~10^3
      // would push 10^2-10^3 MB per round through the driver — do not
      // lift this pattern onto an unbounded relation. The guard keeps the
      // collect inside the same budget class as a broadcast side and
      // fails LOUDLY (first round) if the pattern is ever cargo-culted
      // onto one that is not.
      val rows = next.collect()
      checkCentroidCollectBudget(rows.length,
        rows.iterator
          .map(r => if (r.isNullAt(1)) 0L else r.getSeq[Double](1).length.toLong)
          .sum,
        nlist)
      cents = Pins.local(spark, rows.toIndexedSeq, next.schema)
    }
    cents
  }

  /** The lloydCentroids per-round driver-collect budget: at most `nlist`
    * cells and 4e6 doubles (~32 MB) per round. Factored out so the bound
    * is testable without building a 4M-value aggregate. */
  private[functions] def checkCentroidCollectBudget(nCells: Int, nDoubles: Long,
                                                    nlist: Int): Unit =
    require(nCells <= nlist && nDoubles <= 4L * 1000 * 1000,
      s"lloydCentroids: round centroid state ($nCells cells, $nDoubles " +
        "doubles) exceeds the driver-collect budget (nlist rows / 4e6 " +
        "doubles per round) — keep per-round centroid state " +
        "broadcast-sized or redesign the round pin as a distributed " +
        "materialization")
}
