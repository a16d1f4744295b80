package graft.functions

import graft.core.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-vector math over Array[Float] columns, built on the codegen'd
  * higher-order functions (zip_with / transform / aggregate) so the hot path
  * stays inside WholeStageCodegen — no UDF serialization per row.
  *
  * Accumulation is an explicit left-to-right double fold, which makes the
  * results bit-deterministic (and equal to any engine that sums a list
  * sequentially in doubles — the property the DuckDB oracle relies on).
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column =
    // zero-norm yields 0.0 (similar to nothing), never a DIVIDE_BY_ZERO
    // (ANSI) or a NaN that Spark sorts as the LARGEST double and ranks
    // first in every top-k. try_divide + coalesce, not a when-branch: a
    // branch would evaluate the norm FOLDS twice per row (measured
    // 4.6 -> 6.2 s on the k-means-heavy queries); the quotient is
    // null/undefined exactly in the zero-norm case this guards (dot is
    // 0 whenever a norm is)
    coalesce(try_divide(dot(a, b), norm(a) * norm(b)), lit(0.0))

  /** Native fused-loop variant (graft.plans.CosineSimilarity) — same
    * semantics and bit-identical results, one codegen'd loop instead of
    * three higher-order-function passes. Requires GraftFunctions.register
    * (done by GraftSession.tune).
    */
  def cosineNative(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Symmetric int8 quantization scale for a vector: 127 / max |x|
    * (0 for an all-zero vector). Quantized ANN shrinks the corpus 4x and
    * keeps the scan bandwidth-bound at scale; math is double throughout so
    * any engine reproduces the exact scale.
    */
  def quantScale(a: Column): Column = {
    val amax = array_max(transform(a, x => abs(x.cast("double"))))
    when(amax === 0.0, lit(0.0)).otherwise(lit(127.0) / amax)
  }

  /** The int8 codes for a vector: round(x * scale) per element, in
    * [-127, 127] by construction. Takes the [[quantScale]] column
    * explicitly — embedding the scale subtree inside the lambda body
    * would re-evaluate the O(d) max per element (higher-order functions
    * run interpreted and Catalyst doesn't hoist loop invariants out of
    * lambda bodies).
    */
  def quantize(a: Column, scale: Column): Column =
    transform(a, x => round(x.cast("double") * scale).cast("int"))

  /** Brute-force top-k cosine neighbors of `queryVec` (a 1-row DF with an
    * `embedding` column). The query side is broadcast; the scan is a single
    * pass over the corpus followed by a k-row reduction — the exact-answer
    * baseline every ANN variant is judged against.
    */
  def bruteForceTopK(corpus: DataFrame, queryVec: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queryVec.select(col("embedding").as("__qv")))
    corpus.crossJoin(q)
      .withColumn("cos", round(cosineNative(col("embedding"), col("__qv")), 6))
      .drop("__qv")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic random-hyperplane LSH: plane p's weight for dimension d is
    * derived from md5(p||d) — reproducible across runs and engines, no RNG.
    * Buckets co-locate similar vectors so candidate generation is a cheap
    * equi-join on the signature instead of a full cross product; at 100 TB
    * this is the difference between a shuffle join on a short key and an
    * infeasible cartesian scan.
    */
  /** weight_{p,d} in [-7.5, 7.5]: first md5 nibble of "p:d", shifted.
    * Values are exact halves, so they round-trip losslessly through SQL
    * literals — the DuckDB oracle inlines them.
    */
  def planeWeight(p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
    ((digest(0) >> 4) & 0xf) - 7.5
  }

  /** Native single-node signature (graft.plans.HyperplaneSig). A
    * builtin-only formulation (HyperplaneSigSpec keeps one as its
    * reference) is bit-identical but builds a planes*dims-term expression
    * tree whose one-time Catalyst+Janino cost is minutes at 4x64; the
    * native node plans in constant time and fuses into one loop.
    */
  def hyperplaneSig(vec: Column, planes: Int, dims: Int): Column =
    call_function("graft_hplane_sig", vec, lit(planes), lit(dims))

  /** Deterministic Johnson–Lindenstrauss random projection: `outDims`
    * pseudo-random weight rows (the [[planeWeight]] grid — exact halves,
    * so they survive SQL literals bit-exactly) map a `dims` embedding to
    * `outDims` doubles. The 4x-16x-smaller projected table is the scan
    * side for coarse ANN / clustering at scale, with the full vectors
    * point-looked-up only for reranking (same storage split as PQ). Each
    * output slot is one zip_with/aggregate fold — single Literal array
    * per plane, so the expression tree stays small and plans in constant
    * time (a dims-term sum tree per plane would take Catalyst minutes at
    * 16x64). Left-to-right double fold + round(6): engine-exact, the
    * oracle replays it with list_sum.
    */
  def randomProject(vec: Column, outDims: Int, dims: Int): Column =
    array((0 until outDims).map { p =>
      val w = typedLit((0 until dims).map(d => planeWeight(p, d)))
      round(aggregate(zip_with(vec, w, (x, wd) => x.cast("double") * wd),
        lit(0.0), (acc, v) => acc + v), 6)
    }: _*)

  /** Embedding-cosine near-duplicate pairs: LSH bucket join for candidates,
    * native cosine for the verify — the embedding analog of MinHash+Jaccard.
    * Output: (vec_a, vec_b, cos) for bucket-sharing pairs with cos >= tau.
    */
  def embedNearDupPairs(corpus: DataFrame, planes: Int, dims: Int, tau: Double): DataFrame = {
    val sigd = corpus.select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("sig", hyperplaneSig(col("v"), planes, dims))
    val a = sigd.select(col("id").as("vec_a"), col("v").as("va"), col("sig"))
    val b = sigd.select(col("id").as("vec_b"), col("v").as("vb"), col("sig"))
    a.join(b, Seq("sig")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(cosineNative(col("va"), col("vb")), 6))
      .filter(col("cos") >= tau)
      .select("vec_a", "vec_b", "cos")
  }

  /** IVF (inverted-file) ANN: the coarse-quantizer scale path.
    *
    * Cells are seeded deterministically from the corpus itself (the first
    * `nlist` ids), every vector is assigned to its nearest cell by cosine,
    * and a query probes only its `nprobe` nearest cells — so the scan cost
    * drops from |corpus| to nprobe/nlist of it, while the tiny centroid
    * table broadcasts. Rounding to 6 decimals + id tie-breaks make cell
    * assignment reproducible on any engine (the DuckDB oracle re-derives
    * identical cells from the same rule).
    *
    * At 100 TB the assignment is one broadcast-join pass over the corpus
    * (materialized once as a bucketed table keyed by cell in a real
    * deployment), and a query touches only the probed cells' partitions.
    */
  /** Does not assert that ids 0..nlist-1 exist — that costs one
    * pruned-scan count ACTION, and plan-building must stay lazy;
    * [[IvfIndex.build]], which is an action anyway, always validates.
    */
  def ivfAssignments(corpus: DataFrame, nlist: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    IvfIndex.assign(corpus,
      IvfIndex.seedCentroids(corpus, nlist, idCol, vecCol), idCol, vecCol)
  }

  /** Composable IVF query. The cell assignment ([[ivfAssignments]]) is
    * recomputed per query, which is only sane for one-off queries at
    * modest scale — see [[IvfIndex]] for the full index/query split with
    * a materialized, cell-partitioned assignment and storage-level
    * pruning.
    */
  def ivfTopK(corpus: DataFrame, queryVec: DataFrame, k: Int, nlist: Int, nprobe: Int): DataFrame = {
    val cent = corpus.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val q = broadcast(queryVec.select(col("embedding").as("__qv")))
    val probed = broadcast(cent.crossJoin(q)
      .withColumn("qc", round(cosineNative(col("cvec"), col("__qv")), 6))
      .orderBy(col("qc").desc, col("cid"))
      .limit(nprobe)
      .select(col("cid").as("cell")))
    val asn = ivfAssignments(corpus, nlist, "vec_id", "embedding")
    corpus.join(asn.join(probed, "cell"), "vec_id")
      .crossJoin(q)
      .withColumn("cos", round(cosineNative(col("embedding"), col("__qv")), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched IVF queries — the production fan-out shape: MANY query
    * vectors probe the shared index in ONE plan. The single-query form
    * re-runs per query; here the corpus is scanned once, the per-query
    * probe list comes from a rank window over the (centroids × queries)
    * cross (centroid-sized, broadcast), and the exact top-k per query is
    * a row_number window partitioned by query id — bounded partitions,
    * never a global sort. `queries` carries (qid, embedding).
    */
  def ivfTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int,
                   nlist: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = corpus.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val q = queries.select(col("qid").as("__qid"), col("embedding").as("__qv"))
    val wProbe = Window.partitionBy("__qid").orderBy(col("qc").desc, col("cid"))
    val probed = broadcast(cent.crossJoin(broadcast(q))
      .withColumn("qc", round(cosineNative(col("cvec"), col("__qv")), 6))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("__qid").as("pqid"), col("cid").as("cell")))
    val asn = ivfAssignments(corpus, nlist)
    val wTop = Window.partitionBy("pqid").orderBy(col("cos").desc, col("vec_id"))
    corpus
      .join(asn.join(probed, "cell").select(col("vec_id"), col("pqid")), "vec_id")
      .join(broadcast(q), col("pqid") === col("__qid"))
      .withColumn("cos", round(cosineNative(col("embedding"), col("__qv")), 6))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("qid", col("pqid"))
      .drop("pqid", "__qid", "__qv")
  }

  /** Bucketed ANN: exact top-k within the query's LSH bucket. */
  def lshTopK(corpus: DataFrame, queryVec: DataFrame, k: Int, planes: Int, dims: Int): DataFrame = {
    val sigd = corpus.withColumn("__sig", hyperplaneSig(col("embedding"), planes, dims))
    val q = broadcast(queryVec
      .select(col("embedding").as("__qv"))
      .withColumn("__qsig", hyperplaneSig(col("__qv"), planes, dims)))
    sigd.join(q, col("__sig") === col("__qsig"))
      .withColumn("cos", round(cosineNative(col("embedding"), col("__qv")), 6))
      .drop("__qv", "__qsig", "__sig")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** The hyperplane signature split into `bands` fixed-width substrings,
    * each prefixed with its band index so band 0's bits can never collide
    * with band 1's in a join key — the MinHash-banding trick applied to
    * hyperplane LSH. Matching ANY band makes a candidate, so recall no
    * longer hinges on all `planes` bits agreeing at once: with 8 planes in
    * 2 bands, a near-neighbor only needs one clean half-signature.
    */
  def hyperplaneBands(vec: Column, planes: Int, dims: Int, bands: Int): Column = {
    require(planes % bands == 0, s"planes=$planes must divide into bands=$bands")
    val bw = planes / bands
    val sig = hyperplaneSig(vec, planes, dims)
    array((0 until bands).map(b =>
      concat(lit(s"$b:"), substring(sig, b * bw + 1, bw))): _*)
  }

  /** Multi-band LSH ANN: candidates share at least one signature band with
    * the query; exact cosine ranks them. Candidate generation stays an
    * equi-join on short band keys (explode -> join -> distinct ids), the
    * same shuffle shape as MinHash LSH — at scale the banded corpus is a
    * bucketed table and the probe touches only the query's `bands` buckets.
    */
  def lshTopKMultiband(corpus: DataFrame, queryVec: DataFrame, k: Int,
                       planes: Int, dims: Int, bands: Int): DataFrame = {
    val qb = broadcast(queryVec
      .select(explode(hyperplaneBands(col("embedding"), planes, dims, bands)).as("__b")))
    val cand = corpus
      .select(col("vec_id"),
        explode(hyperplaneBands(col("embedding"), planes, dims, bands)).as("__b"))
      .join(qb, "__b")
      .select("vec_id").distinct()
    val q = broadcast(queryVec.select(col("embedding").as("__qv")))
    corpus.join(cand, Seq("vec_id"), "left_semi")
      .crossJoin(q)
      .withColumn("cos", round(cosineNative(col("embedding"), col("__qv")), 6))
      .drop("__qv")
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Multi-band embedding near-dup pairs: pairs sharing ANY signature band,
    * verified with exact cosine >= tau. Bucket join on band keys generates
    * candidates; id pairs are deduped BEFORE vectors are joined back, so
    * the shuffles carry (id, band-key) and (id, id) — never embeddings —
    * until the bounded verify step.
    */
  def embedNearDupPairsMultiband(corpus: DataFrame, planes: Int, dims: Int,
                                 bands: Int, tau: Double): DataFrame = {
    val banded = corpus.select(col("vec_id").as("id"),
      explode(hyperplaneBands(col("embedding"), planes, dims, bands)).as("__b"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.__b") === col("b.__b") && col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
      .distinct()
    val va = corpus.select(col("vec_id").as("vec_a"), col("embedding").as("__va"))
    val vb = corpus.select(col("vec_id").as("vec_b"), col("embedding").as("__vb"))
    pairs.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cos", round(cosineNative(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= tau)
      .select("vec_a", "vec_b", "cos")
  }

  /** Recall@k of an approximate ANN result against the exact ground
    * truth — the first-class evaluation readout every index tuning loop
    * needs (the number the PQ-rerank spec measured by hand): one row
    * `(method, n_hits, k, recall)` where n_hits counts approx ids found
    * in the exact top-k. Both inputs are k-row result relations, so this
    * is a semi-join + two scalar counts over result-sized data — run it
    * per (query, method) and union the rows into a recall mart.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, method: String): DataFrame =
    approx.select(col("vec_id")).join(exact.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(exact.agg(count(lit(1)).as("k")))
      .select(lit(method).as("method"), col("n_hits"), col("k"),
        (col("n_hits").cast("double") / col("k")).as("recall"))

  /** The IVF tuning sweep — the recall-vs-cost CURVE an index operator
    * reads to pick nprobe (take the smallest nprobe whose recall clears
    * the target): one row `(nprobe, n_hits, k, recall)` per candidate,
    * each probe judged against the brute-force ground truth computed
    * once (pinned until the caller's scope ends). The
    * sweep is a bounded driver loop over result-sized legs — the corpus
    * is scanned once per candidate probe depth, exactly what the probe
    * costs in production.
    */
  def tuneNprobe(corpus: DataFrame, queryVec: DataFrame, k: Int, nlist: Int,
                 nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(np => np >= 1 && np <= nlist),
      s"nprobes must be within [1, $nlist], got $nprobes")
    val exact = Pins.keep(bruteForceTopK(corpus, queryVec, k))
    nprobes.map { np =>
      ivfTopK(corpus, queryVec, k, nlist, np)
        .select(col("vec_id"))
        .join(exact.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(exact.agg(count(lit(1)).as("k")))
        .select(lit(np.toLong).as("nprobe"), col("n_hits"), col("k"),
          (col("n_hits").cast("double") / col("k")).as("recall"))
    }.reduce(_.unionByName(_))
  }
}
