package graft.operators

import graft.core.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-analysis ranking (PageRank power iteration) as relational
  * dataflow — the domain/host authority score web-corpus curation runs
  * over the crawl link graph to prioritize fetching and weight quality
  * (Common-Crawl-style pipelines rank hosts exactly this way).
  *
  * All arithmetic is INTEGER fixed-point: ranks live in `scale` units
  * (default 1e9) and every step is bigint multiply / integer-divide, so
  * the result is bit-identical on any engine and any partitioning — no
  * float summation order anywhere. The oracle replays the rounds
  * relationally with the same integer ops.
  *
  * Scale posture: the edge list is hash-partitioned on src once and the
  * rank state (which carries the out-degree) on node with the same
  * count, so each round's big join is exchange-free on both sides; the
  * only per-round shuffle is the contrib sum's re-key from src to dst
  * (map-side combinable). Node count and dangling mass are aggregated
  * scalars inlined as literals. The rank table is node-sized, the join
  * edge-sized — nothing is ever corpus-quadratic, and round state is
  * persisted eagerly so lineage stays flat. On a cluster the
  * partitioned edge list is a src-bucketed table and the same rounds
  * run verbatim.
  */
object LinkAnalysis {

  /** Iterated integer PageRank. Input: a directed edge list (duplicates
    * collapsed here). Returns the scored node table and the persisted
    * final rank state backing it (node-sized), for the caller to
    * unpersist after its terminal action.
    *
    * Per round, with d = dampNum/dampDen and N = node count:
    *   contrib(v) = Σ_{u→v} rank(u) div outdeg(u)
    *   share     = (Σ_{dangling u} rank(u)) div N
    *   rank'(v)  = (scale·(dampDen−dampNum) div dampDen div N)
    *             + ((contrib(v) + share) · dampNum div dampDen)
    */
  /** `lazyFinal`: skip persisting + reading the LAST round — its dangling
    * mass is never consumed, so a single-action caller (the top-k
    * collect) can execute the final round's plan off the previous
    * round's cache and save one driver action. The returned pin seq then
    * includes everything the final plan still reads (edges + previous
    * rank state); the caller releases them after its terminal action. */
  private def iterate(edges: DataFrame, srcCol: String, dstCol: String,
                      iters: Int, dampNum: Int, dampDen: Int,
                      scale: Long,
                      seeds: Option[DataFrame] = None,
                      lazyFinal: Boolean = false): (DataFrame, Seq[DataFrame]) = {
    // The edge list is hash-partitioned on src ONCE (the in-session form
    // of a src-bucketed edge table) and the rank state is partitioned on
    // node with the same partition count, so every round's big join is
    // exchange-free on both sides: the only shuffle per round is the
    // contrib aggregation's re-key from src to dst.
    val spark = edges.sparkSession
    // AQE off for the iteration only: partitioning here is pinned by hand
    // (src-bucketed edges, node-partitioned rank state), so AQE has nothing
    // to improve — but it would re-plan and materialize query stages every
    // round, and the driver-side latency of ~40 extra micro-jobs dominates
    // an iterative loop over node-sized tables (measured ~2x at sf0.1).
    GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      iterateNoAqe(spark, edges, srcCol, dstCol, iters, dampNum, dampDen,
        scale, seeds, lazyFinal)
    }
  }

  private def iterateNoAqe(spark: SparkSession, edges: DataFrame,
                           srcCol: String, dstCol: String,
                           iters: Int, dampNum: Int, dampDen: Int,
                           scale: Long,
                           seeds: Option[DataFrame],
                           lazyFinal: Boolean): (DataFrame, Seq[DataFrame]) = {
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Eager fill: the first action below (nodes.count) scans e0 from TWO
    // union legs at once, and a lazily-pinned relation's concurrent scans
    // block on each other's cache-fill locks while racing to compute the
    // same blocks (measured taskSum 176 s vs cpuSum 8.6 s on that stage
    // at sf0.1 — all lock wait). One eager count fills the cache once and
    // every later scan is a cache read.
    e0.count()
    // n and the per-round dangling mass are RESULT-sized scalars (one
    // aggregated row each), pulled to the driver and inlined as literals —
    // the standard iterative-driver pattern. Inlining removes two
    // broadcast-exchange sub-jobs from every round's plan; this is a
    // scalar read of an aggregate, not a driver-side data loop, and the
    // integer arithmetic is unchanged (Scala Long `/` == SQL `div` on
    // the non-negative values here), so the oracle replay is unaffected.
    // The count doubles as the node-cache fill: one job, not two.
    val nodes = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    if (n == 0) {
      // empty graph (every edge null-filtered): empty result, not a
      // divide-by-zero — matching the old relational formulation's
      // behavior over zero rows
      e0.unpersist(false); nodes.unpersist(false)
      val empty = nodes.select(col("node"), lit(0L).as("rank_scaled"),
        lit(0.0).as("rank")).filter(lit(false))
      return (empty, Seq.empty)
    }
    // The iteration's partition count is sized to the GRAPH, not the
    // session's global shuffle constant (AQE would make this call, but
    // it is deliberately off here): node-sized state on a small graph
    // otherwise pays p-task scheduling per round for single-task work,
    // which dominates an iterative loop; a big graph keeps the
    // configured width. The pinned edge/state partitioning below is
    // what keeps every round's big join exchange-free on both sides.
    val p2 = math.max(1, math.min(p, (n / 2000L).toInt + 1))
    val e = e0.repartition(p2, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Personalization: the teleport vector is uniform over `denom` nodes —
    // the whole graph for classic PageRank, the in-graph seed set for the
    // personalized variant (teleports, the (1-d) base term, AND the
    // dangling-mass redistribution all land on seeds only, per the
    // standard PPR formulation). denom is a scalar count; the per-node
    // seed flag rides in the rank state like the out-degree does.
    val denom = seeds match {
      case None => n
      case Some(sd) =>
        sd.select(col(sd.columns.head).cast("long").as("node"))
          .filter(col("node").isNotNull).distinct()
          .join(nodes, Seq("node"), "left_semi")
          .count()
    }
    if (denom == 0) {
      // a seed set disjoint from the graph: nothing can ever hold mass —
      // empty result, mirroring the empty-graph exit
      e0.unpersist(false); e.unpersist(false); nodes.unpersist(false)
      val empty = nodes.select(col("node"), lit(0L).as("rank_scaled"),
        lit(0.0).as("rank")).filter(lit(false))
      return (empty, Seq.empty)
    }
    val flagged = seeds match {
      case None => nodes.withColumn("seed", lit(true))
      case Some(sd) =>
        nodes.join(
            sd.select(col(sd.columns.head).cast("long").as("node"))
              .filter(col("node").isNotNull).distinct()
              .withColumn("s0", lit(true)),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("s0"), lit(false)).as("seed"))
    }

    // The rank state CARRIES the out-degree (null = dangling) and the seed
    // flag: seeded with one left join here, it saves every round two
    // node-sized joins — the contrib leg reads `rank div deg` straight off
    // the state, and the dangling mass is a filter-aggregate over the
    // cached state instead of a left_anti join against outdeg.
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var ranks = flagged
      .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), col("deg"), col("seed"),
        when(col("seed"), lit(scale / denom)).otherwise(lit(0L)).as("rank"))
      .repartition(p2, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ONE action per round: the aggregate that reads the round's dangling
    // mass IS the action that fills the round's cache (the old shape paid
    // a count() to materialize plus a second job for the scalar — at 3
    // rounds that is 3 extra driver round-trips for zero work)
    def fillAndDanglingMass(r: DataFrame): Long =
      r.agg(coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0L)))
        .head.getLong(0)

    var dm = fillAndDanglingMass(ranks)
    // the initial fill read nodes (via flagged) and e (via outdeg, which
    // pulled e0's cache through the p2 exchange) — both upstream pins
    // release here; the rounds touch only e and the rank states
    nodes.unpersist(false)
    e0.unpersist(false)
    val base = scale * (dampDen - dampNum) / dampDen / denom
    var finalIsLazy = false
    var lazyParent: DataFrame = null
    for (r <- 1 to iters) {
      // dangling nodes never appear as e.src, so the contrib join's null
      // `deg` rows are excluded by construction — no filter needed
      val contrib = e
        .join(ranks.select(col("node").as("src"), col("deg"), col("rank")), "src")
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("insum"))
      val share = dm / denom
      val nextPlan = ranks.select(col("node"), col("deg"), col("seed"))
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), col("deg"), col("seed"),
          expr(s"if(seed, ${base}L, 0L) + " +
              s"(coalesce(insum, 0L) + if(seed, ${share}L, 0L)) " +
              s"* $dampNum div $dampDen")
            .as("rank"))
      if (r < iters || !lazyFinal) {
        val next = nextPlan.persist(StorageLevel.MEMORY_AND_DISK)
        dm = fillAndDanglingMass(next)
        ranks.unpersist(false)
        ranks = next
      } else {
        // the last round's dangling mass feeds nothing: leave the plan
        // lazy for the caller's single action, which reads it off the
        // PREVIOUS round's cache (kept pinned, along with e, until the
        // caller's terminal action)
        finalIsLazy = true
        lazyParent = ranks
        ranks = nextPlan
      }
    }
    val out = ranks.select(col("node"), col("rank").as("rank_scaled"),
      (col("rank").cast("double") / lit(scale.toDouble)).as("rank"))
    if (finalIsLazy) {
      // `out` still reads e and the (iters-1)th round's cached state —
      // the caller releases both after its terminal action
      (out, Seq(e, lazyParent))
    } else {
      // inputs are released — `out` only scans the materialized final state
      e.unpersist(false)
      (out, Seq(ranks))
    }
  }

  /** Full scored node table. The backing rank state stays cached until
    * the session's per-query cache clear; use [[pageRankTopK]] when the
    * consumer is a top-k read and the pin should be released eagerly. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampNum: Int = 85, dampDen: Int = 100,
               scale: Long = 1000000000L): DataFrame =
    iterate(edges, srcCol, dstCol, iters, dampNum, dampDen, scale)._1

  /** Deterministic top-k by rank (ties broken by node id) — the read
    * path a crawl scheduler actually consumes. */
  def topK(ranked: DataFrame, k: Int): DataFrame =
    ranked.orderBy(col("rank_scaled").desc, col("node")).limit(k)

  /** Integer fixed-point HITS (Kleinberg 1999) — the hubs/authorities
    * companion to [[pageRank]]: on a crawl graph, authorities are the
    * link-endorsed content pages and hubs the directories pointing at
    * them, the complementary prioritization signal to PageRank's random
    * surfer. Scores live in `scale` units; each half-round is one
    * edge-keyed join + bigint sum, then a MAX-normalization by integer
    * division (`x div (max div scale)`) instead of the classical L2 norm
    * — same fixed point direction, but every operation stays exact
    * bigint, so results are bit-identical across engines and
    * partitionings and the (max div scale) divisor keeps every
    * intermediate below 2^63 by construction. The two max scalars per
    * round are aggregated reads inlined as literals (the [[pageRank]]
    * dangling-mass pattern). Same scale posture as PageRank: edges
    * partitioned once, state node-sized, per-round shuffles are the two
    * map-side-combinable sums.
    */
  def hitsTopK(spark: SparkSession, edges: DataFrame,
               srcCol: String, dstCol: String, iters: Int, k: Int,
               scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"hitsTopK needs at least one iteration, got $iters")
    // k = 0 would optimize the limit to an empty relation, pruning the
    // CollectMetrics node — the observation would never fire and the
    // final get would block forever
    require(k >= 1, s"hitsTopK needs k >= 1, got $k")
    GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val e0 = edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // one scalar action sizes the iteration's pinned partitioning to
      // the GRAPH (the pageRank p2 rule — AQE is deliberately off, so
      // this is the adaptive call it would have made) and doubles as
      // e0's eager fill
      val nE = e0.count()
      val p2 = math.max(1, math.min(p, (nE / 2000L).toInt + 1))
      val e = e0.repartition(p2, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // nodes is NOT pinned and never counted: it is read exactly once
      // (the final completion join) from the cached edge relation, and
      // the empty-graph exit is read off round 1's max scalar instead —
      // an empty edge set sums to an empty aRaw, and nodes is empty iff
      // e is
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct()
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("auth_scaled",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("hub_scaled",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("auth",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      // ONE action per half-round (the max-scalar read doubles as the
      // raw-sum cache fill), and the LAST half-round pays no action at
      // all: its max rides the final collect as an Observation metric
      // and the hub normalization — a per-row integer division by that
      // scalar — happens on the collected k rows. Normalized states are
      // never persisted (`a div aDiv` is a narrow projection over the
      // cached raw sums); intermediate rounds skip the node-completion
      // left join (a node absent from a raw sum contributes exactly what
      // a zero-valued row would); only the FINAL output completes
      // against `nodes` to surface zero-scored rows.
      var hub: DataFrame = null // null = round 1's uniform `scale` init
      var auth: DataFrame = null
      var aRawPrev: DataFrame = null
      var hRawPrev: DataFrame = null
      var lastHRaw: DataFrame = null
      val hObs = org.apache.spark.sql.Observation()
      for (r <- 1 to iters) {
        // uniform init folds round 1's join away: sum of `scale` over
        // in-edges IS indegree * scale
        val aRaw = (if (hub == null)
            e.groupBy(col("dst")).agg((count(lit(1)) * scale).as("a"))
          else
            e.join(hub.select(col("node").as("src"), col("h")), "src")
              .groupBy(col("dst")).agg(sum(col("h")).as("a")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // fills aRaw (and e in round 1); also the last plan that reads
        // the previous round's hRaw (through `hub`), released right after
        val aMax = aRaw.agg(coalesce(max(col("a")), lit(0L))).head.getLong(0)
        if (hub == null) e0.unpersist(false) // round 1 just filled e
        if (hRawPrev != null) { hRawPrev.unpersist(false); hRawPrev = null }
        if (aMax == 0L) {
          // empty graph (e empty => aRaw empty; scores are positive
          // otherwise): release every pin before the early exit
          e.unpersist(false); aRaw.unpersist(false)
          if (aRawPrev != null) aRawPrev.unpersist(false)
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
        }
        val aDiv = math.max(aMax / scale, 1L)
        auth = aRaw.select(col("dst").as("node"),
          expr(s"a div ${aDiv}L").as("a"))
        val hPlan = e.join(auth.select(col("node").as("dst"), col("a")), "dst")
          .groupBy(col("src")).agg(sum(col("a")).as("hh"))
        if (r < iters) {
          val hRaw = hPlan.persist(StorageLevel.MEMORY_AND_DISK)
          // fills hRaw; the last plan reading the previous aRaw (via auth)
          val hMax = hRaw.agg(coalesce(max(col("hh")), lit(0L))).head.getLong(0)
          if (aRawPrev != null) aRawPrev.unpersist(false)
          val hDiv = math.max(hMax / scale, 1L)
          hub = hRaw.select(col("src").as("node"),
            expr(s"hh div ${hDiv}L").as("h"))
          hRawPrev = hRaw
        } else {
          // final half-round: RAW hub sums flow into the collect, which
          // observes their max in the same job — no separate fill action
          if (aRawPrev != null) aRawPrev.unpersist(false)
          lastHRaw = hPlan.observe(hObs,
            coalesce(max(col("hh")), lit(0L)).as("hm"))
        }
        aRawPrev = aRaw
      }
      // auth_scaled is already final, so the top-k order and cut are
      // exact before hub normalization; hub_scaled = hh div hDiv happens
      // driver-side on the k collected rows once the observed max lands
      val out = nodes
        .join(auth, Seq("node"), "left")
        .join(lastHRaw.select(col("src").as("node"), col("hh")),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("a"), lit(0L)).as("auth_scaled"),
          coalesce(col("hh"), lit(0L)).as("hh"),
          (coalesce(col("a"), lit(0L)).cast("double") /
            lit(scale.toDouble)).as("auth"))
        .orderBy(col("auth_scaled").desc, col("node")).limit(k)
      val rows = out.collect()
      val hMax = hObs.get("hm").asInstanceOf[Long]
      val hDiv = math.max(hMax / scale, 1L)
      e.unpersist(false)
      if (aRawPrev != null) aRawPrev.unpersist(false)
      // hh >= 0 by construction (sums of nonnegative normalized auth),
      // so Java integer division equals SQL `div` here
      val normed = rows.toIndexedSeq.map { row =>
        org.apache.spark.sql.Row(row.getLong(0), row.getLong(1),
          row.getLong(2) / hDiv, row.getDouble(3))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(normed, 1), outSchema)
    }
  }

  /** Top-k with full cleanup: collects the k result rows (result-sized
    * by construction) so the iteration's node-sized rank pin can be
    * released before returning. */
  def pageRankTopK(spark: SparkSession, edges: DataFrame,
                   srcCol: String, dstCol: String, iters: Int, k: Int,
                   dampNum: Int = 85, dampDen: Int = 100,
                   scale: Long = 1000000000L): DataFrame =
    rankTopK(spark, edges, srcCol, dstCol, iters, k, dampNum, dampDen, scale, None)

  /** Personalized PageRank (Haveliwala's topic-sensitive variant, the
    * "expand from these trusted hosts" crawl-frontier score): identical
    * integer fixed-point rounds, but the teleport vector — the (1-d) base
    * term, the initial mass, and the dangling-mass redistribution — is
    * uniform over `seeds` (first column, cast to long; off-graph ids are
    * ignored) instead of over all nodes. Rank concentrates around the
    * seed neighborhood, and nodes unreachable from the seeds converge to
    * exactly 0 — bigint arithmetic, so the oracle replays every round.
    * Same scale posture as [[pageRankTopK]]: the seed flag rides in the
    * node-sized rank state, adding no join and no shuffle to the rounds.
    */
  def personalizedPageRankTopK(spark: SparkSession, edges: DataFrame,
                               srcCol: String, dstCol: String,
                               seeds: DataFrame, iters: Int, k: Int,
                               dampNum: Int = 85, dampDen: Int = 100,
                               scale: Long = 1000000000L): DataFrame =
    rankTopK(spark, edges, srcCol, dstCol, iters, k, dampNum, dampDen, scale,
      Some(seeds))

  /** Degree-ordered triangle counting (the Schank–Wagner / forward
    * algorithm as relational dataflow): undirected edges are canonicalized
    * (a < b, deduped), then ORIENTED from the lower-degree endpoint to the
    * higher (ties by id) — every node's out-adjacency is O(sqrt(m)), so
    * the wedge self-join that dominates the cost is bounded by
    * sum(outdeg^2) = O(m^1.5) instead of sum(deg^2), which on a
    * power-law crawl graph is the difference between feasible and a
    * hub-node blowup. Wedges close against the canonical edge set with
    * one more equi-join. Returns (node, n_tri): each triangle counts once
    * for each of its three corners. Everything is equi-joins + hash
    * aggregates — shuffles carry edge keys only.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String,
                     maxDriverEdges: Long = 100000L): DataFrame =
    triangleCorners(edges, aCol, bCol, maxDriverEdges)
      .groupBy("node").agg(count(lit(1)).as("n_tri"))

  /** One row per (triangle, corner) — [[triangleCounts]] before its final
    * aggregate. Exposed so compositions (the clustering coefficient) can
    * fold corners and degrees in ONE aggregate over a union instead of
    * joining two aggregates: fewer shuffles, and — the reason it exists —
    * a count() over the union-aggregate cannot be optimized into dropping
    * the triangle leg, which Catalyst provably CAN do (and does) to a
    * left join against the unique-keyed [[triangleCounts]] output when no
    * triangle column is referenced, silently benching the degree scan
    * only.
    *
    * The canonical edge set is persisted and filled by the regime-stat
    * count (degrees, the orientation join, and the wedge-closing join
    * all scan it from concurrent subplans of one action — a lazy fill
    * would race and re-run the upstream edge derivation once per leg);
    * in the distributed branch the pin is released by the session's
    * per-query cache clear, in the driver branch immediately. */
  def triangleCorners(edges: DataFrame, aCol: String, bCol: String,
                      maxDriverEdges: Long = 100000L): DataFrame = {
    val e = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the CC / kCore regime split, tighter bound (the wedge work is
    // O(m^1.5), so 100k edges caps the driver at ~3e7 set probes): a
    // small graph runs the SAME forward algorithm in memory — the
    // distributed form pays fixed scheduling for ~10 tiny stages, which
    // at 500 staged edges was most of the gate's cost. Both regimes are
    // forced and compared in LinkAnalysisSpec/PropertySpec; the
    // distributed branch stays driver-gated via t_clustering_coef.
    val nE = e.count()
    if (nE <= maxDriverEdges) {
      val spark = edges.sparkSession
      val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      e.unpersist(false)
      val deg = scala.collection.mutable.Map.empty[Long, Int]
      pairs.foreach { case (a, b) =>
        deg(a) = deg.getOrElse(a, 0) + 1
        deg(b) = deg.getOrElse(b, 0) + 1
      }
      // orientation: lower (degree, id) -> higher, exactly the
      // distributed plan's `when(da <= db, a).otherwise(b)` tie rule
      // (da <= db keeps a as source on ties, i.e. the LOWER id since
      // a < b canonically)
      def lessEq(x: Long, y: Long): Boolean = {
        val (dx, dy) = (deg(x), deg(y))
        dx < dy || (dx == dy && x < y)
      }
      val fwd = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val edgeSet = scala.collection.mutable.Set.empty[(Long, Long)]
      pairs.foreach { case (a, b) =>
        edgeSet += ((a, b))
        if (lessEq(a, b))
          fwd.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        else
          fwd.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
      }
      val corners = scala.collection.mutable.ArrayBuffer.empty[Long]
      fwd.foreach { case (src, nbrs) =>
        var i = 0
        while (i < nbrs.length) {
          var j = i + 1
          while (j < nbrs.length) {
            val (va, vb) = (math.min(nbrs(i), nbrs(j)), math.max(nbrs(i), nbrs(j)))
            if (edgeSet.contains((va, vb))) {
              corners += src; corners += va; corners += vb
            }
            j += 1
          }
          i += 1
        }
      }
      import spark.implicits._
      return corners.toSeq.sorted.toDF("node")
    }

    val deg = e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val o = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("src"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("dst"))
    val wedges = o.select(col("src"), col("dst").as("va"))
      .join(o.select(col("src"), col("dst").as("vb")), "src")
      .filter(col("va") < col("vb"))
    val tri = wedges.join(e.select(col("a").as("va"), col("b").as("vb")),
      Seq("va", "vb"))
    tri.select(col("src").as("node"))
      .unionByName(tri.select(col("va").as("node")))
      .unionByName(tri.select(col("vb").as("node")))
  }

  /** Canonical deduped edges with their degree-ordered orientation —
    * the STAGED half of the forward algorithm: one row per undirected
    * edge carrying both the canonical form (a < b, the closing-join key)
    * and the low-degree→high-degree direction (src/dst, ties by id —
    * the same `da <= db` rule both [[triangleCorners]] regimes apply).
    * In deployment the orientation is a per-corpus-version mart (it
    * changes only when the graph does), so the cohesion queries that
    * share it time the wedge join, not the degree staging; pair with
    * [[triangleCornersOriented]]. */
  def orientedEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // NOT pinned: the mart is built once per corpus version under a
    // single write action, and the canonical relation's three reads
    // (both degree legs + the orientation join) are identical subtrees
    // ReuseExchange dedupes within that action — a persist here would
    // leak (this function returns lazily, so it has no release point)
    // for no saved work
    val e = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val out = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"),
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("src"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("dst"))
    out
  }

  /** The wedge-join phase of the forward algorithm over a PRE-ORIENTED
    * edge mart (the output of [[orientedEdges]], typically a staged
    * parquet artifact): out-adjacency self-join bounded O(sqrt m) per
    * node, wedges closed against the canonical (a, b) columns of the
    * same relation. Semantically identical to [[triangleCorners]]'
    * distributed branch (the spec pins all three forms equal) at three
    * fewer stages — no canonicalize/distinct, no degree aggregate, no
    * orientation joins in the per-query plan. The mart is scanned by
    * three subplans; it is a parquet relation, so the re-scans are free
    * and nothing needs pinning. */
  def triangleCornersOriented(oriented: DataFrame): DataFrame = {
    val wedges = oriented.select(col("src"), col("dst").as("va"))
      .join(oriented.select(col("src"), col("dst").as("vb")), "src")
      .filter(col("va") < col("vb"))
    val tri = wedges.join(
      oriented.select(col("a").as("va"), col("b").as("vb")), Seq("va", "vb"))
    tri.select(col("src").as("node"))
      .unionByName(tri.select(col("va").as("node")))
      .unionByName(tri.select(col("vb").as("node")))
  }

  /** k-core decomposition by iterative peeling: repeatedly remove nodes
    * of degree < k (undirected, canonicalized, deduped edges) until the
    * surviving subgraph is stable; return its nodes with their in-core
    * degrees. The classic graph-curation primitive ("drop
    * low-engagement users/items and everything that only they
    * supported") — peeling one layer can expose the next, so a single
    * degree filter is NOT enough, which is exactly what the gate's
    * oracle pins (an unrolled fixed-point replay).
    *
    * Scale posture — the [[graft.operators.Dedup]] connected-components
    * regime split, same documented bound: a graph at or under
    * `maxDriverEdges` canonical edges peels ON THE DRIVER (a linear
    * queue-based cascade — the whole fixpoint costs O(E), versus one
    * distributed round per peel LAYER, each paying fixed scheduling for
    * a degree aggregate + two semi-joins; at 500 edges the distributed
    * loop was measured 9.8 s against milliseconds in memory). Past the
    * bound, the distributed loop runs: edge-keyed shuffles only,
    * node-sized state, monotonically shrinking input, convergence read
    * by the edge count in the same scalar action that fills the round's
    * cache (no edge removed => no degree changed => stable). Rounds are
    * bounded by `maxRounds` — peeling depth on real graphs is small
    * (the degeneracy argument); hitting the bound throws rather than
    * silently returning a non-core. Both regimes compute the same
    * unique k-core (`LinkAnalysisSpec` forces and compares them).
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 50,
            maxDriverEdges: Long = 4000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = edges.sparkSession
    val e0 = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = e0.count()
    if (n0 <= maxDriverEdges) {
      // driver cascade: maintain degrees + live flags, queue every node
      // that drops below k, remove its edges, enqueue newly-dropped
      // neighbors — each edge is touched O(1) times
      val pairs = e0.collect().map(r => (r.getLong(0), r.getLong(1)))
      e0.unpersist(false)
      val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      pairs.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
      }
      val deg = scala.collection.mutable.Map.empty[Long, Long]
      adj.foreach { case (n, nb) => deg(n) = nb.length.toLong }
      val dead = scala.collection.mutable.Set.empty[Long]
      val queue = scala.collection.mutable.Queue.empty[Long]
      deg.foreach { case (n, d) => if (d < k) { dead += n; queue += n } }
      while (queue.nonEmpty) {
        val n = queue.dequeue()
        adj(n).foreach { m =>
          if (!dead.contains(m)) {
            deg(m) -= 1
            if (deg(m) < k) { dead += m; queue += m }
          }
        }
      }
      import spark.implicits._
      deg.iterator
        .collect { case (n, d) if !dead.contains(n) => (n, d) }
        .toSeq.sorted.toDF("n", "deg")
    } else {
      var cur = e0
      var nCur = n0
      var rounds = 0
      var stable = nCur == 0L
      while (!stable) {
        rounds += 1
        if (rounds > maxRounds)
          sys.error(s"kCore did not converge in $maxRounds rounds")
        val deg = cur.select(col("a").as("n"))
          .unionByName(cur.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select(col("n"))
        val next = cur
          .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nNext = next.count()
        cur.unpersist(false)
        stable = nNext == nCur
        nCur = nNext
        cur = next
      }
      // no final degree filter: at the fixpoint every survivor has
      // deg >= k by definition, and filtering here would mask a broken
      // convergence from the oracle instead of surfacing it
      cur.select(col("a").as("n"))
        .unionByName(cur.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
    }
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * shape, made DETERMINISTIC): every node starts labeled with its own
    * id; each round every node adopts the most frequent label among its
    * neighbors, ties broken by the smallest label — the argmax is a
    * total order (count desc, label asc), so rounds are replayable by
    * any engine, unlike the classic randomized-tie-break LPA. Runs a
    * FIXED `rounds` (community detection uses LPA as a few-sweep
    * coarsener; a fixpoint test would make the result order-dependent
    * on asynchronous engines, while the synchronous fixed-round form is
    * the one with a well-defined answer). Output one row per node:
    * (node, label, community_size).
    *
    * Scale shape: the symmetrized edge list is hash-partitioned once and
    * reused every round; each round is one edge-keyed join + two
    * map-side-combinable hash aggregates (votes, then argmax) — label
    * state is node-sized, nothing driver-side but the per-round cache
    * fill, and the tie-break needs no window (a struct max carries
    * (count, -label) through the aggregate). Same per-round cost
    * envelope as a PageRank round.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds in [1,20], got $rounds")
    val spark = edges.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val und = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .repartition(p, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    var r = 0
    while (r < rounds) {
      val prev = labels
      // votes arrive over the dst->node join (edge-keyed, co-partitioned
      // with sym's pinned layout); the argmax rides the same hash agg:
      // max of (cnt, -label) IS (most frequent, then smallest label)
      labels = sym.join(prev, sym("dst") === prev("node"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // eager fill BEFORE unpersisting the parent: the final select
      // references the last round twice (rows + community sizes), and a
      // lazily-persisted relation under concurrent AQE subplans
      // recomputes per reference
      labels.count()
      prev.unpersist(false)
      r += 1
    }
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    val out = labels.join(sizes, Seq("label"))
      .select(col("node"), col("label"), col("community_size"))
    sym.unpersist(false)
    out
  }

  /** Per-community modularity decomposition of a node partition (Newman
    * Q): for community c with `intra_edges` internal edges and
    * `degree_sum` D_c over m total edges, the contribution to Q is
    * `intra/m − (D_c/2m)²`; this emits the EXACT INTEGER numerator
    * `q_num = 4·m·intra − D_c²` per community (global Q = Σ q_num / 4m²),
    * so the readout is order-independent and bit-replayable — no float
    * sums whose grouping differs across engines. q_num stays exact while
    * `4·m·intra_edges` fits a long (m·intra < 2⁶¹ — beyond that, carry
    * the division through before summing). One row per community:
    * (label, n_nodes, intra_edges, degree_sum, q_num); communities with
    * no internal edge keep their row with intra_edges = 0.
    *
    * Scale shape: two label-broadcast equi-joins tag the edge endpoints
    * (the labels table is node-sized; at web scale it hash-joins on the
    * edge key instead), one endpoint-union degree aggregate, and a
    * community-sized rollup; m is one scalar read inlined as a literal.
    *
    * Contract: `labels` assigns every node of `edges` (LPA output
    * does). Nodes absent from `labels` are treated as outside the
    * partition — their edges count toward m and toward their labeled
    * endpoint's degree, but never as intra edges, so a PARTIAL label
    * table reads as "the rest of the graph is unassigned", not as an
    * error.
    */
  def communityModularity(edges: DataFrame, aCol: String, bCol: String,
                          labels: DataFrame): DataFrame = {
    val e = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE action doing double duty: it reads m AND eagerly fills the
    // pin that the intra and degree legs both re-read — the fully-lazy
    // alternative (m as a broadcast one-row aggregate) would leave e
    // lazily pinned under three concurrent subplans, which recomputes
    // per reference. Construction therefore costs one count job
    // (assortativity shows the zero-pre-action form when no reuse
    // exists to protect).
    val m = e.count()
    val nl = labels.select(col("node"), col("label"))
    val intra = e
      .join(nl.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(nl.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val out = nl.join(deg, Seq("node"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("degree_sum"))
      .join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"))
      .withColumn("q_num",
        lit(4L * m) * col("intra_edges") -
          col("degree_sum") * col("degree_sum"))
    // e stays pinned through the caller's terminal action (both the
    // intra and degree legs read it; released by the session's
    // per-query cache clear)
    out
  }

  /** Degree assortativity (Newman 2002) sufficient statistics, exact:
    * over the canonical undirected edge set with endpoint degrees
    * (j, k), one row of integer sums — m, `sum_deg` = Σ(j+k),
    * `sum_deg_sq` = Σ(j²+k²), `sum_prod` = Σ j·k — plus the exact
    * integer Pearson numerator/denominator
    * `r_num = 4·m·Σjk − (Σ(j+k))²`, `r_den = 2·m·Σ(j²+k²) − (Σ(j+k))²`
    * (r = r_num / r_den). Emitting the rational pieces instead of the
    * float keeps the readout bit-replayable on any engine and any
    * partitioning; the caller divides once.
    *
    * Scale shape: one degree aggregate, two node-keyed joins to tag the
    * edge endpoints, ONE global aggregate — no scalar pre-actions, the
    * whole statistic is a single lazy plan (m rides the same aggregate
    * row). Longs hold the sums while m·maxdeg² < 2⁶¹ (a 10¹⁰-edge graph
    * with 10⁶-degree hubs needs the same sums carried as DECIMAL(38,0)
    * — column swap, identical plan).
    */
  def degreeAssortativity(edges: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    val e = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    e.join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .agg(
        count(lit(1)).as("m"),
        sum(col("da") + col("db")).as("sum_deg"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sum_deg_sq"),
        sum(col("da") * col("db")).as("sum_prod"))
      .select(col("m"), col("sum_deg"), col("sum_deg_sq"), col("sum_prod"),
        (lit(4L) * col("m") * col("sum_prod") -
          col("sum_deg") * col("sum_deg")).as("r_num"),
        (lit(2L) * col("m") * col("sum_deg_sq") -
          col("sum_deg") * col("sum_deg")).as("r_den"))
  }

  /** Link prediction over an undirected graph: for every NON-adjacent
    * pair with at least one common neighbor, the two classic exact
    * scores — `cn` (common-neighbor count, Newman) and `pa`
    * (preferential attachment, deg(a)·deg(b), Barabási) — cut to the
    * `topK` strongest candidates by the deterministic total order
    * (cn desc, pa desc, a, b). This is the candidate generator graph
    * curation runs for hard-negative mining and engagement-expansion
    * sampling; both scores are integers, so ranking is bit-stable.
    *
    * Scale shape: the wedge self-join on the shared center is the
    * triangle kernel's cost envelope — Σ_c deg(c)² wedge instances,
    * generated per center partition (skewed hubs are the caller's
    * degree-cap decision, same as [[triangleCounts]]); the adjacency
    * anti-join and degree tags are edge-/node-keyed equi-joins, and the
    * result is topK-sized via TakeOrdered (no global sort).
    */
  def linkPredictionTopK(edges: DataFrame, aCol: String, bCol: String,
                         topK: Int): DataFrame = {
    val e = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // eager fill: four subplans read e (both sym legs, the anti-join,
    // deg via sym) and a lazily-pinned relation under concurrent AQE
    // subplans recomputes per reference; released by the session's
    // per-query cache clear
    e.count()
    val sym = e.select(col("a").as("c"), col("b").as("n"))
      .unionByName(e.select(col("b").as("c"), col("a").as("n")))
    val wedges = sym.as("x").join(sym.as("y"),
        col("x.c") === col("y.c") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("a"), col("y.n").as("b"))
      .agg(count(lit(1)).as("cn"))
    val deg = sym.groupBy(col("c").as("node")).agg(count(lit(1)).as("d"))
    val cand = wedges.join(e, Seq("a", "b"), "left_anti")
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"),
        (col("da") * col("db")).as("pa"))
    val out = cand
      .orderBy(col("cn").desc, col("pa").desc, col("a"), col("b"))
      .limit(topK)
    out
  }

  /** User–user co-engagement projection of a bipartite (user, topic)
    * engagement log: `support(ua, ub) = |topics(ua) ∩ topics(ub)|`, cut
    * to the `topK` strongest edges by a deterministic total order
    * (support desc, then ids). This is the classic bipartite-projection
    * regime trade, and the regime is chosen HERE, from the data:
    *
    *  - DENSE form — each user's topic set is a ≤128-bit bitset (two
    *    longs), pair support is two codegen'd `bit_count(AND)`s over a
    *    broadcast mask table: `|U|²/2` cheap pairs, no shuffle of
    *    co-occurrence instances. Eligible only when the topic domain
    *    fits the bitset (≤128) and the mask table is broadcast-sized
    *    (`maxDenseUsers`).
    *  - SPARSE form — per-topic equi-join + hash aggregate:
    *    `Σ_t m_t²/2` shuffled co-occurrence instances, linear in users.
    *
    * ScaleProbe's triangles mode measured the two per-UNIT costs within
    * ~5% of each other at sf0.1 (40M join instances 16.6 s vs 12.5M mask
    * pairs 4.9 s), so the selector simply compares the unit counts —
    * `|U|²/2` vs `Σ_t m_t²/2` — read as two aggregated scalars off the
    * same persisted pair table (the [[pageRank]] literal pattern). At
    * 100× users the dense form is quadratic and the selector flips to
    * the equi-join automatically; both forms provably produce the same
    * edge set (`LinkAnalysisSpec`), so the switch is invisible to
    * results. The result is LAZY (deterministic top-k cut); callers
    * consuming it more than once should persist it, as any Spark plan.
    *
    * `topicDomain = Some(d)` bounds topics to `[0, d)` EXPLICITLY (and
    * callers' oracles must too): Spark's shiftleft masks the shift
    * amount mod 64, so an out-of-range topic id would silently alias
    * onto another bit instead of failing — the filter turns data drift
    * into a visible row-set difference, not corruption. `None` means an
    * unbounded topic vocabulary: the sparse form is used unconditionally.
    */
  def coEngagementEdges(pairs: DataFrame, userCol: String, topicCol: String,
                        topK: Int, topicDomain: Option[Int] = Some(100),
                        maxDenseUsers: Long = 1L << 21): DataFrame = {
    val base = pairs.select(col(userCol).cast("long").as("u"),
        col(topicCol).cast("long").as("tp"))
      .filter(col("u").isNotNull && col("tp").isNotNull)
    val bounded = topicDomain match {
      case Some(d) => base.filter(col("tp").between(0, d - 1))
      case None    => base
    }
    // The distinct pair table feeds the stats AND both legs of either
    // support form: build it once, released by the session's per-query
    // cache clear like every query-scoped pin in this engine.
    val e = bounded.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // Regime stats AND the cache fill in ONE action over ONE linear
    // single-scan plan: each pair row is exploded into a (0, tp) and a
    // (1, u) tagged key, grouped once, then folded — Σ m_t² (the sparse
    // form's join-instance count) from the kind-0 groups and |U| (the
    // dense form's mask-table size) as the kind-1 group count. A single
    // scan leg means the lazy persist cannot race concurrent subplans
    // (the old shape paid an eager count() plus a crossJoin of two
    // aggregates for the same two scalars). Doubles for the comparison:
    // |U|² overflows Long past ~3e9 users. The support plan itself is
    // returned LAZILY (one action when the caller consumes it).
    val stats = e.select(explode(array(
        struct(lit(0).as("kind"), col("tp").as("key")),
        struct(lit(1).as("kind"), col("u").as("key")))).as("t"))
      .groupBy(col("t.kind").as("kind"), col("t.key").as("key"))
      .agg(count(lit(1)).as("m"))
      .agg(
        coalesce(sum(when(col("kind") === 0, col("m") * col("m"))), lit(0L))
          .as("inst"),
        coalesce(sum(when(col("kind") === 1, lit(1L))), lit(0L)).as("nu"))
      .head
    val (inst, nUsers) = (stats.getLong(0), stats.getLong(1))
    val dense = chooseDense(nUsers, inst, topicDomain, maxDenseUsers)
    val sup = coEngagementSupport(e, dense, topicDomain.getOrElse(0))
    sup.orderBy(col("c").desc, col("ua"), col("ub")).limit(topK)
  }

  /** The measured crossover: per-unit costs of the two forms are near-
    * equal (ScaleProbe), so pick the form with fewer units; the bitset
    * form additionally needs the domain to fit 128 bits and the mask
    * table to be broadcast-sized. */
  private[graft] def chooseDense(nUsers: Long, sumMSq: Long,
                                 topicDomain: Option[Int],
                                 maxDenseUsers: Long): Boolean =
    topicDomain.exists(_ <= 128) && nUsers <= maxDenseUsers &&
      nUsers.toDouble * nUsers.toDouble / 2.0 <= sumMSq.toDouble / 2.0

  /** Support table (ua, ub, c) for distinct (u, tp) pairs `e`, by either
    * regime — exposed for the regime-equivalence spec and ScaleProbe. */
  private[graft] def coEngagementSupport(e: DataFrame, dense: Boolean,
                                         domain: Int): DataFrame =
    if (dense) {
      // two-long bitset split at 64: tp<64 -> bit tp of m1, else bit
      // (tp-64) of m2 — both shift amounts in [0,63] for domain <= 128
      val masks = e.groupBy(col("u")).agg(
        coalesce(sum(when(col("tp") < 64,
          expr("shiftleft(1L, CAST(tp AS INT))"))), lit(0L)).as("m1"),
        coalesce(sum(when(col("tp") >= 64,
          expr("shiftleft(1L, CAST(tp - 64 AS INT))"))), lit(0L)).as("m2"))
      masks.as("x").join(broadcast(masks.as("y")), col("x.u") < col("y.u"))
        .select(col("x.u").as("ua"), col("y.u").as("ub"),
          (bit_count(col("x.m1").bitwiseAND(col("y.m1"))) +
            bit_count(col("x.m2").bitwiseAND(col("y.m2"))))
            .cast("long").as("c"))
        .filter(col("c") > 0)
    } else {
      e.as("x").join(e.as("y"),
          col("x.tp") === col("y.tp") && col("x.u") < col("y.u"))
        .groupBy(col("x.u").as("ua"), col("y.u").as("ub"))
        .agg(count(lit(1)).as("c"))
    }

  private def rankTopK(spark: SparkSession, edges: DataFrame,
                       srcCol: String, dstCol: String, iters: Int, k: Int,
                       dampNum: Int, dampDen: Int, scale: Long,
                       seeds: Option[DataFrame]): DataFrame = {
    val (ranked, pins) = iterate(edges, srcCol, dstCol, iters, dampNum,
      dampDen, scale, seeds, lazyFinal = true)
    val out = topK(ranked, k)
    val rows = out.collect()
    pins.foreach(_.unpersist(false))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }
}
