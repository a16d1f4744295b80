package graft.operators

import graft.functions.{IvfIndex, VectorFunctions => VF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication in the SemDeDup shape (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedded corpus with k-means, then look
  * for near-duplicate pairs ONLY within each cluster, and keep one
  * representative per duplicate group.
  *
  * This is the embedding-space analog of MinHash+LSH dedup: clustering
  * plays the role of the LSH bucket. The pairwise cosine pass is confined
  * to same-cell pairs — a cell-keyed equi self-join, never a corpus-wide
  * cross join — so the quadratic term is bounded by the largest cluster,
  * which nlist controls (at 100 TB: raise nlist so cells stay
  * executor-sized; the join shuffles each vector once, keyed by cell).
  * Cross-cluster duplicates are missed BY DESIGN — that is the documented
  * recall trade the paper makes for tractability.
  *
  * Duplicate groups are the connected components of the ≥τ pair graph
  * (consistent with [[Dedup.dedupCorpus]]'s text-side semantics), with the
  * min-id member as the canonical survivor — deterministic and
  * re-derivable by the oracle's recursive CTE over the same pair set.
  */
object SemDedup {

  /** Spread the corpus across every slot BEFORE the per-row vector math:
    * the Lloyd rounds are one lazy plan whose every unrolled iteration
    * re-scans the source, and on a few-split table each scan would run
    * the full distance pass inside one task (the coEngagementTop500Fresh
    * precedent). One narrow exchange, emitted once — ReuseExchange
    * dedupes the identical repartition subplan across the iterations;
    * on a many-split production table it is AQE-coalesced noise. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** (cell, vec_id, embedding) under centroids refined by `iters`
    * deterministic Lloyd rounds (the [[IvfIndex.lloydCentroids]] rule, so
    * the oracle regenerates the identical cells round by round). */
  private def assigned(emb: DataFrame, nlist: Int, iters: Int): DataFrame = {
    val cents = IvfIndex.lloydCentroids(emb, nlist, iters)
    val asn = IvfIndex.assign(emb, cents, "vec_id", "embedding", nativeCosine = false)
    emb.join(asn, "vec_id").select(col("cell"), col("vec_id"), col("embedding"))
  }

  /** The pair rule: cell-confined self-join, rounded cosine, >= tau. */
  private def cellPairs(m: DataFrame, tau: Double): DataFrame = {
    val a = m.select(col("cell"), col("vec_id").as("vec_a"), col("embedding").as("va"))
    val b = m.select(col("cell"), col("vec_id").as("vec_b"), col("embedding").as("vb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(VF.cosineNative(col("va"), col("vb")), 6))
      .filter(col("cos") >= tau)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Full SemDeDup verdict table: one row per vector with its cluster, its
    * duplicate-group canonical id, and whether it survives. Survivors of
    * the same cell are pairwise below τ by construction (the spec asserts
    * it); survivors whose near-dup lives in another cell are the
    * documented recall miss.
    */
  def semDedup(emb: DataFrame, nlist: Int, iters: Int, tau: Double): DataFrame = {
    val e = spread(emb)
    val m = assigned(e, nlist, iters)
    val pairs = cellPairs(m, tau)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val cc = Dedup.connectedComponents(e.select(col("vec_id")), "vec_id", pairs)
    m.select(col("vec_id"), col("cell"))
      .join(cc, "vec_id")
      .select(col("vec_id"), col("cell"), col("canonical_id"),
        (col("vec_id") === col("canonical_id")).as("keep"))
  }
}
