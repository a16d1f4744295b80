package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  private lazy val verdict = SemDedup.semDedup(emb, nlist = 8, iters = 1, tau = 0.35)

  /** Same-cell pairs with rounded cosine >= 0.35 among the verdict's rows
    * (all, or only the kept ones): the pair rule `semDedup` groups over,
    * restated over its published cells. */
  private def cellPairs(rows: DataFrame): DataFrame = {
    val m = rows.select("vec_id", "cell").join(emb, "vec_id")
    val a = m.select(col("cell"), col("vec_id").as("vec_a"), col("embedding").as("va"))
    val b = m.select(col("cell"), col("vec_id").as("vec_b"), col("embedding").as("vb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(VectorFunctions.cosineNative(col("va"), col("vb")), 6))
      .filter(col("cos") >= 0.35)
  }

  test("duplicate groups stay within cells and join only pairs at or above the threshold") {
    val rows = verdict.collect()
    val cell = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val canon = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows.exists(!_.getBoolean(3)), "fixture should produce some semantic dups")
    rows.foreach { r =>
      assert(cell(r.getLong(2)) == r.getLong(1),
        s"vector ${r.getLong(0)} and its canonical ${r.getLong(2)} cross cells")
    }
    // every dropped vector reaches its group through a >= tau same-cell pair
    val paired = cellPairs(verdict).select("vec_a", "vec_b").collect()
      .filter(p => canon(p.getLong(0)) == canon(p.getLong(1)))
      .flatMap(p => Seq(p.getLong(0), p.getLong(1))).toSet
    rows.filter(!_.getBoolean(3)).foreach { r =>
      assert(paired.contains(r.getLong(0)), s"vector ${r.getLong(0)} joined without a pair")
    }
  }

  test("survivors are canonical min-ids and no same-cell survivor pair is >= tau") {
    val rows = verdict.collect()
    assert(rows.length == emb.count())
    val kept = rows.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    // every vector's canonical is itself kept, and is <= the member id
    rows.foreach { r =>
      assert(kept.contains(r.getLong(2)), s"canonical ${r.getLong(2)} not kept")
      assert(r.getLong(2) <= r.getLong(0))
    }
    // survivors of one cell are pairwise below tau: any >= tau same-cell
    // pair would have joined the two into one component
    assert(cellPairs(verdict.filter(col("keep"))).count() == 0,
      "two same-cell survivors are still near-dups")
  }

  test("dropping duplicates shrinks the corpus but keeps one per group") {
    val nGroups = verdict.select("canonical_id").distinct().count()
    val nKept = verdict.filter(col("keep")).count()
    assert(nKept == nGroups, "exactly one survivor per duplicate group")
    assert(nKept < emb.count(), "fixture contains at least one dup to drop")
  }
}
