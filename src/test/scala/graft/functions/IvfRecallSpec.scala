package graft.functions

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall audit of the IVF variants on a held-out query set: Lloyd-refined
  * centroids must not lose recall vs the raw seed rule at equal nprobe
  * (seed cells are arbitrary corpus vectors; 2 Lloyd rounds move them
  * toward real density centers, tightening the probed neighborhoods).
  */
class IvfRecallSpec extends SparkSpec {

  import spark.implicits._

  private val heldOut = Seq(1L, 3L, 7L, 11L, 19L, 23L)
  private val k = 10
  private val nlist = 16
  private val nprobe = 4

  private def topIds(df: DataFrame): Set[Long] =
    df.select("vec_id").as[Long].collect().toSet

  test("2 Lloyd rounds: mean recall@10 >= seed centroids on held-out queries") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = IvfIndex.lloydCentroids(emb, nlist, iters = 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cents.count()
    val (seedR, lloydR) = heldOut.map { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding"))
      val truth = topIds(VectorFunctions.bruteForceTopK(emb, q, k))
      val seed = topIds(VectorFunctions.ivfTopK(emb, q, k, nlist, nprobe))
      val lloyd = topIds(IvfIndex.topKWithCentroids(emb, cents, q, k, nprobe))
      ((truth & seed).size.toDouble / k, (truth & lloyd).size.toDouble / k)
    }.unzip
    cents.unpersist()
    val (seedMean, lloydMean) = (seedR.sum / seedR.size, lloydR.sum / lloydR.size)
    info(f"seed recall@10 = $seedMean%.3f, lloyd recall@10 = $lloydMean%.3f")
    assert(lloydMean >= seedMean,
      f"Lloyd refinement lost recall: $lloydMean%.3f < $seedMean%.3f " +
        s"(per-query seed=$seedR lloyd=$lloydR)")
  }

  test("lloydCentroids per-round driver-collect budget: inside-budget " +
      "states pass, oversized cell counts or double volumes fail loudly") {
    IvfIndex.checkCentroidCollectBudget(16, 16L * 64, nlist = 16)
    IvfIndex.checkCentroidCollectBudget(0, 0L, nlist = 16)
    // more cells than nlist: the aggregate's by-construction bound broke
    intercept[IllegalArgumentException] {
      IvfIndex.checkCentroidCollectBudget(17, 17L * 64, nlist = 16)
    }
    // production-sized nlist x dim through the driver: refuse per round
    intercept[IllegalArgumentException] {
      IvfIndex.checkCentroidCollectBudget(10000, 10000L * 1000, nlist = 10000)
    }
  }

  test("PQ: m bounded codes per vector, deterministic, useful ADC recall") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val (m, dsub, ksub) = (8, 8, 16)
    val cb = IvfIndex.pqCodebooks(emb, m, dsub, ksub)
    assert(cb.count() == m.toLong * ksub)
    val codes = IvfIndex.pqCodes(emb, cb, m, dsub)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    codes.count()
    // every vector compresses to exactly m codes, each a valid codeword id
    assert(codes.filter(size(col("codes")) =!= m).count() == 0)
    assert(codes.filter(exists(col("codes"),
      c => c < 0 || c >= ksub)).count() == 0)

    def dotTop(qid: Long): Set[Long] = {
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("__qv"))
      emb.crossJoin(broadcast(q))
        .withColumn("dot", aggregate(
          zip_with(col("embedding"), col("__qv"),
            (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _))
        .orderBy(col("dot").desc, col("vec_id"))
        .limit(k).select("vec_id").as[Long].collect().toSet
    }
    val recalls = heldOut.map { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding"))
      val pq = topIds(IvfIndex.pqTopK(emb, codes, cb, q, k, m, dsub))
      val pq2 = topIds(IvfIndex.pqTopK(emb, codes, cb, q, k, m, dsub))
      assert(pq == pq2, s"PQ ranking not deterministic for query $qid")
      (dotTop(qid) & pq).size.toDouble / k
    }
    codes.unpersist()
    val mean = recalls.sum / recalls.size
    info(f"PQ ADC recall@10 vs exact dot = $mean%.3f")
    // 32x compression keeps a usable candidate list on the fixture
    assert(mean >= 0.3, f"PQ recall collapsed: $mean%.3f (per-query $recalls)")
  }

  test("pqRerankTopK with a full-corpus shortlist equals brute force exactly; " +
      "rerank recall >= raw ADC recall on held-out queries") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count().toInt
    val cb = IvfIndex.pqCodebooks(emb, m = 8, dsub = 8, ksub = 16)
    val codes = IvfIndex.pqCodes(emb, cb, m = 8, dsub = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    codes.count()
    // degenerate shortlist = whole corpus: stage 2 IS brute force, so the
    // ranked ids must match the exact baseline row for row
    val q0 = emb.filter(col("vec_id") === 1L).select(col("embedding"))
    val exact = VectorFunctions.bruteForceTopK(emb, q0, k)
      .select("vec_id").as[Long].collect().toSeq
    val degenerate = IvfIndex.pqRerankTopK(emb, codes, cb, q0, k, shortlist = n,
        m = 8, dsub = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(degenerate == exact, s"$degenerate != $exact")
    val (adcR, rerankR) = heldOut.map { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding"))
      val truth = topIds(VectorFunctions.bruteForceTopK(emb, q, k))
      val adc = topIds(IvfIndex.pqTopK(emb, codes, cb, q, k, m = 8, dsub = 8))
      val rr = topIds(IvfIndex.pqRerankTopK(emb, codes, cb, q, k,
        shortlist = 5 * k, m = 8, dsub = 8))
      ((truth & adc).size.toDouble / k, (truth & rr).size.toDouble / k)
    }.unzip
    codes.unpersist()
    val (adcMean, rrMean) = (adcR.sum / adcR.size, rerankR.sum / rerankR.size)
    info(f"ADC recall@10 = $adcMean%.3f, rerank(50) recall@10 = $rrMean%.3f")
    assert(rrMean >= adcMean,
      f"exact rerank lost recall vs raw ADC: $rrMean%.3f < $adcMean%.3f")
  }

  test("tuneNprobe: recall is monotone in probe depth, full-width probe " +
      "recalls everything, and recallAtK matches a hand count") {
    import graft.functions.{VectorFunctions => VF}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7).select(col("embedding"))
    val sweep = VF.tuneNprobe(emb, q, k = 10, nlist = 16,
        nprobes = Seq(1, 4, 16))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // deeper probes can only ADD candidate cells: recall is monotone
    assert(sweep(1L) <= sweep(4L) && sweep(4L) <= sweep(16L),
      s"recall must be monotone in nprobe: $sweep")
    // probing every cell IS brute force over the whole corpus
    assert(sweep(16L) == 1.0, s"full-width probe must recall 1.0: $sweep")
    // recallAtK against itself is exact
    val exact = VF.bruteForceTopK(emb, q, k = 10)
    val self = VF.recallAtK(exact, exact, "self").head
    assert(self.getLong(1) == 10L && self.getDouble(3) == 1.0)
    spark.catalog.clearCache()
  }
}
