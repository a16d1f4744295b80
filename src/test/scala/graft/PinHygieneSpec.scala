package graft

import graft.core.GraftSession

/** Per-query isolation over the gate families whose builders pin
  * relations: each gate runs alone through [[SparkEntry.eachQuery]], and
  * afterwards the session conf and the set of persisted RDDs, checkpoints
  * included, equal what they were before it.
  */
class PinHygieneSpec extends SparkSpec {

  private val families = Seq(
    "dedup" -> Seq("t_dedup", "t_semdedup", "t_curation_e2e"),
    "link analysis" -> Seq("t_pagerank", "t_hits", "t_triangles", "t_coengage",
      "t_clustering", "t_kcore", "t_label_prop", "t_modularity",
      "t_assortativity", "t_link_predict"),
    "bpe" -> Seq("t_bpe_"),
    "quality checks" -> Seq("qa_"),
    "bm25" -> Seq("t_bm25"),
    "multimodal" -> Seq("t_multimodal_", "t_image_", "t_video_", "t_audio_"),
    "other pinning" -> Seq("t_ann_recall", "t_ann_tune", "t_epoch_shuffle",
      "t_quality_classifier", "t_dsir_sample", "s11_quarantine"))

  private lazy val queries = SparkEntry.queries

  families.foreach { case (family, prefixes) =>
    test(s"$family gates leave session conf and persisted RDDs as they found them") {
      GraftSession.tune(spark)
      spark.catalog.clearCache()
      val names = queries.keys.filter(n => prefixes.exists(n.startsWith)).toSeq.sorted
      assert(names.nonEmpty)
      names.foreach { name =>
        val conf = spark.conf.getAll
        val pinned = spark.sparkContext.getPersistentRDDs.keySet
        val Seq((_, rows)) = SparkEntry.eachQuery(spark, name, Map(name -> queries(name))) {
          (_, fn) => SparkEntry.runFull(fn(spark, sfDir))
        }
        assert(rows.isSuccess, s"$name failed: ${rows.failed.map(_.toString).getOrElse("")}")
        assert(spark.conf.getAll == conf, s"$name changed the session conf")
        // only RDDs the gate added count: one that an earlier suite left
        // outside any scope may be reaped by the ContextCleaner meanwhile
        val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !pinned(id) }
        assert(left.isEmpty, s"$name left persisted RDDs: ${left.values.mkString(", ")}")
      }
    }
  }
}
