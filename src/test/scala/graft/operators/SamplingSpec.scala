package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {

  import spark.implicits._

  test("hashSplit is stable under repartitioning and re-ordering") {
    val docs = Tables.load(spark, sfDir, "documents")
    val a = Sampling.hashSplit(docs, "doc_id").select("doc_id", "split")
    val b = Sampling.hashSplit(docs.repartition(13).orderBy(desc("n_chars")), "doc_id")
      .select("doc_id", "split")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("split assignment is consistent across tables sharing the id") {
    val ids = (1L to 2000L).toDF("id")
    val other = ids.withColumn("payload", lit("x"))
    val s1 = Sampling.hashSplit(ids, "id").select(col("id"), col("split").as("s1"))
    val s2 = Sampling.hashSplit(other, "id").select(col("id"), col("split").as("s2"))
    assert(s1.join(s2, "id").filter(col("s1") =!= col("s2")).isEmpty)
  }

  test("split fractions approximate 80/10/10") {
    val n = 20000
    val counts = Sampling.hashSplit((1L to n.toLong).toDF("id"), "id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train").toDouble / n - 0.8) < 0.02)
    assert(math.abs(counts("val").toDouble / n - 0.1) < 0.02)
    assert(math.abs(counts("test").toDouble / n - 0.1) < 0.02)
  }

  test("deterministicSample(p) is a subset of deterministicSample(q) for p < q") {
    val docs = Tables.load(spark, sfDir, "documents")
    val small = Sampling.deterministicSample(docs, "doc_id", 10).select("doc_id")
    val big = Sampling.deterministicSample(docs, "doc_id", 30).select("doc_id")
    assert(small.join(big, Seq("doc_id"), "left_anti").isEmpty)
  }

  test("stratifiedSample applies per-stratum thresholds") {
    val df = (1 to 10000).map(i => (if (i % 2 == 0) "a" else "b", i.toLong)).toDF("s", "id")
    val kept = Sampling.stratifiedSample(df, "s", "id", Map("a" -> 60), default = 5)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("a") / 5000.0 - 0.60) < 0.05)
    assert(math.abs(kept("b") / 5000.0 - 0.05) < 0.02)
  }

  test("kFold: folds partition the corpus; every rotation's test is its " +
      "bucket exactly; assignments shared across tables by id") {
    val df = (1L to 1000L).toDF("id")
    val out = Sampling.kFold(df, "id", k = 5)
      .select("id", "fold", "role").as[(Long, Int, String)].collect()
    assert(out.length == 5000) // every id in every rotation
    val tests = out.filter(_._3 == "test")
    // each id is test in EXACTLY one fold
    assert(tests.groupBy(_._1).forall(_._2.length == 1))
    // test sets across folds partition the id set
    assert(tests.map(_._1).sorted.toSeq == (1L to 1000L))
    // per-rotation: train + test covers everything, disjointly
    (0 until 5).foreach { f =>
      val rot = out.filter(_._2 == f)
      assert(rot.length == 1000)
      assert(rot.count(_._3 == "test") + rot.count(_._3 == "train") == 1000)
    }
    // same id -> same fold on a different table sharing the key space
    val other = Sampling.kFold((1L to 1000L).toDF("id").repartition(7), "id", 5)
      .filter(col("role") === "test")
      .select("id", "fold").as[(Long, Int)].collect().toMap
    assert(tests.forall { case (id, f, _) => other(id) == f })
  }

  test("epochOrder: positions are an exact permutation per epoch, equal to " +
      "the global rank, partition-invariant, distinct across epochs") {
    val df = (1L to 700L).toDF("id")
    val out = Sampling.epochOrder(df, "id", Seq(0, 1))
      .select("epoch", "id", "position")
      .as[(Int, Long, Long)].collect()
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet == Set(0, 1))
    byEpoch.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until 700L)) // permutation
    }
    // position == global rank of the order key (the single-window oracle)
    val e0 = byEpoch(0).sortBy(_._3).map(_._2).toSeq
    val expect0 = (1L to 700L).sortBy { id =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"0|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (h, id)
    }
    assert(e0 == expect0)
    // a different epoch is a different permutation
    assert(e0 != byEpoch(1).sortBy(_._3).map(_._2).toSeq)
    // partitioning must not move a single position
    val again = Sampling.epochOrder(df.repartition(17), "id", Seq(0, 1))
      .select("epoch", "id", "position")
      .as[(Int, Long, Long)].collect()
    assert(again.toSet == out.toSet)
    // the operator's keyed-relation pin is released by the session's
    // per-query cache clear (Verify/Bench do this); mirror it here
    spark.sharedState.cacheManager.clearCache()
  }

  test("capPerKey keeps at most cap rows per key, deterministically") {
    val docs = Tables.load(spark, sfDir, "documents")
    val capped = Sampling.capPerKey(docs, "source", "doc_id", cap = 10)
    val perKey = capped.groupBy("source").count().collect()
    assert(perKey.forall(_.getLong(1) <= 10))
    // deterministic: same survivors regardless of input partitioning/order
    val again = Sampling.capPerKey(
      docs.repartition(13).orderBy(desc("n_chars")), "source", "doc_id", cap = 10)
    assert(capped.select("doc_id").except(again.select("doc_id")).isEmpty &&
      again.select("doc_id").except(capped.select("doc_id")).isEmpty)
  }

  test("capPerKey compiles to a partial WindowGroupLimit (no full per-key sort ships)") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = Sampling.capPerKey(docs, "source", "doc_id", cap = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected partial WindowGroupLimit in:\n$p")
  }

  test("upsample: epoch copies, sub-1 weights match mixtureSample, no shuffle") {
    val df = (1L to 10000L).toDF("id")

    // weight 1.0: identity multiset, every row epoch 1
    val w1 = Sampling.upsample(df, "id", lit(1.0))
    assert(w1.count() == 10000L)
    assert(w1.agg(max("epoch")).head.getLong(0) == 1L)

    // weight 2.4: every id appears 2 or 3 times; overall rate ~2.4; the
    // third copy is exactly mixtureSample's 40% slice
    val w24 = Sampling.upsample(df, "id", lit(2.4))
    val perId = w24.groupBy("id").count()
    assert(perId.filter(col("count") < 2 || col("count") > 3).count() == 0)
    val total = w24.count()
    assert(math.abs(total / 10000.0 - 2.4) < 0.05, s"rate ${total / 10000.0}")
    val third = w24.filter(col("epoch") === 3).select("id")
    val slice = Sampling.mixtureSample(df, "id", lit(40)).select("id")
    assert(third.exceptAll(slice).isEmpty && slice.exceptAll(third).isEmpty)

    // weight 0.5 == mixtureSample(50): pure downsample, epoch always 1
    val half = Sampling.upsample(df, "id", lit(0.5))
    val mix = Sampling.mixtureSample(df, "id", lit(50))
    assert(half.agg(max("epoch")).head.getLong(0) == 1L)
    assert(half.select("id").exceptAll(mix.select("id")).isEmpty &&
      mix.select("id").exceptAll(half.select("id")).isEmpty)

    // narrow: no exchange anywhere in the row-multiplying plan
    val plan = w24.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"upsample must not shuffle:\n$plan")
  }

  test("leakageGuardedSplit: near-dup groups land whole; singletons match id-keyed split of canonical") {
    // components: {1,2,3} one group, {10}, {20} singletons
    val docs = Seq(1L, 2L, 3L, 10L, 20L).toDF("doc_id")
      .withColumn("payload", col("doc_id") * 2)
    val mapping = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (20L, 20L))
      .toDF("doc_id", "canonical_id")
    val out = Sampling.leakageGuardedSplit(docs, mapping, "doc_id")
    // every member of the {1,2,3} group gets ONE split — leakage impossible
    assert(out.filter(col("canonical_id") === 1L)
      .select("split").distinct().count() == 1)
    // a singleton's split equals the plain hash split of its own id
    // (canonical == id), so unclustered corpora degrade to hashSplit
    val plain = Sampling.hashSplit(docs, "doc_id")
      .select(col("doc_id"), col("split").as("plain_split"))
    assert(out.filter(col("doc_id").isin(10L, 20L))
      .join(plain, "doc_id")
      .filter(col("split") =!= col("plain_split")).count() == 0)
    // all 5 docs present, payload columns survive the join
    assert(out.count() == 5 && out.columns.contains("payload"))

    // a doc MISSING from the mapping is not dropped: it degrades to its
    // own singleton component (left join + own-id fallback)
    val partial = mapping.filter(col("doc_id") =!= 10L)
    val out2 = Sampling.leakageGuardedSplit(docs, partial, "doc_id")
    assert(out2.count() == 5, "unmapped docs must survive the split")
    assert(out2.filter(col("doc_id") === 10L)
      .select("canonical_id").head.getLong(0) == 10L)
  }

  test("temperatureFlatten: alpha=0.5 square-roots the dominance ratio " +
      "and keeps the smallest stratum whole") {
    import spark.implicits._
    // skewed synthetic mixture: 1600 web docs vs 100 wiki docs (16:1)
    val d = ((0L until 1600L).map(i => (i, "web")) ++
      (10000L until 10100L).map(i => (i, "wiki"))).toDF("doc_id", "source")
    val out = Sampling.temperatureFlatten(d, "source", "doc_id")
    val kept = out.filter(col("kept")).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate for the min-count stratum is exactly 1.0: it keeps every doc
    assert(kept("wiki") == 100L, s"smallest stratum must keep all: $kept")
    // web's rate is sqrt(100/1600) = 1/4: kept ~ 400, and the 16:1
    // dominance flattens to ~4:1 (within md5-uniformity noise)
    assert(kept("web") > 320 && kept("web") < 480,
      s"alpha=0.5 must keep ~sqrt-scaled web count: $kept")
    // determinism: the kept SET reproduces exactly
    val again = Sampling.temperatureFlatten(d, "source", "doc_id")
    assert(out.filter(col("kept")).select("doc_id")
      .exceptAll(again.filter(col("kept")).select("doc_id")).count() == 0)
  }

  test("tokenBudgetPerKey keeps the deterministic md5-priority prefix " +
      "within budget, per key") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", 400L), (2L, "a", 400L), (3L, "a", 400L), (4L, "a", 400L),
      (10L, "b", 900L), (11L, "b", 900L))
      .toDF("doc_id", "source", "n_tok")
    val out = Sampling.tokenBudgetPerKey(d, "source", "doc_id", "n_tok", 1000L)
    val kept = out.select("source", "doc_id").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // budget 1000: source a fits 2 docs of 400 (3rd would hit 1200),
    // source b fits exactly 1 of 900
    assert(kept("a").size == 2 && kept("b").size == 1, kept.toString)
    // the retained prefix follows md5 priority, NOT doc_id or scan order:
    // recompute the expected order directly
    val pri = d.filter(col("source") === "a")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("p"))
      .orderBy("p").as[(Long, String)].collect().map(_._1)
    assert(kept("a") == pri.take(2).toSet,
      s"expected md5-prefix ${pri.take(2).toSet}, got ${kept("a")}")
    // budget below the smallest row: nothing survives, no error
    assert(Sampling.tokenBudgetPerKey(d, "source", "doc_id", "n_tok", 100L)
      .count() == 0)
  }

  test("prioritySample: top-k by exact w/u priority, unbiased threshold " +
      "estimator, partitioning-invariant, weight-support respected") {
    import spark.implicits._
    // reference computation straight from the definition
    def u01(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4503599627370496.0
    }
    val rows = (1L to 30L).map(i => (i, (i % 7 + 1) * 10.0))
    val d = rows.toDF("doc_id", "w")
    val expect = rows.map { case (id, w) => (id, w / u01(id)) }
      .sortBy { case (id, p) => (-p, id) }
    val got = Sampling.prioritySample(d, "doc_id", "w", k = 5)
      .select("doc_id", "priority", "est_weight")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (-t._2, t._1))
    assert(got.map(_._1).toSeq == expect.take(5).map(_._1),
      s"top-5 ids: ${got.map(_._1).toSeq} vs ${expect.take(5).map(_._1)}")
    assert(got.map(_._2).toSeq == expect.take(5).map(_._2),
      "priorities must be the exact doubles")
    // estimator: every kept row reports max(w, tau) with tau = 6th priority
    val tau = expect(5)._2
    val wOf = rows.toMap
    assert(got.forall { case (id, _, est) => est == math.max(wOf(id), tau) })
    // partitioning invariance (the determinism claim)
    val again = Sampling.prioritySample(d.repartition(7), "doc_id", "w", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(again == got.map(_._1).toSet)
    // population <= k: everything kept, tau = 0, est = own weight
    val small = Sampling.prioritySample(d.limit(3), "doc_id", "w", k = 5)
      .select(col("doc_id"), col("w"), col("est_weight")).collect()
    assert(small.length == 3 &&
      small.forall(r => r.getDouble(2) == r.getDouble(1)))
    // null / zero / negative weights are outside the estimator's support
    val dirty = Seq((1L, Some(5.0)), (2L, Some(0.0)), (3L, Some(-1.0)),
      (4L, None)).toDF("doc_id", "w")
    val kept5 = Sampling.prioritySample(dirty, "doc_id", "w", k = 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept5 == Seq(1L))
  }

  test("priorityCandidatesPerKey: the top-(k+1) fold is associative — any " +
      "slicing folds to the whole-corpus candidate set and sample") {
    import spark.implicits._
    val rows = (1L to 60L).map(i => (if (i % 3 == 0) "x" else "y", i, (i % 11 + 1).toDouble))
    val d = rows.toDF("grp", "doc_id", "w")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "doc_id").as[(String, Long)].collect().toSet
    val whole = ids(Sampling.priorityCandidatesPerKey(d, "grp", "doc_id", "w", k = 4))
    // fold three arbitrary slices (by doc_id mod 3) through the unit
    val folded = (0 to 2).map(m => d.filter(col("doc_id") % 3 === m))
      .reduceLeft { (state, slice) =>
        Sampling.priorityCandidatesPerKey(state.unionByName(slice),
          "grp", "doc_id", "w", k = 4)
      }
    // note: the first reduce step unions two RAW slices — candidates of
    // candidates are still candidates, so one more pass normalizes
    val foldedIds = ids(Sampling.priorityCandidatesPerKey(folded,
      "grp", "doc_id", "w", k = 4))
    assert(foldedIds == whole, s"fold diverged: $foldedIds vs $whole")
    // and the batch sampler over the folded state == over the whole data
    val viaFold = Sampling.prioritySamplePerKey(
        Sampling.priorityCandidatesPerKey(folded, "grp", "doc_id", "w", k = 4),
        "grp", "doc_id", "w", k = 4)
      .select("grp", "doc_id", "est_weight")
      .as[(String, Long, Double)].collect().toSet
    val viaWhole = Sampling.prioritySamplePerKey(d, "grp", "doc_id", "w", k = 4)
      .select("grp", "doc_id", "est_weight")
      .as[(String, Long, Double)].collect().toSet
    assert(viaFold == viaWhole, "estimator thresholds must survive the fold")
  }

  test("prioritySamplePerKey: per-group top-k equals the global operator " +
      "applied per group, including each group's own tau") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i, (i % 5 + 1).toDouble))
    val d = rows.toDF("grp", "doc_id", "w")
    val got = Sampling.prioritySamplePerKey(d, "grp", "doc_id", "w", k = 3)
      .select("grp", "doc_id", "priority", "est_weight")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(got.keySet == Set("a", "b") && got.values.forall(_.length == 3))
    for (g <- Seq("a", "b")) {
      val ref = Sampling.prioritySample(d.filter(col("grp") === g), "doc_id", "w", k = 3)
        .select("doc_id", "priority", "est_weight")
        .collect().map(r => (g, r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(got(g).toSet == ref, s"group $g diverged from the global form")
    }
  }
}
