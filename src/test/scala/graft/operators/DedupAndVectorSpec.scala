package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class DedupAndVectorSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exactGroups collapses identical content to one canonical id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val g = Dedup.exactGroups(d, "doc_id", "text")
    assert(g.count() == 2)
    val dup = g.filter(col("dup_count") === 2).select("canonical_id").as[Long].head()
    assert(dup == 1L)
  }

  test("minhash LSH finds near-identical docs and skips unrelated ones") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok40", "tok40x")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, other))
    val pairs = Dedup.minhashCandidatePairs(d, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("nearDupPairs verifies candidates with exact jaccard") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = docs((1L, base), (2L, base.replace("tok40", "tok40x")), (3L, base))
    val out = Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    val exact = out.find(r => r._1 == 1L && r._2 == 3L)
    assert(exact.exists(_._3 == 1.0), s"identical docs must have jaccard 1.0: ${out.toSeq}")
    assert(out.exists(r => r._1 == 1L && r._2 == 2L && r._3 > 0.8))
  }

  test("hardNegativePairs is the exact complement of nearDupPairs over the " +
      "banded candidates: disjoint, and their union covers every candidate") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    // 1/3 identical (positive pair), 2 near-identical to them (positive),
    // 4 shares half the vocabulary (candidate-prone but sub-threshold),
    // 5 unrelated
    val d = docs(
      (1L, base), (3L, base), (2L, base.replace("tok40", "tok40x")),
      (4L, (1 to 20).map(i => s"tok$i").mkString(" ") + " " +
        (1 to 20).map(i => s"other$i").mkString(" ")),
      (5L, (1 to 40).map(i => s"zzz$i").mkString(" ")))
    val t = 0.5
    val pos = Dedup.nearDupPairs(d, "doc_id", "text", threshold = t)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val neg = Dedup.hardNegativePairs(d, "doc_id", "text", threshold = t)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cands = Dedup.minhashCandidatePairs(d, "doc_id", "text",
        n = 3, k = 8, bands = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert((pos & neg).isEmpty, s"overlap: ${pos & neg}")
    assert((pos | neg) == cands,
      s"union ${pos | neg} must equal candidates $cands")
    assert(pos.contains((1L, 3L)), "identical docs are a positive pair")
    // every mined negative really is sub-threshold
    val negScores = Dedup.hardNegativePairs(d, "doc_id", "text", threshold = t)
      .select("jaccard").as[Double].collect()
    assert(negScores.forall(_ < t), negScores.toSeq.toString)
  }

  test("containment scores a quoted subset near 1.0 where jaccard stays low") {
    val core = (1 to 30).map(i => s"tok$i").mkString(" ")
    val expansion = core + " " + (31 to 120).map(i => s"ext$i").mkString(" ")
    val d = docs((1L, core), (2L, expansion), (3L, "unrelated words only here"))
    val cont = Dedup.containmentPairs(d, "doc_id", "text", threshold = 0.6)
      .select("doc_a", "doc_b", "containment").as[(Long, Long, Double)].collect()
    // every shingle of doc 1 appears in doc 2 -> containment 1.0
    val sub = cont.find(r => r._1 == 1L && r._2 == 2L)
    assert(sub.exists(_._3 == 1.0), s"subset pair missing/low: ${cont.toSeq}")
    // ...while symmetric jaccard on the same pair is far below the
    // near-dup threshold (the case containment exists for)
    val jac = Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .find(r => r._1 == 1L && r._2 == 2L)
    assert(jac.exists(_._3 < 0.3), s"jaccard should be small: $jac")
    assert(!cont.exists(r => r._2 == 3L || r._1 == 3L))
  }

  test("incremental near-dup == full recompute restricted to delta-touching pairs") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val existing = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0)
    val idx = Dedup.nearDupIndex(existing, "doc_id", "text")
    val inc = Dedup.incrementalNearDupPairs(delta, "doc_id", "text", idx, threshold = 0.3)
    val full = Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.3)
      .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty)
    // a delta id already present in the index would merge two versions'
    // shingles under one id — must be refused, not silently mis-scored
    val bad = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupPairs(existing.limit(1), "doc_id", "text", idx,
        threshold = 0.3).count()
    }
    assert(bad.getMessage.contains("overlap the index"))
    spark.catalog.clearCache()
  }

  test("staged (saved+loaded) near-dup index == rebuilt index, and probes agree") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val existing = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0)
    val idx = Dedup.nearDupIndex(existing, "doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    Dedup.saveNearDupIndex(idx, root)
    val loaded = Dedup.loadNearDupIndex(spark, root)
    // table-level equality of the persisted artifact
    assert(loaded.digests.except(idx.digests).isEmpty &&
      idx.digests.except(loaded.digests).isEmpty)
    assert(loaded.bands.except(idx.bands).isEmpty &&
      idx.bands.except(loaded.bands).isEmpty)
    assert(loaded.sizes.except(idx.sizes).isEmpty &&
      idx.sizes.except(loaded.sizes).isEmpty)
    // probe-level equality: the incremental verify over the loaded index
    // is byte-for-byte the one over the freshly built index
    val viaLoaded = Dedup.incrementalNearDupPairs(delta, "doc_id", "text",
      loaded, threshold = 0.3)
    val viaBuilt = Dedup.incrementalNearDupPairs(delta, "doc_id", "text",
      idx, threshold = 0.3)
    assert(viaLoaded.except(viaBuilt).isEmpty && viaBuilt.except(viaLoaded).isEmpty)
    spark.catalog.clearCache()
  }

  test("staged curation survivors == freshly rebuilt survivor ids, and a " +
      "source-fingerprint change invalidates the stage") {
    import graft.queries.TrainingQueries
    val ids = TrainingQueries.stagedCurationSurvivors(spark, sfDir)
    val rebuilt = TrainingQueries.curationSurvivorIds(spark, sfDir)
    assert(ids.except(rebuilt).isEmpty && rebuilt.except(ids).isEmpty,
      "staged survivor set must equal the inline rebuild")
    // the marker must record the CURRENT source fingerprint — a second
    // call with the stage intact reads, never rebuilds (same rows)
    val again = TrainingQueries.stagedCurationSurvivors(spark, sfDir)
    assert(again.count() == ids.count())
    spark.catalog.clearCache()
  }

  test("incrementalComponents == full-recompute CC, including cross-component merges") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val existing = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0)
    val mapping = Dedup.connectedComponents(existing, "doc_id",
      Dedup.minhashCandidatePairs(existing, "doc_id", "text"))
    val idx = Dedup.nearDupIndex(existing, "doc_id", "text")
    val deltaPairs = Dedup.incrementalCandidatePairs(delta, "doc_id", "text", idx)
    val inc = Dedup.incrementalComponents(mapping, delta.select(col("doc_id")),
      deltaPairs, "doc_id")
    val full = Dedup.connectedComponents(d, "doc_id",
      Dedup.minhashCandidatePairs(d, "doc_id", "text"))
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty)
    spark.catalog.clearCache()

    // constructed case: a delta doc BRIDGES two existing components — the
    // supernode contraction must merge them under the global min id
    import spark.implicits._
    val mapping2 = Seq((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L))
      .toDF("doc_id", "canonical_id")
    val delta2 = Seq(Tuple1(30L)).toDF("doc_id")
    val pairs2 = Seq((11L, 30L), (21L, 30L)).toDF("doc_a", "doc_b")
    val out = Dedup.incrementalComponents(mapping2, delta2, pairs2, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L, 30L -> 10L))
  }

  test("minhashCalibration scores EVERY candidate pair, including band " +
      "collisions with zero shared digests") {
    // regression: a band collision does not imply a shared digest (equal
    // min-hash slots can come from disjoint digest sets); the inner
    // digest join used to drop those pairs (caught at sf0.1: 767 vs 775
    // oracle rows). The invariant: calibration rows == candidate pairs.
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val nPairs = Dedup.minhashCandidatePairs(d, "doc_id", "text").count()
    val cal = Dedup.minhashCalibration(d, "doc_id", "text")
    assert(cal.count() == nPairs,
      "every candidate pair must get an (est, exact) row")
    // zero-overlap candidates surface as est > 0, exact = 0 — never NULL
    assert(cal.filter(col("jaccard").isNull || col("est_jaccard").isNull)
      .count() == 0)
    spark.catalog.clearCache()
  }

  test("ingestDeltaCrawl: final mapping is independent of crawl slicing " +
      "and equals the full recompute") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val existing = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0)
    val mapping0 = Dedup.connectedComponents(existing, "doc_id",
      Dedup.minhashCandidatePairs(existing, "doc_id", "text"))
    val tmp = java.nio.file.Files.createTempDirectory("ingest_crawl").toString
    mapping0.write.parquet(s"$tmp/m0")

    // slicing A: the whole delta as ONE crawl
    Dedup.saveNearDupIndex(Dedup.nearDupIndex(existing, "doc_id", "text"),
      s"$tmp/idxA")
    Dedup.ingestDeltaCrawl(delta, "doc_id", "text", s"$tmp/idxA",
      spark.read.parquet(s"$tmp/m0"), s"$tmp/mA", txnId = "A0")

    // slicing B: three crawls split by doc_id % 3 — near-dup pairs
    // genuinely straddle crawl boundaries
    Dedup.saveNearDupIndex(Dedup.nearDupIndex(existing, "doc_id", "text"),
      s"$tmp/idxB")
    var cur = s"$tmp/m0"
    (0 to 2).foreach { b =>
      val slice = delta.filter(col("doc_id") % 3 === b)
      val next = s"$tmp/mB$b"
      Dedup.ingestDeltaCrawl(slice, "doc_id", "text", s"$tmp/idxB",
        spark.read.parquet(cur), next, txnId = s"B$b")
      cur = next
    }

    val full = Dedup.connectedComponents(d, "doc_id",
      Dedup.minhashCandidatePairs(d, "doc_id", "text"))
    val a = spark.read.parquet(s"$tmp/mA")
    val b = spark.read.parquet(cur)
    assert(a.except(full).isEmpty && full.except(a).isEmpty,
      "one-crawl fold must equal the full recompute")
    assert(b.except(full).isEmpty && full.except(b).isEmpty,
      "three-crawl fold must equal the full recompute")
    // the evolving index absorbed every crawl: both roots now hold the
    // full corpus's per-doc size rows
    val nAll = d.count()
    assert(Dedup.loadNearDupIndex(spark, s"$tmp/idxB").sizes.count() == nAll)
    assert(Dedup.loadNearDupIndex(spark, s"$tmp/idxA").sizes.count() == nAll)
    spark.catalog.clearCache()
  }

  test("scrubDuplicateSpans removes cross-doc spans from BOTH docs, keeps " +
      "unique text and short docs intact") {
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ") // one full 8-window
    val d = docs(
      1L -> s"alpha beta gamma $boiler delta",
      2L -> s"$boiler omega psi chi phi",
      3L -> "unique text that repeats nowhere at all today ok fine",
      4L -> "short doc") // < 8 tokens: no window, never scrubbed
    val out = Dedup.scrubDuplicateSpans(d, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // the shared 8-token run is dropped from both docs; their private
    // prefix/suffix tokens survive in order
    assert(out(1L) == ((12L, 4L, "alpha beta gamma delta")), out(1L))
    assert(out(2L) == ((12L, 4L, "omega psi chi phi")), out(2L))
    assert(out(3L)._2 == out(3L)._1 && out(3L)._3.startsWith("unique text"))
    assert(out(4L) == ((2L, 2L, "short doc")), out(4L))
  }

  test("ingestDeltaCrawl retry with the same txn id is a no-op: index " +
      "content and mapping byte-stable") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val existing = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("ingest_retry").toString
    Dedup.saveNearDupIndex(Dedup.nearDupIndex(existing, "doc_id", "text"),
      s"$tmp/idx")
    Dedup.connectedComponents(existing, "doc_id",
        Dedup.minhashCandidatePairs(existing, "doc_id", "text"))
      .write.parquet(s"$tmp/m0")
    def run(): Unit = Dedup.ingestDeltaCrawl(delta, "doc_id", "text",
      s"$tmp/idx", spark.read.parquet(s"$tmp/m0"), s"$tmp/m1", txnId = "c1")
    run()
    val dg1 = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/idx/digests").count()
    // snapshot BEFORE the rerun overwrites m1's files
    val m1Rows = spark.read.parquet(s"$tmp/m1")
      .as[(Long, Long)].collect().toSet
    run() // foreachBatch redelivery after a crash: same batch, same txn
    val dg2 = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/idx/digests").count()
    assert(dg2 == dg1, s"retry must not double-append the index: $dg1 -> $dg2")
    val m2 = spark.read.parquet(s"$tmp/m1")
    assert(m2.as[(Long, Long)].collect().toSet == m1Rows)
    // and the mapping fold run AGAINST the already-appended index (the
    // crash-after-append case) still equals the full recompute
    val full = Dedup.connectedComponents(d, "doc_id",
      Dedup.minhashCandidatePairs(d, "doc_id", "text"))
    assert(m2.exceptAll(full).isEmpty && full.exceptAll(m2).isEmpty)
    spark.catalog.clearCache()
  }

  test("stale-staging reaper: a live writer that has so far created only " +
      "nested DIRS (no files) is not reaped — directory mtimes count — " +
      "while a fully aged orphan is") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val existing = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("reap").toString
    Dedup.saveNearDupIndex(Dedup.nearDupIndex(existing, "doc_id", "text"),
      s"$tmp/idx")
    Dedup.connectedComponents(existing, "doc_id",
        Dedup.minhashCandidatePairs(existing, "doc_id", "text"))
      .write.parquet(s"$tmp/m0")
    val old = System.currentTimeMillis() - 1200000L
    // a slow writer mid-flight: top dirs aged, the deepest dir fresh
    val live = new java.io.File(s"$tmp/idx/digests/.tmp_c1_live/task_0/sub")
    assert(live.mkdirs())
    assert(live.getParentFile.getParentFile.setLastModified(old))
    assert(live.getParentFile.setLastModified(old))
    // a crashed attempt's orphan: aged at every level
    val dead = new java.io.File(s"$tmp/idx/digests/.tmp_c1_dead/task_0")
    assert(dead.mkdirs())
    assert(dead.setLastModified(old) && dead.getParentFile.setLastModified(old))
    Dedup.ingestDeltaCrawl(delta, "doc_id", "text", s"$tmp/idx",
      spark.read.parquet(s"$tmp/m0"), s"$tmp/m1", txnId = "c1")
    assert(live.exists(), "fresh nested dir must shield the live writer")
    assert(!dead.getParentFile.exists(), "aged orphan must be reaped")
    spark.catalog.clearCache()
  }

  test("duplicateSpanStats counts cross-doc window overlap, ignores in-doc repeats") {
    // 10 tokens -> 3 positional 8-grams per doc. Docs 1 and 2 share a
    // 9-token prefix -> windows at positions 1,2 match; position 3 differs.
    val shared = (1 to 9).map(i => s"w$i").mkString(" ")
    val d = docs(
      (1L, s"$shared endA"),
      (2L, s"$shared endB"),
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"))
    val st = Dedup.duplicateSpanStats(d, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(st(1L) == ((3L, 2L)) && st(2L) == ((3L, 2L)))
    assert(st(3L) == ((3L, 0L)))
    // in-doc repetition alone is not cross-doc duplication
    val rep = docs((7L, Seq.fill(3)("r1 r2 r3 r4 r5 r6 r7 r8").mkString(" ")))
    val s7 = Dedup.duplicateSpanStats(rep, "doc_id", "text", n = 8)
      .select("n_dup_windows").as[Long].head()
    assert(s7 == 0L)
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val d = docs((1L, base), (2L, base + " extra"), (3L, (1 to 60).map(i => s"q$i").mkString(" ")))
    val h = Dedup.simhashTable(d, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) <= 6)
    assert(hamming(h(1L), h(3L)) > 6)
  }

  test("dedupCorpus keeps one canonical doc per near-dup group") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = docs(
      (1L, base), (2L, base), (3L, base.replace("tok40", "tok40x")), // one group
      (4L, (1 to 40).map(i => s"zzz$i").mkString(" ")),              // unrelated
      (5L, "tiny"))                                                  // singleton
    val kept = Dedup.dedupCorpus(d, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L), s"got ${kept.toSeq}")
  }

  test("randomProject: a one-hot vector reads back its weight row exactly; " +
      "projected-space neighbors overlap full-space neighbors") {
    import graft.functions.VectorFunctions
    val dims = 64
    // e_5 projected = column 5 of the weight grid, bit-exact
    val oneHot = Seq((1L, Array.tabulate(dims)(d => if (d == 5) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val proj = oneHot.select(
        VectorFunctions.randomProject(col("embedding"), 16, dims).as("pr"))
      .as[Seq[Double]].head
    (0 until 16).foreach { p =>
      assert(proj(p) == VectorFunctions.planeWeight(p, 5), s"plane $p")
    }
    // JL sanity on the real fixture: top-10 by projected cosine overlaps
    // top-10 by full cosine for a held-out query
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    // graft_cosine takes array<float>; the float cast is fine for a
    // neighborhood-overlap check. JL preserves the coarse neighborhood,
    // not the exact ranking: assert the 32-dim top-10 lands inside the
    // full-space top-30 (the slack-window recall a projected coarse
    // search + full-vector rerank relies on).
    val projected = emb.select(col("vec_id"), col("label"),
      VectorFunctions.randomProject(col("embedding"), 32, dims)
        .cast("array<float>").as("embedding"))
    val q64 = emb.filter(col("vec_id") === 3L).select(col("embedding"))
    val q32 = projected.filter(col("vec_id") === 3L).select(col("embedding"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").as[Long].collect().toSet
    val full30 = ids(VectorFunctions.bruteForceTopK(emb, q64, 30))
    val low = ids(VectorFunctions.bruteForceTopK(projected, q32, 10))
    assert((full30 & low).size >= 5,
      s"32-dim projection lost the neighborhood: ${(full30 & low).size}/10 " +
        s"of projected top-10 inside full top-30")
  }

  test("brute-force top-k cosine: self-similarity ranks first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(-1.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
    val top = VectorFunctions.bruteForceTopK(emb, q, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top.head == 0L)
    assert(top(1) == 1L)
    assert(!top.contains(3L))
  }

  test("connectedComponents: transitive chains collapse to one canonical id") {
    val nodes = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1-2-3-4 (transitive, 1 never directly paired with 4), pair 5-6,
    // singleton 7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val expected =
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L)
    // small graph: driver union-find fast path
    val viaUnionFind = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaUnionFind == expected)
    // the forced distributed path (the 100 TB shape) and star's min-label
    // finisher agree exactly
    val viaStar =
      Dedup.connectedComponents(nodes, "doc_id", pairs, broadcastEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
    assert(viaStar == expected, "star contraction path drifted")
    val viaPropagation = Dedup.minLabelComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaPropagation == expected)
  }

  test("ivfTopK: probing the query's cells still finds the exact neighbors") {
    // 40 vectors in two well-separated clusters along different axes; the
    // first 4 ids seed the cells. Query = vector 0: its true neighbors are
    // the cluster-0 vectors, all assigned to cells probed by the query.
    val emb = (0 until 40).map { i =>
      val v = Array.fill(8)(0.0f)
      if (i % 2 == 0) v(0) = 1.0f + 0.001f * i else v(4) = 1.0f + 0.001f * i
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
    val top = VectorFunctions.ivfTopK(emb, q, k = 5, nlist = 4, nprobe = 2)
      .select("label").as[Int].collect()
    assert(top.length == 5 && top.forall(_ == 0),
      "probed cells must contain exactly the same-cluster vectors")
  }

  test("IVF scale path: cell-bucketed assignments prune the probe scan") {
    import graft.sources.Tables
    val emb = Tables.load(spark, sfDir, "embeddings")
    val assigned = emb.join(
      VectorFunctions.ivfAssignments(emb, nlist = 4), "vec_id")
    graft.sinks.Sinks.writeBucketed(assigned, "ivf_cells", buckets = 4,
      bucketCols = Seq("cell"))
    // equality on the bucket column: Spark's bucket pruning reads only the
    // matching bucket files — the probed-cells scan at warehouse scale.
    // autoBucketedScan's benefit heuristic only counts joins/aggregations,
    // so it must be off for a pruned point-lookup to keep the bucketed scan.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val probe = spark.table("ivf_cells").filter(col("cell") === 0)
    val plan =
      try probe.queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    assert(plan.contains("Bucketed: true"), s"expected a bucketed scan:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 1 out of 4"),
      s"expected bucket pruning to 1 of 4:\n$plan")
    // the pruned scan returns exactly the cell's members
    assert(probe.count() ==
      VectorFunctions.ivfAssignments(emb, nlist = 4).filter(col("cell") === 0).count())
    spark.sql("DROP TABLE IF EXISTS ivf_cells")
  }

  test("star contraction CC == union-find CC on random and high-diameter graphs") {
    // deterministic "random" graph: 120 nodes, arithmetic edges
    val nodes = (0L until 120L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val randomEdges = (0 until 200)
      .map(i => ((i * 13 + 5) % 120L, (i * 29 + 11) % 120L))
      .filter { case (a, b) => a != b }
      .toDF("doc_a", "doc_b")
    val viaUf = Dedup.connectedComponents(nodes, "doc_id", randomEdges)
      .as[(Long, Long)].collect().toMap
    val viaStar = Dedup.connectedComponentsStar(nodes, "doc_id", randomEdges)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaUf, "star contraction drifted from union-find on the random graph")

    // high-diameter chain 0-1-...-99: min-label would need ~diameter/2
    // rounds; star contraction collapses it within its O(log n) budget
    val chainNodes = (0L until 100L).map(i => (i, "")).toDF("doc_id", "text")
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val stars = Dedup.connectedComponentsStar(chainNodes, "doc_id", chain, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(stars.values.forall(_ == 0L),
      s"chain must collapse to root 0 within log-n rounds: ${stars.toSeq.sortBy(_._1).take(10)}")
  }

  test("multi-band LSH recall is a superset of the single-bucket path") {
    import graft.sources.Tables
    val emb = Tables.load(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
    val truth = VectorFunctions.bruteForceTopK(emb, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val single = VectorFunctions.lshTopK(emb, q, 10, planes = 8, dims = 64)
      .select("vec_id").as[Long].collect().toSet
    val multi = VectorFunctions.lshTopKMultiband(emb, q, 10, planes = 8, dims = 64, bands = 2)
      .select("vec_id").as[Long].collect().toSet
    // a full 8-bit signature match implies both 4-bit bands match, so the
    // multiband candidate set contains the single-bucket one — recall can
    // only go up at equal total planes
    assert((truth & multi).size >= (truth & single).size,
      s"multiband recall ${(truth & multi).size} < single ${(truth & single).size}")
    assert(multi.contains(0L), "the query itself must always be found")
  }

  test("IvfIndex.topKQuant over probed cells matches brute-force int8 scoring") {
    import graft.sources.Tables
    val emb = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivfq").toString
    graft.functions.IvfIndex.build(emb, nlist = 16, dir)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
    val got = graft.functions.IvfIndex.topKQuant(spark, dir, q, k = 5, nprobe = 16)
      .select("vec_id").as[Long].collect().toSeq
    // nprobe = nlist probes everything -> must equal the full int8 scan
    val sc = VectorFunctions.quantScale(col("embedding"))
    val qv = emb.withColumn("sc", sc)
      .select(col("vec_id"), col("sc"),
        VectorFunctions.quantize(col("embedding"), col("sc")).as("q"))
    val qref = qv.filter(col("vec_id") === 0)
      .select(col("q").as("qref"), col("sc").as("scref"))
    val want = qv.crossJoin(broadcast(qref))
      .withColumn("dp", aggregate(zip_with(col("q"), col("qref"),
        (x, y) => x.cast("long") * y.cast("long")), lit(0L), (a, v) => a + v))
      .withColumn("score", round(col("dp").cast("double") / (col("sc") * col("scref")), 3))
      .orderBy(desc("score"), col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == want, s"probed-cell quant scan drifted: $got vs $want")
  }

  test("IvfIndex.appendDelta: folded index content == full build with same centroids") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val existing = emb.filter(col("vec_id") % 100 =!= 57)
    val delta = emb.filter(col("vec_id") % 100 === 57)
    assert(delta.count() > 0, "fixture must have a non-empty delta")
    val dirApp = java.nio.file.Files.createTempDirectory("ivf_app").toString
    val dirFull = java.nio.file.Files.createTempDirectory("ivf_full").toString
    graft.functions.IvfIndex.build(existing, nlist = 16, dirApp)
    graft.functions.IvfIndex.appendDelta(spark, dirApp, delta)
    graft.functions.IvfIndex.build(emb, nlist = 16, dirFull)
    val cols = Seq("vec_id", "cell", "sc", "q8").map(col)
    val a = spark.read.parquet(s"$dirApp/index").select(cols: _*)
    val f = spark.read.parquet(s"$dirFull/index").select(cols: _*)
    assert(a.except(f).isEmpty && f.except(a).isEmpty,
      "append-after-build must equal the full build")
  }

  test("ivfTopKBatch == per-query ivfTopK for every query in the batch") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    val batch = VectorFunctions.ivfTopKBatch(emb, queries, k = 5,
      nlist = 16, nprobe = 4)
      .select("qid", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    (0L until 3L).foreach { qid =>
      val single = VectorFunctions.ivfTopK(emb,
          emb.filter(col("vec_id") === qid).select(col("embedding")),
          k = 5, nlist = 16, nprobe = 4)
        .select("vec_id", "cos").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) == single, s"qid=$qid: ${batch(qid)} vs $single")
    }
  }

  test("IVF seed validation rejects a corpus missing seed ids") {
    val emb = Seq((5L, Array.fill(4)(1.0f), 0)).toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      graft.functions.IvfIndex.validateSeeds(emb, nlist = 4, "vec_id")
    }
    assert(e.getMessage.contains("seed"))
  }

  test("LSH bucketing co-locates the query with its near neighbor") {
    val emb = (0 until 50).map { i =>
      val base = if (i % 2 == 0) Array.fill(8)(1.0f) else Array.fill(8)(-1.0f)
      base(i % 8) = base(i % 8) + 0.01f * i
      (i.toLong, base, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
    val top = VectorFunctions.lshTopK(emb, q, k = 5, planes = 3, dims = 8)
      .select("label").as[Int].collect()
    assert(top.nonEmpty && top.forall(_ == 0), "bucket must contain only same-side vectors")
  }
}
