package graft.tools

import graft.core.{GraftSession, Pins}
import graft.operators.{Dedup, LinkAnalysis, Multimodal}
import graft.queries.WarehouseQueries
import graft.sources.{Parquet, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Scale modes for `Probe scale <sfDir> <mult> <modes>`: each replicates an
  * sf input `mult`x with shifted ids (a duplicate-heavy corpus, the
  * realistic web-crawl shape) and checks a property the small-SF bench
  * can't — candidate volume inside duplicate groups, edge-linear shuffle,
  * selector flips — without a driver collect or a cross product. `pairs,
  * ann,chain,corpus` is the end-to-end near-dup run.
  */
object Scale {

  /** What every mode shares. The corpora are LAZY: most modes never touch
    * the replicated documents or embeddings. */
  final class Ctx(val spark: SparkSession, val sfDir: String, val mult: Int, val rec: Probe.Recorder) {
    val cores: Int = spark.sparkContext.defaultParallelism
    lazy val base: DataFrame = Parquet.read(spark, s"$sfDir/documents.parquet")
    lazy val nBase: Long = base.count()
    lazy val big: DataFrame = {
      val b = replicate(base.select("doc_id", "text", "lang", "n_chars"), mult, "doc_id" -> IdShift)
      println(s"[scale] corpus: $nBase -> ${b.count()} docs (${mult}x, duplicate-heavy)")
      b
    }
    lazy val events: DataFrame = Tables.load(spark, sfDir, "events")
    lazy val emb: DataFrame = Parquet.read(spark, s"$sfDir/embeddings.parquet")
    lazy val bigEmb: DataFrame =
      replicate(emb.select("vec_id", "embedding", "label"), mult, "vec_id" -> IdShift)

    def shuffled: Long = rec.stages.map(_.shuffleWriteBytes).sum

    /** Runs `f`, prints its wall time and its jobs over 1 s, and returns
      * the result with the seconds it took. */
    def timed[A](name: String)(f: => A): (A, Double) = {
      val lastJob = rec.jobs.lastOption.fold(-1)(_._1)
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      rec.jobs.filter { case (id, ms) => id > lastJob && ms > 1000 }.foreach { case (id, ms) =>
        println(f"[scale]     job=$id%-4d ${ms / 1000.0}%8.2f s")
      }
      println(f"[scale] $name%-22s $s%8.2f s")
      (r, s)
    }

    /** The 8 slowest stages since the last `rec.reset()`. */
    def topStages(tag: String): Unit = rec.stages.sortBy(-_.wallMs).take(8).foreach { st =>
      println(f"[scale]   $tag stage=${st.id}%-4d wall=${st.wallMs / 1000.0}%8.2f s " +
        f"cpuSum=${st.cpuMs / 1000.0}%8.2f s tasks=${st.tasks}%-4d ${st.ops}")
    }
  }

  private val IdShift = 10000000L

  /** `mult` copies of `df`; copy m adds m * shift to each named column and
    * keeps every other column. One broadcast `range(mult)` cross join, so
    * analysis stays one node at any `mult` (a mult-way unionByName reduce
    * costs quadratic analyzer time). The output keeps `df`'s partitioning:
    * spread a single-split input first where the copies should fill every
    * core. */
  def replicate(df: DataFrame, mult: Int, shifts: (String, Long)*): DataFrame = {
    val shift = shifts.toMap
    df.crossJoin(broadcast(df.sparkSession.range(mult.toLong).select(col("id").as("__copy"))))
      .select(df.columns.toSeq.map(c =>
        shift.get(c).fold(col(c))(k => (col(c) + col("__copy") * lit(k)).as(c))): _*)
  }

  /** Runs the comma-separated `modes` in order, each in its own
    * [[Pins.scope]] and clearing the cache after each; unknown names are
    * rejected before any job runs. */
  def run(spark: SparkSession, sfDir: String, mult: Int, modes: String): Unit = {
    val names = modes.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(Modes.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown scale mode(s) '${unknown.mkString(",")}'; known: ${Modes.keys.mkString(",")}")
    val c = new Ctx(spark, sfDir, mult, new Probe.Recorder(spark))
    try names.foreach { n =>
      println(s"[scale] == $n at ${mult}x")
      try Pins.scope(Modes(n)(c)) finally spark.catalog.clearCache()
    } finally c.rec.close()
  }

  val Modes: ListMap[String, Ctx => Unit] = ListMap(
    "pairs" -> pairs, "cc" -> cc, "ann" -> ann, "chain" -> chain, "corpus" -> corpus,
    "incremental" -> incremental, "crawlstream" -> crawlstream, "scrub" -> scrub,
    "semdedup" -> semdedup, "text" -> text, "classifier" -> classifier,
    "framededup" -> frameDedup, "imagedecode" -> imageDecode, "avdecode" -> avDecode,
    "pqrerank" -> pqRerank, "pagerank" -> pageRank, "linkx" -> linkX,
    "triangles" -> triangles, "coengagex" -> coEngageX, "graphx2" -> graphX2,
    "summary" -> summary, "joins" -> joins, "xdr" -> xdr, "entries" -> entries)

  // ---- near-dup dedup -----------------------------------------------

  /** Minhash candidate pairs, then the Jaccard-verified pairs with the
    * verify's top-8 stages. */
  private def pairs(c: Ctx): Unit = {
    import c._
    val (nPairs, _) = timed("minhash_pairs")(Dedup.minhashCandidatePairs(big, "doc_id", "text").count())
    rec.reset()
    val (nVerified, _) = timed("jaccard_verified") {
      Dedup.nearDupPairs(big, "doc_id", "text", threshold = 0.5).count()
    }
    topStages("verify")
    println(s"[scale] pairs=$nPairs verified=$nVerified")
  }

  /** The distributed min-label loop (forced) on the verified pair graph —
    * the >broadcastEdgeLimit path a trillion-doc corpus would take. */
  private def cc(c: Ctx): Unit = {
    import c._
    val pairs = Dedup.nearDupPairs(big, "doc_id", "text", threshold = 0.5)
    timed("  cc_distributed") {
      Dedup.connectedComponents(big, "doc_id", pairs, broadcastEdgeLimit = 0L).count()
    }
  }

  /** Build the cell-partitioned IVF index ONCE over the replicated
    * embeddings, then compare the per-query cost of brute force vs the
    * index probe (float and int8 paths) — the build-once/probe-cheap split
    * is the whole point of IvfIndex. */
  private def ann(c: Ctx): Unit = {
    import c._
    import graft.functions.{IvfIndex, VectorFunctions => VF}
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_probe_ivf"
    println(s"[scale] ann corpus: ${bigEmb.count()} vectors")
    timed("  ivf_build")(IvfIndex.build(bigEmb, nlist = 16, dir))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
    val (brute, _) = timed("  ann_brute")(
      VF.bruteForceTopK(bigEmb, q, 10).select("vec_id").collect().length)
    val (probed, _) = timed("  ann_ivf_probe")(
      IvfIndex.topK(spark, dir, q, k = 10, nprobe = 4).select("vec_id").collect().length)
    val (probedQ, _) = timed("  ann_ivf_quant")(
      IvfIndex.topKQuant(spark, dir, q, k = 10, nprobe = 4).select("vec_id").collect().length)
    assert(brute == 10 && probed == 10 && probedQ == 10)
  }

  /** A 200k-node chain graph (worst case for min-label propagation, which
    * needs ~diameter rounds) — star contraction must collapse it in its
    * O(log n) round budget. */
  private def chain(c: Ctx): Unit = {
    import c._
    val n = 200000L
    val nodes = spark.range(n).select(col("id").as("doc_id")).withColumn("text", lit(""))
    val edges = spark.range(n - 1).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (roots, _) = timed("cc_star_chain") {
      Dedup.connectedComponentsStar(nodes, "doc_id", edges)
        .filter(col("canonical_id") === 0L).count()
    }
    assert(roots == n, s"chain must collapse to one component, got $roots of $n")
  }

  /** End-to-end `dedupCorpus` with its top-8 stages: every base doc appears
    * `mult` times, so survivors must be <= nBase (near-dups merge groups
    * further). */
  private def corpus(c: Ctx): Unit = {
    import c._
    rec.reset()
    val (nKept, _) = timed("dedup_corpus") {
      Dedup.dedupCorpus(big, "doc_id", "text", threshold = 0.5).count()
    }
    topStages("corpus")
    println(s"[scale] kept=$nKept of ${nBase * mult}")
    assert(nKept <= nBase, s"dedup must collapse the ${mult}x replication")
  }

  /** The per-crawl shape — index the first (mult-1) replicas once, then
    * dedup ONLY the last replica (the "new crawl") against the index: the
    * delta probe should cost a fraction of the full-corpus recompute. Then
    * the novel-delta variant, the realistic crawl shape: the index holds
    * the replicas of the EVEN base docs, the delta is the odd base docs,
    * which mostly don't collide, so the touched-id semi join prunes the
    * verify to a sliver of the index. */
  private def incremental(c: Ctx): Unit = {
    import c._
    val cut = (mult - 1).toLong * IdShift
    val existing = big.filter(col("doc_id") < cut)
    val delta = big.filter(col("doc_id") >= cut)
    println(s"[scale] incremental: index=${existing.count()} docs, delta=${delta.count()} docs")
    // nearDupIndex materializes its relations eagerly — the build cost is
    // the call itself
    val (idx, _) = timed("  index_build")(Dedup.nearDupIndex(existing, "doc_id", "text"))
    val (nInc, _) = timed("  delta_probe") {
      Dedup.incrementalNearDupPairs(delta, "doc_id", "text", idx).count()
    }
    val (nFull, _) = timed("  full_recompute")(Dedup.nearDupPairs(big, "doc_id", "text").count())
    println(s"[scale] incremental: delta_pairs=$nInc full_pairs=$nFull")
    spark.catalog.clearCache()

    val idxDocs = big.filter(col("doc_id") % 2 === 0)
    val deltaNovel = base.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    println(s"[scale] novel-delta: index=${idxDocs.count()} docs, delta=${deltaNovel.count()} docs")
    val (idxN, _) = timed("  index_build2")(Dedup.nearDupIndex(idxDocs, "doc_id", "text"))
    val (nInc2, _) = timed("  delta_probe2") {
      Dedup.incrementalNearDupPairs(deltaNovel, "doc_id", "text", idxN).count()
    }
    val (nFull2, _) = timed("  full_recompute2") {
      Dedup.nearDupPairs(idxDocs.unionByName(deltaNovel), "doc_id", "text").count()
    }
    println(s"[scale] novel-delta: delta_pairs=$nInc2 full_pairs=$nFull2")
  }

  /** The streaming-ingest claim — fold `mult` - 1 equal-size crawls into
    * an EVOLVING index via ingestDeltaCrawl: the per-crawl wall must stay
    * ~flat as the index grows, sized by the delta, not the corpus. */
  private def crawlstream(c: Ctx): Unit = {
    import c._
    require(mult >= 2, "crawlstream needs mult >= 2 (at least one delta crawl)")
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe_crawl").toString
    val crawl0 = base.select(col("doc_id"), col("text"))
    Dedup.saveNearDupIndex(Dedup.nearDupIndex(crawl0, "doc_id", "text"), s"$tmp/idx")
    Dedup.connectedComponents(crawl0, "doc_id",
        Dedup.minhashCandidatePairs(crawl0, "doc_id", "text"))
      .write.parquet(s"$tmp/m0")
    val walls = (1 until mult).map { m =>
      val crawl = base.select((col("doc_id") + lit(m.toLong * IdShift)).as("doc_id"), col("text"))
      val (_, dt) = timed(f"  crawl $m%2d (index ${m}x base)") {
        Dedup.ingestDeltaCrawl(crawl, "doc_id", "text", s"$tmp/idx",
          Parquet.read(spark, s"$tmp/m${m - 1}"), s"$tmp/m$m", txnId = s"crawl-$m")
      }
      spark.catalog.clearCache()
      dt
    }
    val nFinal = Parquet.read(spark, s"$tmp/m${mult - 1}").count()
    println(f"[scale] crawlstream: first ${walls.head}%.2f s, " +
      f"last ${walls.last}%.2f s (index grew ${mult - 1}x), mapping rows=$nFinal")
  }

  /** Duplicated-span scrubbing at 1x vs mult-x: every stage is
    * digest-grouped or positional, so wall-clock must grow ~linearly even
    * though the corpus is duplicate-HEAVY. Every window of the replicated
    * corpus is cross-doc duplicated, so its kept count collapses to ~0
    * while the 1x corpus keeps its unique text. */
  private def scrub(c: Ctx): Unit = {
    import c._
    def scrubbed(docs: DataFrame, name: String): (Long, Double) = {
      val r = timed(name) {
        Dedup.scrubDuplicateSpans(docs.select(col("doc_id"), col("text")), "doc_id", "text")
          .agg(sum(col("n_kept"))).head.getLong(0)
      }
      spark.catalog.clearCache()
      r
    }
    val (k1, t1) = scrubbed(base, "  scrub_1x")
    val (kM, tM) = scrubbed(big, s"  scrub_${mult}x")
    println(f"[scale] scrub: 1x $t1%.2f s (kept=$k1), ${mult}x $tM%.2f s (kept=$kM), " +
      f"growth ${tM / t1}%.1fx for ${mult}x data")
  }

  /** SemDeDup at mult-x embeddings. The replicas are exact duplicates and
    * always share a cell, so at most one survivor per replica group. */
  private def semdedup(c: Ctx): Unit = {
    import c._
    val nVec = bigEmb.count()
    println(s"[scale] semdedup corpus: $nVec vectors (every vector ${mult}x duplicated)")
    val (kept, _) = timed("  semdedup") {
      graft.operators.SemDedup.semDedup(bigEmb, nlist = 64, iters = 1, tau = 0.35)
        .filter(col("keep")).count()
    }
    println(s"[scale] semdedup kept=$kept of $nVec")
    assert(kept <= nVec / mult, s"replicated dups must collapse: $kept")
  }

  // ---- text and quality ---------------------------------------------

  /** The text-analysis pipeline at mult-x — every op is explode -> hash-agg
    * or a narrow projection, so wall-clock must grow LINEARLY. The
    * aggregates CONSUME the derived values: a bare count() lets the
    * optimizer prune the md5/substr/regex work and time an empty scan. */
  private def text(c: Ctx): Unit = {
    import c._
    import graft.functions.{TextFunctions => TF}
    val (nBg, _) = timed("bigram_lm") {
      big.select(TF.tokens(lower(col("text"))).as("toks"))
        .select(explode(TF.bigramsFromTokens(col("toks"))).as("bg"))
        .groupBy(col("bg.w1"), col("bg.w2")).agg(count(lit(1)).as("n"))
        .count()
    }
    val (nChunks, _) = timed("chunk_text") {
      TF.chunk(big, "doc_id", "text", stride = 200, size = 256)
        .agg(countDistinct(md5(col("chunk")))).head().getLong(0)
    }
    val (nScrub, _) = timed("scrub_pii")(big.agg(sum(length(TF.scrubPii(col("text"))))).head().getLong(0))
    val (nTfidf, _) = timed("tfidf_topterms") {
      val tok = big.select(col("doc_id"), explode(TF.tokens(lower(col("text")))).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      tf.join(dfreq, "token").count()
    }
    // every window is cross-doc duplicated: the digest agg + join legs at
    // full load
    val (nDupWin, _) = timed("substring_dedup") {
      Dedup.duplicateSpanStats(big, "doc_id", "text", n = 8)
        .agg(sum("n_dup_windows")).head().getLong(0)
    }
    val (nRules, _) = timed("gopher_rules") {
      val keep = TF.gopherRules(col("text")).last._2
      big.agg(count(when(keep, 1))).head().getLong(0)
    }
    println(s"[scale] text: bigram_vocab=$nBg uniq_chunks=$nChunks " +
      s"scrubbed_chars=$nScrub tfidf_terms=$nTfidf dup_windows=$nDupWin gopher_keep=$nRules")
  }

  /** The bootstrap quality classifier at mult-x docs. Every doc replicated
    * mult times scales class sizes and bucket sums by mult, so the integer
    * weights and every margin scale by mult²: signs are preserved and the
    * mult-x corpus must keep EXACTLY mult times the docs. Shuffle must stay
    * token-linear (featurize is one hash agg; the weight table is
    * dims-sized). */
  private def classifier(c: Ctx): Unit = {
    import c._
    import graft.operators.QualityClassifier
    def run(df: DataFrame, name: String): (Long, Long, Double, Long) = {
      rec.reset()
      val (agg, t) = timed(name) {
        val sf = Pins.fill(QualityClassifier.featurizeSeeded(df, "doc_id", "text",
          QualityClassifier.sparkDensitySeed, dims = 64))
        val agg = QualityClassifier.score(sf.drop("seed"), QualityClassifier.trainWeights(sf))
          .agg(sum(when(col("keep"), 1L).otherwise(0L)), count(lit(1))).head
        Pins.release(sf)
        agg
      }
      (agg.getLong(0), agg.getLong(1), t, shuffled)
    }
    val (k1, n1, t1, s1) = run(base, "  classifier_1x")
    val (kM, nM, tM, sM) = run(big, s"  classifier_${mult}x")
    println(f"[scale] classifier 1x: kept $k1/$n1 $t1%.2f s shuffle=${s1 / 1e6}%.1f MB; " +
      f"${mult}x: kept $kM/$nM $tM%.2f s shuffle=${sM / 1e6}%.1f MB (ratio ${sM.toDouble / s1}%.1f)")
    assert(kM == mult.toLong * k1, s"replica verdicts must scale exactly: $k1 -> $kM at ${mult}x")
    assert(sM.toDouble / s1 < 2.0 * mult, s"classifier shuffle grew super-linearly: $s1 -> $sM")
  }

  // ---- multimodal ---------------------------------------------------

  /** Frame-level dedup (exact md5 buckets AND perceptual Hamming bands) on
    * the mult-x corpus: frame buckets hold mult colliding docs, so pair
    * volume grows quadratically INSIDE groups (what the hot-bucket guard
    * bounds). */
  private def frameDedup(c: Ctx): Unit = {
    import c._
    // docs that CAN reach minShared=2: >= 2 distinct non-empty frames
    // (single-frame docs share at most one hash with their replicas)
    val nMulti = Multimodal.sampleFrames(base, "doc_id", "text")
      .filter(col("frame_len") > 0)
      .select(col("doc_id"), col("frame_hash")).distinct()
      .groupBy("doc_id").count().filter(col("count") >= 2).count()
    val (nPairs, _) = timed("  frame dedup exact") {
      Multimodal.frameDupPairs(big, "doc_id", "text", minShared = 2).count()
    }
    val (nPhash, _) = timed("  frame dedup phash") {
      Multimodal.phashDupPairs(big, "doc_id", "text", maxHamming = 8, minShared = 3).count()
    }
    println(s"[scale] framededup at ${mult}x: exact=$nPairs pairs " +
      s"(>= $nMulti multi-frame docs x C($mult,2)), phash=$nPhash pairs")
    // every replica pair of a multi-frame doc shares every frame
    assert(nPairs >= nMulti * mult * (mult - 1) / 2,
      s"replica pairs missing: $nPairs < ${nMulti * mult * (mult - 1) / 2}")
    // NOT a superset of the exact path by design: the phash space is far
    // coarser than md5, so at mult-x its hot-BAND guard skips boilerplate
    // buckets the md5 path still enumerates
    assert(nPhash > 0, "perceptual path found nothing at scale")
  }

  /** The REAL javax.imageio decode path: encode mult*1000 synthetic PNGs,
    * decode+grid+dHash every one, then banded image dedup over the corpus
    * plus 10% planted shifted copies. Pixels live only inside the decode
    * task; everything shuffled after it is 8-byte hashes + ids. */
  private def imageDecode(c: Ctx): Unit = {
    import c._
    val n = mult * 1000
    val media = Pins.keep(Multimodal.synthPngTable(spark, n, 32, 32))
    val nEnc = media.count()
    val (decoded, tDec) = timed("  image_decode") {
      Multimodal.decodeGrid(media, "doc_id", "payload", 9, 8)
        .withColumn("ph", Multimodal.dhash64("grid"))
        .agg(count(lit(1)), sum(expr("bit_count(ph)"))).head
    }
    println(f"[scale] imagedecode: $nEnc PNGs decoded+dHashed in $tDec%.2f s " +
      f"(${nEnc / tDec}%.0f img/s), mean bits=${decoded.getLong(1).toDouble / decoded.getLong(0)}%.1f")
    assert(decoded.getLong(0) == n, "every image must decode")
    val withCopies = media.unionByName(
      Multimodal.synthPngTable(spark, n / 10, 32, 32, idOffset = 100000000L, xShift = 1))
    val (planted, tDup) = timed("  image_dedup") {
      Multimodal.imageDupPairs(withCopies, "doc_id", "payload", maxHamming = 8, maxBucket = 2000L)
        .filter(col("doc_b") === col("doc_a") + 100000000L).count()
    }
    println(f"[scale] imagededup: ${n + n / 10} images, banded dedup " +
      f"$tDup%.2f s, planted copies recovered: $planted of ${n / 10}")
    assert(planted > 0, "planted shifted copies must surface at scale")
  }

  /** The REAL audio (javax.sound.sampled) and video (RIFF/DIB) decode paths
    * at mult-x volume — samples and pixels never cross an exchange, and
    * the banded dedup absorbs 10% planted time-shifted copies. */
  private def avDecode(c: Ctx): Unit = {
    import c._
    val nA = mult * 1000
    def wavs(n: Int, idOffset: Long, shift: Int) = Multimodal.synthAmWavTable(spark, n,
      blocks = 64, blockLen = 200, sampleRate = 16000, idOffset = idOffset, shift = shift)
    val clips = Pins.keep(wavs(nA, 0L, 0))
    val nEnc = clips.count()
    val (dec, tDec) = timed("  audio_decode") {
      Multimodal.decodeAudio(clips, "doc_id", "payload")
        .agg(count(when(col("ok"), 1)), sum(col("energy"))).head
    }
    println(f"[scale] audiodecode: $nEnc WAVs decoded in $tDec%.2f s (${nEnc / tDec}%.0f clips/s)")
    assert(dec.getLong(0) == nA, "every clip must decode")
    val (planted, tDup) = timed("  audio_dedup") {
      Multimodal.audioDupPairs(clips.unionByName(wavs(nA / 10, 100000000L, 3)),
          "doc_id", "payload", maxHamming = 8, maxBucket = 2000L)
        .filter(col("doc_b") === col("doc_a") + 100000000L).count()
    }
    println(f"[scale] audiodedup: ${nA + nA / 10} clips, banded dedup " +
      f"$tDup%.2f s, planted copies recovered: $planted of ${nA / 10}")
    Pins.release(clips)
    assert(planted > nA / 20, "most planted shifted copies must surface")
    val nV = mult * 100
    val avis = Pins.fill(Multimodal.synthAviTable(spark, nV, w = 24, h = 16, nFrames = 4, fps = 10))
    val (vf, tV) = timed("  video_decode")(Multimodal.videoFrameHashes(avis, "doc_id", "payload").count())
    println(f"[scale] videodecode: $nV AVIs -> $vf frames in $tV%.2f s (${vf / tV}%.0f frames/s)")
    assert(vf == nV.toLong * 4, "every frame of every AVI must decode")
  }

  /** PQ-ADC + exact rerank at mult-x vectors (same embeddings, so ADC
    * scores collide across replicas, the worst case for shortlist cuts):
    * the shortlist stays result-sized and rerank returns exactly k. */
  private def pqRerank(c: Ctx): Unit = {
    import c._
    import graft.functions.IvfIndex
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
    val n = bigEmb.count()
    val (out, _) = timed("  pq rerank") {
      val cb = IvfIndex.pqCodebooks(bigEmb, m = 8, dsub = 8, ksub = 16)
      val codes = IvfIndex.pqCodes(bigEmb, cb, m = 8, dsub = 8)
      IvfIndex.pqRerankTopK(bigEmb, codes, cb, q, k = 10, shortlist = 50, m = 8, dsub = 8).collect()
    }
    println(s"[scale] pqrerank at ${mult}x: corpus=$n rows=${out.length}")
    assert(out.length == 10, s"rerank must return exactly k: ${out.length}")
  }

  // ---- graphs -------------------------------------------------------

  /** The user->topic graph at m-x edges: shifted user ids, shared topic
    * nodes, so in-degree hubs grow m-x (the web-graph shape). */
  private def userTopicEdges(c: Ctx, m: Int): DataFrame =
    replicate(c.events.select(col("user_id").as("src"),
      (get_json_object(col("props"), "$.k").cast("long") + lit(10000L)).as("dst")), m, "src" -> IdShift)

  /** `top` on the user->topic graph at 1x and at mult-x edges; per-round
    * shuffle must stay edge-linear: the bytes ratio within 2x of the edge
    * multiplier (slack for the one-time build shuffles). Returns the
    * mult-x top node. */
  private def edgeLinear(c: Ctx, name: String)(top: DataFrame => Long): Long = {
    def at(m: Int): (Long, Double, Long) = {
      c.rec.reset()
      val (node, t) = c.timed(s"  ${name}_${m}x")(top(userTopicEdges(c, m)))
      (node, t, c.shuffled)
    }
    val (n1, t1, s1) = at(1)
    val (nM, tM, sM) = at(c.mult)
    println(f"[scale] $name 1x: top=$n1 $t1%.2f s shuffle=${s1 / 1e6}%.1f MB; ${c.mult}x: top=$nM " +
      f"$tM%.2f s shuffle=${sM / 1e6}%.1f MB (bytes ratio ${sM.toDouble / s1}%.1f vs ${c.mult}x edges)")
    assert(sM.toDouble / s1 < 2.0 * c.mult,
      s"$name per-round shuffle grew super-linearly: $s1 -> $sM at ${c.mult}x")
    nM
  }

  /** Iterative PageRank: the contrib re-key is the ONLY per-round
    * exchange (the rank join runs exchange-free on the co-partitioned
    * edge list). */
  private def pageRank(c: Ctx): Unit =
    edgeLinear(c, "pagerank")(e => LinkAnalysis.pageRankTopK(c.spark, e, "src", "dst", iters = 3, k = 25)
      .orderBy(col("rank_scaled").desc).head.getLong(0))

  /** HITS and personalized PageRank: the two half-round re-keys are the
    * only exchanges. PPR mass concentrates at the seed neighborhood at any
    * scale: the top node is a seed user (<10) or a topic hub the seeds
    * point at (>=10000), never an unreachable replica user. */
  private def linkX(c: Ctx): Unit = {
    import c._
    edgeLinear(c, "hits")(e => LinkAnalysis.hitsTopK(spark, e, "src", "dst", iters = 2, k = 25).head.getLong(0))
    val seeds = events.select(col("user_id")).filter(col("user_id") < 10).distinct()
    val top = edgeLinear(c, "ppr")(e => LinkAnalysis.personalizedPageRankTopK(spark, e, "src", "dst",
      seeds, iters = 3, k = 25).head.getLong(0))
    assert(top < 10L || top >= 10000L, s"PPR top node $top is outside the seed neighborhood")
  }

  /** The distinct (u, tp) engagement pairs of topics 0..99. */
  private def topicPairs(c: Ctx): DataFrame =
    c.events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("tp"))
      .filter(col("tp").between(0, 99))

  /** The deterministic top-500 support edges of one regime. */
  private def top500(e: DataFrame, dense: Boolean): Seq[(Long, Long, Long)] =
    LinkAnalysis.coEngagementSupport(e, dense, domain = 100)
      .orderBy(col("c").desc, col("ua"), col("ub")).limit(500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  /** (distinct users, Σ m_t²): the two scalars the regime selector reads. */
  private def regimeStats(e: DataFrame): (Long, Long) = {
    val inst = e.groupBy(col("tp")).agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(col("m") * col("m")), lit(0L))).head.getLong(0)
    (e.select("u").distinct().count(), inst)
  }

  /** The two bipartite-projection regimes head-to-head on one graph —
    * per-topic equi-join (sum-over-topics m² instances, the SPARSE form)
    * vs bitset masks (|users|²/2 pairs, the DENSE form): the same top-500
    * edge set, the regime gap, and whether coEngagementEdges' selector
    * picks the measured winner. */
  private def triangles(c: Ctx): Unit = {
    import c._
    val e = Pins.fill(topicPairs(c).select(col("user_id").cast("long").as("u"), col("tp")).distinct())
    val (joinTop, tJoin) = timed("  support_equi_join")(top500(e, dense = false))
    val (bitTop, tBit) = timed("  support_bitset")(top500(e, dense = true))
    val (nUsers, inst) = regimeStats(e)
    val pick = LinkAnalysis.chooseDense(nUsers, inst, Some(100), 1L << 21)
    Pins.release(e)
    println(f"[scale] triangles equi-join $tJoin%.2f s vs bitset $tBit%.2f s " +
      f"(${tJoin / tBit}%.1fx) — identical top-500: ${joinTop == bitTop}")
    println(f"[scale] selector: users=$nUsers sum(m^2)=$inst -> " +
      f"${if (pick) "dense" else "sparse"} (measured winner: ${if (tBit <= tJoin) "dense" else "sparse"})")
    assert(joinTop == bitTop, "the two support regimes disagree on the edge set")
    // assert selector agreement only when the measured gap is decisive
    // (slower form > 1.5x the faster): near the crossover, JIT/cache
    // warmth can flip the measured winner while the selector behaves as
    // designed
    if (math.max(tJoin, tBit) > 1.5 * math.min(tJoin, tBit))
      assert(pick == (tBit <= tJoin),
        s"selector picked ${if (pick) "dense" else "sparse"} but the measured " +
          s"winner was decisively the other form (join $tJoin s, bitset $tBit s)")
    else println("[scale] near-crossover (gap < 1.5x): selector comparison logged, not asserted")
  }

  /** The co-engagement selector at mult-x USERS: the log is cohort-split on
    * event_id % mult, so distinct users grow ~mult-x while per-topic
    * multiplicities stay flat — the dense form's |U|²/2 mask pairs grow
    * ~mult²-x against a ~flat sparse cost, the inversion the selector
    * exists for. At 1x both forms run (calibrating per-unit cost); at
    * mult-x the selector must flip to sparse, the flipped plan must
    * complete, and the dense form's projected wall must dwarf it. */
  private def coEngageX(c: Ctx): Unit = {
    import c._
    val ev = topicPairs(c)
    def pairsAt(m: Int): DataFrame = Pins.fill(ev.select(
      (col("user_id") + pmod(col("event_id"), lit(m.toLong)) * IdShift).as("u"), col("tp"))
      .distinct())
    val e1 = pairsAt(1)
    val (u1, inst1) = regimeStats(e1)
    val (d1, tDense1) = timed("  coengage_dense_1x")(top500(e1, dense = true))
    val (s1, tSparse1) = timed("  coengage_sparse_1x")(top500(e1, dense = false))
    assert(d1 == s1, "regimes disagree at 1x")
    val pick1 = LinkAnalysis.chooseDense(u1, inst1, Some(100), 1L << 21)
    println(f"[scale] coengage 1x: users=$u1 maskPairs=${u1 * u1 / 2} joinInst=${inst1 / 2} " +
      f"dense $tDense1%.2f s sparse $tSparse1%.2f s -> selector ${if (pick1) "dense" else "sparse"}")
    Pins.release(e1)
    val eM = pairsAt(mult)
    val (uM, instM) = regimeStats(eM)
    val pickM = LinkAnalysis.chooseDense(uM, instM, Some(100), 1L << 21)
    val (sM, tSparseM) = timed(s"  coengage_sparse_${mult}x")(top500(eM, dense = false))
    val denseUnitsM = uM.toDouble * uM.toDouble / 2.0
    val projDense = denseUnitsM * (tDense1 / (u1.toDouble * u1 / 2.0))
    println(f"[scale] coengage ${mult}x: users=$uM maskPairs=$denseUnitsM%.3g joinInst=${instM / 2} " +
      f"sparse $tSparseM%.2f s vs dense projected $projDense%.1f s -> selector ${if (pickM) "dense" else "sparse"}")
    Pins.release(eM)
    assert(pick1, "at 1x the dense form should win and be picked (r5 baseline)")
    assert(sM.size == 500, s"flipped plan must complete: ${sM.size} rows")
    // the flip needs users² > Σ m_t². Both grow with the scale factor
    // squared, so the crossover is a mult, measured the same at sf0.001,
    // sf0.01 and sf0.1: dense through 6x (sf0.01: 900² = 810k < 905k
    // instances), sparse from 7x (1050² = 1.10M > 916k)
    if (mult >= 7) {
      assert(!pickM, s"at ${mult}x users the selector must flip to sparse")
      assert(projDense > 10 * tSparseM,
        f"the avoided dense wall ($projDense%.1f s) should dwarf the flipped plan's ($tSparseM%.2f s)")
    }
  }

  /** Label propagation, k-core, modularity and link prediction at mult-x
    * edges on a ring+chord graph (node i ~ i+1, i ~ i+7 mod n: degree-4
    * regular, so every invariant is closed-form): each is joins + hash
    * aggs over the edge list, so shuffle must stay edge-linear. */
  private def graphX2(c: Ctx): Unit = {
    import c._
    def runAt(m: Int): (Double, Long) = {
      val n = m.toLong * 20000L
      val ids = spark.range(n).toDF("i")
      val e = ids.select(col("i").as("a"), ((col("i") + 1) % n).as("b"))
        .unionByName(ids.select(col("i").as("a"), ((col("i") + 7) % n).as("b")))
      rec.reset()
      val (_, t) = timed(s"  graphx2_${m}x") {
        val lp = LinkAnalysis.labelPropagation(e, "a", "b", rounds = 2)
        val mod = LinkAnalysis.communityModularity(e, "a", "b", lp)
          .agg(sum(col("n_nodes")), sum(col("intra_edges"))).head
        assert(mod.getLong(0) == n, s"modularity covers all $n nodes")
        assert(mod.getLong(1) <= 2 * n, "intra edges bounded by m")
        spark.catalog.clearCache()
        // degree-4 regular: the 3-core is the whole graph — the
        // distributed peel at scale
        val core3 = LinkAnalysis.kCore(e, "a", "b", k = 3, maxDriverEdges = 0L)
        assert(core3.count() == n, "3-core of a 4-regular graph is all")
        spark.catalog.clearCache()
        val lpTop = LinkAnalysis.linkPredictionTopK(e, "a", "b", topK = 25).collect()
        // strongest non-adjacent pairs share two of the four neighbors
        // (i, i+6) via {i-1, i+7} and (i, i+8) via {i+1, i+7}: cn = 2,
        // pa = 16 — closed-form for every ring size
        assert(lpTop.length == 25 && lpTop.head.getLong(2) == 2L && lpTop.head.getLong(3) == 16L,
          s"ring link-prediction head: ${lpTop.head}")
        spark.catalog.clearCache()
      }
      (t, shuffled)
    }
    val (t1, s1) = runAt(1)
    val (tM, sM) = runAt(mult)
    println(f"[scale] graphx2 1x: $t1%.2f s shuffle=${s1 / 1e6}%.1f MB; " +
      f"${mult}x: $tM%.2f s shuffle=${sM / 1e6}%.1f MB (ratio ${sM.toDouble / s1}%.1f)")
    assert(sM.toDouble / s1 < 2.0 * mult, s"graph-op shuffle grew super-linearly: $s1 -> $sM at ${mult}x")
  }

  // ---- warehouse ----------------------------------------------------

  /** The mergeable-summary layer at mult-x events (shifted user/event ids,
    * so distinct cardinality really grows mult-x): sketch/histogram mart
    * builds are one aggregate pass, range queries touch ONLY mart rows,
    * the MG top-k is compared against the exact full-vocabulary shuffle on
    * a 200k-key keyspace, and the fused profile/anomaly audits run at the
    * same scale. */
  private def summary(c: Ctx): Unit = {
    import c._
    import graft.operators.{QualityChecks, SketchMart}
    val bigEv = replicate(events.select("event_id", "ts", "user_id", "event_type", "value", "props"),
      mult, "event_id" -> 100000000L, "user_id" -> IdShift)
    println(s"[scale] summary: ${bigEv.count()} events, user cardinality x$mult")
    val tmp = System.getProperty("java.io.tmpdir")
    val kdir = s"$tmp/graft_probe_kmvmart"
    timed("  kmv_mart_build") {
      SketchMart.buildDaily(bigEv, kdir, 256, md5(col("user_id").cast("string")), to_date(col("ts")))
    }
    val (est, _) = timed("  kmv_mart_merge")(SketchMart.mergedDistinct(spark, kdir, 256, lit(1), "r").head.getDouble(2))
    val (exact, _) = timed("  exact_distinct")(bigEv.select(countDistinct(col("user_id"))).head.getLong(0))
    println(f"[scale] range distinct: est=$est%.0f exact=$exact err=${math.abs(est - exact) / exact}%.3f")
    val hdir = s"$tmp/graft_probe_histmart"
    timed("  hist_mart_build")(SketchMart.buildValueHist(bigEv, hdir, 5.0, to_date(col("ts")), col("value")))
    timed("  hist_quantiles") {
      SketchMart.mergedHistQuantiles(spark, hdir, 5.0, lit(1), "r", Seq(0.5, 0.9, 0.99)).collect()
    }
    // 200k-key keyspace with 8 genuinely hot keys per group (10% of
    // traffic): the exact path shuffles the full per-group vocabulary; MG
    // ships <= k pairs per partition and must surface every key above the
    // n/(k+1) frequency bound (~780 here; hot keys sit at ~2500)
    val urls = bigEv.select(col("event_type"),
      md5(when(col("event_id") % 10 === 0, col("event_id") % 16)
        .otherwise(col("event_id") % 200000L).cast("string")).as("url"))
    val (nMg, _) = timed("  mg_topk") {
      urls.groupBy("event_type")
        .agg(call_function("graft_mg_topk", col("url"), lit(256)).as("hh"))
        .select(col("event_type"), explode(col("hh")).as("e"))
        .filter(col("e.cnt") > lit(780L)).count()
    }
    val (nTrueHot, _) = timed("  exact_hot") {
      urls.groupBy("event_type", "url").agg(count(lit(1)).as("c")).filter(col("c") > lit(780L)).count()
    }
    println(s"[scale] hot keys: mg_found=$nMg true=$nTrueHot " +
      s"(MG state: 256 entries/group vs 40k-key exact shuffle)")
    timed("  profile")(QualityChecks.numericProfile(bigEv, "events", Seq("value", "user_id"), scale = 2).collect())
    timed("  volume_anomaly")(QualityChecks.volumeAnomaly(bigEv, to_date(col("ts")), 7, 3.0).count())
  }

  /** The join scale paths in their target regime: events replicate mult-x
    * with the SAME user ids, so per-key density grows mult-x — where the
    * equi+residual as-of join materializes facts x intervals pairs per key
    * while the union-window form stays linear. The bloom probe joins the
    * replicated facts against a selective dim. */
  private def joins(c: Ctx): Unit = {
    import c._
    import graft.operators.{AsOfJoin, Skew}
    // keep the props payload: shuffle SAVINGS scale with row width, and
    // real fact rows are wide
    val bigEv = replicate(events.select("event_id", "ts", "user_id", "event_type", "value", "props"),
      mult, "event_id" -> 100000000L)
    val purchases = bigEv.filter(col("event_type") === "purchase")
    val clicks = bigEv.filter(col("event_type") === "click")
    println(s"[scale] joins: ${clicks.count()} facts, ${purchases.count()} events, " +
      s"per-key density x$mult both sides")
    val (nJoin, _) = timed("  asof_equi_residual") {
      val iv = AsOfJoin.scd2Intervals(purchases, Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id").as("p_user"), col("value").as("price"), col("valid_from"), col("valid_to"))
      AsOfJoin.asOf(clicks, iv, Seq("user_id" -> "p_user"), "ts").count()
    }
    val (nUnion, _) = timed("  asof_union_window") {
      AsOfJoin.asOfUnion(clicks, purchases, Seq("user_id" -> "user_id"),
        "ts", "ts", Seq("value" -> "price"), Seq("event_id")).count()
    }
    assert(nJoin == nUnion, s"as-of forms disagree: $nJoin vs $nUnion")
    // asOfAuto's selector must pick the union-window form in exactly this
    // regime (the same per-key stats it reads in production)
    val fk = clicks.groupBy("user_id").agg(count(lit(1)).as("f"))
    val ek = purchases.groupBy("user_id").agg(count(lit(1)).as("e"))
    val st = fk.join(ek, Seq("user_id"), "full_outer")
      .agg(coalesce(sum(coalesce(col("f"), lit(0L)) * coalesce(col("e"), lit(0L))), lit(0L)),
        coalesce(sum(coalesce(col("f"), lit(0L))), lit(0L)),
        coalesce(sum(coalesce(col("e"), lit(0L))), lit(0L))).head
    val pickUnion = AsOfJoin.chooseUnionWindow(st.getLong(0), st.getLong(1), st.getLong(2), factor = 4L)
    println(s"[scale] asof selector: pairs=${st.getLong(0)} facts=${st.getLong(1)} " +
      s"events=${st.getLong(2)} -> ${if (pickUnion) "union-window" else "equi+residual"}")
    if (mult >= 10) assert(pickUnion, "the selector must take the union-window form at 10x per-key density")

    // Bloom reduction targets the regime where the dim CANNOT broadcast:
    // force the shuffled-join path and count the fact rows the semi
    // reduction keeps OUT of the join exchange (local in-memory shuffles
    // compress narrow rows to almost nothing, so wall time here reflects
    // the pre-filter's cost, not the saved network volume). The bit table
    // still broadcasts — explicit broadcast() ignores the threshold.
    val dim = events.select(col("user_id")).distinct()
      .filter(col("user_id") % 20 === 0)
      .withColumn("seg", concat(lit("seg"), col("user_id") % 7))
      .withColumnRenamed("user_id", "d_user")
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val (nPlain, _) = timed("  join_plain_shuffled")(bigEv.join(dim, col("user_id") === col("d_user")).count())
      val (nBloom, _) = timed("  join_bloom_reduced") {
        Skew.bloomReduceJoin(bigEv, dim, "user_id", "d_user", m = 1 << 16, k = 2).count()
      }
      assert(nPlain == nBloom, s"bloom reduction changed the join: $nPlain vs $nBloom")
      val nFacts = bigEv.count()
      val bits = dim.select(explode(array((0 until 2).map(i =>
        Skew.bloomJoinBit(col("d_user"), i, 1 << 16)): _*)).as("__bit")).distinct()
      val nReduced = (0 until 2).foldLeft(bigEv) { (f, i) =>
        f.join(broadcast(bits), Skew.bloomJoinBit(col("user_id"), i, 1 << 16) === col("__bit"), "left_semi")
      }.count()
      println(f"[scale] bloom reduction: $nFacts fact rows -> $nReduced into the " +
        f"join exchange (${nFacts.toDouble / math.max(nReduced, 1)}%.1fx fewer)")
    }
  }

  /** A `(k, bin)` XDR fixture spread over every core (its md5-heavy encode
    * runs there too), then replicated mult-x with shifted keys: every row
    * a DISTINCT record, since the decode cost is per row. */
  private def fixtureAtScale(c: Ctx, fixture: (SparkSession, String) => DataFrame): (DataFrame, Long) = {
    val big = Pins.keep(replicate(fixture(c.spark, c.sfDir).repartition(c.cores), c.mult, "k" -> 100000000L))
    (big, big.count())
  }

  /** Whole-record decode throughput — the number that anchors the 100 TB
    * ingest story: the envelope fixture through (a) the decode + per-op
    * fan-out and (b) the full decode-to-mart aggregate. Both run as one
    * shuffle-free scan (plus the mart's one exchange), so the per-core
    * rate divides straight into cluster size. */
  private def xdr(c: Ctx): Unit = {
    import c._
    val (bigFix, nEnv) = fixtureAtScale(c, WarehouseQueries.txEnvelopeFixture)
    val (nOps, dtFan) = timed("  xdr_fanout")(WarehouseQueries.txOpsProject(bigFix).queryExecution.toRdd.count())
    val (nMart, dtMart) = timed("  xdr_mart") {
      WarehouseQueries.txOpsProject(bigFix)
        .groupBy("op_type", "asset_type")
        .agg(count(lit(1)).as("n_ops"), sum(col("amount")).as("total_amount"),
          countDistinct(col("k")).as("n_tx"), max(col("fee")).as("max_fee"))
        .queryExecution.toRdd.count()
    }
    println(f"[scale] xdr: $nEnv%d envelopes -> $nOps%d op rows in $dtFan%.2f s " +
      f"(${nEnv / dtFan / cores}%.0f envelopes/s/core decode+fanout); mart ($nMart%d groups) $dtMart%.2f s")
  }

  /** State-change ingest throughput: the LedgerEntry wire record (the
    * s3_ledger_entry fixture) decoded + routed across all ten entry arms,
    * the plan the st_ledger_entries drain runs per batch. */
  private def entries(c: Ctx): Unit = {
    import c._
    val (bigFix, nEnt) = fixtureAtScale(c, WarehouseQueries.ledgerEntryFixture)
    val (nRows, dt) = timed("  entries_route") {
      WarehouseQueries.ledgerEntryProject(bigFix).queryExecution.toRdd.count()
    }
    println(f"[scale] entries: $nEnt%d state records -> $nRows%d routed " +
      f"rows in $dt%.2f s (${nEnt / dt / cores}%.0f records/s/core)")
  }
}
