package graft.operators

import graft.core.Pins
import graft.functions.TextFunctions
import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Shape: everything is RELATIONAL — shingles/tokens are exploded to rows
  * once, then min/sum hash-aggregated by doc id. Nesting the whole pipeline
  * into one expression tree (transform-inside-aggregate-inside-array) would
  * re-evaluate the tokenizer per lambda element and fall out of codegen;
  * exploded rows keep every md5 evaluation done exactly once and the
  * aggregates map-side combinable. The only shuffles move (id, 32-char
  * digest) pairs — never document text — so the plan holds when documents
  * are 100 TB: candidate generation is an equi-join on band keys, and the
  * quadratic verify step is confined to LSH bucket-local pairs.
  */
object Dedup {

  /** Exact dedup via content hash (md5 of the raw text).
    * Output: one row per distinct content with canonical (min) id and the
    * duplicate count.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.withColumn("content_hash", md5(col(textCol)))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))
  }

  /** One row per (doc, shingle): word n-grams of the lowercased text, with a
    * whole-text fallback for docs shorter than n tokens (an empty doc yields
    * one "" shingle). Duplicated shingles are kept (harmless to min-hash,
    * de-duped where sets are needed).
    *
    * Shingling is a native one-pass expression (graft.plans.ShingleArray):
    * an array-lambda formulation falls foul of CollapseProject inlining the
    * tokenizer per element (186 CPU-s measured), and the relational
    * posexplode + window-lead alternative pays a shuffle and a per-doc sort
    * whose only purpose is adjacency (ShingleArraySpec keeps it as the
    * reference formulation). The fused pass needs neither.
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(docs).select(col(idCol).as("id"),
      explode(call_function("graft_shingles", lower(col(textCol)), lit(n))).as("shingle"))

  /** Documents often arrive as a handful of files; without a spread the
    * whole tokenize+hash pipeline serializes onto one task per file (and a
    * single interpreted thread can be 30x slower than the JITed path). One
    * round-robin shuffle of the raw text buys full-core parallelism for
    * everything downstream — at 100 TB the input is already thousands of
    * splits and this collapses to a no-op repartition decision.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    // estimate the SCAN task count the way Spark's file packing does —
    // (bytes + perFileOpenCost) / maxSplitBytes — from logical-relation
    // metadata only (no physical planning of the subtree outside AQE).
    // Raw file COUNT is wrong in both directions: many small files pack
    // into few tasks (undercounts the starvation), few huge files split
    // into many (a forced repartition would shuffle the whole corpus).
    val est = df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val files = fs.location.inputFiles.length.toLong
            val bytes = fs.location.sizeInBytes
            val maxSplit = math.max(conf.filesMaxPartitionBytes, 1L)
            ((bytes + files * conf.filesOpenCostInBytes) / maxSplit + 1L).toInt
          case _ => 0
        }
    }.getOrElse(0)
    if (est < target) df.repartition(target) else df
  }

  /** MinHash signatures: ONE md5 per shingle, k hash functions derived as
    * non-overlapping 4-hex-char (16-bit) windows of the digest, signature_j
    * = lexicographic min over the doc's shingles (string-min of fixed-width
    * hex is order-isomorphic to numeric min). One digest per shingle instead
    * of k keeps the hash cost flat in k; 16-bit slots quantize the
    * similarity estimate but banded keys still carry 16*rows bits, ample for
    * candidate generation (false positives die in the Jaccard verify). One
    * hash-aggregate produces all k slots; partial aggregation runs map-side.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    signaturesFromShingles(shingleRows(docs, idCol, textCol, n), k)

  /** Signature aggregation over pre-computed (id, shingle) rows — lets a
    * caller that also needs the shingles (the Jaccard verify) tokenize the
    * corpus exactly once.
    */
  def signaturesFromShingles(sh: DataFrame, k: Int): DataFrame =
    signaturesFromDigests(sh.select(col("id"), md5(col("shingle")).as("d")), k)

  /** Signature aggregation over (id, d) digest rows. min over a multiset
    * equals min over its distinct set, so callers may dedup the digests
    * first and share one (id, digest) relation across the signature,
    * set-size, and intersection legs of a near-dup pipeline.
    */
  def signaturesFromDigests(dg: DataFrame, k: Int): DataFrame =
    signatureAgg(dg, k, withSize = false)

  /** One hash-aggregate producing the k signature slots and (optionally)
    * the per-doc row count as `sz` — over distinct digests that count IS
    * the shingle-set size, so callers needing both avoid a second full
    * pass over the digest relation.
    */
  private def signatureAgg(dg: DataFrame, k: Int, withSize: Boolean): DataFrame = {
    require(k * 4 <= 32, s"k=$k needs ${k * 4} hex chars; md5 has 32")
    val slots = (1 until k).map(j =>
      min(substring(col("d"), 1 + 4 * j, 4)).as(s"sig_$j"))
    val aggs = if (withSize) slots :+ count(lit(1)).as("sz") else slots
    dg.groupBy("id").agg(min(substring(col("d"), 1, 4)).as("sig_0"), aggs: _*)
  }

  /** The band bucket keys for a k-slot signature row — ONE definition of
    * the banding scheme (separator, slot slicing, band-id prefix) shared
    * by the index, probe, and calibration paths; a silent divergence here
    * would have calibration estimating a different candidate relation
    * than production dedup uses.
    */
  private def bandCols(k: Int, bands: Int): Seq[Column] = {
    // bands > k would make every band key a constant (a full O(n²)
    // self-join); a non-dividing bands would silently drop the trailing
    // signature slots and quietly lower the recall k promises
    require(bands >= 1 && k % bands == 0,
      s"bands must divide the signature width: k=$k, bands=$bands")
    val rows = k / bands
    (0 until bands).map { b =>
      md5(concat_ws("|",
        lit(b.toString) +: (b * rows until (b + 1) * rows).map(j => col(s"sig_$j")): _*))
    }
  }

  /** (id, band) rows: the k signature slots split into `bands` groups of
    * k/bands, each hashed to one short bucket key.
    */
  def bandRows(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.select(col("id"), explode(array(bandCols(k, bands): _*)).as("band"))

  /** Candidate duplicate pairs via MinHash LSH: docs sharing any band bucket,
    * each unordered pair emitted once. The join key is a 32-char digest — at
    * scale this is a shuffled equi-join on short keys with AQE splitting any
    * skewed bucket.
    */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    val banded = bandRows(minhashSignatures(docs, idCol, textCol, n, k), k, bands)
    selfJoinPairs(Pins.fill(banded))
  }

  private def selfJoinPairs(banded: DataFrame): DataFrame = {
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** Exact set Jaccard from the scored-pair columns — ONE copy shared by
    * the positive (near-dup) and negative (hard-negative) filters so the
    * complement property the PropertySpec asserts can't drift. */
  private def withJaccard(scored: DataFrame): DataFrame =
    scored.withColumn("jaccard",
      col("n_common").cast("double") /
        greatest(col("sz_a") + col("sz_b") - col("n_common"), lit(1L)).cast("double"))

  /** LSH candidates verified with exact n-gram Jaccard >= threshold: the full
    * near-dup pipeline (signature map -> bucket join -> bounded verify).
    * Set sizes and intersections are computed over distinct shingles, so the
    * result matches the set-based definition exactly.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 8, bands: Int = 4,
                   threshold: Double = 0.5): DataFrame =
    withJaccard(
      scoredPairs(docs, idCol, textCol, n, k, bands, keepZeroOverlap = threshold <= 0))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Hard-negative mining for contrastive training: candidate pairs that
    * COLLIDED in an LSH band (so they look alike to the sketch — shared
    * vocabulary, shared boilerplate) but whose exact n-gram Jaccard is
    * BELOW the duplicate threshold. These are precisely the "close but not
    * duplicate" pairs a retrieval/embedding model needs as negatives —
    * random pairs are trivially separable, and true near-dups would be
    * label noise. Same machinery and cost envelope as [[nearDupPairs]]
    * (one tokenize pass, digest-only shuffles, candidate-confined verify):
    * mining negatives is a byproduct of the dedup index build, not a new
    * scan. Zero-overlap band collisions are kept — a pure hash-collision
    * pair is still a valid (if easier) negative, and dropping it would
    * bias the sample toward high-overlap pairs only.
    */
  def hardNegativePairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 8, bands: Int = 4,
                        threshold: Double = 0.5): DataFrame =
    withJaccard(
      scoredPairs(docs, idCol, textCol, n, k, bands, keepZeroOverlap = true))
      .filter(col("jaccard") < threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Asymmetric CONTAINMENT over the same LSH candidates: |A∩B| over the
    * SMALLER set — near-1 when one document's shingles mostly live inside
    * the other's (quotation, boilerplate inclusion, expanded revisions),
    * even when Jaccard is low because the sizes differ wildly. Same
    * shapes, same digest-only shuffles; only the scoring rule changes.
    * Caveat shared with every MinHash recall statement: candidates come
    * from Jaccard-tuned bands, so extreme-size-ratio containment needs
    * more bands/permutations — the knobs are exposed.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, k: Int = 8, bands: Int = 4,
                       threshold: Double = 0.6): DataFrame =
    scoredPairs(docs, idCol, textCol, n, k, bands, keepZeroOverlap = false)
      .withColumn("containment",
        col("n_common").cast("double") /
          greatest(least(col("sz_a"), col("sz_b")), lit(1L)).cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")

  private def scoredPairs(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, k: Int, bands: Int,
                          keepZeroOverlap: Boolean): DataFrame = {
    // One (id, digest) relation feeds the signature, set-size, and
    // intersection legs: the corpus is tokenized and md5'd exactly once,
    // deduped once (32-char digests shuffle, never shingle text), and the
    // band self-join runs exactly once. Jaccard over digests equals
    // Jaccard over the shingle sets (md5 is injective for any realistic
    // corpus). At warehouse scale these materializations would be real
    // tables; eager persist gives the same shape (see [[Pins.fill]] —
    // lazy persists race when one action scans them from several legs).
    val dg = Pins.fill(
      shingleRows(docs, idCol, textCol, n)
        .select(col("id"), md5(col("shingle")).as("d"))
        .distinct())
    // ONE aggregation pass over dg yields both the k signature slots and
    // the distinct-shingle count (dg is already distinct, so count(*) per
    // id IS the set size) — a separate sizes aggregate would re-shuffle
    // the whole digest relation for one column. Banding is derived lazily:
    // re-hashing k short sig strings per doc on each of the self-join's
    // two cache scans is noise next to a second dg pass.
    val sigsz = Pins.fill(signatureAgg(dg, k, withSize = true))
    // with a positive threshold the candidate pairs flow into exactly one
    // consumer (the common-count join), so an eager materialization would
    // be a pure barrier + cache write; only the keepZeroOverlap branch
    // scans cands twice (common + the zero-overlap anti-join leg)
    val cands0 = selfJoinPairs(bandRows(sigsz, k, bands))
    val cands = if (!keepZeroOverlap) cands0 else Pins.fill(cands0)
    val sizes = sigsz.select(col("id"), col("sz"))
    // Common digest count, restricted to candidate pairs. The second join
    // carries the digest in its equi-key, so per-pair work is the merge of
    // the two docs' digest sets — never the |A| x |B| cross product.
    // shuffle_hash: sort-merge would order the pair x digest relation by a
    // 32-char string key — the sort alone dominated the pipeline (42 s vs
    // ~12 at 50k docs); hashing the (smaller) digest relation instead keeps
    // both joins sort-free, and per-partition build sides stay bounded
    // because dg is id-striped by the shuffle.
    val common = cands
      .join(dg.select(col("id").as("doc_a"), col("d")).hint("shuffle_hash"), "doc_a")
      .join(dg.select(col("id").as("doc_b"), col("d")).hint("shuffle_hash"), Seq("doc_b", "d"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    // A positive threshold implies n_common >= 1, so the scored pairs ARE
    // `common` — no left-outer back onto cands. (keepZeroOverlap keeps
    // zero-overlap candidate pairs via the union branch.)
    val scoredBase =
      if (!keepZeroOverlap) common
      else common.unionByName(
        cands.join(common.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti")
          .withColumn("n_common", lit(0L)))
    scoredBase
      .join(sizes.select(col("id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
  }

  /** The per-corpus-version near-dup index: deduped (id, digest) shingle
    * rows, banded signature rows, and per-doc set sizes — everything the
    * incremental path probes, built in ONE pass over the corpus. In
    * production these are bucketed tables written once per corpus version
    * ([[graft.sinks.Sinks.writeBucketed]] on `id` / `band`), so per-crawl
    * dedup never re-tokenizes a byte of the existing corpus.
    */
  final case class NearDupIndex(digests: DataFrame, bands: DataFrame, sizes: DataFrame)

  /** Persist a [[NearDupIndex]] as storage tables under `root` — the
    * production form: the index is a corpus-version artifact written once
    * and probed by every subsequent crawl, never rebuilt per batch. (On a
    * cluster these would be bucketed on id/band via
    * [[graft.sinks.Sinks.writeBucketed]]; plain parquet keeps the local
    * harness path-portable.)
    */
  def saveNearDupIndex(idx: NearDupIndex, root: String): Unit = {
    idx.digests.write.mode("overwrite").parquet(s"$root/digests")
    idx.bands.write.mode("overwrite").parquet(s"$root/bands")
    idx.sizes.write.mode("overwrite").parquet(s"$root/sizes")
  }

  /** Reopen a persisted [[NearDupIndex]]. The tables are storage-backed,
    * so probe legs scan parquet instead of recomputing the corpus
    * tokenize — the amortized-cost regime the incremental operators are
    * designed for.
    */
  def loadNearDupIndex(spark: SparkSession, root: String): NearDupIndex = {
    // recursive lookup: reads both the flat base layout saveNearDupIndex
    // writes (part files at the top) and the crawl-scoped subdirs
    // ingestDeltaCrawl renames in; hidden (.tmp_* / _SUCCESS) entries are
    // filtered by the file index, so a crashed append's tmp dir is
    // invisible to readers
    def part(p: String) =
      Parquet.read(spark, Map("recursiveFileLookup" -> "true"), s"$root/$p")
    NearDupIndex(part("digests"), part("bands"), part("sizes"))
  }

  def nearDupIndex(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 8, bands: Int = 4): NearDupIndex = {
    // materialized: the probe scans digests once, bands once, and sizes
    // TWICE (sz_a/sz_b joins) — lazy relations would re-tokenize the whole
    // existing corpus on every scan, the exact cost the index exists to
    // avoid. (In production these are bucketed TABLES; the eager persist
    // is the in-session stand-in, freed when the caller's scope ends.)
    val dg = Pins.fill(
      shingleRows(docs, idCol, textCol, n)
        .select(col("id"), md5(col("shingle")).as("d"))
        .distinct())
    val sigsz = Pins.fill(signatureAgg(dg, k, withSize = true))
    NearDupIndex(dg, bandRows(sigsz, k, bands), sigsz.select(col("id"), col("sz")))
  }

  /** Incremental near-dup detection — the shape a 100 TB corpus actually
    * runs per crawl: verify only the DELTA batch against the indexed
    * corpus (and itself), never re-processing existing documents. Banding
    * is per-document, so "all full-corpus pairs that touch the delta"
    * equals "delta bands joined against index+delta bands" — the
    * incremental result is provably the full recompute restricted to
    * delta-touching pairs (the oracle states exactly that). Per-batch
    * cost: tokenize the delta once, then candidate generation and the
    * digest-keyed verify joins sized by the delta's bucket collisions.
    */
  def incrementalNearDupPairs(delta: DataFrame, idCol: String, textCol: String,
                              index: NearDupIndex,
                              n: Int = 3, k: Int = 8, bands: Int = 4,
                              threshold: Double = 0.5): DataFrame = {
    require(threshold > 0, "incremental path requires a positive threshold")
    // A delta id that already exists in the index would merge BOTH
    // versions' shingles under one id (inflated intersections, duplicated
    // size-join rows, garbage jaccards) — refuse it BEFORE any expensive
    // work: this probe is a bare id projection, so a refused call has
    // tokenized nothing and pinned nothing. A re-crawled doc must be
    // removed from the index (rebuild/partition-rewrite) before its new
    // version arrives as delta.
    val nShared = delta.select(col(idCol).as("id")).distinct()
      .join(index.sizes, Seq("id"), "left_semi").limit(1).count()
    require(nShared == 0,
      "delta ids overlap the index: re-crawled docs must be dropped from " +
        "the index before their new versions are probed as delta")
    // ONE derivation shared with the streaming ingest path
    // ([[deltaBandPairs]]) — the band/pair rule cannot diverge between
    // the batch and streaming incremental forms
    val (dDg, dSigsz, _, pairs) =
      deltaBandPairs(delta, idCol, textCol, index, n, k, bands)
    // materialized: read by the touched projection AND the verify join
    val cands = Pins.fill(pairs)
    // Confine the verify to digests of docs that actually appear in a
    // candidate pair: the touched-id set is bounded by the delta's bucket
    // collisions, so the semi join broadcasts and prunes the index's
    // digest relation MAP-SIDE. Without this the verify legs shuffle the
    // whole corpus's digests and per-crawl cost degrades toward the full
    // recompute (measured 5.3 s vs 7.5 s at the 10x probe; pruned it is
    // sized by the delta).
    val touched = cands.select(col("doc_a").as("id"))
      .unionByName(cands.select(col("doc_b").as("id"))).distinct()
    // materialized: both verify legs scan this relation — unmaterialized,
    // each leg would re-run the union + semi join over the full index
    val allDg = Pins.fill(index.digests.unionByName(dDg)
      .join(touched, Seq("id"), "left_semi"))
    val sizes = index.sizes.unionByName(dSigsz.select(col("id"), col("sz")))
    val common = cands
      .join(allDg.select(col("id").as("doc_a"), col("d")).hint("shuffle_hash"), "doc_a")
      .join(allDg.select(col("id").as("doc_b"), col("d")).hint("shuffle_hash"), Seq("doc_b", "d"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    withJaccard(common
        .join(sizes.select(col("id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .join(sizes.select(col("id").as("doc_b"), col("sz").as("sz_b")), "doc_b"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** One crawl's worth of the STREAMING incremental-dedup ingest cycle,
    * as a storage transaction: tokenize the delta ONCE; emit its candidate
    * pairs against index ∪ delta; fold the component `mapping` with
    * [[incrementalComponents]] and write it to `mappingOut`; append the
    * delta's digest/band/size rows to the storage-backed index at
    * `indexRoot` so the NEXT crawl probes this one's documents too.
    *
    * The fold is slicing-independent: a cross-crawl pair (p, q) is found
    * when the LATER of the two arrives (its bands join the index that by
    * then contains the earlier one), so the union of all crawls' pair sets
    * equals the full-corpus candidate relation, and min-label CC over
    * accumulated pairs is associative across the per-crawl contraction —
    * the final mapping equals a full recompute no matter how ingestion
    * was micro-batched. [[graft.streaming.StreamingGate.incrDedupGate]]
    * drives this from foreachBatch and the driver's oracle pins exactly
    * that equality.
    *
    * Per-crawl cost: one tokenize of the delta; candidate/verify joins
    * sized by the delta's bucket collisions; index append is delta-sized.
    * Nothing rescans the existing corpus.
    */
  /** The delta's derived relations plus its delta-touching candidate
    * pairs, from ONE tokenize pass — shared by
    * [[incrementalCandidatePairs]] and [[ingestDeltaCrawl]] so the
    * band/pair rule cannot silently diverge between the batch and
    * streaming incremental paths (the [[bandCols]] warning, one level
    * up).
    */
  private def deltaBandPairs(delta: DataFrame, idCol: String, textCol: String,
                             index: NearDupIndex, n: Int, k: Int, bands: Int)
  : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // dDg and dSigsz sit on dBands' lineage, so the ONE eager count below
    // fills all three caches in a single job — separate counts per
    // relation tripled the per-crawl fixed job cost for nothing. Their
    // later readers (verify legs, index commits) are sequential actions
    // over the already-filled caches, so the lazy pin is race-free.
    val dDg = Pins.keep(
      shingleRows(delta, idCol, textCol, n)
        .select(col("id"), md5(col("shingle")).as("d"))
        .distinct())
    val dSigsz = Pins.keep(signatureAgg(dDg, k, withSize = true))
    val dBands = Pins.fill(bandRows(dSigsz, k, bands))
    val pairs = dBands.as("a")
      .join(index.bands.unionByName(dBands).as("b"),
        col("a.band") === col("b.band") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("doc_a"),
        greatest(col("a.id"), col("b.id")).as("doc_b"))
      .distinct()
    (dDg, dSigsz, dBands, pairs)
  }

  def ingestDeltaCrawl(delta: DataFrame, idCol: String, textCol: String,
                       indexRoot: String, mapping: DataFrame, mappingOut: String,
                       txnId: String): Unit = {
    val spark = delta.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val f = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(indexRoot), conf)
    Pins.scope {
      val index = loadNearDupIndex(spark, indexRoot)
      // Same guard as the batch incremental path: a re-crawled id would
      // merge both versions' digests under one id and poison every later
      // probe. Checked on the FIRST attempt only — on a retry whose
      // index appends already landed, the delta ids ARE in the index by
      // construction and the fold below is proven retry-safe.
      val firstAttempt = !f.exists(
        new org.apache.hadoop.fs.Path(s"$indexRoot/digests/crawl_$txnId"))
      if (firstAttempt) {
        val nShared = delta.select(col(idCol).as("id")).distinct()
          .join(index.sizes, Seq("id"), "left_semi").limit(1).count()
        require(nShared == 0,
          "delta ids overlap the index: re-crawled docs must be dropped " +
            "from the index before their new versions are ingested")
      }
      val (dDg, dSigsz, dBands, pairs) =
        deltaBandPairs(delta, idCol, textCol, index, n = 3, k = 8, bands = 4)
      // The mapping fold is safe on RETRY even if the previous attempt's
      // index appends landed: a delta band already in the index collides
      // only with other ids (a.id != b.id) and duplicate pairs distinct
      // away, so the pair set is unchanged — and the overwrite makes the
      // mapping write itself idempotent.
      incrementalComponents(mapping, delta.select(col(idCol)), pairs, idCol)
        .write.mode("overwrite").parquet(mappingOut)
      // Index appends are crawl-scoped transactions: each part writes to
      // a hidden tmp dir (invisible to loadNearDupIndex) and RENAMES to
      // crawl_<txn> — the atomic commit point. A retry finds the
      // committed dir and skips; a crash mid-write leaves only hidden
      // tmp garbage. This runs AFTER the mapping fold so the fold sees
      // the PRE-crawl index on the first attempt; the caller's version
      // pointer only advances on full success.
      def commitPart(part: String, df: DataFrame): Unit = {
        val dst = new org.apache.hadoop.fs.Path(s"$indexRoot/$part/crawl_$txnId")
        if (!f.exists(dst)) {
          // Reap stale staging of THIS txn first (age-gated): orphans
          // from crashed attempts would otherwise accumulate a full
          // parquet copy per failure forever. The age gate makes the
          // reap safe against a live slow writer: unique names mean the
          // reaper never rewrites a path someone is writing (the torn-
          // rename hazard), and the worst case is failing that writer's
          // rename — an error and retry, never corruption. The gate is
          // the NEWEST mtime anywhere UNDER the staging dir (files and
          // dirs, recursive), not the dir's own mtime — a directory's
          // mtime only moves on direct-child creation, so a long
          // parquet write into a task subdir can look stale from the
          // top while a writer is mid-flight. Also sweeps pre-UUID
          // legacy orphans named exactly .tmp_<txn> (older attempts
          // staged there; nothing writes that name anymore).
          // Recurse with listStatus (NOT listFiles, which enumerates
          // files only) so DIRECTORY mtimes count too: a writer that has
          // so far created only nested dirs — no files yet — must not
          // look stale from the top. A vanished entry mid-scan (a racing
          // reaper or the writer's own rename) reports "infinitely
          // fresh": it is already gone, and this writer's commit must
          // not fail over it.
          def newestMtimeUnder(p: org.apache.hadoop.fs.Path): Long =
            try {
              val st = f.getFileStatus(p)
              var newest = st.getModificationTime
              if (st.isDirectory) f.listStatus(p).foreach { c =>
                val m = newestMtimeUnder(c.getPath)
                if (m > newest) newest = m
              }
              newest
            } catch {
              case _: java.io.FileNotFoundException => Long.MaxValue
            }
          val partDir = new org.apache.hadoop.fs.Path(s"$indexRoot/$part")
          if (f.exists(partDir)) f.listStatus(partDir).foreach { st =>
            val nm = st.getPath.getName
            if ((nm.startsWith(s".tmp_${txnId}_") || nm == s".tmp_$txnId") &&
                newestMtimeUnder(st.getPath) <
                  System.currentTimeMillis() - 600000L)
              f.delete(st.getPath, true)
          }
          // attempt-unique staging dir: with the three part commits
          // running concurrently, a FAILED attempt can leave sibling
          // futures still writing when the caller retries — a shared
          // .tmp_<txn> path would let the retry delete/rewrite a dir a
          // live writer is mid-write in and rename a torn part into the
          // immutable crawl dir.
          val tmp = new org.apache.hadoop.fs.Path(
            s"$indexRoot/$part/.tmp_${txnId}_${java.util.UUID.randomUUID()}")
          df.write.parquet(tmp.toString)
          val renamed = f.rename(tmp, dst)
          // Hadoop rename into an EXISTING directory "succeeds" by
          // nesting the source inside it — a racing loser would bury its
          // staging in the winner's immutable crawl dir. The nested name
          // is this attempt's unique tmp name, so detect and remove it.
          val nested = new org.apache.hadoop.fs.Path(dst, tmp.getName)
          if (renamed && f.exists(nested)) {
            f.delete(nested, true)
          } else if (!renamed) {
            f.delete(tmp, true)
            if (!f.exists(dst))
              sys.error(s"ingestDeltaCrawl: commit rename failed for $dst")
          }
        }
      }
      // the three part commits are independent (disjoint dirs, all read
      // already-filled caches), so submit them as concurrent jobs — the
      // crawl pays one write latency instead of three
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(commitPart("digests", dDg)),
        Future(commitPart("bands", dBands)),
        Future(commitPart("sizes", dSigsz.select(col("id"), col("sz")))))),
        Duration.Inf)
    }
  }

  /** MinHash calibration in ONE tokenize pass: per candidate pair, the
    * sketch's Jaccard estimate (equal-signature-slot fraction) next to
    * the exact digest-intersection Jaccard — the diagnostic that sizes
    * k/bands before a big run. The naive formulation (signatures +
    * candidate pairs + verify as three separate operator calls) tokenizes
    * the corpus three times; here digests, signatures, bands, pairs and
    * both verify legs all derive from one materialized digest relation,
    * and the verify joins stay digest-keyed shuffle-hash confined to
    * candidate-touching docs.
    */
  def minhashCalibration(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    val dg = Pins.fill(
      shingleRows(docs, idCol, textCol, n)
        .select(col("id"), md5(col("shingle")).as("d"))
        .distinct())
    // lazy pin: est's eager count below fills this cache; its two
    // self-join legs may race the fill, but a double-computed signature
    // aggregate reads the MATERIALIZED digest cache — cheap — where a
    // lazy dg would re-run the tokenize per leg (why dg stays eager).
    // r11 re-examined: an eager fill here measured warm-NEUTRAL to
    // slightly slower (interleaved ProfileOne min 2.7 s lazy vs 3.3 s
    // eager; the scary taskSum-vs-cpuSum gap is local[32] thread
    // oversubscription, not lock wait) — kept lazy, the extra job is not
    // paid for.
    val sigsz = Pins.keep(signatureAgg(dg, k, withSize = true))

    // The k signature slots ride through the band self-join (they're
    // already on bandRows' parent, 4 hex chars each), so the estimate is
    // computed ON the pair rows — versus re-joining the pair relation
    // against the signature table twice post-hoc, which re-shuffled the
    // k-wide signatures once per side (measured 7x the verify-only
    // sibling's cost at sf0.1). Band keys come from the same bandCols
    // definition the index/probe paths use.
    val bandedSigs = sigsz.select(
      col("id") +: (0 until k).map(j => col(s"sig_$j")) :+
        explode(array(bandCols(k, bands): _*)).as("band"): _*)
    val nEq = (0 until k)
      .map(j => when(col(s"a.sig_$j") === col(s"b.sig_$j"), 1).otherwise(0))
      .reduce(_ + _)
    val est = Pins.fill(
      bandedSigs.as("a")
        .join(bandedSigs.as("b"),
          col("a.band") === col("b.band") && col("a.id") < col("b.id"))
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
          (nEq.cast("double") / k).as("est_jaccard"))
        .distinct())
    val pairs = est.select("doc_a", "doc_b")

    val touched = pairs.select(col("doc_a").as("id"))
      .unionByName(pairs.select(col("doc_b").as("id"))).distinct()
    val dgT = Pins.fill(dg.join(touched, Seq("id"), "left_semi"))
    val common0 = pairs
      .join(dgT.select(col("id").as("doc_a"), col("d")).hint("shuffle_hash"), "doc_a")
      .join(dgT.select(col("id").as("doc_b"), col("d")).hint("shuffle_hash"), Seq("doc_b", "d"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    // a band collision does NOT imply a shared digest (equal min-hash
    // slots can arise from disjoint digest sets), and calibration must
    // score those candidates too — est > 0, exact = 0 is precisely the
    // false-positive signal the diagnostic exists to surface. Left join
    // back onto the candidate relation; absent pairs are 0-overlap.
    val common = pairs.join(common0, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
    val sizes = sigsz.select(col("id"), col("sz"))
    val exact = common
      .join(sizes.select(col("id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast("double") /
          greatest(col("sz_a") + col("sz_b") - col("n_common"), lit(1L)).cast("double"))
          .as("jaccard"))
    est.join(exact, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 6).as("abs_err"))
  }

  /** Raw delta-touching CANDIDATE pairs (no Jaccard verify): banding is
    * per-document, so the full corpus's candidate relation restricted to
    * pairs touching the delta equals "delta bands joined against
    * index+delta bands" — the edge feed for [[incrementalComponents]].
    */
  def incrementalCandidatePairs(delta: DataFrame, idCol: String, textCol: String,
                                index: NearDupIndex,
                                n: Int = 3, k: Int = 8, bands: Int = 4): DataFrame =
    deltaBandPairs(delta, idCol, textCol, index, n, k, bands)._4

  /** Incremental connected components — fold a delta crawl's edges into an
    * EXISTING component mapping without touching the old graph. Because
    * the old components are connected, each can contract to its canonical
    * id (a supernode); CC over {contracted new edges} on {supernodes ∪
    * delta ids} then yields exactly the components of the union graph,
    * and since every label rule here is "min member id", the composed
    * labels equal a full recompute's (min is associative across the
    * contraction) — the oracle states precisely that.
    *
    * Scale shape per crawl: the contraction joins shuffle only the delta's
    * edges; the component solve runs on the contracted graph (supernodes,
    * not documents); the final expansion is ONE join of the mapping
    * against the supernode relabeling. Nothing rescans or re-pairs the
    * existing corpus — the complement of [[incrementalNearDupPairs]] /
    * [[incrementalCandidatePairs]] on the component side.
    *
    * `mapping` is (idCol, canonical_id) for the indexed corpus; `deltaIds`
    * the new ids; `newPairs` (doc_a, doc_b) edges touching the delta.
    */
  def incrementalComponents(mapping: DataFrame, deltaIds: DataFrame,
                            newPairs: DataFrame, idCol: String): DataFrame = {
    val full = mapping.select(col(idCol), col("canonical_id"))
      .unionByName(deltaIds.select(col(idCol), col(idCol).as("canonical_id")))
    val canon = full.select(col(idCol).as("__n"), col("canonical_id").as("__c"))
    val ca = canon.select(col("__n").as("__na"), col("__c").as("__ca"))
    val cb = canon.select(col("__n").as("__nb"), col("__c").as("__cb"))
    val contracted = newPairs
      .join(ca, newPairs("doc_a") === col("__na"))
      .join(cb, newPairs("doc_b") === col("__nb"))
      .select(least(col("__ca"), col("__cb")).as("doc_a"),
        greatest(col("__ca"), col("__cb")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    val supernodes = full.select(col("canonical_id").as("node")).distinct()
    val superLabels = connectedComponents(supernodes, "node", contracted)
      .select(col("node"), col("canonical_id").as("__final"))
    full.join(superLabels, full("canonical_id") === col("node"))
      .select(full(idCol), col("__final").as("canonical_id"))
  }

  /** 32-bit SimHash per doc: bit b of the hash is the sign of the sum over
    * tokens of ±1 according to bit b of the token's md5 (first 8 hex
    * nibbles). Token digests are computed once on exploded rows; all 32 bit
    * sums run in a single hash-aggregate.
    */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // v = first 32 bits of the token digest, parsed ONCE; bit b of the
    // hash reads bit (31-b) of v (hex chars are big-endian nibbles, MSB
    // first within a nibble — same bit order as the per-nibble conv()
    // formulation, at 1/32nd the per-row decode work).
    val tokRows = spread(docs)
      .select(col(idCol).as("id"), TextFunctions.tokens(lower(col(textCol))).as("toks"))
      // an empty doc keeps one "" token so every doc keeps a simhash row
      // (the shingleRows guarantee — a bare explode would silently drop
      // empty docs from any downstream inner join against their hash)
      .select(col("id"), explode(when(size(col("toks")) === 0,
        array(lit(""))).otherwise(col("toks"))).as("tok"))
      .select(col("id"), conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("v"))
    def bitContrib(b: Int): Column =
      when(shiftright(col("v"), 31 - b).bitwiseAND(1) === 1, lit(1L)).otherwise(lit(-1L))
    val sums = tokRows.groupBy("id").agg(
      sum(bitContrib(0)).as("s_0"),
      (1 until 32).map(b => sum(bitContrib(b)).as(s"s_$b")): _*)
    val hash = (0 until 32)
      .map(b => when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("id").as("doc_id"), hash.as("simhash"))
  }

  /** End-to-end corpus deduplication — the operation a training-data
    * pipeline actually runs: near-dup pairs above `threshold` (LSH
    * candidates, exact-Jaccard verified; identical docs share every band
    * so exact dups are candidate pairs by construction) → connected
    * components → keep only each component's canonical (min-id) document.
    * Returns the surviving rows of `docs`, unchanged.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, k: Int = 8, bands: Int = 4,
                  threshold: Double = 0.5): DataFrame = {
    // Collapse exact duplicates FIRST: identical content produces identical
    // signatures, so every replica would land in the same buckets and pay
    // quadratic pairwise verification inside its group (20 copies = 190
    // candidate pairs each verifying jaccard = 1). Running near-dup over
    // one representative per distinct content yields provably identical
    // survivors — the exact group's canonical is its min id, the
    // representative relation preserves component minima — at pair volume
    // driven by DISTINCT content only. On crawl-shaped corpora this is the
    // difference between millions and hundreds of verify pairs.
    val keptIds = Pins.scope {
      // ONE narrow md5 pass + ONE exchange: hash every doc once into
      // (id, content_hash) and take the group canonical as a window min
      // over the hash — the old form scanned the full text twice (once
      // inside exactGroups' groupBy, once for the join projection) and
      // paid a groupBy + join + an extra eager materialization for the
      // same result. The window partitions on content_hash (bounded by
      // duplicate-group size, the same key the groupBy shuffled on).
      val repOf = Pins.fill(
        docs.select(col(idCol), md5(col(textCol)).as("content_hash"))
          .withColumn("rep", min(col(idCol)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("content_hash")))
          .select(col(idCol), col("rep")))
      val reps = docs.join(
        repOf.filter(col(idCol) === col("rep")).select(idCol), Seq(idCol), "left_semi")
      // materialize the verified pairs through a normal action so the verify
      // joins get the full AQE treatment (the checkpoint path inside
      // connectedComponents executes via .rdd, which skips adaptive
      // re-planning — measured ~2.5x the CPU on the same join)
      val pairs = Pins.fill(nearDupPairs(reps, idCol, textCol, n, k, bands, threshold))
      val comps = connectedComponents(reps, idCol, pairs)
      val canon = repOf.join(
        comps.select(col(idCol).as("rep"), col("canonical_id")), "rep")
      // The survivor id set is one small column — cut it eagerly (its
      // lineage to repOf/pairs/comps goes) so every relation THIS call
      // pinned is freed here rather than accumulating in a long-lived
      // session; the cut itself outlives the scope, and the returned plan
      // is a plain semi join of docs against the checkpointed id list.
      Pins.cut(canon.filter(col(idCol) === col("canonical_id")).select(col(idCol)))
    }
    docs.join(keptIds, Seq(idCol), "left_semi")
  }

  /** Benchmark decontamination: per corpus doc, the number of distinct
    * word n-grams it shares with a benchmark/eval set — docs with hits are
    * dropped (or flagged) before training so eval data can't leak into the
    * corpus. Scale shape: the benchmark is tiny relative to the corpus, so
    * its distinct shingle digests BROADCAST and the corpus-side probe is a
    * map-side semi join — no shuffle of corpus text or digests; use a
    * longer n than near-dup (8+ words) so only verbatim overlap fires.
    */
  def contaminationHits(docs: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val benchDigests = shingleRows(benchmark, idCol, textCol, n)
      .select(md5(col("shingle")).as("d")).distinct()
    shingleRows(docs, idCol, textCol, n)
      .select(col("id"), md5(col("shingle")).as("d")).distinct()
      .join(broadcast(benchDigests), "d")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * memorization/overlap signal (the doc-level complement of
    * [[contaminationHits]]'s hit counts): the fraction of a doc's
    * DISTINCT n-gram digests absent from the reference. Every doc gets a
    * row (zero-overlap docs score 1.0), which is what a filter threshold
    * needs — contaminationHits only reports docs with hits. The score is
    * a ratio of two exact longs, so it is bit-identical on any engine.
    * Same scale shape as decontamination: reference digests broadcast,
    * one tokenize pass over the corpus, map-side left join.
    */
  def noveltyScores(docs: DataFrame, ref: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val refDigests = shingleRows(ref, idCol, textCol, n)
      .select(md5(col("shingle")).as("d")).distinct()
    shingleRows(docs, idCol, textCol, n)
      .select(col("id"), md5(col("shingle")).as("d")).distinct()
      .join(broadcast(refDigests.withColumn("seen", lit(1))), Seq("d"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("seen")), lit(0)).cast("long").as("n_seen"))
      .withColumn("novelty",
        lit(1.0) - col("n_seen").cast("double") / col("n_grams").cast("double"))
  }

  /** Exact substring-window duplication signal (the token-window dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", expressed relationally): every positional n-token window is
    * digested in one fused pass (graft_shingles keeps ALL windows in
    * order), a global digest → distinct-doc count is computed, and each
    * document aggregates how many of its window positions are covered by a
    * window that also occurs verbatim in ANOTHER document. `dup_ratio` is
    * the fraction of the document that is cross-document boilerplate — the
    * per-doc drop/trim signal substring dedup pipelines act on.
    *
    * Scale shape: both aggregates are map-side-combinable hash aggs over
    * fixed-width 32-char digests, and the join back to window rows is a
    * digest-keyed equi join — shuffles move digests and counts, never
    * text. Window volume is ~one row per token, the same envelope as the
    * explode-based text ops ([[shingleRows]]); no per-doc sort, no windows
    * over unbounded partitions, no driver state.
    */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 8): DataFrame = {
    val wins = shingleRows(docs, idCol, textCol, n)
      .select(col("id"), md5(col("shingle")).as("d"))
    // digest → number of DISTINCT docs containing it (dedupe (id, d) first
    // so in-doc repetition can't inflate the cross-doc count)
    val ndocs = wins.distinct().groupBy("d")
      .agg(count(lit(1)).as("nd"))
    wins.join(ndocs, "d")
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        count(when(col("nd") >= 2, 1)).as("n_dup_windows"))
      .select(col("doc_id"),
        col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") /
          greatest(col("n_windows"), lit(1L)), 6).as("dup_ratio"))
  }

  /** Duplicated-span SCRUBBING — the removal half of exact substring dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): [[duplicateSpanStats]] measures cross-doc duplicated
    * windows; this produces the CLEANED corpus, dropping every token that
    * falls inside any n-token window whose digest appears in ≥ 2 distinct
    * documents, and reassembling the survivors in document order.
    *
    * Relational end to end: positional windows via lead() over the keyed
    * token window, duplicated digests by one distinct+count, coverage as a
    * position explode (each dup window covers [pos, pos+n)), survivors by
    * a positional anti join, reassembly as a per-doc sort of (pos, tok)
    * structs — bounded by document length, never by corpus size. Shuffles
    * carry digests and (id, pos) pairs, never window text; the only text
    * crossing an exchange is each doc's own surviving tokens converging
    * on its reassembly group.
    *
    * Output: one row per document — kept-token count, total, and the
    * cleaned text (empty string when every token was scrubbed).
    */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenize pass (the file's standing rule): windows, coverage,
    // survivors, and the per-doc total all scan this materialized token
    // relation — recomputing it per leg would re-run the tokenizer over
    // the corpus once per consumer.
    val toks = Pins.fill(spread(docs)
      .select(col(idCol).as("id"),
        posexplode_outer(TextFunctions.tokens(lower(col(textCol))))
          .as(Seq("pos", "tok"))))
    val w = Window.partitionBy("id").orderBy("pos")
    val parts = (0 until n).map(j =>
      if (j == 0) col("tok") else lead(col("tok"), j).over(w))
    val wins = toks
      .select(col("id"), col("pos"),
        md5(concat_ws(" ", parts: _*)).as("d"),
        parts.last.isNotNull.as("full"))
      .filter(col("full"))
    // scrub rule: FULL windows only — a doc shorter than n tokens has no
    // window and survives intact (a whole-doc duplicate that short is
    // exact-dedup's job, not span scrubbing's)
    val dup = wins.select(col("id"), col("d")).distinct()
      .groupBy("d").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("d"))
    val covered = wins.join(dup, "d")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    // per-doc totals from the SAME token relation (count(pos) skips the
    // posexplode_outer null row, so empty docs total 0 but keep a row) —
    // never a second tokenize of the corpus
    val totals = toks.groupBy(col("id"))
      .agg(count(col("pos")).as("n_tokens"))
    toks.filter(col("pos").isNotNull)
      .join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("clean_text"))
      // right join back onto the totals: fully-scrubbed docs keep a row
      // with empty text
      .join(totals, Seq("id"), "right")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Connected components over an undirected duplicate-pair graph: every
    * node gets the minimum id reachable from it (`canonical_id`), turning
    * pairwise near-dup hits into dedup groups ("keep one doc per
    * component").
    *
    * Up to `broadcastEdgeLimit` edges the solve is a driver-side
    * union-find; past it, [[connectedComponentsStar]] (star contraction,
    * O(log n) rounds on any diameter, 25 of them at most).
    *
    * @param nodes one row per node id (docs absent from `pairs` form
    *              singleton components)
    * @param pairs (doc_a, doc_b) undirected candidate/duplicate pairs
    */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
                          broadcastEdgeLimit: Long = 4000000L): DataFrame = {
    // pairs is typically the output of an expensive verify pipeline; the
    // union below scans it twice (once per direction), and a lazy persist
    // leaves the two legs racing to materialize the same cache partitions
    // (work done twice). An eager cut evaluates the pipeline exactly once
    // and cuts its lineage out of every CC round.
    val p = Pins.cut(pairs)
    val edges = symmetricEdges(p)
    // Candidate graphs after LSH are sparse by construction (edges << docs),
    // so below a bounded size the component solve is a driver-side
    // union-find + one broadcast join back onto the corpus — the same
    // small-side adaptivity AQE applies to join strategy. Past the limit,
    // star contraction.
    val nEdges = edges.count()
    if (nEdges <= broadcastEdgeLimit) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.select("src", "dst").collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labelRows = parent.keys.map(n => (n, find(n))).toSeq
      Pins.release(edges, p)
      val spark = nodes.sparkSession
      import spark.implicits._
      val labelMap = labelRows.toDF("node", "comp")
      return nodes.select(col(idCol).as("node"))
        .join(broadcast(labelMap), Seq("node"), "left_outer")
        .select(col("node").as(idCol),
          coalesce(col("comp"), col("node")).as("canonical_id"))
    }
    // pass the CHECKPOINTED pairs — handing the raw plan over would
    // re-execute the whole upstream verify pipeline a second time when
    // the star path checkpoints it again
    val out = connectedComponentsStar(nodes, idCol, p, maxIter = 25)
    Pins.release(edges, p)
    out
  }

  /** Both directions of every pair, as distinct long (src, dst) edges.
    * Ids are integral by contract (string ids: map through a dense-id
    * dictionary first); the explicit long cast widens int32 ids so the
    * driver union-find's getLong and the min-label loop's numeric
    * aggregate both see one type instead of crashing on parquet int ids.
    */
  private def symmetricEdges(p: DataFrame): DataFrame =
    Pins.keep(p.select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"))
      .union(p.select(col("doc_b").cast("long").as("src"),
        col("doc_a").cast("long").as("dst")))
      .distinct())

  /** Distributed min-label propagation, [[connectedComponentsStar]]'s
    * finisher when contraction runs out of rounds: each round joins
    * current labels across the edge list and takes the per-node min —
    * O(|E|) shuffled work per round, rounds bounded by component diameter
    * (25 rounds cap pathological chains). Lineage is cut every round with
    * localCheckpoint so the plan stays flat at any scale; the driver only
    * ever sees one scalar per round (the convergence check), never the
    * data.
    */
  private[graft] def minLabelComponents(nodes: DataFrame, idCol: String,
                                        pairs: DataFrame): DataFrame = {
    val p = Pins.cut(pairs)
    val edges = symmetricEdges(p)
    var labels = Pins.cut(nodes.select(col(idCol).as("node"))
      .withColumn("lbl", col("node")))
    // labels only ever decrease, so sum(lbl) strictly decreases until the
    // fixpoint — one scalar aggregate per round replaces a join-based
    // changed-rows check
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head.getDecimal(0)
    var prevSum = lblSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < 25) {
      // two propagation hops per materialization round: near-dup components
      // are shallow, so this roughly halves the checkpoint + convergence
      // jobs (the per-round fixed cost dominates the tiny per-hop work)
      val hop1 = labels.union(
        edges.join(labels, col("src") === col("node"))
          .select(col("dst").as("node"), col("lbl")))
        .groupBy("node").agg(min("lbl").as("lbl"))
      val next = Pins.cut(hop1.union(
        edges.join(hop1, col("src") === col("node"))
          .select(col("dst").as("node"), col("lbl")))
        .groupBy("node").agg(min("lbl").as("lbl")))
      val nextSum = lblSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      Pins.release(labels)
      labels = next
      iter += 1
    }
    Pins.release(edges, p)
    labels.select(col("node").as(idCol), col("lbl").as("canonical_id"))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the distributed path for HIGH-DIAMETER graphs, where
    * min-label propagation needs O(diameter) rounds but star contraction
    * converges in O(log n): each round rewires every node toward its
    * neighborhood minimum, halving component height.
    *
    * Both stars are pure relational steps — a symmetric edge expansion, a
    * per-node min aggregate, one join — so each round is two shuffles of
    * the edge list, no collect_list (no high-degree-node row blowup), with
    * lineage cut per round via localCheckpoint exactly like the min-label
    * loop. Fixpoint detection: the edge multiset's (count, xxhash sum)
    * signature is stable iff the star graph stopped changing.
    *
    * Output matches the union-find of [[connectedComponents]] exactly (min
    * reachable id per node); the equivalence spec runs both on random +
    * chain graphs.
    */
  def connectedComponentsStar(nodes: DataFrame, idCol: String, pairs: DataFrame,
                              maxIter: Int = 20): DataFrame = {
    val p = Pins.cut(pairs)
    def canon(e: DataFrame): DataFrame =
      e.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
        .select(col("hi").as("a"), col("lo").as("b"))
        .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      canon(sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b"))))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
        .filter(col("v") < col("u"))
      val m = sym.groupBy("u").agg(min(col("v")).as("m"))
      canon(sym.join(m, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b"))))
    }
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val row = e.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head
      (row.getLong(0), row.getDecimal(1))
    }
    var edges = Pins.cut(canon(p.select(col("doc_a").as("a"), col("doc_b").as("b"))))
    var sig = signature(edges)
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Pins.cut(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      Pins.release(edges)
      edges = next
      iter += 1
    }
    if (!converged) {
      // ran out of rounds before the star fixpoint: the edge set is still
      // massively contracted and connectivity-preserving, but a node may
      // appear under several labels — finishing with min-label on the
      // residual graph keeps the one-row-per-node contract instead of
      // silently returning a malformed labeling
      val residual = edges.select(col("a").as("doc_a"), col("b").as("doc_b"))
      val out = minLabelComponents(nodes, idCol, residual)
      Pins.release(p, edges)
      return out
    }
    // at the fixpoint every component is a star rooted at its minimum:
    // (a, b) edges all point a -> root b
    val roots = edges.select(col("a").as("node"), col("b").as("comp"))
    Pins.release(p)
    nodes.select(col(idCol).as("node"))
      .join(roots, Seq("node"), "left_outer")
      .select(col("node").as(idCol),
        coalesce(col("comp"), col("node")).as("canonical_id"))
  }
}
