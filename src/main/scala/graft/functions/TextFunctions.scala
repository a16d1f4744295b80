package graft.functions

import graft.core.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language-ID heuristics and
  * document fingerprinting.
  *
  * Everything here is built from codegen'd builtin functions (split /
  * regexp_extract_all / transform / aggregate) — no UDFs — so the whole
  * pipeline stays inside WholeStageCodegen and scales linearly with no
  * shuffle: these are per-row maps over the documents table.
  */
object TextFunctions {

  /** Whitespace tokens, with no empty-string artifacts (\S+ extraction
    * instead of split, so leading/trailing whitespace is harmless).
    */
  def tokens(text: Column): Column = regexp_extract_all(text, lit("\\S+"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword segmentation: runs of letters, runs of digits, or a
    * single other non-space character — the standard pre-tokenizer shape.
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^\\w\\s]"), lit(0)))

  private val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this")

  def stopwordCount(text: Column): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(lower(text)), t => array_contains(sw, t)))
  }

  /** Quality signals: length, token stats, punctuation ratio, stopword
    * ratio, mean token length. Ratios are exact integer divisions promoted
    * to double, deterministic across engines.
    */
  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / greatest(tokenCount(text), lit(1)).cast("double")

  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast("double") / greatest(tokenCount(text), lit(1)).cast("double")

  def meanTokenLen(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Gopher/C4-style keep heuristic. */
  def qualityKeep(text: Column): Column =
    (tokenCount(text) >= 5) && (punctRatio(text) < 0.3) && (meanTokenLen(text) >= 2.0)

  // ---- Gopher-style quality-rule battery ----------------------------------

  /** The Gopher/C4 repetition-free quality rules as one fused per-row
    * battery (Rae et al. 2021 §A1.1 shape, thresholds scaled to the
    * synthetic corpus): token-count bounds, mean-token-length bounds,
    * symbol-to-token ratio, fraction of lines that start like bullets /
    * end in ellipsis, fraction of words containing an alphabetic
    * character, and a minimum stopword count. Every metric is a builtin
    * codegen'd regexp/array expression over ONE scan of the text — no
    * shuffle, no UDF — so the battery runs at scan bandwidth and the
    * booleans compose into a single `keep` predicate a 100 TB filter
    * pushes straight past.
    */
  def gopherMetrics(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = greatest(size(toks), lit(1)).cast("double")
    val lines = split(text, "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    Seq(
      "n_tokens" -> size(toks).cast("long"),
      "mean_tok_len" -> meanTokenLen(text),
      "symbol_ratio" ->
        size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0))).cast("double") / nTok,
      "bullet_line_ratio" ->
        size(filter(lines, l => trim(l).rlike("^[-*•]"))).cast("double") / nLines,
      "ellipsis_line_ratio" ->
        size(filter(lines, l => trim(l).rlike("\\.\\.\\.$"))).cast("double") / nLines,
      "alpha_word_ratio" ->
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / nTok,
      "n_stopwords" -> stopwordCount(text).cast("long"))
  }

  /** Rule verdicts over [[gopherMetrics]] plus the conjunction `keep`. */
  def gopherRules(text: Column): Seq[(String, Column)] = {
    val m = gopherMetrics(text).toMap
    val rules = Seq(
      "r_tok_count" -> m("n_tokens").between(5, 5000),
      "r_mean_len" -> m("mean_tok_len").between(2.0, 12.0),
      "r_symbols" -> (m("symbol_ratio") < 0.1),
      "r_bullets" -> (m("bullet_line_ratio") <= 0.9),
      "r_ellipsis" -> (m("ellipsis_line_ratio") <= 0.3),
      "r_alpha" -> (m("alpha_word_ratio") >= 0.7),
      "r_stopwords" -> (m("n_stopwords") >= 2L))
    rules :+ ("keep" -> rules.map(_._2).reduce(_ && _))
  }

  /** n-gram language-ID heuristic: score = stopword hits per language list,
    * highest wins, deterministic tie order, "und" when nothing matches.
    */
  private val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(lower(text))
    langStopwords.map { case (lang, words) =>
      val sw = array(words.map(lit): _*)
      lang -> size(filter(toks, t => array_contains(sw, t)))
    }
  }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    // strict-max cascade in declared order: a language wins only if its
    // score beats all later ones and is > 0 — deterministic, SQL-portable.
    val best = scores.foldLeft((lit("und"), lit(0))) { case ((bl, bs), (lang, s)) =>
      (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    best._1
  }

  /** Normalized-content fingerprint: lowercase, collapse non-alphanumerics,
    * md5. Identical normalization → identical fingerprint, the standard
    * exact-dedup key.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  def fingerprintMd5(text: Column): Column = md5(normalized(text))

  /** Rolling polynomial hash over tokens (order-sensitive — reordered words
    * change the fingerprint, unlike a bag-of-words hash). Kept under 1e9+7
    * so ANSI-mode arithmetic never overflows.
    */
  def rollingHash(text: Column): Column =
    aggregate(tokens(normalized(text)), lit(0L),
      (acc, t) => (acc * 31L + length(t).cast("long") * 131L + ascii(t).cast("long")) % 1000000007L)

  // ---- PII scrubbing ------------------------------------------------------

  /** Email / phone patterns kept engine-portable (identical semantics in
    * Spark's java.util.regex and DuckDB's RE2) so the scrub is
    * oracle-able. Deliberately simple: production corpora swap in
    * stricter patterns; the OPERATOR SHAPE (chained codegen'd
    * regexp_replace passes, no UDF) is what carries to 100 TB. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long")
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))).cast("long")

  /** Mask emails then phone-ish runs with typed placeholders — the
    * pre-training scrub pass. One narrow projection over the scan: no
    * shuffle, stays inside whole-stage codegen. */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")

  // ---- n-gram language model ---------------------------------------------

  /** Adjacent token pairs from an ALREADY-MATERIALIZED token array column.
    * The caller must project the array first (`withColumn("toks",
    * tokens(lower(text)))`) — passing `tokens(...)` inline would splice
    * the tokenizer expression into every `element_at` of the lambda and
    * re-run the regex O(tokens) times per row (the exact trap the native
    * shingle expression fixed for MinHash; measured 7.5 s → 0.5 s on the
    * sf0.1 bigram count). element_at is 1-based, matching SQL list
    * indexing, so the oracle mirrors exactly. */
  def bigramsFromTokens(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"),
          element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  // ---- chunking -----------------------------------------------------------

  /** Fixed-size character chunking with stride (overlap = size - stride):
    * one output row per chunk via explode over a generated index range —
    * a NARROW fan-out (no shuffle), bounded by ceil(len/stride) rows per
    * document. This is the context-window prep shape for embedding /
    * training pipelines at 100 TB: chunk rows inherit the document's
    * partitioning, and downstream per-chunk work is task-parallel.
    * Token-based chunking composes the same way over [[tokens]]. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            stride: Int, size: Int): DataFrame = {
    require(stride >= 1 && size >= stride,
      s"chunks must tile the text: size >= stride >= 1, got ($size, $stride)")
    val nChunks =
      ceil(length(col(textCol)).cast("double") / stride).cast("long")
    // explicit (id, text) projection: the chunk fan-out multiplies every
    // carried column by ceil(len/stride), so passengers are dropped here
    df.select(col(idCol), col(textCol))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), greatest(nChunks, lit(1L)) - 1)))
      .withColumn("chunk",
        col(textCol).substr(col("chunk_idx") * stride + 1, lit(size)))
  }

  /** Unicode NFC normalization ([[graft.plans.NfcNormalize]]): run it
    * BEFORE any hashing/dedup pass — precomposed vs combining-mark
    * encodings of the same text otherwise land in different digests. */
  def nfc(text: Column): Column = call_function("graft_nfc", text)

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009): a
    * token's coordinate and sign derive from its md5, so text vectorizes
    * into a fixed `dims`-wide integer vector with NO vocabulary pass and
    * no model artifact — the stateless featurizer shape for streaming or
    * per-batch training data. md5-based, hence bit-reproducible in any
    * engine (signed sums are exact integer arithmetic).
    */
  def featureHashBucket(token: Column, dims: Int): Column =
    conv(substring(md5(token), 1, 4), 16, 10).cast("long") % dims

  def featureHashSign(token: Column): Column =
    when(conv(substring(md5(token), 5, 1), 16, 10).cast("long") % 2 === 0, 1L)
      .otherwise(-1L)

  /** BM25-style relevance top-k for one query's terms — the retrieval
    * primitive data curation uses (decontamination by retrieval, targeted
    * quality audits, nearest-document lookups without embeddings).
    *
    * Engine-reproducibility: the idf is the UN-LOGGED BM25 rational
    * ((N − df + 0.5)/(df + 0.5)) so every step is +,−,×,÷ on doubles —
    * IEEE-exact on any engine, where ln() differs in the last ulp between
    * libms — and per-term weights are fixed-pointed (⌊w·1e9⌋ as bigint)
    * before the cross-term sum so addition order can't perturb totals.
    * Omitting the log compresses nothing the RANKING needs for a single
    * query's term set; the oracle replays the identical expression tree.
    *
    * Scale shape: one tokenize scan; tf is confined to the query's terms
    * by a pushed-down isin filter before any shuffle; df and the
    * (N, avgdl) scalars are term-/corpus-level aggregates broadcast into
    * the scoring join; the final top-k is a TakeOrdered, never a full
    * sort of the corpus.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 10): DataFrame = Pins.scope {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    // the standard Okapi constants
    val (k1, b) = (1.2, 0.75)
    // set semantics on the query (the pre-rewrite isin+groupBy behavior):
    // a duplicated term must not double its df or sum its weight twice
    val terms = queryTerms.distinct
    // ONE tokenize pass: doc length and every query term's tf come out of
    // a single conditional hash aggregate (Spark re-evaluates shared
    // subtrees per reference, so separate dl/tf/stats legs would each
    // re-tokenize the corpus — 4 full scans in the naive formulation).
    // df/avgdl then derive from the doc-sized aggregate, never the text.
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      count(when(col("tok") === t, 1)).as(s"tf_$i") }
    // filled eagerly: the stats broadcast and the tf/dl legs build
    // concurrently under one action (the corpus would tokenize once per
    // leg)
    val perDoc = Pins.fill(toks.groupBy("id")
      .agg(count(lit(1)).as("dl"), tfCols: _*))
    val dl = perDoc.select(col("id"), col("dl"))
    val stats = perDoc.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tot"))
      .select(col("nd"),
        (col("tot").cast("double") / col("nd").cast("double")).as("avgdl"))
    // typed columns, not a selectExpr string: terms with quotes or
    // backslashes are data, never SQL text to parse
    val tf = perDoc
      .select(col("id"), explode(array(terms.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("tok"), col(s"tf_$i").as("tf")) }: _*)).as("e"))
      .select(col("id"), col("e.tok").as("tok"), col("e.tf").as("tf"))
      .filter(col("tf") > 0)
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // constants combined as COLUMN arithmetic (not Scala), so both engines
    // round the same IEEE operations in the same order
    val k1p1 = lit(k1) + lit(1.0)
    val oneMinusB = lit(1.0) - lit(b)
    val top = tf.join(dl, "id")
      .join(broadcast(dfq), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idfr",
        (col("nd").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("w",
        col("idfr") * (col("tf").cast("double") * k1p1) /
          (col("tf").cast("double") +
            lit(k1) * (oneMinusB + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy("id")
      .agg(sum(floor(col("w") * lit(1.0e9)).cast("long")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("score_fp"),
        (col("score_fp").cast("double") / lit(1.0e9)).as("score"))
    // the result is ≤ k rows BY CONSTRUCTION: collect it so the perDoc
    // pin is freed with this scope (the pageRankTopK pattern)
    Pins.local(docs.sparkSession, top.collect().toIndexedSeq, top.schema)
  }
}
