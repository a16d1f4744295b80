package graft.operators

import graft.core.GraftSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Byte-pair-encoding tokenizer TRAINING as relational dataflow — the
  * map-reduce BPE shape a 100 TB corpus actually runs (Sennrich et al.
  * 2016 learns merges over a word-frequency table, not the raw corpus).
  *
  * Scale posture:
  *   - The corpus is scanned ONCE: explode → hash-agg with map-side
  *     combine; the shuffle moves (token, count) pairs, never text. The
  *     training state after that is VOCABULARY-bounded (top-V words ×
  *     word length symbol rows), independent of corpus size.
  *   - Each merge round is two window passes over word-partitioned
  *     symbol sequences (word is the partition key — high cardinality,
  *     short per-word sequences, no unpartitioned window) plus one tiny
  *     pair-count aggregate.
  *   - The per-round argmax is a ONE-ROW collect — a scalar driver
  *     decision of the same class as the connected-components
  *     convergence scalar, not a data collect. Merge application then
  *     runs with the pair inlined as literals, so the comparison stays
  *     inside whole-stage codegen.
  *   - Round state is persisted eagerly and the previous round released,
  *     so lineage stays flat across rounds and nothing stays pinned after
  *     the operator returns.
  *
  * Greedy left-to-right application (the classic BPE apply) is exact:
  * overlapping matches only arise for self-pairs (l == r), and a run of
  * equal symbols merges at even offsets from the run start — expressed
  * with a run-grouping window, no iteration.
  */
object Bpe {

  /** Deterministic top-V word-frequency table: lowercase whitespace
    * tokens, alphabetic words only, ties broken by word. One corpus scan.
    */
  def wordFreqs(docs: DataFrame, textCol: String, topV: Int): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(textCol)), lit("\\S+"), lit(0)))
        .as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(topV)

  /** Initial symbolization: one row per (word, char position). */
  def initialSymbols(wf: DataFrame): DataFrame =
    wf.select(col("word"), col("freq"),
      posexplode(split(col("word"), "(?!$)")).as(Seq("pos", "sym")))

  private val byWord = Window.partitionBy("word").orderBy("pos")

  /** Adjacent-pair candidates of the current symbolization (freq-weighted,
    * overlapping occurrences counted — the classic BPE statistic). */
  private def pairCounts(syms: DataFrame): DataFrame =
    syms
      .withColumn("nxt", lead(col("sym"), 1).over(byWord))
      .filter(col("nxt").isNotNull)
      .groupBy("sym", "nxt").agg(sum("freq").as("cnt"))

  /** One greedy merge application of the literal pair (l, r): mark match
    * starts, resolve self-pair runs at even offsets from the run start,
    * drop consumed successors, renumber positions. */
  def mergeStep(syms: DataFrame, l: String, r: String): DataFrame = {
    val cum = Window.partitionBy("word").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = syms
      .withColumn("nxt", lead(col("sym"), 1).over(byWord))
      .withColumn("m", col("sym") === lit(l) && col("nxt") === lit(r))
      // run id: pos minus the running count of matches is constant inside
      // a run of consecutive match starts (only self-pairs produce runs)
      .withColumn("grp",
        when(col("m"), col("pos") - sum(when(col("m"), 1).otherwise(0)).over(cum)))
    val runStart = Window.partitionBy("word", "grp")
    flagged
      .withColumn("take",
        col("m") && (col("pos") - min(col("pos")).over(runStart)) % 2 === 0)
      .withColumn("dropped", lag(col("take"), 1).over(byWord))
      .filter(!coalesce(col("dropped"), lit(false)))
      .select(col("word"), col("freq"),
        (row_number().over(byWord) - 1).as("pos"),
        when(col("take"), concat(col("sym"), col("nxt"))).otherwise(col("sym"))
          .as("sym"))
  }

  /** Run the training loop. Returns the merge list and the FINAL
    * symbolization, still pinned — the caller aggregates it and then
    * unpersists.
    *
    * Loop tuning (the rankTopK precedent): the state after the first
    * corpus scan is VOCABULARY-bounded (topV words × word length symbol
    * rows), yet each round's windows and pair aggregate would otherwise
    * run at the session's scan-sized shuffle width with AQE re-planning
    * and materializing query stages per round — fixed driver latency
    * that dominates a loop over a few hundred rows. For the loop only,
    * AQE goes off and the shuffle width is sized to the symbol volume
    * (the same rows/2000 rule the rank loop uses); GraftSession.withConf
    * restores both. Pair counts, the (cnt desc, sym, nxt) argmax, and the
    * merge windows are partitioning-independent, so results are
    * unchanged on any width.
    */
  private def learn(wf: DataFrame, rounds: Int):
      (List[(Int, String, String, Long)], DataFrame) = {
    val spark = wf.sparkSession
    // The tuning below mutates SESSION-global conf for the loop's
    // duration (restored on exit): any query planned concurrently
    // on the SAME SparkSession would run at the narrowed width / without
    // AQE. Every declared gate runs its queries sequentially on one
    // session, so the assumption holds here; a deployment that shares a
    // session across threads must confine the loop to its own
    // spark.newSession() (DataFrames would need re-binding — not done
    // here because nothing in this repo runs concurrent queries).
    val pWas = spark.conf.get("spark.sql.shuffle.partitions")
    // the width is listed at its current value so that the narrowed width
    // learnTuned sets mid-loop is restored on exit
    GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> pWas) {
      // pWas can hold a non-integer on exotic deployments ("auto" under
      // some resource managers): fall back to the Spark default
      learnTuned(spark, wf, rounds,
        scala.util.Try(pWas.toInt).getOrElse(200))
    }
  }

  private def learnTuned(spark: SparkSession, wf: DataFrame, rounds: Int,
                         p: Int): (List[(Int, String, String, Long)], DataFrame) = {
    var syms = initialSymbols(wf).persist(StorageLevel.MEMORY_AND_DISK)
    val nSyms = syms.count()
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(1, math.min(p, (nSyms / 2000L).toInt + 1)).toString)
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    // ONE action per round (was two): the argmax over the new state
    // doubles as its persist fill — pairCounts consumes every partition
    // of the persisted relation, so the separate count() barrier the
    // loop used to pay per round is folded into the next round's argmax
    // collect. The final round still counts (no argmax follows it), so
    // the returned syms is materialized before its parent unpersists —
    // the lineage-flatness invariant is unchanged.
    def argmax(s: DataFrame): Option[Row] = pairCounts(s)
      .orderBy(col("cnt").desc, col("sym"), col("nxt"))
      .limit(1).collect().headOption
    var top = argmax(syms) // fills syms' cache too
    var rnd = 1
    // an empty argmax = no adjacent pair left to merge: every later
    // round would re-run the same two window passes for nothing — stop
    while (rnd <= rounds && top.isDefined) {
      val row = top.get
      val (l, r) = (row.getString(0), row.getString(1))
      merges += ((rnd, l, r, row.getLong(2)))
      val next = mergeStep(syms, l, r).persist(StorageLevel.MEMORY_AND_DISK)
      if (rnd < rounds) top = argmax(next)
      else { next.count(); top = None }
      syms.unpersist(false)
      syms = next
      rnd += 1
    }
    (merges.toList, syms)
  }

  /** Learn `rounds` merges over a word-frequency table. Returns one row
    * per round: (round, left_sym, right_sym, merged, pair_count) — the
    * merge table a tokenizer ships. */
  def learnMerges(spark: SparkSession, wf: DataFrame, rounds: Int): DataFrame = {
    val (merges, syms) = learn(wf, rounds)
    syms.unpersist(false)
    import spark.implicits._
    merges.toDF("round", "left_sym", "right_sym", "pair_count")
      .select(col("round"), col("left_sym"), col("right_sym"),
        concat(col("left_sym"), col("right_sym")).as("merged"), col("pair_count"))
  }

  /** Apply an ordered merge list (a tokenizer's merge table is KB-sized
    * by construction, so a local Seq is the right representation) to any
    * word table: the BPE-tokenize path for new text against a trained
    * vocabulary. Returns the final symbolization (word, freq, pos, sym). */
  def applyMerges(wf: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(initialSymbols(wf)) { case (syms, (l, r)) => mergeStep(syms, l, r) }

  /** Corpus tokenization under a trained vocabulary — the 100 TB path:
    * the corpus text is NEVER re-scanned per merge round. One scan
    * produces per-doc word counts; merges apply to the DISTINCT word
    * table only (vocabulary-bounded, like training); per-word token
    * counts then join back to the doc×word table. Cost: one corpus
    * scan + one word-keyed shuffle + `rounds` window passes over the
    * vocabulary — independent of how many times each word occurs.
    *
    * Returns per-doc token accounting: (id, n_words, n_tokens,
    * n_chars) over the same alphabetic-lowercase word rule as
    * [[wordFreqs]].
    */
  def tokenizeCorpus(spark: SparkSession, docs: DataFrame, idCol: String,
                     textCol: String, topV: Int, rounds: Int): DataFrame = {
    val (merges, syms) = learn(wordFreqs(docs, textCol, topV), rounds)
    syms.unpersist(false)
    val docWords = docs
      .select(col(idCol),
        explode(regexp_extract_all(lower(col(textCol)), lit("\\S+"), lit(0)))
          .as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n_occ"))
    val vocab = docWords.select("word").distinct()
      .withColumn("freq", lit(1L))
    val perWord = applyMerges(vocab, merges.map(m => (m._2, m._3)))
      .groupBy("word").agg(count(lit(1)).as("word_tokens"))
    docWords.join(perWord, "word")
      .groupBy(col(idCol)).agg(
        sum(col("n_occ")).as("n_words"),
        sum(col("n_occ") * col("word_tokens")).as("n_tokens"),
        sum(col("n_occ") * length(col("word"))).as("n_chars"))
  }

  /** Trained-vocabulary token distribution: the top symbols by token
    * volume after `rounds` merges — the sanity mart read before shipping
    * a tokenizer. Aggregates the training loop's final state directly
    * (result is ≤ `topK` rows, collected so every pinned relation can be
    * released before returning). */
  def vocabDistribution(spark: SparkSession, wf: DataFrame, rounds: Int,
                        topK: Int = 50): DataFrame = {
    val (_, syms) = learn(wf, rounds)
    val out = syms
      .groupBy("sym").agg(sum("freq").as("n_tokens"), count(lit(1)).as("n_words"))
      .orderBy(col("n_tokens").desc, col("sym")).limit(topK)
    val rows = out.collect()
    syms.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }
}
