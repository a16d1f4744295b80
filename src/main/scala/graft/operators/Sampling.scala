package graft.operators

import graft.core.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / dataset-split operators for training-data
  * pipelines.
  *
  * Everything keys off a content-independent hash bucket of the row id —
  * NOT `rand()` or `df.sample` — so samples are (a) reproducible across
  * runs, engines, and partitionings, (b) consistent between tables that
  * share the id (a doc and its embedding land in the same split), and
  * (c) cheaply re-derivable by any SQL engine (the DuckDB oracle re-hashes
  * the same md5). At 100 TB each operator is a stateless per-row filter
  * directly over the scan — no shuffle, no driver state, trivially
  * parallel; the filter prunes columns but intentionally cannot prune
  * row-groups (hash buckets are uniform by construction).
  */
object Sampling {

  /** Uniform bucket in [0, buckets) from the row id: the first 52 bits of
    * md5(id) modulo `buckets`. 52 bits ≫ any practical bucket count
    * (modulo bias ≤ buckets/2^52), and 13 hex chars parse exactly on any
    * engine that reaches for a double.
    */
  def hashBucket(id: Column, buckets: Int = 100): Column = {
    require(buckets >= 1 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    (conv(substring(md5(id.cast("string")), 1, 13), 16, 10).cast("long") % buckets)
      .cast("int")
  }

  /** Keep rows whose bucket < pctBuckets — a deterministic `pctBuckets`
    * percent sample.
    */
  def deterministicSample(df: DataFrame, idCol: String, pctBuckets: Int): DataFrame =
    df.filter(hashBucket(col(idCol)) < pctBuckets)

  /** Stamp a train/val/test split column: buckets [0, train) → train,
    * [train, train+val) → val, the rest → test, out of 100. Rows never
    * migrate between splits when data is re-partitioned, re-ordered, or
    * re-loaded.
    */
  def hashSplit(df: DataFrame, idCol: String,
                trainBuckets: Int = 80, valBuckets: Int = 10): DataFrame = {
    require(trainBuckets + valBuckets < 100,
      "train + val must leave room for the test split")
    val b = hashBucket(col(idCol))
    df.withColumn("split",
      when(b < trainBuckets, lit("train"))
        .when(b < trainBuckets + valBuckets, lit("val"))
        .otherwise(lit("test")))
  }

  /** Leakage-guarded split: the hash split keyed on the dedup COMPONENT's
    * canonical id instead of the document id, so every member of a
    * near-dup group lands in the SAME split — near-duplicate train/test
    * leakage (the classic eval-contamination failure of id-keyed splits)
    * is impossible by construction. `mapping` is (idCol, canonical_id) as
    * produced by [[Dedup.connectedComponents]]; singleton docs are their
    * own canonical id, so their assignment matches what a plain id-keyed
    * split of the canonical ids would give. The join is an id-keyed
    * equi-join (mapping is node-sized) and the split itself stays a
    * narrow md5 projection. The split is [[hashSplit]]'s 80/10/10.
    */
  def leakageGuardedSplit(df: DataFrame, mapping: DataFrame, idCol: String): DataFrame = {
    val b = hashBucket(col("canonical_id"))
    // LEFT join + own-id fallback: a doc absent from the mapping (e.g. a
    // mapping built from the pairs relation only) is its own singleton
    // component — an inner join would silently drop it from every split
    df.join(mapping.select(col(idCol), col("canonical_id")), Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col(idCol)))
      .withColumn("split",
        when(b < 80, lit("train"))
          .when(b < 90, lit("val"))
          .otherwise(lit("test")))
  }

  /** Per-stratum sampling rates (bucket thresholds out of 100), e.g.
    * downsample dominant languages while keeping the tail: a row survives
    * iff its bucket < the threshold for its stratum (`default` when the
    * stratum is unlisted).
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       thresholds: Map[String, Int], default: Int): DataFrame = {
    val b = hashBucket(col(idCol))
    val cutoff = thresholds.foldLeft(lit(default)) { case (acc, (stratum, t)) =>
      when(col(strataCol) === stratum, lit(t)).otherwise(acc)
    }
    df.filter(b < cutoff)
  }

  /** Mixture sampling toward per-stratum target rates expressed as an
    * arbitrary cutoff EXPRESSION (buckets out of 100) — the general
    * form of [[stratifiedSample]] for when rates are computed rather than
    * enumerated: a mixture config joined in, a function of the source
    * name, a temperature-scaled weight. Same scale posture: a stateless
    * per-row filter over the scan.
    */
  def mixtureSample(df: DataFrame, idCol: String, cutoff: Column): DataFrame =
    df.filter(hashBucket(col(idCol)) < cutoff)

  /** Deterministic FRACTIONAL upsampling — the other half of mixture
    * targeting. [[mixtureSample]] hits rates below 1 by dropping rows;
    * training mixtures also run sources ABOVE 1 ("2.4 epochs of wiki"),
    * which means floor(w) full copies of every row plus one extra copy for
    * a deterministic frac(w) slice, selected by the same md5 bucket rule
    * as every other sampler here so the multiset is reproducible across
    * runs, engines, and partitionings. Each copy is tagged with an
    * `epoch` column (1-based) so downstream epoch-wise shuffling (a
    * salted hash order per epoch) de-correlates the repeats. weight < 1 degenerates to exactly [[mixtureSample]]'s
    * semantics (0 full copies, a frac(w) sample).
    *
    * Scale shape: a narrow per-row transform — no shuffle, no join;
    * array_repeat + posexplode multiplies rows map-side, so the operator
    * composes with whatever partitioning the downstream writer wants.
    */
  def upsample(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val whole = floor(weight).cast("int")
    val extraBuckets = round((weight - floor(weight)) * 100)
    val copies = whole +
      when(hashBucket(col(idCol)) < extraBuckets, 1).otherwise(0)
    df.select(col("*"),
        posexplode(array_repeat(lit(1), greatest(copies, lit(0)))).as(Seq("__e", "__x")))
      .withColumn("epoch", (col("__e") + 1).cast("long"))
      .drop("__e", "__x")
  }

  /** Per-key document cap (the RefinedWeb-style per-domain cap: no single
    * site/source may contribute more than `cap` documents): keep the `cap`
    * rows with the smallest deterministic md5 priority per key, so the
    * retained subset is stable across runs, engines, and partitionings —
    * NOT "first cap rows seen", which would depend on scan order.
    *
    * Scale shape: `row_number <= cap` compiles to a WindowGroupLimit —
    * Spark inserts a PARTIAL per-input-partition top-`cap` pass before the
    * shuffle (asserted in SamplingSpec), so a skewed giant key ships at
    * most `cap` rows per upstream partition instead of materializing and
    * sorting its full window. One shuffle on the key, bounded sort state.
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    import org.apache.spark.sql.expressions.Window
    val pri = md5(col(idCol).cast("string"))
    val w = Window.partitionBy(col(keyCol)).orderBy(pri, col(idCol))
    df.withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= cap)
  }

  /** Temperature-scaled mixture flattening (the multilingual-sampling
    * alpha-smoothing of XLM-R / mBERT at alpha = 0.5): per-stratum keep
    * rate sqrt(n_min / n_s), so retained counts scale as sqrt(n_s) — the
    * dominant stratum's advantage is square-rooted while the smallest
    * stratum keeps everything. sqrt is IEEE-correctly-rounded, which
    * makes this the one fractional-exponent reweighting whose kept SET
    * is bit-reproducible across engines (the DuckDB gate pins it);
    * membership is the library-wide md5-u01 rule. Scale shape: a tiny
    * per-stratum rate table broadcast onto a narrow per-row filter —
    * no data row ever shuffles.
    */
  def temperatureFlatten(df: DataFrame, strataCol: String, idCol: String): DataFrame = {
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("n_docs"))
    val nmin = counts.agg(min(col("n_docs")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nmin))
      .select(col(strataCol), col("n_docs"),
        sqrt(col("n_min").cast("double") / col("n_docs").cast("double"))
          .as("rate"))
    val u01 = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") / lit(4503599627370496.0)
    df.join(broadcast(rates), strataCol).withColumn("kept", u01 < col("rate"))
  }

  /** Token-budget-capped assembly — the "N tokens of source X" primitive
    * a training-mixture spec compiles to: within each key, rows are
    * ordered by the deterministic md5 priority (so the retained prefix is
    * stable across runs, engines, and partitionings — never "first rows
    * scanned") and kept while the running token total stays within
    * `budget`. One shuffle on the key; the cumulative sum is a keyed
    * window with an explicit ROWS frame (running totals over a unique
    * ordering), exact integer arithmetic end to end.
    *
    * Precondition (as for every md5-keyed sampler here): `idCol` is the
    * dataset's unique row id. Duplicate ids tie the (md5, id) ordering
    * and make the budget-boundary row partitioning-dependent.
    */
  def tokenBudgetPerKey(df: DataFrame, keyCol: String, idCol: String,
                        tokCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokCol)).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Deterministic k-fold cross-validation assignments: every row gets
    * its md5 bucket in [0, k), and each rotation f marks bucket f as
    * `test`, the rest `train` — (id, fold, role) for all k rotations in
    * one narrow pass (explode by fold, no shuffle). The same id lands in
    * the same bucket in every table that shares it, so features and
    * labels rotate together; folds partition the corpus exactly.
    */
  def kFold(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2, got $k")
    df.withColumn("bucket", hashBucket(col(idCol), k))
      .select(col(idCol), col("bucket"),
        explode(array((0 until k).map(lit(_)): _*)).as("fold"))
      .select(col(idCol), col("fold"),
        when(col("bucket") === col("fold"), "test").otherwise("train").as("role"))
  }

  /** MATERIALIZED epoch order: (epoch, id, position) with position the
    * exact global rank of md5(epoch || '|' || id) — the shard-able
    * "which example is step k of epoch e" table a reproducible training
    * run needs (checkpoint resume, example-order audits), not just rows
    * emitted in that order. The global
    * position is computed WITHOUT a single-partition window: the order
    * key's first hex digit buckets rows 16 ways consistently with the
    * global order (the bucket is a prefix of the sort key), each
    * bucket's window ranks 1/16 of the data, and bucket offsets come
    * from a 16-row cumulative count that broadcasts. offset + pos ==
    * the global row_number exactly — the oracle states it with one
    * ROW_NUMBER while this shape survives any scale.
    */
  def epochOrder(df: DataFrame, idCol: String, epochs: Seq[Int]): DataFrame = {
    require(epochs.nonEmpty, "epochs must be non-empty")
    import org.apache.spark.sql.expressions.Window
    // persisted: both the per-bucket windows and the offsets aggregate
    // scan this relation — without the cache the explode+md5 pass runs
    // twice per query (pinned until the caller's scope ends)
    val keyed = Pins.keep(df
      .select(col(idCol), explode(array(epochs.map(lit(_)): _*)).as("epoch"))
      .withColumn("h", md5(concat_ws("|", col("epoch"), col(idCol))))
      .withColumn("bucket", conv(substring(col("h"), 1, 1), 16, 10).cast("int")))
    val wb = Window.partitionBy(col("epoch"), col("bucket"))
      .orderBy(col("h"), col(idCol))
    val pos = keyed.withColumn("pos", row_number().over(wb).cast("long") - 1L)
    val wo = Window.partitionBy(col("epoch")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("epoch"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(wo), lit(0L)))
      .select(col("epoch"), col("bucket"), col("offset"))
    pos.join(broadcast(offsets), Seq("epoch", "bucket"))
      .select(col("epoch"), col(idCol),
        (col("offset") + col("pos")).as("position"))
  }

  /** Weighted sampling WITHOUT replacement via PRIORITY SAMPLING
    * (Duffield–Lund–Thorup, JACM 2007) — the quality-weighted corpus
    * subsampling primitive ("keep ~k docs, long/high-quality ones more
    * likely, unbiased totals"): each row gets priority `q = w / u` with
    * `u` the deterministic md5-uniform in (0, 1] derived from the id;
    * the sample is the top-k by (q desc, id), and every kept row carries
    * the unbiased subset-sum estimator weight `max(w, τ)` where τ is the
    * (k+1)-th priority (0 when the population has ≤ k weighted rows).
    *
    * Determinism: u is an exact dyadic `(U+1)/2^52` and the priority is
    * ONE correctly-rounded IEEE division — no ln/pow, whose libm
    * implementations differ across engines — so priorities, the cut, and
    * the estimator replay bit-identically anywhere (the [[hashBucket]]
    * rule, extended to weights). Rows with null or non-positive weight
    * are excluded (weight 0 = never sampled, matching the estimator's
    * support).
    *
    * Scale shape: one stateless per-row projection over the scan, a
    * TakeOrdered(k+1) (no global sort, no corpus-sized window — the
    * ranking window below runs over the k+1 collected candidates), and
    * a broadcast one-row threshold. Returns the input columns plus
    * `priority` and `est_weight`.
    */
  /** Per-key [[prioritySample]] — the weighted form of a per-domain cap:
    * within every `keyCol` group, keep the top-k rows by the same exact
    * w/u priority and stamp the group's unbiased estimator weight
    * `max(w, τ_key)` (τ_key = the group's (k+1)-th priority, 0 when the
    * group has ≤ k weighted rows). One shuffle on the key; both windows
    * share the partitioning, and per-group sort depth is the group size
    * — the standard distributed per-key top-k, never a global sort.
    */
  /** The ASSOCIATIVE fold unit behind streaming priority sampling: the
    * per-key top-(k+1) rows by the exact w/u priority (original columns
    * only — the priority is a pure function of id and weight, so carrying
    * it would be redundant state). Top-(k+1) of a union equals the
    * top-(k+1) of the per-slice top-(k+1)s, so folding micro-batches
    * through this yields exactly the whole-corpus candidate set — and
    * running [[prioritySamplePerKey]] over the folded state reproduces
    * the batch sample INCLUDING the (k+1)-th-priority estimator
    * threshold, however the stream was sliced (`st_priority_sample`).
    */
  def priorityCandidatesPerKey(df: DataFrame, keyCol: String, idCol: String,
                               weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") + lit(1.0)) / lit(4503599627370496.0)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__pri").desc, col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__pri", col(weightCol).cast("double") / u)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k + 1)
      .drop("__pri", "__rn")
  }

  def prioritySamplePerKey(df: DataFrame, keyCol: String, idCol: String,
                           weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") + lit(1.0)) / lit(4503599627370496.0)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("priority").desc, col(idCol))
    val wAll = Window.partitionBy(col(keyCol))
    // internals are __-prefixed so a user column named rn/tau survives;
    // priority and est_weight are the documented OUTPUT columns
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("priority", col(weightCol).cast("double") / u)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__tau", coalesce(
        max(when(col("__rn") === k + 1, col("priority"))).over(wAll), lit(0.0)))
      .filter(col("__rn") <= k)
      .withColumn("est_weight",
        greatest(col(weightCol).cast("double"), col("__tau")))
      .drop("__rn", "__tau")
  }

  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") + lit(1.0)) / lit(4503599627370496.0)
    val topK1 = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("priority", col(weightCol).cast("double") / u)
      .orderBy(col("priority").desc, col(idCol))
      .limit(k + 1)
    // rank over the k+1 candidates only (bounded by construction);
    // internals __-prefixed so user columns named rn/tau survive
    val ranked = topK1.withColumn("__rn",
      row_number().over(Window.orderBy(col("priority").desc, col(idCol))))
    val tau = ranked.agg(coalesce(
      max(when(col("__rn") === k + 1, col("priority"))), lit(0.0)).as("__tau"))
    ranked.filter(col("__rn") <= k).drop("__rn")
      .crossJoin(broadcast(tau))
      .withColumn("est_weight",
        greatest(col(weightCol).cast("double"), col("__tau")))
      .drop("__tau")
  }
}
