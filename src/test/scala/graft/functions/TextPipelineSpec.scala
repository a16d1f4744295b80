package graft.functions

import graft.SparkSpec
import graft.operators.Sampling
import org.apache.spark.sql.functions._

/** PII scrubbing, context-window chunking, vocab building, mixture
  * sampling — properties beyond the driver's value gate. */
class TextPipelineSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("scrubPii removes every email/phone it can count") {
    val withPii = docs.withColumn("txt",
      concat(col("text"), lit(" reach me: a.b+c@x-mail.org / 123-4567")))
    val after = withPii.select(
      TextFunctions.emailCount(TextFunctions.scrubPii(col("txt"))).as("e"),
      TextFunctions.phoneCount(TextFunctions.scrubPii(col("txt"))).as("p"),
      TextFunctions.emailCount(col("txt")).as("e0"))
      .agg(sum("e").as("e"), sum("p").as("p"), min("e0").as("e0"))
      .head()
    assert(after.getLong(0) == 0 && after.getLong(1) == 0)
    assert(after.getLong(2) >= 1) // the injected PII was countable before
  }

  test("chunks tile the document exactly (stride == size)") {
    val size = 100
    val reassembled = TextFunctions.chunk(docs, "doc_id", "text", size, size)
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
        s => s.getField("chunk")), "").as("joined"))
    val bad = reassembled.join(docs, "doc_id")
      .filter(col("joined") =!= col("text")).count()
    assert(bad == 0)
  }

  test("overlapping chunks clip exactly at the document end") {
    val stride = 200; val size = 256
    // every chunk's length is min(size, docLen - idx*stride): full until
    // the window runs off the end, never empty, never beyond the text
    val bad = TextFunctions.chunk(docs, "doc_id", "text", stride, size)
      .filter(length(col("chunk")) =!=
        least(lit(size), length(col("text")) - col("chunk_idx") * stride))
      .count()
    assert(bad == 0)
  }

  test("mixtureSample output is a deterministic subset at the cutoff rate") {
    val rate = substring(col("source"), 4, 10).cast("int") * 7 % 70 + 10
    val kept = Sampling.mixtureSample(docs, "doc_id", rate)
    val k1 = kept.count(); val k2 = Sampling.mixtureSample(docs, "doc_id", rate).count()
    assert(k1 == k2 && k1 > 0 && k1 < docs.count())
    // subset: every kept id exists in the corpus (anti join is empty)
    assert(kept.join(docs, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("gopher rules: clean prose keeps, degenerate docs fail the right rule") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs on"), // clean
      (2L, "a b"),                                    // too few tokens
      (3L, "### ... ### ... the of and in is it on"), // symbol-heavy
      (4L, Seq.fill(12)("- bullet item the of").mkString("\n")), // all bullets
      (5L, "0x1f 0x2e 0x3d 0x4c 0x5b 0x6a 0x79 0x88") // no stopwords
    ).toDF("doc_id", "text")
    val rules = TextFunctions.gopherRules(col("text"))
    val out = d.select(col("doc_id") +: rules.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) ->
        rules.map(_._1).zipWithIndex.map { case (n, i) => n -> r.getBoolean(i + 1) }.toMap)
      .toMap
    assert(out(1L)("keep"))
    assert(!out(2L)("r_tok_count") && !out(2L)("keep"))
    assert(!out(3L)("r_symbols") && !out(3L)("keep"))
    assert(!out(4L)("r_bullets") && !out(4L)("keep"))
    assert(!out(5L)("r_stopwords") && !out(5L)("keep"))
  }

  test("bigrams: count = tokens - 1, and degenerate texts yield none") {
    import spark.implicits._
    val fixture = Seq((1L, "alpha beta gamma"), (2L, "solo"), (3L, ""))
      .toDF("doc_id", "text")
    // the t_bigram_lm / t_lm_filter path: tokenize once, pair the tokens
    val bigrams = TextFunctions.bigramsFromTokens(TextFunctions.tokens(lower(col("text"))))
    val counts = fixture.select(col("doc_id"),
      size(bigrams).as("nb"),
      size(TextFunctions.tokens(lower(col("text")))).as("nt"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(counts(1L) == ((2, 3)))
    assert(counts(2L) == ((0, 1)))
    assert(counts(3L) == ((0, 0)))
    // order preserved: first bigram of doc 1 is (alpha, beta)
    val first = fixture.filter(col("doc_id") === 1)
      .select(element_at(bigrams, 1)).head().getStruct(0)
    assert(first.getString(0) == "alpha" && first.getString(1) == "beta")
  }

  test("vocab top-k is totally ordered (freq desc, token asc)") {
    val top = docs
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(20).collect()
    val pairs = top.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sameElements(pairs.sortBy { case (f, t) => (-f, t) }))
  }

  test("feature hashing: buckets stay in range, sums equal the signed token count") {
    val dims = 16
    val tok = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(lower(col("text")))).as("token"))
    val vec = tok.select(col("doc_id"),
        TextFunctions.featureHashBucket(col("token"), dims).as("bucket"),
        TextFunctions.featureHashSign(col("token")).as("sign"))
      .groupBy("doc_id", "bucket").agg(sum("sign").as("v"))
    val rows = vec.collect()
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < dims))
    // deterministic: a second evaluation is identical
    assert(vec.except(
      tok.select(col("doc_id"),
          TextFunctions.featureHashBucket(col("token"), dims).as("bucket"),
          TextFunctions.featureHashSign(col("token")).as("sign"))
        .groupBy("doc_id", "bucket").agg(sum("sign").as("v"))).isEmpty)
    // a known token always lands in one bucket with one sign
    val one = tok.filter(col("token") === "the")
      .select(TextFunctions.featureHashBucket(col("token"), dims),
        TextFunctions.featureHashSign(col("token")))
      .distinct().collect()
    assert(one.length <= 1)
  }

  test("bm25TopK: rarer terms and shorter docs outrank, scores hand-verifiable") {
    import spark.implicits._
    // 4 docs: "rare" appears only in doc 1 (short) and doc 2 (long);
    // "common" appears everywhere
    val d = Seq(
      (1L, "rare common alpha"),
      (2L, "rare common alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "common alpha beta"),
      (4L, "common alpha beta gamma")).toDF("doc_id", "text")
    val top = TextFunctions.bm25TopK(d, "doc_id", "text", Seq("rare"), k = 4)
      .select("doc_id", "score").as[(Long, Double)].collect()
    // only the two docs containing the term score; the SHORTER one first
    assert(top.map(_._1).toSeq == Seq(1L, 2L), s"got ${top.toSeq}")
    assert(top.forall(_._2 > 0))
    // hand check doc 1: N=4, df=2 -> idfr=(4-2+0.5)/(2+0.5)=1.0;
    // tf=1, dl=3, avgdl=(3+10+3+4)/4=5 -> w=1*2.2/(1+1.2*(0.25+0.75*3/5))
    val expected1 = 2.2 / (1.0 + 1.2 * (0.25 + 0.75 * 3.0 / 5.0))
    assert(math.abs(top.head._2 - expected1) < 1e-6, s"${top.head._2} vs $expected1")
    // a query term absent from the corpus contributes nothing, present
    // terms still rank
    val mixed = TextFunctions.bm25TopK(d, "doc_id", "text",
      Seq("rare", "zzz_absent"), k = 4)
    assert(mixed.count() == 2)
  }
}
