package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def wf(rows: (String, Long)*) = rows.toDF("word", "freq")

  test("initial symbolization splits words into single chars") {
    val syms = Bpe.initialSymbols(wf("ab" -> 1L, "c" -> 2L))
      .orderBy("word", "pos").collect()
      .map(r => (r.getString(0), r.getInt(2), r.getString(3)))
    assert(syms.toSeq == Seq(("ab", 0, "a"), ("ab", 1, "b"), ("c", 0, "c")))
  }

  test("learnMerges replays the classic hand-computable example") {
    // "aaab" x3, "ab" x2:
    //   round 1: (a,a) = 2*3 = 6 beats (a,b) = 3+2 = 5     -> merge aa
    //   round 2: [aa,a,b]x3 [a,b]x2 -> (a,b) = 5 beats (aa,a) = 3 -> ab
    //   round 3: [aa,ab]x3 [ab]x2 -> (aa,ab) = 3
    val merges = Bpe.learnMerges(spark, wf("aaab" -> 3L, "ab" -> 2L), rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 5L),
      (3, "aa", "ab", "aaab", 3L)))
  }

  test("self-pair runs merge greedily left-to-right (even offsets)") {
    // "aaaa": pair (a,a) counts 3 (overlaps counted); greedy apply merges
    // positions 0-1 and 2-3 -> [aa, aa], never the overlapping 1-2
    val out = Bpe.applyMerges(wf("aaaa" -> 1L), Seq("a" -> "a"))
      .orderBy("pos").collect().map(r => (r.getInt(2), r.getString(3)))
    assert(out.toSeq == Seq((0, "aa"), (1, "aa")))
    // odd run length: trailing symbol survives
    val odd = Bpe.applyMerges(wf("aaa" -> 1L), Seq("a" -> "a"))
      .orderBy("pos").collect().map(r => (r.getInt(2), r.getString(3)))
    assert(odd.toSeq == Seq((0, "aa"), (1, "a")))
  }

  test("training restores the session's AQE and shuffle width, including " +
      "the width the loop narrows mid-run") {
    // enter at 5 partitions (not SparkSpec's 8) so the restore is not vacuous
    graft.core.GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "5",
        "spark.sql.adaptive.enabled" -> "true") {
      Bpe.learnMerges(spark, wf("aaab" -> 3L, "ab" -> 2L), rounds = 2).collect()
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "5")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    }
  }

  test("applyMerges tokenizes new words with a trained merge list") {
    // (a,a): a,a,b,a,b -> [aa,b,a,b]; then (a,b): -> [aa,b,ab]
    val out = Bpe.applyMerges(wf("aabab" -> 1L), Seq("a" -> "a", "a" -> "b"))
      .orderBy("pos").collect().map(_.getString(3))
    assert(out.toSeq == Seq("aa", "b", "ab"))
  }

  test("pair counts are freq-weighted and merges deterministic on ties") {
    // (b,c) and (c,b) both count 2; tie broken lexicographically -> (b,c)
    val merges = Bpe.learnMerges(spark, wf("bcbc" -> 1L, "cb" -> 1L), rounds = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(merges.toSeq == Seq(("b", "c", 2L)))
  }

  test("vocabDistribution aggregates the trained symbolization") {
    val dist = Bpe.vocabDistribution(spark, wf("aaab" -> 3L, "ab" -> 2L), rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // after merges aa, ab: "aaab" -> [aa, ab] x3; "ab" -> [ab] x2
    assert(dist == Set(("aa", 3L, 1L), ("ab", 5L, 2L)))
  }

  test("tokenizeCorpus tokenizes the vocabulary once and joins back per doc") {
    // corpus: doc1 = "aaab aaab ab", doc2 = "ab xy". Training (topV=2 ->
    // {aaab, ab}) learns aa then ab (see the classic example above, rounds=2).
    // Apply over distinct words {aaab, ab, xy}: aaab -> [aa, ab] (2 tokens),
    // ab -> [ab] (1), xy -> [x, y] (2: no learned pair matches).
    val docs = Seq((1L, "aaab aaab ab"), (2L, "ab xy")).toDF("doc_id", "text")
    val out = Bpe.tokenizeCorpus(spark, docs, "doc_id", "text", topV = 2, rounds = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1: 3 words, 2+2+1 tokens, 4+4+2 chars; doc2: 2 words, 1+2 tokens, 2+2 chars
    assert(out.toSeq == Seq((1L, 3L, 5L, 10L), (2L, 2L, 3L, 4L)))
  }

  test("wordFreqs keeps only alphabetic lowercase tokens, deterministic top-V") {
    val docs = Seq("The cat cat! sat 42 ok", "cat ok ok").toDF("text")
    val out = Bpe.wordFreqs(docs, "text", topV = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // "cat!" and "42" are filtered; ok x3, cat x2; "the"/"sat" below top-2
    assert(out.toSeq == Seq(("ok", 3L), ("cat", 2L)))
  }
}
