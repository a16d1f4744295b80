package graft.plans

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ShingleArraySpec extends SparkSpec {

  import spark.implicits._

  /** Reference relational formulation from builtin operators only:
    * posexplode the tokens, then window-lead the next n-1 of each doc. */
  private def shingleRowsWindowed(docs: DataFrame, idCol: String, textCol: String,
                                  n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("pos")
    val toks = Dedup.spread(docs)
      .select(col(idCol).as("id"),
        posexplode_outer(TextFunctions.tokens(lower(col(textCol)))).as(Seq("pos", "tok")))
    val parts = (0 until n).map(j => if (j == 0) col("tok") else lead(col("tok"), j).over(w))
    toks
      .select(col("id"), col("pos"),
        concat_ws(" ", parts: _*).as("shingle"),
        parts.last.isNotNull.as("full"))
      // full shingles only; position 0 also fires for short/empty docs so
      // every doc keeps at least one (possibly partial or "") shingle
      .filter(coalesce(col("pos"), lit(0)) === 0 || col("full"))
      .select(col("id"), col("shingle"))
  }

  test("native shingles equal the relational window formulation on testdata") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = Dedup.shingleRows(docs, "doc_id", "text", 3)
      .groupBy("id", "shingle").count()
    val b = shingleRowsWindowed(docs, "doc_id", "text", 3)
      .groupBy("id", "shingle").count()
    assert(a.join(b, Seq("id", "shingle", "count"), "full_outer")
      .filter(col("count").isNull).isEmpty,
      "multisets of (id, shingle) must be identical")
    assert(a.count() == b.count())
  }

  test("edge cases: empty text, short docs, exotic whitespace, multibyte") {
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "one"), (4L, "one two"),
      (5L, "a\tb\ncd\fe\rf g"), (6L, "héllo wörld  nbsp"),
      (7L, "x  y   z")).toDF("doc_id", "text")
    val native = Dedup.shingleRows(docs, "doc_id", "text", 3)
      .orderBy("id", "shingle").as[(Long, String)].collect().toSeq
    val windowed = shingleRowsWindowed(docs, "doc_id", "text", 3)
      .orderBy("id", "shingle").as[(Long, String)].collect().toSeq
    assert(native == windowed, s"\nnative:   $native\nwindowed: $windowed")
    // empty and whitespace-only docs keep exactly one "" shingle
    assert(native.count(r => (r._1 == 1L || r._1 == 2L) && r._2 == "") == 2)
    //   is NOT java-regex \s: stays inside its token
    assert(native.exists(r => r._1 == 6L && r._2.contains(" ")))
  }

  test("randomized differential: byte scanner == java-regex \\S+ reference") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(42)
    val alphabet = "ab δΩ\t\n\f\r  é字 .x"
    def reference(text: String, n: Int): Seq[String] = {
      val m = java.util.regex.Pattern.compile("\\S+").matcher(text)
      val toks = Iterator.continually(m).takeWhile(_.find()).map(_.group()).toSeq
      if (toks.length < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    }
    for (_ <- 1 to 500; n <- Seq(1, 2, 3)) {
      val s = (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val got = ShingleArray.compute(UTF8String.fromString(s), n)
        .array.map(_.toString).toSeq
      assert(got == reference(s, n), s"text=${s.map(_.toInt)} n=$n")
    }
  }

  test("expression stays in whole-stage codegen") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = docs.select(explode(
      call_function("graft_shingles", lower(col("text")), lit(3))).as("s"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_shingles"), plan)
  }
}
