package graft.plans

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class HyperplaneSigSpec extends SparkSpec {

  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  /** Reference formulation from builtin functions only: the native
    * expression must equal it bit for bit. */
  private def hyperplaneSigComposable(vec: Column, planes: Int, dims: Int): Column = {
    val bits = (0 until planes).map { p =>
      val terms = (0 until dims).map { d =>
        vec.getItem(d).cast("double") * lit(VectorFunctions.planeWeight(p, d))
      }
      val proj = terms.reduce(_ + _)
      when(proj >= 0, lit(1)).otherwise(lit(0)).cast("string")
    }
    concat_ws("", bits: _*)
  }

  test("native signature is bit-identical to the composable formulation") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val both = emb.select(
      VectorFunctions.hyperplaneSig(col("embedding"), 4, 64).as("native"),
      hyperplaneSigComposable(col("embedding"), 4, 64).as("fold"))
    assert(both.filter(col("native") =!= col("fold")).count() == 0)
    assert(both.filter(length(col("native")) =!= 4).count() == 0)
  }

  test("short vector and null element both yield 0-bits (null-prop semantics)") {
    val df = Seq(
      (1L, Some(Array(1.0f, 2.0f, 3.0f, 4.0f))),
      (2L, Some(Array(1.0f, 2.0f))), // shorter than dims
      (3L, None: Option[Array[Float]]))
      .toDF("id", "v")
    val out = df
      .select(col("id"), VectorFunctions.hyperplaneSig(col("v"), 2, 4).as("sig"))
      .orderBy("id")
      .collect()
      .map(r => if (r.isNullAt(1)) null else r.getString(1))
    assert(out(0).matches("[01]{2}"))
    assert(out(1) == "00", "short vector = null projection = 0-bit")
    assert(out(2) == null, "null array propagates null")
  }

  test("expression participates in whole-stage codegen") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val df = emb
      .select(VectorFunctions.hyperplaneSig(col("embedding"), 4, 64).as("sig"))
      .filter(col("sig").isNotNull)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_hplane_sig"), s"expected codegen in:\n$plan")
  }

  test("SQL surface works after registration (graft_hplane_sig)") {
    Tables.load(spark, sfDir, "embeddings").createOrReplaceTempView("embhs")
    val n = spark.sql(
      "SELECT graft_hplane_sig(embedding, 4, 64) AS s FROM embhs")
      .filter(length(col("s")) === 4).count()
    assert(n > 0)
  }
}
