package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A closed-loop, single-client query workload over a pinned catalog of
  * read-only gate queries (`SparkEntry.queries`) on the generated tables.
  *
  * Warm-up and check pass: every catalog query runs once and its result is
  * written for the DuckDB oracle comparison in `run.py`; that pass also
  * fills the codegen cache. Timed loop: whole rounds, each a seeded
  * permutation of the catalog, until `seconds` have passed, so every run
  * times each query equally often. Each op is timed in three parts: build
  * (the call into `queries`), plan (`executedPlan`) and execute
  * (`toRdd.count()`, as `Bench` does). `run.py` checks that its row count
  * equals the checked result's.
  */
final class QueryMix(work: String, catalog: Seq[String]) extends Main.Workload {
  private val tables = s"$work/tables"

  // a bare session takes ~0.1 s, so more repetitions are cheap and steady
  // the median
  def setupReps: Int = 5
  def prepare(spark: SparkSession, rep: Int): Unit = ()

  def run(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double): Main.Outcome = {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val missing = catalog.filterNot(n => queries.contains(n) && oracles.contains(n))
    require(missing.isEmpty,
      s"catalog queries missing from SparkEntry.queries/oracleSql: ${missing.mkString(", ")}")
    Files.writeString(Paths.get(work, "oracle_sql.json"),
      catalog.map(n => s"${Json.str(n)}: ${Json.str(oracles(n))}").mkString("{", ",\n", "}"))

    val checks = mutable.ArrayBuffer.empty[Main.Check]
    val warmS = mutable.ArrayBuffer.empty[String]
    catalog.foreach { name =>
      val t0 = System.nanoTime()
      try queries(name)(spark, tables).coalesce(1).write.mode("overwrite").parquet(s"$work/verify/$name")
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] catalog query $name threw: $e")
          checks += Main.Check(s"run:$name", ok = false, e.toString)
      }
      warmS += s""""$name":${(System.nanoTime() - t0) / 1e9}"""
      spark.catalog.clearCache()
    }

    val rnd = new java.util.Random(seed)
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val c0 = tracer.snapshot()
    val loop0 = System.nanoTime()
    var opId = 0
    while ((System.nanoTime() - loop0) / 1e9 < seconds) {
      val order = catalog.toBuffer
      java.util.Collections.shuffle(order.asJava, rnd)
      order.foreach { name =>
        val t0 = System.nanoTime()
        var (tb, tp) = (t0, t0)
        val rows = tracer.span("op", opId) {
          try {
            val df = tracer.span("queries.build", opId)(queries(name)(spark, tables))
            tb = System.nanoTime()
            tracer.span("plans.plan", opId)(df.queryExecution.executedPlan)
            tp = System.nanoTime()
            tracer.span("exec.run", opId)(df.queryExecution.toRdd.count())
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] $name failed: $e")
              -1L
          }
        }
        val t1 = System.nanoTime()
        spark.catalog.clearCache()
        ops += Main.Op(name, (t1 - t0) / 1e9, rows >= 0, rows,
          s""","build_s":${(tb - t0) / 1e9},"plan_s":${(tp - tb) / 1e9},"exec_s":${(t1 - tp) / 1e9}""")
        opId += 1
      }
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    tracer.drain()
    Main.Outcome(ops.toSeq, loopS, tracer.snapshot().minus(c0), checks.toSeq,
      s""","catalog":${catalog.map(Json.str).mkString("[", ",", "]")},""" +
        s""""warm_s":${warmS.mkString("{", ",", "}")}""")
  }
}
