package graft

import graft.core.GraftSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain("graft-bench")
    // Warm-up: run each query once at the TARGET scale so the timed run
    // measures steady-state execution. A small-SF warm-up is not enough:
    // AQE picks different physical plans (hence new codegen) once real
    // data sizes are in play, so the first heavy query otherwise pays
    // multi-second Janino/JIT costs (measured 21 s cold vs 7 s warm on
    // t_dedup_corpus at sf0.1). Scratch-writing queries are idempotent
    // (overwrite), so the double run is safe.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    if (warmDir.nonEmpty) {
      SparkEntry.eachQuery(spark, "")((_, fn) => SparkEntry.runFull(fn(spark, warmDir)))
      // settle: let the ContextCleaner/GC drain the warm-up backlog so the
      // first timed query doesn't absorb it (measured +10s on whichever
      // query ran first without this)
      System.gc()
      Thread.sleep(3000)
      spark.range(1000000).selectExpr("sum(id)").collect()
    }
    val results = SparkEntry.eachQuery(spark, "") { (_, fn) =>
      // let the ContextCleaner reap the previous query's broadcasts and
      // shuffles so later queries aren't taxed by earlier ones
      System.gc()
      val t0 = System.nanoTime()
      SparkEntry.runFull(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }.map { case (name, r) =>
      r.failed.foreach(e => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
      // a failed query must not masquerade as a fast success
      name -> r.getOrElse(-1.0)
    }
    val failed = results.collect { case (name, v) if v < 0 => name }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    // stdout FIRST — it is the primary contract and must survive even if
    // the file write fails (read-only cwd, full disk)
    println(json)
    // The full line above can exceed the driver's tail-capture window (it
    // tails stdout, and a >200-query map loses its HEAD — BENCH_r03/r04
    // both came back parsed:null). Emit a second, short summary line LAST
    // so the tail always contains one parseable JSON object.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":$failedJson,"sf":"$sfDir"}""")
    // Per-query results for the tail window: the full map above loses its
    // head to the ~2000-char tail capture, so PERF_r09/r10 both came back
    // with n_common: 0 / per_query: {} — the driver never saw ANY
    // per-query number. This final line carries the SLOWEST queries (the
    // ones a per-query comparison is about), times rounded to ms, sized
    // to stay inside the tail window together with the trailing sbt
    // lines. Additions-only: both lines above and the target/bench.json
    // copy are unchanged.
    val topEntries = {
      val sb = new StringBuilder
      results.filter(_._2 >= 0).sortBy(-_._2).foreach { case (k, v) =>
        val ent = "\"" + k + "\":" + (math.round(v * 1000.0) / 1000.0)
        if (sb.length + ent.length + 1 <= 1500) {
          if (sb.nonEmpty) sb.append(',')
          sb.append(ent)
        }
      }
      sb.toString
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"queries":{$topEntries},"failed":$failedJson,"sf":"$sfDir"}""")
    // the stdout line alone can exceed the driver's tail-capture window
    // (BENCH_r03 came back parsed:null); a file copy makes the artifact
    // recoverable regardless of how much of stdout survives
    scala.util.Try {
      val outFile = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(outFile.getParent)
      java.nio.file.Files.writeString(outFile, json + "\n")
      System.err.println(s"[bench] json also written to ${outFile.toAbsolutePath}")
    }.failed.foreach(e => System.err.println(s"[bench] file write failed: $e"))
    spark.stop()
  }
}
