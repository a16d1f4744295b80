package perfbench

import graft.core.GraftSession
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** JVM side of the benchmark: sets the program up, runs one workload's
  * warm-up and timed loop, runs the checks that need Spark, and writes the
  * raw measurements as JSON for `run.py`.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cores>
  */
object Main {
  final case class Op(name: String, seconds: Double, ok: Boolean, rows: Long,
                      extra: String = "")

  final case class Check(name: String, ok: Boolean, detail: String)

  /** What a workload hands back to [[main]]. */
  final case class Outcome(ops: Seq[Op], loopS: Double, loopCounters: Counters,
                           checks: Seq[Check], extraJson: String)

  trait Workload {
    /** How often set-up runs; the median is `setup_s`. The first repetition
      * pays the JVM's cold start. */
    def setupReps: Int
    /** The program's set-up work for a fresh session (timed in `setup_s`). */
    def prepare(spark: SparkSession, rep: Int): Unit
    def run(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double): Outcome
  }

  def session(cores: Int): SparkSession = {
    // only the master is set: the program's own defaults are measured
    val spark = GraftSession.builder("perfbench", s"local[$cores]").getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, coresS) = args
    val (seed, seconds, trace, cores) = (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val w: Workload = workload match {
      case "ledger_ingest" => new LedgerIngest(work)
      case "gate_queries"  => new QueryMix(work, Catalogs.all)
      case other => sys.error(s"unknown workload $other")
    }
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until w.setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores)
      w.prepare(spark, rep)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(spark.sparkContext, trace)
    val out = w.run(spark, tracer, seed, seconds)
    tracer.drain()
    val opsJson = out.ops.map { o =>
      s"""{"name":"${o.name}","s":${o.seconds},"ok":${o.ok},"rows":${o.rows}${o.extra}}"""
    }.mkString("[", ",\n", "]")
    val checksJson = out.checks.map { c =>
      s"""{"name":"${c.name}","ok":${c.ok},"detail":${Json.str(c.detail)}}"""
    }.mkString("[", ",\n", "]")
    val spans = if (trace) Tracer.spansJson(tracer.all, cores) else "[]"
    val json =
      s"""{"workload":"$workload","seed":$seed,"cores":$cores,""" +
        s""""setup_s":${setupS.mkString("[", ",", "]")},"loop_s":${out.loopS},""" +
        s""""loop":{${out.loopCounters.json}},"peak_rss_mb":${peakRssMb()},""" +
        s""""spark_version":"${spark.version}","java_version":"${System.getProperty("java.version")}",""" +
        s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
        s""""ops":$opsJson,"checks":$checksJson,"spans":$spans${out.extraJson}}"""
    Files.writeString(Paths.get(work, "result.json"), json)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
