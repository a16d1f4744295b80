package graft.tools

import graft.SparkEntry
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** One entry point for looking inside gate queries:
  * {{{
  * Probe run     <sfDir> [prefixes]
  * Probe explain <sfDir> <prefixes> <outDir> <suffix>
  * Probe audit   <sfDir> [prefixes]
  * Probe scaling <dataRoot> [prefixes] [outJson]
  * Probe scale   <sfDir> <mult> <modes>
  * }}}
  * Queries are selected by comma-separated name prefixes (all when
  * omitted) and run under [[SparkEntry.eachQuery]]; `scale` runs the
  * comma-separated [[Scale.Modes]] on `mult`x replicated inputs. Each mode
  * takes a session and leaves it running.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case "run" :: sf :: rest => s => run(s, sf, rest.headOption.getOrElse(""))
      case "explain" :: sf :: only :: out :: suffix :: Nil => s => explain(s, sf, only, out, suffix)
      case "audit" :: sf :: rest => s => audit(s, sf, rest.headOption.getOrElse(""))
      case "scaling" :: root :: rest => s => scaling(s, root,
        rest.headOption.getOrElse(ScalingQueries), rest.lift(1).getOrElse("target/scaling.json"))
      case "scale" :: sf :: mult :: modes :: Nil => s => Scale.run(s, sf, mult.toInt, modes)
      case _ => System.err.println("usage: see the graft.tools.Probe scaladoc"); sys.exit(2)
    }
    val spark = GraftSession.forMain("graft-probe")
    try mode(spark) finally spark.stop()
  }

  /** A completed stage: its wall time and its tasks' summed counters. */
  final case class Stage(id: Int, name: String, ops: String, wallMs: Long, tasks: Int,
                         runMs: Long, cpuMs: Long, gcMs: Long, shuffleWriteBytes: Long)

  /** The jobs (id, wall ms) and completed stages of a session since it was
    * made or reset; reads first wait until the listener bus is drained. */
  final class Recorder(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val started = mutable.Map.empty[Int, Long]
    private val jobsDone = mutable.ArrayBuffer.empty[(Int, Long)]
    private val stagesDone = mutable.ArrayBuffer.empty[Stage]
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(started(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobsDone += e.jobId -> (e.time - started.remove(e.jobId).getOrElse(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
      val ops = si.rddInfos.map(_.name).filter(_ != null)
        .filterNot(n => n.startsWith("MapPartitions") || n.startsWith("Shuffled"))
        .distinct.take(6).mkString(">")
      stagesDone += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60), ops, wall,
        si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten)
    }

    def jobs: Seq[(Int, Long)] = { drain(); synchronized(jobsDone.toList) }
    def stages: Seq[Stage] = { drain(); synchronized(stagesDone.toList) }
    def reset(): Unit = { drain(); synchronized { jobsDone.clear(); stagesDone.clear() } }
    def close(): Unit = sc.removeSparkListener(this)

    // the bus is private[spark], hence the reflective call
    private def drain(): Unit = {
      val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
  }

  /** One query's pass under [[run]]: build (the query function and its eager
    * jobs), plan (analysis to physical plan) and exec (the timed action). */
  final case class QueryRun(name: String, pass: Int, rows: Long, buildS: Double, planS: Double,
                            execS: Double, jobs: Int, stages: Seq[Stage], compiles: Long,
                            tracker: QueryPlanningTracker) {
    def wallS: Double = buildS + planS + execS
    private def sum(f: Stage => Long) = stages.map(f).sum
    def line: String =
      f"pass$pass rows=$rows%-9d build=$buildS%6.2f plan=$planS%6.2f " +
        f"exec=$execS%6.2f jobs=$jobs%-3d stages=${stages.size}%-3d tasks=${sum(_.tasks)}%-5d " +
        f"task_s=${sum(_.runMs) / 1e3}%.2f cpu_s=${sum(_.cpuMs) / 1e3}%.2f " +
        f"gc_s=${sum(_.gcMs) / 1e3}%.2f shuffle_w=${sum(_.shuffleWriteBytes)} compiles=$compiles"
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A cold and a warm pass over the selected queries, one line per query
    * and pass (warm-pass Janino compiles mean the class cache evicted them);
    * with one query selected, also its stages, planner phases and top rules.
    */
  def run(spark: SparkSession, sfDir: String, only: String): Seq[QueryRun] = {
    val rec = new Recorder(spark)
    try (1 to 2).flatMap { pass =>
      val runs = SparkEntry.eachQuery(spark, only) { (name, fn) =>
        rec.reset()
        val c0 = compiles
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = SparkEntry.runFull(df)
        val t3 = System.nanoTime()
        QueryRun(name, pass, rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          rec.jobs.size, rec.stages, compiles - c0, df.queryExecution.tracker)
      }
      report("probe", runs)(r => r.line +: (if (runs.size == 1) detail(r) else Nil)).map(_._2)
    } finally rec.close()
  }

  private def detail(r: QueryRun): Seq[String] =
    r.stages.sortBy(_.id).map(s =>
      f"  stage=${s.id}%-4d wall=${s.wallMs / 1e3}%7.2f task_s=${s.runMs / 1e3}%8.2f " +
        f"cpu_s=${s.cpuMs / 1e3}%8.2f gc_s=${s.gcMs / 1e3}%7.2f tasks=${s.tasks}%-4d ${s.name}") ++
      r.tracker.phases.toSeq.sortBy(_._1).map { case (ph, s) =>
        f"  phase $ph%-18s ${(s.endTimeMs - s.startTimeMs) / 1e3}%7.3f s"
      } ++
      r.tracker.rules.toSeq.sortBy(-_._2.totalTimeNs).take(10).map { case (rule, m) =>
        f"  rule ${m.totalTimeNs / 1e9}%8.3f s calls=${m.numInvocations}%-5d " +
          f"eff=${m.numEffectiveInvocations}%-4d $rule"
      }

  /** Writes `<outDir>/<name>_<suffix>.txt` per selected query: the formatted
    * plan of the full query, then that of its Dataset.count(), which may
    * lack operators the full query runs (see [[SparkEntry.runFull]]).
    */
  def explain(spark: SparkSession, sfDir: String, only: String, outDir: String, suffix: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    report("explain", SparkEntry.eachQuery(spark, only) { (name, fn) =>
      val df = fn(spark, sfDir)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        df.queryExecution.explainString(FormattedMode) +
          "\n== Count-collapsed plan (Dataset.count) ==\n" +
          df.groupBy().count().queryExecution.explainString(FormattedMode))
    })(path => Seq(s"wrote $path"))
  }

  /** Prints each query's lines, or its failure, and returns the successes. */
  private def report[A](tag: String, results: Seq[(String, Try[A])])(
      lines: A => Seq[String]): Seq[(String, A)] =
    results.flatMap {
      case (name, Success(a)) => lines(a).foreach(l => println(s"[$tag] $name :: $l")); Some(name -> a)
      case (name, Failure(e)) => println(s"[$tag] $name :: FAILED :: ${e.getMessage}"); None
    }

  /** (query, finding) for the selected non-streaming queries (building an
    * `st_` gate runs its drain), each built once: `COLLAPSED <op> n->m` when
    * Dataset.count() optimizes a Join, Window or Generate out of the full
    * plan, and each red flag with the first physical-plan line holding it:
    * CartesianProduct (quadratic unless bounded), Expand (multiplies the
    * shuffle), SinglePartition (one task), BroadcastNestedLoopJoin (fine
    * only for bounded build sides). A hit is triaged, not assumed a bug.
    */
  def audit(spark: SparkSession, sfDir: String, only: String): Seq[(String, String)] = {
    val batch = SparkEntry.queries.filterNot(_._1.startsWith("st_"))
    val results = SparkEntry.eachQuery(spark, only, batch) { (name, fn) =>
      val df = fn(spark, sfDir)
      val full = ops(df.queryExecution.optimizedPlan)
      val counted = ops(df.groupBy().count().queryExecution.optimizedPlan)
      val collapsed = full.toSeq.sorted.collect {
        case (op, n) if counted.getOrElse(op, 0) < n => s"COLLAPSED $op $n->${counted.getOrElse(op, 0)}"
      }
      // executedPlan BEFORE execution: the AQE root prints the initial
      // physical plan, which is where the flagged operators appear
      val plan = df.queryExecution.executedPlan.toString
      collapsed ++ Seq("CartesianProduct", "Expand", "SinglePartition", "BroadcastNestedLoopJoin").flatMap(f =>
        plan.linesIterator.find(_.contains(f)).map(l => s"$f :: ${l.trim.take(110)}"))
    }
    val findings = report("audit", results)(identity).flatMap { case (n, fs) => fs.map(n -> _) }
    println(s"[audit] ${results.size} plans audited, ${findings.size} findings")
    findings
  }

  private def ops(p: LogicalPlan): Map[String, Int] =
    p.map(_.getClass.getSimpleName).collect {
      case c if c.contains("Join") => "Join"
      case c if c.contains("Generate") || c.contains("Window") => c
    }.groupMapReduce(identity)(_ => 1)(_ + _)

  // BENCH_r07's top-15 heaviest, plus the two queries round 7 flagged for
  // a quiet-host re-measure (t_novelty, t_lm_filter)
  private val ScalingQueries = "p1_struct_flatten_wide,t_dedup_corpus,p1_effects_flatten_wide," +
    "st_incr_dedup,t_hard_negatives,t_dedup_incremental,t_semdedup,t_multimodal_phash," +
    "t_minhash_est,a5_asset_stats,t_pagerank_seeded,t_hits,t_dsir_sample,st_sketch_mart," +
    "st_scd2,t_novelty,t_lm_filter"

  /** Wall growth with data size, into a table and `outJson`: the faster of
    * [[run]]'s two passes at `<dataRoot>/sf0.001`, `sf0.01`, `sf0.1`. An
    * exponent above 1.2 on the 0.01 -> 0.1 step is flagged SUPER-LINEAR;
    * fixed costs dominate the 0.001 -> 0.01 step, so it carries no signal.
    */
  def scaling(spark: SparkSession, dataRoot: String, only: String, outJson: String): Unit = {
    val best = Seq("0.001", "0.01", "0.1").map { sf =>
      run(spark, s"$dataRoot/sf$sf", only).groupMapReduce(_.name)(_.wallS)(math.min)
    }
    def exp(a: Double, b: Double): Double = math.log(b / a) / math.log(10.0)
    println(f"${"query"}%-26s ${"sf0.001"}%9s ${"sf0.01"}%9s ${"sf0.1"}%9s ${"e(.001->.01)"}%13s ${"e(.01->.1)"}%11s  flag")
    val json = best.map(_.keySet).reduce(_ intersect _).toSeq.sorted.map { n =>
      val Seq(a, b, c) = best.map(_(n))
      val (e1, e2) = (exp(a, b), exp(b, c))
      println(f"$n%-26s $a%9.2f $b%9.2f $c%9.2f $e1%13.2f $e2%11.2f  ${if (e2 > 1.2) "SUPER-LINEAR" else "ok"}")
      f"""{"query":"$n","sf0001":$a%.3f,"sf001":$b%.3f,"sf01":$c%.3f,"exp_small":$e1%.3f,"exp_big":$e2%.3f,"superlinear":${e2 > 1.2}}"""
    }.mkString("[\n", ",\n", "\n]")
    Files.writeString(Paths.get(outJson), json)
    println(s"[scaling] json written to $outJson")
  }
}
