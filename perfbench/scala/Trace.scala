package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark's task counters summed over a period of time or over one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    taskRunMs += m.executorRunTime
    taskCpuNs += m.executorCpuTime
    recordsRead += m.inputMetrics.recordsRead
    bytesRead += m.inputMetrics.bytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
    outputBytes += m.outputMetrics.bytesWritten
  }

  def copy(): Counters = {
    val c = new Counters
    c.jobs = jobs; c.tasks = tasks; c.taskRunMs = taskRunMs; c.taskCpuNs = taskCpuNs
    c.recordsRead = recordsRead; c.bytesRead = bytesRead
    c.shuffleWriteBytes = shuffleWriteBytes; c.spillBytes = spillBytes
    c.outputBytes = outputBytes
    c
  }

  def minus(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.tasks -= o.tasks; c.taskRunMs -= o.taskRunMs
    c.taskCpuNs -= o.taskCpuNs; c.recordsRead -= o.recordsRead
    c.bytesRead -= o.bytesRead; c.shuffleWriteBytes -= o.shuffleWriteBytes
    c.spillBytes -= o.spillBytes; c.outputBytes -= o.outputBytes
    c
  }

  def json: String =
    s""""jobs":$jobs,"tasks":$tasks,"task_run_s":${taskRunMs / 1e3},""" +
      s""""task_cpu_s":${taskCpuNs / 1e9},"records_read":$recordsRead,""" +
      s""""bytes_read":$bytesRead,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"output_bytes":$outputBytes"""
}

/** One traced interval: a layer call made by the benchmark. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var gcMs = 0L
  var codegenCompiles = 0L
  val counters = new Counters
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Records spans around the benchmark's calls into the program and
  * attributes Spark's task counters to the span open when each job was
  * submitted. The job carries the span id as a thread-local Spark property,
  * which the threads Spark starts for streaming queries and broadcasts
  * inherit. With tracing off, `span` only runs its body; the summed
  * counters are kept either way because the end-to-end throughput and
  * write metrics of the query workloads come from them.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  val total = new Counters

  sc.addSparkListener(this)

  def all: Seq[Span] = spans.toSeq

  def span[T](name: String, op: Int)(body: => T): T = {
    if (!enabled) return body
    val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), op,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    byId.put(s.id, s)
    stack.push(s)
    val gc0 = Tracer.gcMs()
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcMs = Tracer.gcMs() - gc0
      s.codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      stack.pop()
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Waits until the listener bus has delivered every event so far, so the
    * counters are complete when read. The bus is `private[spark]`, hence
    * the reflective call. */
  def drain(): Unit = {
    val m = classOf[SparkContext].getDeclaredMethods.find(_.getName == "listenerBus")
    m.foreach { mm =>
      mm.setAccessible(true)
      val bus = mm.invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = total.synchronized {
    total.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
      .flatMap(id => Option(byId.get(id))).foreach { s =>
        s.counters.jobs += 1
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = total.synchronized {
    val m = e.taskMetrics
    if (m == null) return
    total.add(m)
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.counters.add(m)
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        (e.taskInfo.finishTime - e.taskInfo.launchTime)
    }
  }

  def snapshot(): Counters = total.synchronized(total.copy())
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Length of the union of task intervals inside [from, to], in ms. */
  def busyMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Span records as JSON: times, self time and the attributed counters. */
  def spansJson(spans: Seq[Span], cores: Int): String = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val wallS = (s.endNs - s.startNs) / 1e9
      val kids = children.getOrElse(s.id, Nil)
      val childS = Tracer.busyMs(kids.map(k => (k.startMs, k.endMs)), s.startMs, s.endMs) / 1e3
      val busy = busyMs(s.taskIntervals.toSeq, s.startMs, s.endMs) / 1e3
      val skew = s.stageTaskMs.values.filter(_.length >= 2).map { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.length / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
      }.maxOption.getOrElse(1.0)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":$wallS,""" +
        s""""self_s":${math.max(0.0, wallS - childS)},"driver_s":${math.max(0.0, wallS - busy)},""" +
        s""""core_util":${if (wallS > 0) s.counters.taskRunMs / 1e3 / (wallS * cores) else 0.0},""" +
        s""""task_skew":$skew,"gc_s":${s.gcMs / 1e3},"codegen_compiles":${s.codegenCompiles},""" +
        s"""${s.counters.json}}"""
    }.mkString("[", ",\n", "]")
  }
}
