package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ListBuffer

/** The engine's one way to cache a relation inside an operator, and the
  * one lifetime rule for it: a pin lives until the innermost scope ends;
  * the query is the outermost scope.
  *
  * A pin is made by [[fill]] (eager persist), [[keep]] (lazy persist) or
  * [[cut]] (eager `localCheckpoint`). Each joins the innermost [[scope]]
  * open on the calling thread, and that scope frees it when its body
  * returns or throws; [[release]] frees one earlier (loop rounds, early
  * exits). `SparkEntry.eachQuery` runs every query inside a scope, so a
  * pin never outlives its query; an operator that is done with its pins
  * before it returns opens an inner scope. A scope is per thread: a
  * `foreachBatch` body runs on the stream's thread, so `Drain.run` opens
  * one per micro-batch. A pin made outside every scope is freed only by
  * [[release]] or, when persisted, by the session's `clearCache()`.
  *
  * Freeing a checkpoint means dropping its RDD's blocks: the checkpoint
  * has no lineage left, so a plan that still reads a freed cut fails.
  * Release a cut only once nothing reads it.
  */
object Pins {

  private val scopes = ThreadLocal.withInitial[List[ListBuffer[DataFrame]]](() => Nil)

  /** Persist and fill now with one count. A lazy persist inside a plan
    * that scans the same relation more than once (self-joins, union
    * legs, a broadcast stats leg next to the row leg) leaves those
    * concurrent scans racing to compute the same cache partitions, so
    * the relation effectively runs once per reference (measured 6x on
    * the near-dup pipeline, and a stage of 176 s task time against 8.6 s
    * of CPU, all lock wait, in the PageRank edge fill at sf0.1). One
    * small eager count turns every later reference into a cache read.
    */
  def fill(df: DataFrame): DataFrame = {
    val p = keep(df)
    p.count()
    p
  }

  /** Persist without filling: for a relation filled as a side effect of
    * the caller's next action (a scalar it needs anyway, or a downstream
    * [[fill]] whose lineage it sits on), or whose readers are strictly
    * sequential actions. Not safe for a relation first read by two
    * concurrent subplans of one action; that needs [[fill]].
    */
  def keep(df: DataFrame): DataFrame =
    track(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Eager `localCheckpoint`: computes `df` once and cuts its lineage, so
    * later plans (loop rounds, the `.rdd` paths) never re-run it. Its
    * blocks are freed with the scope like any pin.
    */
  def cut(df: DataFrame): DataFrame = track(df.localCheckpoint())

  /** Free these pins now, of either kind, and drop them from their scope. */
  def release(pins: DataFrame*): Unit = pins.foreach { p =>
    scopes.get.foreach { s =>
      val i = s.indexWhere(_ eq p)
      if (i >= 0) s.remove(i)
    }
    free(p)
  }

  /** Runs `body`; every pin made on this thread inside it is freed when it
    * returns or throws. A pin that `body` returns is the one exception: it
    * is handed to the enclosing scope, so an operator can return a cut of
    * its result and still free everything the cut was computed from.
    */
  def scope[A](body: => A): A = {
    val outer = scopes.get
    val mine = ListBuffer.empty[DataFrame]
    scopes.set(mine :: outer)
    try {
      val result = body
      result match {
        case d: Dataset[_] if mine.exists(_ eq d) =>
          mine.filterInPlace(_ ne d)
          outer.headOption.foreach(_ += d.asInstanceOf[DataFrame])
        case _ =>
      }
      result
    } finally {
      scopes.set(outer)
      mine.foreach(free)
    }
  }

  /** A small collected result as a one-partition local relation: what an
    * operator returns once it has collected its result-sized rows so that
    * it can free its pins before returning.
    */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def track(p: DataFrame): DataFrame = {
    scopes.get.headOption.foreach(_ += p)
    p
  }

  private def free(p: DataFrame): Unit = p.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist(blocking = false)
    case _ => p.unpersist(blocking = false)
  }
}
