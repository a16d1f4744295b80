package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The engine's one way to run a Structured Streaming query: a
  * Trigger.AvailableNow drain that hands every micro-batch to `fn` and
  * blocks until the source is exhausted. Every ingest path and oracle
  * gate drains through [[run]], so the trigger, checkpoint and
  * termination contract is written once; a failing micro-batch fails the
  * query, and `awaitTermination` rethrows it to the caller.
  */
object Drain {

  def run[T](ds: Dataset[T], checkpoint: String, outputMode: String = "append")
            (fn: (Dataset[T], Long) => Unit): Unit =
    ds.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(fn)
      .start()
      .awaitTermination()

  /** The newest state version `root/state_v<j>` with `j < batchId`, if any.
    *
    * A versioned fold derives its input from the BATCH ID, never from a
    * mutable pointer: batch `id` reads the newest version strictly below
    * it and overwrites `state_v<id>`. A replayed batch (its state write
    * landed, its checkpoint commit did not) therefore re-reads the same
    * prior version and overwrites its own possibly-partial dir — never
    * the dir it is reading — and a restarted drain, whose source skips
    * committed batches, recovers its state from storage. Only
    * `state_v<digits>` names count, so seed state kept under any other
    * name in `root` is never mistaken for a version.
    */
  def stateBefore(spark: SparkSession, root: String, batchId: Long): Option[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) None
    else fs.listStatus(rootPath).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("state_v\\d+"))
      .map(_.stripPrefix("state_v").toLong)
      .filter(_ < batchId)
      .maxOption.map(v => s"$root/state_v$v")
  }
}
