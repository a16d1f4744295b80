package graft.streaming

import graft.SparkSpec
import graft.core.GraftSession
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

/** The one streaming-drain runner: failure propagation, the gate drains'
  * scoped shuffle width, and the batch-id-derived prior-state rule.
  */
class DrainSpec extends SparkSpec {

  import spark.implicits._

  private val partitions = "spark.sql.shuffle.partitions"

  test("a throwing foreachBatch propagates out of the drain and the gate " +
      "drain's scoped shuffle width is restored") {
    val root = Files.createTempDirectory("drain_throw").toString
    Seq(1L, 2L, 3L).toDF("k").write.parquet(s"$root/in")
    val stream = spark.readStream.schema("k BIGINT").parquet(s"$root/in")
    // the session enters at 5, not SparkSpec's 8, so the restore check
    // cannot pass vacuously
    GraftSession.withConf(spark, partitions -> "5") {
      var widthInBatch: Option[String] = None
      val e = intercept[StreamingQueryException] {
        StreamingGate.scopedDrain(stream, s"$root/ck") { (_: DataFrame, _: Long) =>
          widthInBatch = Some(spark.conf.get(partitions))
          throw new IllegalStateException("micro-batch failed")
        }
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(_.isInstanceOf[IllegalStateException]),
        s"the batch's own exception must be the cause, got $e")
      assert(widthInBatch.contains("8"), "the drain must run at its scoped width")
      assert(spark.conf.get(partitions) == "5",
        "a failed drain must not leak its scoped shuffle width")
    }
  }

  test("Drain.run hands every micro-batch to the function with its batch id") {
    val root = Files.createTempDirectory("drain_ids").toString
    Seq(1L, 2L, 3L).toDF("k").repartition(3).write.parquet(s"$root/in")
    val stream = spark.readStream.schema("k BIGINT")
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    Drain.run(stream, s"$root/ck") { (b: DataFrame, id: Long) =>
      seen += ((id, b.count()))
    }
    assert(seen.map(_._1) == Seq(0L, 1L, 2L))
    assert(seen.map(_._2).sum == 3L)
  }

  test("stateBefore: newest state_v<j> strictly below the batch id, by number, " +
      "ignoring seed and non-version dirs") {
    val root = Files.createTempDirectory("drain_state").toString
    assert(Drain.stateBefore(spark, s"$root/absent", 5L).isEmpty)
    Seq("seed", "state_v0", "state_v2", "state_v10", "state_vx", "state_v3_tmp")
      .foreach(d => Files.createDirectories(java.nio.file.Paths.get(root, d)))
    assert(Drain.stateBefore(spark, root, 0L).isEmpty)
    assert(Drain.stateBefore(spark, root, 1L).contains(s"$root/state_v0"))
    assert(Drain.stateBefore(spark, root, 3L).contains(s"$root/state_v2"))
    assert(Drain.stateBefore(spark, root, 10L).contains(s"$root/state_v2"))
    assert(Drain.stateBefore(spark, root, Long.MaxValue).contains(s"$root/state_v10"))
  }

  test("st_incr_dedup drains its delta crawl in two micro-batches, so " +
      "near-dup pairs can straddle a batch boundary") {
    StreamingGate.incrDedupGate(spark, sfDir).count()
    val mapRoot = new java.io.File(graft.core.Scratch.dir("stream_incr_map", sfDir))
    val versions = mapRoot.list().filter(_.startsWith("state_v")).sorted.toSeq
    assert(versions == Seq("state_v0", "state_v1"))
  }
}
