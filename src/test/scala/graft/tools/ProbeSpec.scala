package graft.tools

import graft.{SparkEntry, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class ProbeSpec extends SparkSpec {

  test("run reports each pass's rows, jobs and tasks and leaves the session as it was") {
    val conf = spark.conf.getAll
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val runs = Probe.run(spark, sfDir, "j2_dim_join")
    assert(spark.conf.getAll == conf)
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned)
    val rows = SparkEntry.queries("j2_dim_join")(spark, sfDir).collect().length
    assert(runs.map(r => r.name -> r.pass) == Seq("j2_dim_join" -> 1, "j2_dim_join" -> 2))
    runs.foreach { r =>
      assert(r.rows == rows)
      assert(r.jobs >= 1)
      assert(r.stages.map(_.tasks).sum >= 1)
    }
  }

  test("audit flags the global as-of join's nested-loop join") {
    val findings = Probe.audit(spark, sfDir.replace("sf0.001", "sf0.01"), "j3_asof_global")
    assert(findings.exists { case (q, f) =>
      q == "j3_asof_global" && f.startsWith("BroadcastNestedLoopJoin")
    }, findings)
  }

  test("explain writes <name>_<suffix>.txt holding the physical plan") {
    val out = Files.createTempDirectory("probe_explain")
    Probe.explain(spark, sfDir, "j2_dim_join", out.toString, "before")
    assert(Files.readString(out.resolve("j2_dim_join_before.txt")).contains("== Physical Plan =="))
  }

  test("scale runs a mode at 2x and leaves the session as it was") {
    val conf = spark.conf.getAll
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    Scale.run(spark, sfDir, 2, "semdedup")
    assert(spark.conf.getAll == conf)
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned)
    assert(spark.range(3).count() == 3)
  }

  test("scale rejects an unknown mode, naming the known ones, before any job") {
    val rec = new Probe.Recorder(spark)
    try {
      val e = intercept[IllegalArgumentException](Scale.run(spark, sfDir, 2, "semdedup,nope"))
      assert(e.getMessage.contains("'nope'"))
      Scale.Modes.keys.foreach(m => assert(e.getMessage.contains(m)))
      assert(rec.jobs.isEmpty)
    } finally rec.close()
  }

  test("replicate makes mult copies with distinct shifted ids and the other columns unchanged") {
    val df = spark.range(5).select(col("id"), (col("id") * 7).as("key"), concat(lit("r"), col("id")).as("s"))
    val out = Scale.replicate(df, 3, "id" -> 100L, "key" -> 1000L)
    assert(out.columns.toSeq == df.columns.toSeq)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows.size == 15)
    assert(rows.map(_._1).distinct.size == 15 && rows.map(_._2).distinct.size == 15)
    // copy m = id / 100 shifts id by 100m and key by 1000m, s is untouched
    val back = rows.map { case (id, key, s) => val m = id / 100
      assert(key - 1000 * m == (id - 100 * m) * 7)
      (id - 100 * m, s)
    }
    assert(back.groupMapReduce(identity)(_ => 1)(_ + _) == (0L until 5L).map(i => (i, s"r$i") -> 3).toMap)
  }
}
