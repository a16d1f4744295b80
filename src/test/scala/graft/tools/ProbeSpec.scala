package graft.tools

import graft.{SparkEntry, SparkSpec}
import java.nio.file.Files

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
}
