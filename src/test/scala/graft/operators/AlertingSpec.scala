package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Alert routing ledger: fail/error filter, once-only emission across
  * runs, exactly-once txn replay, and the send-report aggregate.
  */
class AlertingSpec extends SparkSpec {

  import spark.implicits._

  private def results(rows: (String, String, Long)*) =
    rows.toDF("check_key", "status", "violations")

  test("routeAlerts: only fail/error route, a re-failing check is " +
      "suppressed on later runs, and a replayed txn cannot double-post") {
    val root = java.nio.file.Files.createTempDirectory("alerts").toString
    // run 1: one fail, one error, one pass, one warn (not routed)
    val r1 = Alerting.routeAlerts(results(
      ("vol_click", "fail", 5L), ("fk_orders", "error", 2L),
      ("vol_view", "pass", 0L), ("rec_ts", "warn", 1L)), root, "run-1")
    assert(r1.select("check_key").as[String].collect().toSet ==
      Set("vol_click", "fk_orders"))
    // run 2: vol_click STILL failing (suppressed), vol_view newly fails
    val r2 = Alerting.routeAlerts(results(
      ("vol_click", "fail", 7L), ("vol_view", "fail", 3L)), root, "run-2")
    assert(r2.select("check_key").as[String].collect().toSet == Set("vol_view"))
    // replay of run 2 (crash-retry): ledger unchanged, the SAME batch
    // comes back instead of a duplicate
    val r2again = Alerting.routeAlerts(results(
      ("vol_click", "fail", 7L), ("vol_view", "fail", 3L)), root, "run-2")
    assert(r2again.collect().toSeq == r2.collect().toSeq)
    val ledger = Alerting.sentAlerts(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(ledger == Set(("vol_click", 5L, "run-1"), ("fk_orders", 2L, "run-1"),
      ("vol_view", 3L, "run-2")))
  }

  test("routeAlerts bootstrap: the first run against an empty root " +
      "routes every failure; an all-pass run routes nothing") {
    val root = java.nio.file.Files.createTempDirectory("alerts2").toString
    val r0 = Alerting.routeAlerts(results(("a", "pass", 0L)), root, "r0")
    assert(r0.isEmpty)
    val r1 = Alerting.routeAlerts(results(("a", "fail", 1L)), root, "r1")
    assert(r1.count() == 1)
  }

  test("routeAlerts suppression window: a check that fails, recovers, " +
      "and fails again past the window RE-alerts; inside it stays quiet") {
    val root = java.nio.file.Files.createTempDirectory("alerts3").toString
    val w = 2 // suppress re-sends within the newest 2 runs
    val r1 = Alerting.routeAlerts(results(("a", "fail", 1L)), root, "run-1", w)
    assert(r1.count() == 1)
    // immediate re-fail: run-1's alert is inside the 2-run window
    val r2 = Alerting.routeAlerts(results(("a", "fail", 2L)), root, "run-2", w)
    assert(r2.isEmpty)
    // recovery run (all pass) still commits a version = advances the window
    Alerting.routeAlerts(results(("a", "pass", 0L)), root, "run-3", w)
    // run-4: the newest 2 runs are run-3/run-2, neither alerted on a —
    // the episode ended, so this failure routes again
    val r4 = Alerting.routeAlerts(results(("a", "fail", 3L)), root, "run-4", w)
    assert(r4.count() == 1)
    // default window (whole ledger): the same sequence stays suppressed
    val root2 = java.nio.file.Files.createTempDirectory("alerts4").toString
    Alerting.routeAlerts(results(("a", "fail", 1L)), root2, "run-1")
    Alerting.routeAlerts(results(("a", "pass", 0L)), root2, "run-2")
    assert(Alerting.routeAlerts(results(("a", "fail", 3L)), root2, "run-3").isEmpty)
  }

  test("routeAlerts concurrency: a writer whose entry snapshot went " +
      "stale fails its commit instead of double-emitting; its retry " +
      "re-reads and suppresses") {
    val root = java.nio.file.Files.createTempDirectory("alerts5").toString
    Alerting.routeAlerts(results(("a", "fail", 1L)), root, "m1")
    // simulate monitor B racing monitor A: B read the ledger at v0 (via
    // commitBatchIf's expected param) while A's m1 commit advanced it
    val stale = results(("a", "fail", 1L))
      .withColumn("txn", org.apache.spark.sql.functions.lit("m2"))
      .select(col("check_key"), col("violations"), col("txn"))
    val e = intercept[RuntimeException] {
      graft.sinks.VersionedTable.commitBatchIf(
        stale, root, overwrite = false, "m2", expected = None)
    }
    assert(e.getMessage.contains("advanced"))
    // the loser's retry goes through routeAlerts proper: fresh read,
    // correct suppression, nothing double-posts
    assert(Alerting.routeAlerts(results(("a", "fail", 1L)), root, "m2").isEmpty)
    assert(Alerting.sentAlerts(spark, root).count() == 1)
  }

  test("runReport run-order guard: an unpadded id scheme (run-9 vs " +
      "run-10) fails loudly") {
    val hist = Seq(("run-9", "volume", "fail", 1L), ("run-10", "volume", "pass", 0L))
      .toDF("run_id", "check_key", "status", "violations")
    val e = intercept[Exception] {
      Alerting.runReport(hist).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(e).contains("order consistently"))
  }

  test("runReport: totals, dyadic rate, first failing run, latest " +
      "status, worst violations — hand-computed") {
    val hist = Seq(
      ("r1", "volume", "pass", 0L), ("r2", "volume", "fail", 4L),
      ("r3", "volume", "fail", 9L),
      ("r1", "fk", "pass", 0L), ("r2", "fk", "pass", 0L), ("r3", "fk", "pass", 0L))
      .toDF("run_id", "check_key", "status", "violations")
    val rep = Alerting.runReport(hist).collect()
      .map(r => r.getString(0) -> r).toMap
    val vol = rep("volume")
    assert(vol.getLong(1) == 3L && vol.getLong(2) == 2L)
    assert(vol.getDouble(3) == 2.0 / 3.0)
    assert(vol.getString(4) == "r2" && vol.getString(5) == "fail")
    assert(vol.getLong(6) == 9L)
    val fk = rep("fk")
    assert(fk.getLong(2) == 0L && fk.getString(4) == "" &&
      fk.getString(5) == "pass" && fk.getLong(6) == 0L)
  }
}
