package graft

import graft.core.{GraftSession, Pins}
import graft.queries.{TrainingQueries, WarehouseQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    WarehouseQueries.queries("j2_dim_join")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * training-data pipeline extensions). Each function tunes the session
    * idempotently before building its plan.
    */
  def queries: Map[String, Query] =
    registries.map(_._1).reduce(_ ++ _).map {
      case (name, fn) =>
        name -> ((s: SparkSession, dir: String) => { GraftSession.tune(s); fn(s, dir) })
    }

  /** DuckDB-runnable oracle SQL per query — every entry in [[queries]] has
    * one (LSH/IVF via inlined deterministic weights and rules, connected
    * components via recursive CTEs, streaming drains via their batch
    * formulations).
    */
  def oracleSql: Map[String, String] = registries.map(_._2).reduce(_ ++ _)

  /** The four gate registries, each (name -> query, name -> oracle SQL),
    * that [[queries]] and [[oracleSql]] join with `++`. Their names must
    * not overlap: a name defined twice keeps only the later map's entry.
    */
  private[graft] def registries: Seq[(Map[String, Query], Map[String, String])] = Seq(
    WarehouseQueries.queries -> WarehouseQueries.oracles,
    TrainingQueries.queries -> TrainingQueries.oracles,
    graft.streaming.StreamingGate.queries -> graft.streaming.StreamingGate.oracles,
    graft.sources.LakeExports.queries -> graft.sources.LakeExports.oracles)

  /** The timed action: execute the FULL physical plan and count its
    * output rows. A plain Dataset.count() lets Catalyst optimize work out
    * of the count that the full query must perform — it provably drops
    * row-preserving Windows, unique-keyed outer Joins, and Generates whose
    * columns the count never references (the count-collapse audit found
    * 21 gate queries whose count() plan lost such operators,
    * t_substring_scrub losing 3 joins + 2 windows + a generate). toRdd
    * runs the query exactly as Verify writes it, so a timing measures the
    * operator, not a collapsed shadow of it.
    */
  def runFull(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Runs `body` on each query of `from` whose name starts with one of the
    * comma-separated prefixes in `only` (every query when there are none),
    * one at a time in name order. A non-fatal failure becomes that
    * query's `Failure` instead of ending the loop. Each query is the
    * outermost [[Pins.scope]], so every pin it made, checkpoints
    * included, is freed when it ends, failed or not; the session's cached
    * relations are then cleared too, for a relation cached outside
    * `Pins`.
    */
  def eachQuery[A](spark: SparkSession, only: String,
                   from: Map[String, Query] = queries)(
      body: (String, Query) => A): Seq[(String, Try[A])] = {
    val prefixes = only.split(",").filter(_.nonEmpty)
    from.toSeq.filter { case (name, _) => prefixes.isEmpty || prefixes.exists(name.startsWith) }
      .sortBy(_._1).map { case (name, fn) =>
        name -> (try Try(Pins.scope(body(name, fn))) finally spark.catalog.clearCache())
      }
  }
}
