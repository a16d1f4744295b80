package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge/upsert family (D2/D3/D4) as pure DataFrame transforms.
  *
  * The reference expresses these as BigQuery MERGE statements generated from
  * a per-table key map (reference
  * dags/stellar_etl_airflow/build_apply_gcs_changes_to_bq_task.py:78-181):
  *   D2 tombstone merge: WHEN MATCHED AND S.deleted THEN DELETE /
  *                       WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT
  *   D3 insert-unique:   WHEN NOT MATCHED THEN INSERT (PK emulation)
  *   D4 dedup-insert:    in-batch window dedup + anti-join + append
  *
  * On a transactional table format these map 1:1 onto MERGE; expressed as
  * transforms they stay format-agnostic and testable, and the compute shape
  * is what matters at scale: one shuffle on the merge key shared by the
  * anti-join and the union'd source side.
  */
final case class MergeSpec(keys: Seq[String], tombstoneCol: Option[String])

object MergeOps {

  /** D2: next table state after applying `source` changes to `target`.
    * Assumes (like the reference's state exports,
    * reference dags/state_table_dag.py:128-135) the source has already been
    * collapsed to one row per key; use [[CurrentState.latestByKey]] first
    * when it hasn't.
    */
  def merge(target: DataFrame, source: DataFrame, spec: MergeSpec): DataFrame = {
    val survivors = target.join(source.select(spec.keys.map(col): _*), spec.keys, "left_anti")
    val upserts = spec.tombstoneCol match {
      case Some(d) => source.filter(!coalesce(col(d), lit(false)))
      case None    => source
    }
    survivors.unionByName(upserts.select(target.columns.map(col).toSeq: _*))
  }

  /** D3: primary-key-emulating append — only source rows whose key is absent
    * from the target survive (WHEN NOT MATCHED THEN INSERT).
    */
  def insertUnique(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(
      source.join(target.select(keys.map(col): _*), keys, "left_anti")
        .select(target.columns.map(col).toSeq: _*))

  /** Snapshot diff: classify every key as added / removed / changed /
    * unchanged between two versions of a table (the audit a warehouse runs
    * after a backfill or before promoting a rebuilt mart — dbt snapshot /
    * data-diff shape). One full-outer join on the key; per-column
    * comparison uses null-safe equality on the TYPED columns, never a
    * stringified row hash (float-to-string formatting differs across
    * engines and a hash would also hide WHICH column moved).
    * `n_cols_changed` counts differing non-key columns for changed keys.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = before.columns.filterNot(keys.contains).toSeq
    require(payload.toSet == after.columns.filterNot(keys.contains).toSet,
      "snapshotDiff requires identical schemas; diff schema evolution separately")
    val a = before.select(before.columns.map(c =>
      if (keys.contains(c)) col(s"`$c`") else col(s"`$c`").as(s"a_$c")): _*)
      .withColumn("__in_a", lit(true))
    val b = after.select(after.columns.map(c =>
      if (keys.contains(c)) col(s"`$c`") else col(s"`$c`").as(s"b_$c")): _*)
      .withColumn("__in_b", lit(true))
    // foldLeft, not reduce: a keys-only table (pure membership diff) has an
    // empty payload and must classify added/removed/unchanged, not crash
    // backtick-quoted: a payload name containing a dot would otherwise
    // parse as a struct-field access and fail analysis (the
    // firstByKeyAgg dotted-name hazard)
    def q(n: String) = col(s"`$n`")
    val nChanged = payload.foldLeft(lit(0)) { (acc, c) =>
      acc + when(!(q(s"a_$c") <=> q(s"b_$c")), 1).otherwise(0)
    }
    a.join(b, keys, "full_outer")
      .select(keys.map(col) :+
        when(col("__in_a").isNull, lit("added"))
          .when(col("__in_b").isNull, lit("removed"))
          .when(nChanged > 0, lit("changed"))
          .otherwise(lit("unchanged")).as("change_type") :+
        when(col("__in_a").isNotNull && col("__in_b").isNotNull, nChanged)
          .otherwise(lit(0)).cast("long").as("n_cols_changed"): _*)
  }

  /** Incremental SCD2 maintenance — the dbt-snapshot shape (timestamp
    * strategy) the reference's current-state views recompute from scratch
    * every query: fold an update batch into a STORED interval table by
    * closing touched keys' open intervals and appending the new ones,
    * leaving closed history untouched.
    *
    * `target` is an [[AsOfJoin.scd2Intervals]]-shaped table (payload +
    * `tsCol` + `valid_from`/`valid_to`, open rows at the
    * [[AsOfJoin.EndOfTime]] sentinel); `updates` is log-shaped (payload +
    * `tsCol`). Only keys present in the batch re-window, and only their
    * OPEN rows join the re-window — closed rows and untouched keys pass
    * through untouched, which on partitioned storage is a key-scoped
    * rewrite, never a table rewrite. The result equals a full
    * `scd2Intervals` recompute over (original log ∪ updates), which the
    * driver oracle states verbatim; the precondition that makes the
    * equality hold — no update older than a touched key's open
    * `valid_from` (late data is a backfill rewrite, not this fold) — is
    * enforced with a key-sized aggregate.
    */
  def scd2Merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
                tsCol: String, tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val sentinel = lit(AsOfJoin.EndOfTime).cast("timestamp")
    val touched = updates.select(keys.map(col): _*).distinct()
    val tTouched = target.join(touched, keys, "left_semi")
    val tUntouched = target.join(touched, keys, "left_anti")
    val open = tTouched.filter(col("valid_to") === sentinel)
    val closed = tTouched.filter(col("valid_to") =!= sentinel)
    val late = updates.groupBy(keys.map(col): _*)
      .agg(min(col(tsCol)).as("__min_ts"))
      .join(open.groupBy(keys.map(col): _*)
        .agg(max(col("valid_from")).as("__open_from")), keys)
      .filter(col("__min_ts") < col("__open_from"))
      .limit(1).count()
    require(late == 0,
      "scd2Merge: update batch contains rows older than a key's open " +
        "interval — late data must go through a backfill rewrite")
    val log = open.drop("valid_from", "valid_to").unionByName(updates)
    closed.unionByName(AsOfJoin.scd2Intervals(log, keys, tsCol, tieBreak))
      .unionByName(tUntouched)
  }

  /** D4: the reference's history_assets flow
    * (reference dags/queries/history_assets.sql:1-62) — dedup the staging
    * batch to its oldest row per key, then insert only keys the target
    * doesn't have.
    */
  def dedupInsertNewRows(staging: DataFrame, existingKeys: DataFrame,
                         keys: Seq[String], orderCols: Seq[String]): DataFrame =
    // sort-free oldest-per-key: the staging batch dedup orders by a unique
    // tuple (the reference ties on batch_run_date alone are broken by our
    // callers' explicit tiebreakers), so the min_by aggregate is exactly
    // the W2 window result at a fraction of the shuffle cost
    CurrentState.firstByKeyAgg(staging, keys, orderCols)
      .join(existingKeys.select(keys.map(col): _*), keys, "left_anti")
}
