package perfbench

/** The pinned catalog of the gate_queries workload, in two parts. A name
  * missing from `SparkEntry.queries` or `SparkEntry.oracleSql` stops the
  * benchmark; the lists never shrink at run time.
  */
object Catalogs {

  /** Read-only warehouse gates, one per family. Gates that write scratch
    * storage (d*, k*, st_*, a5_incremental_mart) are left out: writes are
    * measured by the ledger_ingest workload.
    */
  val warehouse: Seq[String] = Seq(
    "q1_pricing_summary", // scan and aggregate
    "s3_account_entry", // XDR decode functions
    "w1_current_state", // CurrentState window
    "j3_asof_join", // AsOfJoin and the interval-broadcast plan rule
    "p1_effects_flatten_wide", // wide JSON parsing
    "lake_ledgers") // lake frames

  /** Training-data gates, one per operator family: Dedup, SemDedup, text
    * and vector functions, Multimodal, LinkAnalysis, Sampling.
    */
  val corpus: Seq[String] = Seq(
    "t_dedup_simhash", "t_semdedup", "t_langid", "t_ann_lsh",
    "t_image_dedup", "t_kcore", "t_sample_stratified")

  val all: Seq[String] = warehouse ++ corpus
}
