package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's complete data-lake export surface: the 14 flat avro
  * export projections (reference dags/queries/generate_avro/&#42;.sql) that
  * remain after the two wide ones ([[HistoryOperations]] — the 121-leaf
  * operations details flatten — and [[HistoryEffects]]). With these, every
  * `EXPORT DATA` statement the reference ships has a Spark equivalent:
  *
  *   accounts.sql, trust_lines.sql, offers.sql, liquidity_pools.sql,
  *   contract_data.sql, history_contract_events.sql, ttl.sql,
  *   token_transfers.sql, history_ledgers.sql, history_transactions.sql,
  *   history_trades.sql, account_balances.sql, token_balances.sql,
  *   account_token_activity.sql
  *
  * Shape (reference dags/queries/generate_avro/accounts.sql:9-40 and
  * siblings): SELECT column list (a few renames / transforms) + a
  * batch-window filter on `batch_run_date` and/or `closed_at` + ORDER BY
  * closed_at. The engine side is the same declarative plan — projection,
  * range filter (pushed to the parquet scan), global sort — and
  * `AvroIO.write` (K3) writes the sorted files; these queries are the
  * SELECT bodies, each wired into the driver's DuckDB hash gate.
  *
  * Fixture rule (same doctrine as the wide tables): each export runs over
  * a deterministic stellar-shaped fixture derived per-row from a testdata
  * base table (`events` for state/event tables, `orders` for
  * history_transactions, `lineitem` for history_trades). Every column is
  * declared ONCE as an [[XC]] carrying both the Spark derivation and the
  * byte-identical DuckDB derivation, so projection and oracle cannot
  * drift. Gate-boundary conversions (and ONLY at the boundary — the
  * engine-side types are the real ones): BYTES columns surface as their
  * hex digest, REPEATED columns as canonical joined strings, exact
  * decimal sums as a final cast to double — mirroring
  * [[HistoryEffects.flattenWideScalar]].
  *
  * Scale posture: these are scan → filter → project → sort plans. The
  * range filter prunes partitions at the scan (the reference's
  * time-partitioned tables; PushedFilters on the parquet read), the
  * projection prunes columns, and the global sort is the only exchange —
  * exactly the reference's per-batch `ORDER BY closed_at` export
  * semantics, which at 100 TB is a per-partition-range sort over the
  * 10-minute batch window, not a full-table sort.
  */
object LakeExports {

  /** One export column: Spark derivation + byte-identical DuckDB SQL. */
  final case class XC(name: String, spark: Column, duck: String)

  private def xc(n: String, s: Column, d: String): XC =
    XC(n, s.as(n), s"""$d AS "$n"""")

  // -- double-entry column builders (one spec, both engines) --------------
  private def raw(n: String, c: String): XC = xc(n, col(c), c)
  private def lmod(n: String, c: String, m: Long): XC =
    xc(n, col(c) % m, s"($c % $m)")
  private def ldiv(n: String, c: String, m: Long): XC =
    xc(n, expr(s"$c DIV $m"), s"($c // $m)")
  private def lmul(n: String, c: String, m: Long): XC =
    xc(n, col(c) * m, s"($c * $m)")
  private def bmod(n: String, c: String, m: Long): XC =
    xc(n, (col(c) % m) === 0, s"($c % $m = 0)")
  private def nbmod(n: String, c: String, m: Long): XC =
    xc(n, (col(c) % m) =!= 0, s"($c % $m <> 0)")
  private def litS(n: String, v: String): XC = xc(n, lit(v), s"'$v'")
  private def litL(n: String, v: Long): XC =
    xc(n, lit(v), s"CAST($v AS BIGINT)")
  private def sid(n: String, pfx: String, c: String, m: Long = 0L): XC = {
    val sc = if (m > 0) col(c) % m else col(c)
    val dc = if (m > 0) s"($c % $m)" else c
    xc(n, concat(lit(pfx), sc), s"'$pfx' || CAST($dc AS VARCHAR)")
  }
  /** Deterministic 32-hex "hash" of an integer column (BYTES/hash columns
    * surface as hex at the gate boundary). */
  private def hexid(n: String, c: String): XC =
    xc(n, md5(col(c).cast("string")), s"md5(CAST($c AS VARCHAR))")
  private def hexoff(n: String, c: String, off: Long): XC =
    xc(n, md5((col(c) + off).cast("string")),
      s"md5(CAST($c + $off AS VARCHAR))")
  private def dmul(n: String, c: String, k: String): XC =
    xc(n, col(c) * lit(k.toDouble), s"($c * CAST($k AS DOUBLE))")
  /** floor(double expr) surfaced as BIGINT — floor on both engines (a bare
    * double→int CAST truncates in Spark but rounds in DuckDB). */
  private def lfloor(n: String, sparkD: Column, duckD: String): XC =
    xc(n, floor(sparkD).cast("long"), s"CAST(floor($duckD) AS BIGINT)")
  private def whenMod(n: String, c: String, m: Long, r: Long,
                      thenS: Column, thenD: String): XC =
    xc(n, when(col(c) % m === r, thenS),
      s"CASE WHEN $c % $m = $r THEN $thenD END")

  /** A flat export: base testdata table, declared columns, batch window. */
  final case class Export(name: String, ref: String, base: String,
                          tsCol: String, lo: String, hi: String,
                          batchFilter: Boolean, cols: Seq[XC])

  /** Engine-side SELECT body: pruned scan → range filter → projection →
    * ORDER BY closed_at (the reference export's sort). */
  def frame(e: Export)(s: SparkSession, dir: String): DataFrame = {
    val loT = lit(e.lo).cast("timestamp")
    val hiT = lit(e.hi).cast("timestamp")
    var df = Tables.load(s, dir, e.base)
      .filter(col(e.tsCol) >= loT && col(e.tsCol) < hiT)
    if (e.batchFilter)
      // the reference's second predicate on batch_run_date
      // (= date_trunc(day, closed_at) in the fixture's lineage rule)
      df = df.filter(
        date_trunc("DAY", col(e.tsCol)) >= loT &&
          date_trunc("DAY", col(e.tsCol)) < hiT)
    df.select(e.cols.map(_.spark): _*).orderBy(col("closed_at"))
  }

  def oracle(e: Export): String = {
    val batch =
      if (e.batchFilter)
        s" AND date_trunc('day', ${e.tsCol}) >= TIMESTAMP '${e.lo}'" +
          s" AND date_trunc('day', ${e.tsCol}) < TIMESTAMP '${e.hi}'"
      else ""
    s"SELECT ${e.cols.map(_.duck).mkString(", ")} FROM ${e.base}" +
      s" WHERE ${e.tsCol} >= TIMESTAMP '${e.lo}'" +
      s" AND ${e.tsCol} < TIMESTAMP '${e.hi}'$batch" +
      " ORDER BY \"closed_at\""
  }

  // batch windows: a 15-day slice of the events range (2024-01), a 3-year
  // slice of the orders/lineitem range (sparser timestamps)
  private val EvLo = "2024-01-05"; private val EvHi = "2024-01-20"
  private val OrLo = "1996-01-01"; private val OrHi = "1999-01-01"

  // ---- state tables (base: events — each event is one ledger-entry
  // change, exactly the reference's state-table semantics) ---------------

  /** reference dags/queries/generate_avro/accounts.sql:9-40 */
  val accounts: Export = Export("lake_accounts", "accounts.sql", "events",
    "ts", EvLo, EvHi, batchFilter = true, Seq(
      sid("account_id", "acct_", "user_id"),
      raw("balance", "value"),
      dmul("buying_liabilities", "value", "0.1"),
      dmul("selling_liabilities", "value", "0.2"),
      raw("sequence_number", "event_id"),
      lmod("num_subentries", "event_id", 10),
      sid("inflation_destination", "acct_", "user_id", 7),
      lmod("flags", "event_id", 8),
      sid("home_domain", "dom_", "user_id", 10),
      lmod("master_weight", "user_id", 256),
      lmod("threshold_low", "user_id", 2),
      lmod("threshold_medium", "user_id", 3),
      lmod("threshold_high", "user_id", 4),
      ldiv("last_modified_ledger", "event_id", 100),
      lmod("ledger_entry_change", "event_id", 3),
      bmod("deleted", "event_id", 7),
      sid("sponsor", "acct_", "user_id", 5),
      lmod("num_sponsored", "event_id", 4),
      lmod("num_sponsoring", "event_id", 5),
      raw("sequence_time", "ts"),
      raw("closed_at", "ts"),
      ldiv("ledger_sequence", "event_id", 100),
      // the reference's one rename: sequence_ledger AS account_sequence_...
      lmod("account_sequence_last_modified_ledger", "event_id", 1000)))

  /** reference dags/queries/generate_avro/trust_lines.sql:9-36 */
  val trustLines: Export = Export("lake_trust_lines", "trust_lines.sql",
    "events", "ts", EvLo, EvHi, batchFilter = true, Seq(
      hexid("ledger_key", "event_id"),
      sid("account_id", "acct_", "user_id"),
      raw("asset_type", "event_type"),
      sid("asset_issuer", "issuer_", "user_id", 13),
      xc("asset_code", upper(col("event_type")), "upper(event_type)"),
      lmod("asset_id", "event_id", 97),
      hexid("liquidity_pool_id", "user_id"),
      raw("balance", "value"),
      dmul("trust_line_limit", "value", "10.0"),
      dmul("buying_liabilities", "value", "0.1"),
      dmul("selling_liabilities", "value", "0.2"),
      lmod("flags", "event_id", 4),
      ldiv("last_modified_ledger", "event_id", 100),
      lmod("ledger_entry_change", "event_id", 3),
      bmod("deleted", "event_id", 7),
      sid("sponsor", "acct_", "user_id", 5),
      raw("closed_at", "ts"),
      ldiv("ledger_sequence", "event_id", 100),
      xc("liquidity_pool_id_strkey",
        concat(lit("L"), md5(col("user_id").cast("string"))),
        "'L' || md5(CAST(user_id AS VARCHAR))")))

  /** reference dags/queries/generate_avro/offers.sql:9-38 */
  val offers: Export = Export("lake_offers", "offers.sql", "events",
    "ts", EvLo, EvHi, batchFilter = true, Seq(
      sid("seller_id", "acct_", "user_id"),
      raw("offer_id", "event_id"),
      raw("selling_asset_type", "event_type"),
      xc("selling_asset_code", upper(col("event_type")), "upper(event_type)"),
      sid("selling_asset_issuer", "issuer_", "user_id", 13),
      lmod("selling_asset_id", "event_id", 97),
      sid("buying_asset_type", "b_", "user_id", 3),
      xc("buying_asset_code",
        concat(lit("B"), upper(col("event_type"))),
        "'B' || upper(event_type)"),
      sid("buying_asset_issuer", "issuer_", "user_id", 17),
      lmod("buying_asset_id", "event_id", 89),
      raw("amount", "value"),
      xc("pricen", col("user_id") % 500 + 1, "(user_id % 500 + 1)"),
      xc("priced", col("event_id") % 999 + 1, "(event_id % 999 + 1)"),
      // price = pricen / priced, double division on both engines
      xc("price", (col("user_id") % 500 + 1).cast("double") /
        (col("event_id") % 999 + 1),
        "(CAST(user_id % 500 + 1 AS DOUBLE) / (event_id % 999 + 1))"),
      lmod("flags", "event_id", 8),
      ldiv("last_modified_ledger", "event_id", 100),
      lmod("ledger_entry_change", "event_id", 3),
      bmod("deleted", "event_id", 7),
      sid("sponsor", "acct_", "user_id", 5),
      raw("closed_at", "ts"),
      ldiv("ledger_sequence", "event_id", 100)))

  /** reference dags/queries/generate_avro/liquidity_pools.sql:9-38
    * (`type` is a reserved-word column the reference backticks). */
  val liquidityPools: Export = Export("lake_liquidity_pools",
    "liquidity_pools.sql", "events", "ts", EvLo, EvHi, batchFilter = true,
    Seq(
      hexid("liquidity_pool_id", "user_id"),
      litS("type", "constant_product"),
      litL("fee", 30L),
      lmod("trustline_count", "user_id", 50),
      dmul("pool_share_count", "value", "5.0"),
      litS("asset_a_type", "native"),
      xc("asset_a_code", upper(col("event_type")), "upper(event_type)"),
      sid("asset_a_issuer", "issuer_", "user_id", 13),
      lmod("asset_a_id", "event_id", 97),
      raw("asset_a_amount", "value"),
      raw("asset_b_type", "event_type"),
      xc("asset_b_code",
        concat(lit("B"), upper(col("event_type"))),
        "'B' || upper(event_type)"),
      sid("asset_b_issuer", "issuer_", "user_id", 17),
      lmod("asset_b_id", "event_id", 89),
      dmul("asset_b_amount", "value", "2.0"),
      ldiv("last_modified_ledger", "event_id", 100),
      lmod("ledger_entry_change", "event_id", 3),
      bmod("deleted", "event_id", 7),
      raw("closed_at", "ts"),
      ldiv("ledger_sequence", "event_id", 100),
      xc("liquidity_pool_id_strkey",
        concat(lit("L"), md5(col("user_id").cast("string"))),
        "'L' || md5(CAST(user_id AS VARCHAR))")))

  /** reference dags/queries/generate_avro/contract_data.sql:9-35 — incl.
    * the one transform: replace(asset_code, NUL, '') (the NUL-strip; the
    * fixture strips 'E' since testdata strings carry no NULs), and the
    * JSON key/val decode pair over the props payload. */
  val contractData: Export = Export("lake_contract_data",
    "contract_data.sql", "events", "ts", EvLo, EvHi, batchFilter = false,
    Seq(
      sid("contract_id", "C", "user_id"),
      litS("contract_key_type", "ScValTypeLedgerKeyContractInstance"),
      xc("contract_durability",
        when(col("event_id") % 2 === 0, "persistent").otherwise("temporary"),
        "CASE WHEN event_id % 2 = 0 THEN 'persistent' ELSE 'temporary' END"),
      sid("asset_issuer", "issuer_", "user_id", 13),
      raw("asset_type", "event_type"),
      sid("balance_holder", "acct_", "user_id", 31),
      raw("balance", "value"),
      ldiv("last_modified_ledger", "event_id", 100),
      lmod("ledger_entry_change", "event_id", 3),
      bmod("deleted", "event_id", 7),
      raw("closed_at", "ts"),
      ldiv("ledger_sequence", "event_id", 100),
      hexid("ledger_key_hash", "event_id"),
      raw("key", "props"),
      xc("key_decoded", get_json_object(col("props"), "$.k"),
        "json_extract_string(props, '$.k')"),
      raw("val", "props"),
      xc("val_decoded", get_json_object(col("props"), "$.k"),
        "json_extract_string(props, '$.k')"),
      hexoff("contract_data_xdr", "event_id", 7),
      // BYTES→base64 of the 16 digest bytes (real binary engine-side)
      xc("ledger_key_hash_base_64",
        base64(unhex(md5(col("event_id").cast("string")))),
        "to_base64(unhex(md5(CAST(event_id AS VARCHAR))))"),
      xc("asset_code",
        expr("replace(upper(event_type), 'E', '')"),
        "replace(upper(event_type), 'E', '')")))

  /** reference dags/queries/generate_avro/history_contract_events.sql:9-30
    * — topics is REPEATED (joined-string boundary), *_decoded are JSON. */
  val contractEvents: Export = Export("lake_contract_events",
    "history_contract_events.sql", "events", "ts", EvLo, EvHi,
    batchFilter = false, Seq(
      hexid("transaction_hash", "event_id"),
      lmul("transaction_id", "event_id", 16),
      nbmod("successful", "event_id", 11),
      nbmod("in_successful_contract_call", "event_id", 13),
      sid("contract_id", "C", "user_id"),
      lmod("type", "event_id", 4),
      raw("type_string", "event_type"),
      // REPEATED topics at the gate boundary: canonical joined string
      xc("topics",
        concat_ws(",", col("event_type"),
          concat(lit("t_"), col("user_id") % 5)),
        "event_type || ',t_' || CAST(user_id % 5 AS VARCHAR)"),
      raw("topics_decoded", "props"),
      raw("data", "props"),
      xc("data_decoded", get_json_object(col("props"), "$.k"),
        "json_extract_string(props, '$.k')"),
      hexoff("contract_event_xdr", "event_id", 3),
      raw("closed_at", "ts"),
      ldiv("ledger_sequence", "event_id", 100),
      lmul("operation_id", "event_id", 4096)))

  /** reference dags/queries/generate_avro/ttl.sql:9-22 */
  val ttl: Export = Export("lake_ttl", "ttl.sql", "events", "ts",
    EvLo, EvHi, batchFilter = false, Seq(
      hexid("key_hash", "event_id"),
      xc("live_until_ledger_seq", expr("event_id DIV 100 + 1000"),
        "(event_id // 100 + 1000)"),
      ldiv("last_modified_ledger", "event_id", 100),
      lmod("ledger_entry_change", "event_id", 3),
      bmod("deleted", "event_id", 7),
      raw("closed_at", "ts"),
      ldiv("ledger_sequence", "event_id", 100)))

  /** reference dags/queries/generate_avro/token_transfers.sql:9-36 —
    * reserved-word columns `to`/`from`, muxed pair sparsely populated. */
  val tokenTransfers: Export = Export("lake_token_transfers",
    "token_transfers.sql", "events", "ts", EvLo, EvHi, batchFilter = false,
    Seq(
      hexid("transaction_hash", "event_id"),
      lmul("transaction_id", "event_id", 16),
      lmul("operation_id", "event_id", 4096),
      sid("contract_id", "C", "user_id"),
      raw("closed_at", "ts"),
      ldiv("ledger_sequence", "event_id", 100),
      sid("to", "acct_", "user_id", 23),
      sid("from", "acct_", "user_id", 29),
      xc("asset",
        concat(col("event_type"), lit(":issuer_"), col("user_id") % 13),
        "event_type || ':issuer_' || CAST(user_id % 13 AS VARCHAR)"),
      raw("asset_type", "event_type"),
      xc("asset_code", upper(col("event_type")), "upper(event_type)"),
      sid("asset_issuer", "issuer_", "user_id", 13),
      // raw stroop amount: floor(value * 1e7) — floor on both engines
      lfloor("amount_raw", col("value") * lit(1.0e7),
        "value * CAST(10000000 AS DOUBLE)"),
      litS("event_topic", "transfer"),
      raw("event_type", "event_type"),
      bmod("is_soroban", "event_id", 3),
      xc("unique_key",
        md5(concat_ws("-", col("event_id").cast("string"),
          col("user_id").cast("string"))),
        "md5(CAST(event_id AS VARCHAR) || '-' || CAST(user_id AS VARCHAR))"),
      whenMod("to_muxed", "user_id", 4, 0,
        concat(lit("M"), col("user_id")),
        "'M' || CAST(user_id AS VARCHAR)"),
      whenMod("to_muxed_id", "user_id", 4, 0,
        col("user_id") * 7, "user_id * 7")))

  // ---- history tables ----------------------------------------------------

  /** reference dags/queries/generate_avro/history_ledgers.sql:9-36 —
    * ledger_header is BYTES (hex digest at the gate boundary). */
  val ledgers: Export = Export("lake_ledgers", "history_ledgers.sql",
    "events", "ts", EvLo, EvHi, batchFilter = false, Seq(
      raw("sequence", "event_id"),
      hexid("ledger_hash", "event_id"),
      hexoff("previous_ledger_hash", "event_id", -1),
      lmod("transaction_count", "event_id", 100),
      lmod("operation_count", "event_id", 500),
      raw("closed_at", "ts"),
      lmul("id", "event_id", 4294967296L),
      dmul("total_coins", "value", "100000.0"),
      dmul("fee_pool", "value", "0.5"),
      litL("base_fee", 100L),
      litL("base_reserve", 5000000L),
      litL("max_tx_set_size", 1000L),
      lmod("protocol_version", "user_id", 23),
      hexoff("ledger_header", "event_id", 11),
      lmod("successful_transaction_count", "event_id", 90),
      lmod("failed_transaction_count", "event_id", 10),
      lmod("tx_set_operation_count", "event_id", 600),
      lmod("soroban_fee_write_1kb", "event_id", 5000),
      sid("node_id", "node_", "user_id", 20),
      hexid("signature", "user_id"),
      lmul("total_byte_size_of_bucket_list", "event_id", 1024)))

  /** reference dags/queries/generate_avro/history_transactions.sql:9-58 —
    * the widest flat export (41 columns; REPEATED signer lists at the
    * joined-string boundary, record-ish bounds as canonical strings). */
  val transactions: Export = Export("lake_transactions",
    "history_transactions.sql", "orders", "o_orderdate", OrLo, OrHi,
    batchFilter = true, Seq(
      lmul("id", "o_orderkey", 4096),
      hexid("transaction_hash", "o_orderkey"),
      ldiv("ledger_sequence", "o_orderkey", 64),
      sid("account", "acct_", "o_custkey"),
      raw("account_sequence", "o_orderkey"),
      xc("max_fee",
        floor(col("o_totalprice")).cast("long") % 10000,
        "(CAST(floor(o_totalprice) AS BIGINT) % 10000)"),
      lmod("operation_count", "o_orderkey", 100),
      raw("created_at", "o_orderdate"),
      raw("memo_type", "o_orderpriority"),
      whenMod("memo", "o_orderkey", 3, 0,
        concat(lit("memo_"), col("o_custkey")),
        "'memo_' || CAST(o_custkey AS VARCHAR)"),
      xc("time_bounds",
        concat(lit("0,"), col("o_orderkey") % 86400),
        "'0,' || CAST(o_orderkey % 86400 AS VARCHAR)"),
      nbmod("successful", "o_orderkey", 23),
      lfloor("fee_charged", col("o_totalprice") * lit(0.01),
        "o_totalprice * CAST(0.01 AS DOUBLE)"),
      whenMod("inner_transaction_hash", "o_orderkey", 5, 0,
        md5(col("o_custkey").cast("string")),
        "md5(CAST(o_custkey AS VARCHAR))"),
      sid("fee_account", "acct_", "o_custkey", 50),
      lmod("new_max_fee", "o_orderkey", 20000),
      whenMod("account_muxed", "o_orderkey", 4, 0,
        concat(lit("M"), col("o_custkey")),
        "'M' || CAST(o_custkey AS VARCHAR)"),
      whenMod("fee_account_muxed", "o_orderkey", 6, 0,
        concat(lit("M"), col("o_custkey") % 50),
        "'M' || CAST(o_custkey % 50 AS VARCHAR)"),
      xc("ledger_bounds",
        concat(col("o_orderkey") % 1000, lit(","),
          col("o_orderkey") % 1000 + 500),
        "CAST(o_orderkey % 1000 AS VARCHAR) || ',' || " +
          "CAST(o_orderkey % 1000 + 500 AS VARCHAR)"),
      lmod("min_account_sequence", "o_orderkey", 1000000),
      lmod("min_account_sequence_age", "o_orderkey", 3600),
      lmod("min_account_sequence_ledger_gap", "o_orderkey", 100),
      hexoff("tx_envelope", "o_orderkey", 1),
      hexoff("tx_result", "o_orderkey", 2),
      hexoff("tx_meta", "o_orderkey", 3),
      hexoff("tx_fee_meta", "o_orderkey", 4),
      // REPEATED extra_signers at the joined-string boundary
      xc("extra_signers",
        concat_ws(",", concat(lit("sig_"), col("o_custkey") % 7),
          concat(lit("sig_"), col("o_custkey") % 11)),
        "'sig_' || CAST(o_custkey % 7 AS VARCHAR) || ',sig_' || " +
          "CAST(o_custkey % 11 AS VARCHAR)"),
      lmod("resource_fee", "o_orderkey", 5000),
      lmod("soroban_resources_instructions", "o_orderkey", 100000),
      lmod("soroban_resources_read_bytes", "o_orderkey", 4096),
      lmod("soroban_resources_write_bytes", "o_orderkey", 2048),
      raw("closed_at", "o_orderdate"),
      xc("transaction_result_code",
        when(col("o_orderstatus") === "F", "tx_success")
          .otherwise("tx_failed"),
        "CASE WHEN o_orderstatus = 'F' THEN 'tx_success' " +
          "ELSE 'tx_failed' END"),
      lmod("inclusion_fee_bid", "o_orderkey", 300),
      lmod("inclusion_fee_charged", "o_orderkey", 200),
      lmod("resource_fee_refund", "o_orderkey", 100),
      lmod("non_refundable_resource_fee_charged", "o_orderkey", 80),
      lmod("refundable_resource_fee_charged", "o_orderkey", 60),
      lmod("rent_fee_charged", "o_orderkey", 40),
      xc("tx_signers",
        concat_ws(",", concat(lit("txs_"), col("o_custkey") % 5),
          concat(lit("txs_"), col("o_custkey") % 13)),
        "'txs_' || CAST(o_custkey % 5 AS VARCHAR) || ',txs_' || " +
          "CAST(o_custkey % 13 AS VARCHAR)"),
      lmod("refundable_fee", "o_orderkey", 150)))

  /** reference dags/queries/generate_avro/history_trades.sql:9-40 — incl.
    * the reserved-word `order` column (kept verbatim, quoted on both
    * engines) and the rename ledger_closed_at AS closed_at. */
  val trades: Export = Export("lake_trades", "history_trades.sql",
    "lineitem", "l_shipdate", OrLo, OrHi, batchFilter = false, Seq(
      xc("history_operation_id",
        col("l_orderkey") * 4096 + col("l_linenumber"),
        "(l_orderkey * 4096 + l_linenumber)"),
      raw("order", "l_linenumber"),
      sid("selling_account_address", "acct_", "l_suppkey"),
      sid("selling_asset_code", "AST", "l_partkey", 100),
      sid("selling_asset_issuer", "issuer_", "l_suppkey", 13),
      litS("selling_asset_type", "credit_alphanum4"),
      lmod("selling_asset_id", "l_partkey", 997),
      raw("selling_amount", "l_extendedprice"),
      sid("buying_account_address", "acct_", "l_orderkey", 1500),
      sid("buying_asset_code", "AST", "l_suppkey", 100),
      sid("buying_asset_issuer", "issuer_", "l_partkey", 17),
      litS("buying_asset_type", "credit_alphanum4"),
      lmod("buying_asset_id", "l_suppkey", 991),
      xc("buying_amount",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        "(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount))"),
      lfloor("price_n", col("l_quantity") + lit(1.0),
        "l_quantity + CAST(1.0 AS DOUBLE)"),
      xc("price_d", col("l_partkey") % 100 + 1, "(l_partkey % 100 + 1)"),
      whenMod("selling_offer_id", "l_orderkey", 2, 0,
        col("l_orderkey") * 16, "l_orderkey * 16"),
      whenMod("buying_offer_id", "l_orderkey", 2, 1,
        col("l_orderkey") * 16 + 1, "l_orderkey * 16 + 1"),
      whenMod("selling_liquidity_pool_id", "l_orderkey", 3, 0,
        md5(col("l_orderkey").cast("string")),
        "md5(CAST(l_orderkey AS VARCHAR))"),
      whenMod("liquidity_pool_fee", "l_orderkey", 3, 0,
        lit(30L), "CAST(30 AS BIGINT)"),
      xc("trade_type",
        when(col("l_orderkey") % 3 === 0, "liquidity_pool")
          .otherwise("orderbook"),
        "CASE WHEN l_orderkey % 3 = 0 THEN 'liquidity_pool' " +
          "ELSE 'orderbook' END"),
      dmul("rounding_slippage", "l_tax", "100.0"),
      bmod("seller_is_exact", "l_orderkey", 2),
      whenMod("selling_liquidity_pool_id_strkey", "l_orderkey", 3, 0,
        concat(lit("L"), md5(col("l_orderkey").cast("string"))),
        "'L' || md5(CAST(l_orderkey AS VARCHAR))"),
      raw("closed_at", "l_shipdate")))

  val flatExports: Seq[Export] = Seq(
    accounts, trustLines, offers, liquidityPools, contractData,
    contractEvents, ttl, tokenTransfers, ledgers, transactions, trades)

  // ---- daily-agg exports (the three *__daily_agg mart exports) ----------
  // Double sums are exact DECIMAL(18,2) engine-side with one final cast to
  // double at the gate boundary (order-independent, matching the a5 marts).

  private def decSumS(cond: Column): Column =
    sum(when(cond, col("value").cast("decimal(18,2)"))).cast("double")
  private def decSumD(cond: String): String =
    s"CAST(SUM(CASE WHEN $cond THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)"

  /** The asset key and balance columns of both balance exports' oracles. */
  private val assetBalanceCols: String =
    s"""event_type AS asset_type,
       | upper(event_type) AS asset_code,
       | 'issuer_' || event_type AS asset_issuer,
       | 'C' || event_type AS contract_id,
       | ${decSumD("event_id % 4 = 0")} AS liquidity_pool_balance,
       | ${decSumD("event_id % 4 = 1")} AS offer_balance,
       | ${decSumD("event_id % 4 = 2")} AS trustline_balance,
       | ${decSumD("event_id % 4 = 3")} AS contract_balance""".stripMargin

  /** reference dags/queries/generate_avro/account_balances.sql:9-25 —
    * exports the account_balances__daily_agg mart: per (day, account,
    * asset) balance components. The fixture derives the mart itself from
    * the events change stream (a real groupBy, not a canned table). */
  def accountBalances(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .filter(col("ts") >= lit(EvLo).cast("timestamp") &&
        col("ts") < lit(EvHi).cast("timestamp"))
      .groupBy(to_date(col("ts")).as("day"),
        (col("user_id") % 50).as("uid"), col("event_type"))
      .agg(
        decSumS(col("event_id") % 4 === 0).as("liquidity_pool_balance"),
        decSumS(col("event_id") % 4 === 1).as("offer_balance"),
        decSumS(col("event_id") % 4 === 2).as("trustline_balance"),
        decSumS(col("event_id") % 4 === 3).as("contract_balance"))
      .select(col("day"),
        concat(lit("acct_"), col("uid")).as("account_id"),
        col("event_type").as("asset_type"),
        upper(col("event_type")).as("asset_code"),
        concat(lit("issuer_"), col("event_type")).as("asset_issuer"),
        concat(lit("C"), col("event_type")).as("contract_id"),
        col("liquidity_pool_balance"), col("offer_balance"),
        col("trustline_balance"), col("contract_balance"))
      .orderBy(col("day"))

  val accountBalancesOracle: String =
    s"""SELECT CAST(ts AS DATE) AS day,
       | 'acct_' || CAST(user_id % 50 AS VARCHAR) AS account_id,
       | $assetBalanceCols
       |FROM events
       |WHERE ts >= TIMESTAMP '$EvLo' AND ts < TIMESTAMP '$EvHi'
       |GROUP BY CAST(ts AS DATE), user_id % 50, event_type
       |ORDER BY day""".stripMargin

  /** reference dags/queries/generate_avro/token_balances.sql:9-31 — the
    * asset_balances__daily_agg export, incl. the two computed columns
    * (total_value_locked / total_supply = sums of balance components). */
  def tokenBalances(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .filter(col("ts") >= lit(EvLo).cast("timestamp") &&
        col("ts") < lit(EvHi).cast("timestamp"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        decSumS(col("event_id") % 4 === 0).as("liquidity_pool_balance"),
        decSumS(col("event_id") % 4 === 1).as("offer_balance"),
        decSumS(col("event_id") % 4 === 2).as("trustline_balance"),
        decSumS(col("event_id") % 4 === 3).as("contract_balance"),
        countDistinct(when(col("event_id") % 4 === 0, col("user_id")))
          .as("total_accounts_with_liquidity_pool_balance"),
        countDistinct(when(col("event_id") % 4 === 1, col("user_id")))
          .as("total_accounts_with_offer_balance"),
        countDistinct(when(col("event_id") % 4 === 2, col("user_id")))
          .as("total_accounts_with_trustline_balance"),
        countDistinct(when(col("event_id") % 4 === 3, col("user_id")))
          .as("total_accounts_with_contract_balance"),
        countDistinct(col("user_id")).as("total_accounts_with_trustline"))
      .select(col("day"),
        col("event_type").as("asset_type"),
        upper(col("event_type")).as("asset_code"),
        concat(lit("issuer_"), col("event_type")).as("asset_issuer"),
        concat(lit("C"), col("event_type")).as("contract_id"),
        col("liquidity_pool_balance"), col("offer_balance"),
        col("trustline_balance"), col("contract_balance"),
        col("total_accounts_with_liquidity_pool_balance"),
        col("total_accounts_with_offer_balance"),
        col("total_accounts_with_trustline_balance"),
        col("total_accounts_with_contract_balance"),
        col("total_accounts_with_trustline"),
        (col("liquidity_pool_balance") + col("offer_balance") +
          col("contract_balance")).as("total_value_locked"),
        (col("trustline_balance") + col("liquidity_pool_balance") +
          col("contract_balance")).as("total_supply"))
      .orderBy(col("day"))

  val tokenBalancesOracle: String =
    s"""SELECT *,
       | (liquidity_pool_balance + offer_balance + contract_balance)
       |   AS total_value_locked,
       | (trustline_balance + liquidity_pool_balance + contract_balance)
       |   AS total_supply
       |FROM (
       |SELECT CAST(ts AS DATE) AS day,
       | $assetBalanceCols,
       | COUNT(DISTINCT CASE WHEN event_id % 4 = 0 THEN user_id END)
       |   AS total_accounts_with_liquidity_pool_balance,
       | COUNT(DISTINCT CASE WHEN event_id % 4 = 1 THEN user_id END)
       |   AS total_accounts_with_offer_balance,
       | COUNT(DISTINCT CASE WHEN event_id % 4 = 2 THEN user_id END)
       |   AS total_accounts_with_trustline_balance,
       | COUNT(DISTINCT CASE WHEN event_id % 4 = 3 THEN user_id END)
       |   AS total_accounts_with_contract_balance,
       | COUNT(DISTINCT user_id) AS total_accounts_with_trustline
       |FROM events
       |WHERE ts >= TIMESTAMP '$EvLo' AND ts < TIMESTAMP '$EvHi'
       |GROUP BY CAST(ts AS DATE), event_type)
       |ORDER BY day""".stripMargin

  /** reference dags/queries/generate_avro/account_token_activity.sql:9-31
    * — the account_activity__daily_agg export: per (day, address, asset)
    * volume components with two derived totals. */
  def accountTokenActivity(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .filter(col("ts") >= lit(EvLo).cast("timestamp") &&
        col("ts") < lit(EvHi).cast("timestamp"))
      .groupBy(to_date(col("ts")).as("day"), col("user_id"),
        col("event_type"))
      .agg(
        decSumS(col("event_id") % 5 === 0).as("direct_payment_volume"),
        decSumS(col("event_id") % 5 === 1).as("path_payment_volume"),
        decSumS(col("event_id") % 5 === 2).as("payment_arbitrage_volume"),
        decSumS(col("event_id") % 5 === 3).as("orderbook_trade_volume"),
        decSumS(col("event_id") % 5 === 4).as("amm_trade_volume"),
        decSumS(col("event_type") === "purchase")
          .as("liquidity_pool_deposit_volume"),
        decSumS(col("event_type") === "click")
          .as("liquidity_pool_withdraw_volume"),
        decSumS(col("event_id") % 2 === 0).as("smart_contract_volume"))
      .select(col("day"),
        concat(lit("acct_"), col("user_id")).as("address"),
        upper(col("event_type")).as("asset_code"),
        concat(lit("issuer_"), col("event_type")).as("asset_issuer"),
        col("event_type").as("asset_type"),
        concat(lit("C"), col("event_type")).as("contract_id"),
        col("direct_payment_volume"), col("path_payment_volume"),
        col("payment_arbitrage_volume"),
        (col("direct_payment_volume") + col("path_payment_volume") +
          col("payment_arbitrage_volume")).as("payment_volume"),
        col("orderbook_trade_volume"), col("amm_trade_volume"),
        (col("orderbook_trade_volume") + col("amm_trade_volume"))
          .as("total_dex_trade_volume"),
        col("liquidity_pool_deposit_volume"),
        col("liquidity_pool_withdraw_volume"),
        col("smart_contract_volume"))
      .orderBy(col("day"))

  val accountTokenActivityOracle: String =
    s"""SELECT day, address, asset_code, asset_issuer, asset_type,
       | contract_id,
       | direct_payment_volume, path_payment_volume,
       | payment_arbitrage_volume,
       | (direct_payment_volume + path_payment_volume +
       |  payment_arbitrage_volume) AS payment_volume,
       | orderbook_trade_volume, amm_trade_volume,
       | (orderbook_trade_volume + amm_trade_volume)
       |   AS total_dex_trade_volume,
       | liquidity_pool_deposit_volume, liquidity_pool_withdraw_volume,
       | smart_contract_volume
       |FROM (
       |SELECT CAST(ts AS DATE) AS day,
       | 'acct_' || CAST(user_id AS VARCHAR) AS address,
       | upper(event_type) AS asset_code,
       | 'issuer_' || event_type AS asset_issuer,
       | event_type AS asset_type,
       | 'C' || event_type AS contract_id,
       | ${decSumD("event_id % 5 = 0")} AS direct_payment_volume,
       | ${decSumD("event_id % 5 = 1")} AS path_payment_volume,
       | ${decSumD("event_id % 5 = 2")} AS payment_arbitrage_volume,
       | ${decSumD("event_id % 5 = 3")} AS orderbook_trade_volume,
       | ${decSumD("event_id % 5 = 4")} AS amm_trade_volume,
       | ${decSumD("event_type = 'purchase'")}
       |   AS liquidity_pool_deposit_volume,
       | ${decSumD("event_type = 'click'")}
       |   AS liquidity_pool_withdraw_volume,
       | ${decSumD("event_id % 2 = 0")} AS smart_contract_volume
       |FROM events
       |WHERE ts >= TIMESTAMP '$EvLo' AND ts < TIMESTAMP '$EvHi'
       |GROUP BY CAST(ts AS DATE), user_id, event_type)
       |ORDER BY day""".stripMargin

  // ---- driver-gate wiring ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    flatExports.map(e => e.name ->
      ((s: SparkSession, d: String) => frame(e)(s, d))).toMap ++ Map(
      "lake_account_balances" ->
        ((s: SparkSession, d: String) => accountBalances(s, d)),
      "lake_token_balances" ->
        ((s: SparkSession, d: String) => tokenBalances(s, d)),
      "lake_account_token_activity" ->
        ((s: SparkSession, d: String) => accountTokenActivity(s, d)))

  val oracles: Map[String, String] =
    flatExports.map(e => e.name -> oracle(e)).toMap ++ Map(
      "lake_account_balances" -> accountBalancesOracle,
      "lake_token_balances" -> tokenBalancesOracle,
      "lake_account_token_activity" -> accountTokenActivityOracle)
}
