package graft.queries

import graft.operators._
import graft.queries.XdrFixture._
import graft.sources.{Parquet, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, StructField, StructType}

/** Warehouse operator queries (SURVEY §2.1–§2.9), each with a DuckDB oracle.
  *
  * Float discipline: every SUM over a double column goes through
  * DECIMAL(18,2) and the result is cast back to double. Exact decimal
  * arithmetic is engine-independent, so Spark and DuckDB produce
  * bit-identical values regardless of partial-aggregation order — raw
  * double sums would differ in ulps between engines and break hash compare.
  */
object WarehouseQueries {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** Gaps-and-islands session assignment, the ONE copy shared by the
    * sessionize mart and path mining: 30-minute gap on the unique
    * (ts, event_id) order, null-ts rows dropped EXPLICITLY (Spark
    * windows order nulls first, DuckDB last — an unfiltered null row
    * would open a phantom session on one engine only). Adds `sid`.
    */
  private def sessionized(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.filter(col("ts").isNotNull)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_ts", "new_s")
  }

  /** The matching oracle CTE chain: ends with `z` carrying (user_id, ts,
    * event_id, event_type, value, grp). */
  private val sessionCtes: String =
    """WITH x AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events WHERE ts IS NOT NULL),
      |y AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN prev IS NULL
      |           OR date_diff('second', prev, ts) > 1800
      |         THEN 1 ELSE 0 END AS brk
      |  FROM x),
      |z AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM y)
      |""".stripMargin

  /** Scratch root for the storage-roundtrip queries (K5 copy, D8 daily
    * increment): deterministic per source dir, overwritten per run.
    */
  private def scratch(tag: String, dir: String): String =
    graft.core.Scratch.dir(s"wh_$tag", dir)

  /** Stage a DataFrame as ONE headered CSV file delivered into `inboxDir`
    * under `fileName` — the partner-drop fixture for the S5/S6 gate query.
    * coalesce(1) is the K4 single-file rule: partner files are small by
    * contract. */
  private def deliverCsv(s: SparkSession, df: DataFrame, stageDir: String,
                         inboxDir: String, fileName: String): Unit = {
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(stageDir)
    val conf = s.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(stageDir), conf)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(stageDir))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    val inbox = new org.apache.hadoop.fs.Path(inboxDir)
    if (!fs.exists(inbox)) fs.mkdirs(inbox)
    val dst = new org.apache.hadoop.fs.Path(inbox, fileName)
    if (fs.exists(dst)) fs.delete(dst, false)
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dst, false, conf)
  }

  /** Remove a scratch dir so append-mode gate queries stay idempotent
    * per run (overwrite-mode roundtrips don't need it).
    */
  private def cleanDir(s: SparkSession, path: String): Unit =
    graft.core.Scratch.clean(s, path)

  /** The alerting gates' shared monitor fixture: the event log split
    * into 3 equal date windows, and per event_type a volume-DROP check
    * per later window ("did this window's volume fall below the prior
    * window's" — the Elementary volume-monitor shape). Two runs come out
    * (run w2 checks window 2 vs 1, run w3 checks 3 vs 2) as
    * (run_id, check_key, status, violations) — all integer arithmetic,
    * so both gates' oracles restate the law exactly.
    */
  private[graft] def volumeDropRuns(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("event_type"))
    val rng = ev.agg(min(col("day")).as("d0"),
      (datediff(max(col("day")), min(col("day"))) + 1).as("span"))
    val c = ev.crossJoin(broadcast(rng))
      .withColumn("w",
        least(expr("(CAST(datediff(day, d0) AS BIGINT) * 3) div span"), lit(2L)))
      .groupBy("event_type")
      .agg(sum(when(col("w") === 0L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("w") === 1L, 1L).otherwise(0L)).as("c2"),
        sum(when(col("w") === 2L, 1L).otherwise(0L)).as("c3"))
    def run(id: String, prev: Column, cur: Column): DataFrame =
      c.select(lit(id).as("run_id"), col("event_type").as("check_key"),
        when(cur < prev, "fail").otherwise("pass").as("status"),
        when(cur < prev, prev - cur).otherwise(0L).as("violations"))
    run("w2", col("c1"), col("c2")).unionByName(run("w3", col("c2"), col("c3")))
  }

  type QFn = (SparkSession, String) => DataFrame

  /** The s2_tx_operations fixture: one pseudo TransactionV1Envelope per
    * order row as (k, bin), varying every interior shape — plain vs
    * muxed source (k%4), time bounds (k%2), none/text/id memo (k%3),
    * 1..3 operations alternating CREATE_ACCOUNT/PAYMENT with native vs
    * alphanum4 assets, optional per-op source, 0..2 variable-length
    * signatures. Shared verbatim by the batch gate and the st_xdr_ops
    * streaming drain so both sides decode the identical corpus.
    */
  private[graft] def txEnvelopeFixture(s: SparkSession, dir: String): DataFrame = {
    val srcAcct = when(pmod(k, lit(4L)) === 0L,
      concat(u32(lit(256L)), i64(lit(7000L) + k), key32))
      .otherwise(concat(u32(lit(0L)), key32))
    val cond = when(pmod(k, lit(2L)) === 1L,
      concat(u32(lit(1L)), i64(lit(1600000000L) + k), i64(lit(1800000000L) + k)))
      .otherwise(u32(lit(0L)))
    val mLen = pmod(k, lit(10L)) + lit(1L)
    val memo = when(pmod(k, lit(3L)) === 1L,
      concat(u32(lit(1L)), varStr(substring(md5(concat(ks, lit("m"))), 1, 10), mLen)))
      .when(pmod(k, lit(3L)) === 2L, concat(u32(lit(2L)), i64(lit(5000L) + k)))
      .otherwise(u32(lit(0L)))
    val nOp = pmod(k, lit(3L)) + lit(1L)
    def op(i: Int): Column = {
      val opSrc =
        if (i == 0) when(pmod(k, lit(5L)) === 0L,
          concat(u32(lit(1L)), u32(lit(0L)), h16("z"), h16("w")))
          .otherwise(u32(lit(0L)))
        else u32(lit(0L))
      val dest = concat(u32(lit(0L)), h16(s"d$i"), h16(s"e$i"))
      val body =
        if (i % 2 == 0) // CREATE_ACCOUNT
          concat(u32(lit(0L)), dest, i64(lit(10000000L) + k + lit(i.toLong)))
        else { // PAYMENT with native vs alphanum4 asset
          val asset = when(pmod(k + lit(i.toLong), lit(2L)) === 0L, u32(lit(0L)))
            .otherwise(concat(u32(lit(1L)),
              substring(md5(concat(ks, lit("c"))), 1, 3).cast("binary"),
              unhex(lit("00")),
              u32(lit(0L)), h16(s"f$i"), h16(s"g$i")))
          concat(u32(lit(1L)), dest, asset,
            i64(lit(20000000L) + k + lit(i.toLong)))
        }
      when(nOp > i, concat(opSrc, body)).otherwise(empty)
    }
    val nSig = pmod(k, lit(3L))
    def sig(j: Int): Column =
      when(nSig > j, concat(
        unhex(substring(md5(concat(ks, lit(s"h$j"))), 1, 8)), // hint[4]
        u32(lit(64L)), unhex(concat(md5(concat(ks, lit(s"p$j"))),
          md5(concat(ks, lit(s"q$j"))), md5(concat(ks, lit(s"r$j"))),
          md5(concat(ks, lit(s"s$j")))))))
        .otherwise(empty)
    val xdr = concat(
      u32(lit(2L)), srcAcct, u32(lit(100L) * (lit(1L) + pmod(k, lit(3L)))),
      i64(k * lit(4294967296L) + lit(1L)), cond, memo,
      u32(nOp), op(0), op(1), op(2), u32(lit(0L)),
      u32(nSig), sig(0), sig(1))
    rows(s, dir, "orders", "o_orderkey", 43)(xdr)
  }

  /** The s2_tx_ops_ext fixture: one pseudo TransactionV1Envelope per
    * order row (k, bin), each carrying exactly ONE operation of the
    * EXTENDED arm family, selected by k%9 — PATH_PAYMENT_STRICT_RECEIVE
    * / _SEND (with 0..2-hop path vectors over native/alphanum4 arms),
    * MANAGE_SELL_OFFER / MANAGE_BUY_OFFER / CREATE_PASSIVE_SELL_OFFER,
    * SET_OPTIONS (each of the nine optionals present on its own k-law),
    * CHANGE_TRUST (all four ChangeTrustAsset arms incl. pool share),
    * LIQUIDITY_POOL_DEPOSIT / _WITHDRAW. The envelope boilerplate stays
    * minimal (plain source, no cond, no memo, no signatures) so the
    * oracle law is about the op bodies.
    */
  private[graft] def txEnvelopeExtFixture(s: SparkSession, dir: String): DataFrame = {
    val m = pmod(k, lit(9L))
    val dest = concat(u32(lit(0L)), h16("d"), h16("e"))
    val nPath = pmod(k, lit(3L))
    def pathEl(i: Int): Column =
      when(nPath > i, asset(pmod(k + lit(i.toLong), lit(2L)), s"p$i"))
        .otherwise(empty)
    val path = concat(u32(nPath), pathEl(0), pathEl(1))
    def pathBody(opType: Long, firstAmt: Long, secondAmt: Long): Column =
      concat(u32(lit(opType)), asset(pmod(k, lit(3L)), "sa"),
        i64(lit(firstAmt) + k), dest, asset(pmod(k + lit(1L), lit(3L)), "da"),
        i64(lit(secondAmt) + k), path)
    def offerBody(opType: Long, withId: Boolean): Column = {
      val base = concat(u32(lit(opType)),
        asset(pmod(k, lit(3L)), "sl"), asset(pmod(k + lit(1L), lit(3L)), "bu"),
        i64(lit(50000000L) + k),
        u32(lit(1L) + pmod(k, lit(97L))), u32(lit(1L) + pmod(k, lit(89L))))
      if (withId) concat(base, i64(lit(7000000L) + k)) else base
    }
    def opt(present: Column, value: Column): Column =
      when(present, concat(u32(lit(1L)), value)).otherwise(u32(lit(0L)))
    val hdLen = pmod(k, lit(13L))
    val setOptionsBody = concat(u32(lit(5L)),
      opt(pmod(k, lit(2L)) === 0L, concat(u32(lit(0L)), h16("i"), h16("j"))),
      opt(pmod(k, lit(3L)) === 0L, u32(pmod(k, lit(16L)))),
      opt(pmod(k, lit(3L)) === 1L, u32(pmod(k, lit(32L)))),
      opt(pmod(k, lit(2L)) === 1L, u32(pmod(k, lit(256L)))),
      opt(pmod(k, lit(5L)) === 0L, u32(pmod(k, lit(10L)))),
      opt(pmod(k, lit(5L)) === 1L, u32(pmod(k, lit(11L)))),
      opt(pmod(k, lit(5L)) === 2L, u32(pmod(k, lit(12L)))),
      opt(pmod(k, lit(7L)) === 0L,
        varStr(substring(md5(concat(ks, lit("hd"))), 1, 12), hdLen)),
      opt(pmod(k, lit(4L)) === 0L,
        concat(u32(pmod(k, lit(3L))), h16("sk"), h16("sl"),
          u32(lit(1L) + pmod(k, lit(255L))))))
    val ctArm = pmod(k, lit(4L))
    val changeTrustBody = concat(u32(lit(6L)),
      when(ctArm === 3L,
        concat(u32(lit(3L)), u32(lit(0L)),
          asset(pmod(k, lit(2L)), "la"), asset(lit(1L), "lb"), u32(lit(30L))))
        .otherwise(asset(ctArm, "ct")),
      i64(lit(60000000L) + k))
    val poolId = concat(h16("pl"), h16("pm"))
    val lpDepositBody = concat(u32(lit(22L)), poolId,
      i64(lit(61000000L) + k), i64(lit(62000000L) + k),
      u32(lit(1L) + pmod(k, lit(7L))), u32(lit(1L) + pmod(k, lit(11L))),
      u32(lit(1L) + pmod(k, lit(13L))), u32(lit(1L) + pmod(k, lit(17L))))
    val lpWithdrawBody = concat(u32(lit(23L)), poolId,
      i64(lit(63000000L) + k), i64(lit(64000000L) + k), i64(lit(65000000L) + k))
    val opBody = when(m === 0L, pathBody(2L, 30000000L, 40000000L))
      .when(m === 1L, pathBody(13L, 31000000L, 41000000L))
      .when(m === 2L, offerBody(3L, withId = true))
      .when(m === 3L, offerBody(12L, withId = true))
      .when(m === 4L, setOptionsBody)
      .when(m === 5L, changeTrustBody)
      .when(m === 6L, lpDepositBody)
      .when(m === 7L, lpWithdrawBody)
      .otherwise(offerBody(4L, withId = false))
    val xdr = concat(
      u32(lit(2L)), u32(lit(0L)), key32,
      u32(lit(100L)), i64(k * lit(4294967296L) + lit(1L)),
      u32(lit(0L)), u32(lit(0L)),          // no cond, no memo
      u32(lit(1L)), u32(lit(0L)), opBody,  // one op, no per-op source
      u32(lit(0L)), u32(lit(0L)))          // ext, no signatures
    rows(s, dir, "orders", "o_orderkey", 59)(xdr)
  }

  /** The s2_envelope_kinds fixture: one envelope per order row (k, bin)
    * cycling the three envelope KINDS by k%3 — the legacy v0 layout
    * (raw source key, optional time bounds, no memo, unsigned), a v1
    * transaction cycling all three Preconditions arms by k%4 (NONE /
    * TIME / V2-minimal / V2-full with ledger bounds + min seq + two
    * extra signers) with a text memo and one signature, and a fee-bump
    * wrap (plain/muxed fee source by k%2, id memo) around a full inner
    * v1. Shared by the kinds gate and the transaction-grain mart.
    */
  private[graft] def txEnvelopeKindsFixture(s: SparkSession, dir: String): DataFrame = {
    val fee = u32(lit(100L) + pmod(k, lit(50L)))
    val seq = i64(k * lit(4294967296L) + lit(1L))
    val tb = concat(u32(lit(1L)),
      i64(lit(1600000000L) + k), i64(lit(1800000000L) + k))
    val optTb = when(pmod(k, lit(2L)) === 1L, tb).otherwise(u32(lit(0L)))
    val createOp = concat(u32(lit(0L)), u32(lit(0L)),
      u32(lit(0L)), h16("d"), h16("e"), i64(lit(10000000L) + k))
    val payOp = concat(u32(lit(0L)), u32(lit(1L)),
      u32(lit(0L)), h16("d"), h16("e"), u32(lit(0L)), i64(lit(20000000L) + k))
    val sig = concat(unhex(substring(md5(concat(ks, lit("h0"))), 1, 8)),
      u32(lit(64L)), unhex(concat(md5(concat(ks, lit("p0"))),
        md5(concat(ks, lit("q0"))), md5(concat(ks, lit("r0"))),
        md5(concat(ks, lit("s0"))))))
    val mLen = pmod(k, lit(10L)) + lit(1L)
    val memoText = concat(u32(lit(1L)),
      varStr(substring(md5(concat(ks, lit("m"))), 1, 10), mLen))
    val pm4 = pmod(k, lit(4L))
    // PRECOND_V2: the minimal arm (no optionals, zero extra signers) on
    // k%4==2, the full arm (tb + ledger bounds + min seq + two ed25519
    // extra signers) on k%4==3
    val v2cond = when(pm4 === 2L,
      concat(u32(lit(2L)), u32(lit(0L)), u32(lit(0L)), u32(lit(0L)),
        i64(lit(3600L) + pmod(k, lit(100L))), u32(pmod(k, lit(7L))),
        u32(lit(0L))))
      .otherwise(concat(u32(lit(2L)), tb,
        u32(lit(1L)), u32(pmod(k, lit(1000L))),
        u32(pmod(k, lit(1000L)) + lit(500L)),
        u32(lit(1L)), i64(k),
        i64(lit(3600L) + pmod(k, lit(100L))), u32(pmod(k, lit(7L))),
        u32(lit(2L)), u32(lit(0L)), h16("x0"), h16("y0"),
        u32(lit(0L)), h16("x1"), h16("y1")))
    val v1cond = when(pm4 === 0L, u32(lit(0L)))
      .when(pm4 === 1L, tb).otherwise(v2cond)
    val v0env = concat(u32(lit(0L)), key32, fee, seq, optTb,
      u32(lit(0L)), u32(lit(1L)), createOp, u32(lit(0L)), u32(lit(0L)))
    val v1src = when(pmod(k, lit(5L)) === 0L,
      concat(u32(lit(256L)), i64(lit(7000L) + k), key32))
      .otherwise(concat(u32(lit(0L)), key32))
    val v1env = concat(u32(lit(2L)), v1src, fee, seq, v1cond,
      memoText, u32(lit(1L)), payOp, u32(lit(0L)), u32(lit(1L)), sig)
    val fbInner = concat(u32(lit(2L)), u32(lit(0L)), key32, fee, seq, optTb,
      u32(lit(2L)), i64(lit(5000L) + k),
      u32(lit(1L)), createOp, u32(lit(0L)), u32(lit(1L)), sig)
    val fbSrc = when(pmod(k, lit(2L)) === 1L,
      concat(u32(lit(256L)), i64(lit(8000L) + k), h16("f"), h16("g")))
      .otherwise(concat(u32(lit(0L)), h16("f"), h16("g")))
    val fbEnv = concat(u32(lit(5L)), fbSrc, i64(lit(90000000L) + k), fbInner,
      u32(lit(0L)), u32(lit(1L)), sig)
    val km3 = pmod(k, lit(3L))
    val xdr = when(km3 === 0L, v0env).when(km3 === 1L, v1env).otherwise(fbEnv)
    rows(s, dir, "orders", "o_orderkey", 61)(xdr)
  }

  /** The s3_account_entry fixture: one pseudo AccountEntry per customer
    * row as (k, bin), varying every interior shape — optional inflation
    * destination (k%3), 0..12-byte home domain with XDR padding (k%13),
    * 0..3 signers of types 0/1/2 (k%4), and the full ext chain (k%2
    * selects v0 vs v1 liabilities; within v1, k%3 selects the plain
    * inner ext vs the v2 sponsorship arm — counters plus an optional-
    * AccountID vector — and k%3==2 nests the v3 seq-ledger/time arm).
    * Shared by the record gate and the account_signers fan-out gate.
    */
  private[graft] def accountEntryFixture(s: SparkSession, dir: String): DataFrame = {
    val hd = pmod(k, lit(13L))
    val nS = pmod(k, lit(4L))
    def signer(i: Int): Column =
      when(nS > i, concat(u32(lit(i.toLong)),
        h16(s"s$i"), h16(s"t$i"), u32(lit(10L + i))))
        .otherwise(empty)
    // the v1 inner ext: plain (k%3==1) vs the v2 sponsorship arm —
    // counters + a SponsorshipDescriptor (optional AccountID) vector of
    // the signer count, each slot present iff (k+i)%3==0 — with the v3
    // seq-ledger/time arm nested on k%3==2 rows
    def extV2(k: Column, nS: Column): Column = {
      def sponsor(i: Int): Column =
        when(nS > i,
          when(pmod(k + lit(i.toLong), lit(3L)) === 0L,
            concat(u32(lit(1L)), u32(lit(0L)), h16(s"u$i"), h16(s"v$i")))
            .otherwise(u32(lit(0L))))
          .otherwise(empty)
      val extV3 = when(pmod(k, lit(3L)) === 2L,
        concat(u32(lit(3L)), u32(lit(0L)),
          u32(lit(100000L) + pmod(k, lit(1000L))),
          i64(lit(1650000000L) + k)))
        .otherwise(u32(lit(0L)))
      when(pmod(k, lit(3L)) === 1L, u32(lit(0L)))
        .otherwise(concat(u32(lit(2L)),
          u32(pmod(k, lit(5L))), u32(pmod(k, lit(7L))),
          u32(nS), sponsor(0), sponsor(1), sponsor(2), extV3))
    }
    val xdr = concat(
      u32(lit(0L)), key32,
      i64(lit(5000000000L) + k),                     // balance
      i64(k * lit(4294967296L) + pmod(k, lit(100L))), // seqNum
      u32(pmod(k, lit(20L))),                        // numSubEntries
      when(pmod(k, lit(3L)) === 0L,                  // inflationDest*
        concat(u32(lit(1L)), u32(lit(0L)), h16("i"), h16("j")))
        .otherwise(u32(lit(0L))),
      u32(pmod(k, lit(8L))),                         // flags
      varStr(substring(md5(concat(ks, lit("d"))), 1, 12), hd), // string32 domain
      unhex(concat(                                  // thresholds[4]
        lpad(hex(lit(1L) + pmod(k, lit(4L))), 2, "0"),
        lpad(hex(pmod(k, lit(3L))), 2, "0"),
        lpad(hex(pmod(k, lit(5L))), 2, "0"),
        lpad(hex(pmod(k, lit(7L))), 2, "0"))),
      u32(nS), signer(0), signer(1), signer(2),      // signers<20>
      when(pmod(k, lit(2L)) === 1L,                  // ext: v1 adds
        concat(u32(lit(1L)), i64(lit(111222333L) + k), // liabilities
          i64(lit(444555L) + k), extV2(k, nS)))
        .otherwise(u32(lit(0L))))
    rows(s, dir, "customer", "c_custkey", 17)(xdr)
  }

  /** Decodes each (k, bin) envelope once and fans it out to one row per
    * operation: (k, h = the decoded envelope, i = the op position, op).
    * Stateless row transform, valid on a streaming relation too.
    *
    * The explode is the OUTER variant + a post-generate null filter, not
    * a plain posexplode, deliberately: for a non-outer generate Catalyst
    * infers `size(ops) > 0` and pushes it below the projection
    * (InferFiltersFromGenerate), re-substituting the WHOLE decode
    * expression into the filter — the record parse, the dominant per-row
    * cost of envelope ingest, would run TWICE per row. The inference
    * rule skips outer generates, so the decode evaluates once in the
    * projection; quarantined (NULL-decode) rows surface as a single
    * null-position row the filter drops — row-set identical, half the
    * decode work. Plan-audited in PlanAuditSpec.
    */
  private def txOpRows(df: DataFrame): DataFrame =
    df.withColumn("h", call_function("graft_xdr_tx_envelope", col("bin")))
      .select(col("k"), col("h"),
        posexplode_outer(col("h.operations")).as(Seq("i", "op")))
      .filter(col("i").isNotNull)

  /** The per-operation fan-out over a (k, bin) envelope relation
    * ([[txOpRows]]) flattened to the history_operations-shaped
    * projection; the st_xdr_ops drain runs it on a stream. */
  private[graft] def txOpsProject(df: DataFrame): DataFrame =
    txOpRows(df)
      .select(col("k"), col("i").cast("long").as("i"),
        lower(hex(call_function("graft_strkey_decode",
          col("h.source_account")))).as("source_payload_hex"),
        col("h.muxed_id").as("muxed_id"),
        col("h.fee").as("fee"),
        col("h.seq_num").as("seq_num"),
        col("h.min_time").as("min_time"),
        col("h.max_time").as("max_time"),
        col("h.memo_type").as("memo_type"),
        col("h.memo_text").as("memo_text"),
        col("h.memo_id").as("memo_id"),
        col("h.n_operations").as("n_operations"),
        col("h.n_signatures").as("n_signatures"),
        col("op.op_type").as("op_type"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.source_account")))).as("op_source_payload_hex"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.destination")))).as("dest_payload_hex"),
        col("op.asset_type").as("asset_type"),
        col("op.asset_code").as("asset_code"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.asset_issuer")))).as("asset_issuer_payload_hex"),
        col("op.amount").as("amount"))

  /** The wave-2 per-op projection over a (k, bin) envelope relation
    * ([[txOpRows]]), flattening the wave-2 columns (incl. the embedded
    * revoke LedgerKey's identifying fields). */
  private[graft] def txOpsExt2Project(df: DataFrame): DataFrame =
    txOpRows(df)
      .select(col("k"),
        col("op.op_type").as("op_type"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.destination")))).as("dest_payload_hex"),
        col("op.asset_type").as("asset_type"),
        col("op.asset_code").as("asset_code"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.asset_issuer")))).as("asset_issuer_payload_hex"),
        col("op.amount").as("amount"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.trustor")))).as("trustor_payload_hex"),
        col("op.authorize").as("authorize"),
        col("op.data_name").as("data_name"),
        col("op.data_value_size").as("data_value_size"),
        col("op.bump_to").as("bump_to"),
        col("op.n_claimants").as("n_claimants"),
        col("op.balance_id").as("balance_id"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.sponsored_id")))).as("sponsored_payload_hex"),
        col("op.revoke_kind").as("revoke_kind"),
        col("op.revoke_key.entry_type").as("revoke_entry_type"),
        col("op.revoke_key.offer_id").as("revoke_offer_id"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.revoke_key.account_id")))).as("revoke_seller_payload_hex"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.revoke_account")))).as("revoke_account_payload_hex"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.revoke_signer_key")))).as("revoke_signer_payload_hex"),
        lower(hex(call_function("graft_strkey_decode",
          col("op.from_account")))).as("from_payload_hex"),
        col("op.clear_flags").as("clear_flags"),
        col("op.set_flags").as("set_flags"),
        col("op.extend_to").as("extend_to"))

  /** The s3_ledger_entry fixture: one LedgerEntry wire record per
    * customer row (k, bin), cycling all ten entry arms by k%10 with the
    * three sponsorship-ext shapes by k%3. Shared by the batch gate and
    * the st_ledger_entries streaming drain. */
  private[graft] def ledgerEntryFixture(s: SparkSession, dir: String): DataFrame = {
      val acct = concat(u32(lit(0L)), key32)
      val tEt = pmod(k, lit(10L))
      val body = when(tEt === 0L, concat(acct, // minimal AccountEntry
        i64(lit(5000000000L) + k), i64(k * lit(4294967296L) + lit(1L)),
        u32(lit(0L)), u32(lit(0L)), u32(pmod(k, lit(8L))), u32(lit(0L)),
        unhex(lit("01020304")), u32(lit(0L)), u32(lit(0L))))
        .when(tEt === 1L, concat(acct, u32(lit(0L)), // native trust line
          i64(lit(31337000L) + k), i64(lit(900000000L) + k),
          u32(pmod(k, lit(4L))), u32(lit(0L))))
        .when(tEt === 2L, concat(acct, i64(lit(4000000000L) + k),
          u32(lit(0L)), u32(lit(0L)), i64(lit(777000L) + k),
          u32(lit(1L) + pmod(k, lit(97L))), u32(lit(1L) + pmod(k, lit(89L))),
          u32(pmod(k, lit(4L))), u32(lit(0L))))
        .when(tEt === 3L, concat(acct, // DataEntry
          varStr(substring(md5(concat(ks, lit("dn"))), 1, 12), pmod(k, lit(13L))),
          varStr(substring(md5(concat(ks, lit("dv"))), 1, 9), pmod(k, lit(9L))),
          u32(lit(0L))))
        .when(tEt === 4L, concat(u32(lit(0L)), h16("b"), h16("c"),
          u32(lit(1L)), u32(lit(0L)), u32(lit(0L)), h16("d0"), h16("e0"),
          u32(lit(0L)), u32(lit(0L)), i64(lit(555000L) + k), u32(lit(0L))))
        .when(tEt === 5L, concat(h16("p"), h16("q"), u32(lit(0L)),
          u32(lit(0L)),
          concat(u32(lit(1L)),
            substring(md5(concat(ks, lit("lb"))), 1, 3).cast("binary"),
            unhex(lit("00")), u32(lit(0L)), h16("lbi"), h16("lbj")),
          u32(lit(30L)), i64(lit(111000L) + k), i64(lit(222000L) + k),
          i64(lit(333000L) + k), i64(pmod(k, lit(50L)))))
        .when(tEt === 6L, concat(u32(lit(0L)),
          u32(lit(1L)), h16("h"), h16("i"),
          u32(lit(15L)), varStr(substring(md5(concat(ks, lit("ck"))), 1, 3),
            lit(3L)),
          u32(pmod(k, lit(2L))),
          u32(lit(5L)), i64(lit(7000000L) + k)))
        .when(tEt === 7L, concat(u32(lit(0L)), h16("h2"), h16("i2"),
          varStr(concat(md5(concat(ks, lit("cp"))),
            md5(concat(ks, lit("cq")))), pmod(k, lit(20L)) + lit(4L))))
        .when(tEt === 8L, concat(u32(lit(0L)),
          u32(lit(100000L) + pmod(k, lit(1000L)))))
        .otherwise(concat(h16("t"), h16("u"), u32(lit(4000000L) + k)))
      // ext: present sponsor / present-v1-with-absent-descriptor / v0
      val ext = when(pmod(k, lit(3L)) === 0L,
        concat(u32(lit(1L)), u32(lit(1L)), u32(lit(0L)),
          h16("sp1"), h16("sp2"), u32(lit(0L))))
        .when(pmod(k, lit(3L)) === 1L,
          concat(u32(lit(1L)), u32(lit(0L)), u32(lit(0L))))
        .otherwise(u32(lit(0L)))
      val xdr = concat(u32(lit(9000000L) + pmod(k, lit(100000L))),
        u32(tEt), body, ext)
      rows(s, dir, "customer", "c_custkey", 53)(xdr)
  }

  /** The per-record LedgerEntry projection over a (k, bin) relation —
    * decode once, one identifying probe per nested struct. Stateless,
    * valid on a streaming relation too. */
  private[graft] def ledgerEntryProject(df: DataFrame): DataFrame =
    df        .withColumn("h", call_function("graft_xdr_ledger_entry", col("bin")))
        .select(col("k"),
          col("h.last_modified_ledger_seq").as("last_modified_ledger_seq"),
          col("h.entry_type").as("entry_type"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.sponsor")))).as("sponsor_payload_hex"),
          col("h.account.balance").as("account_balance"),
          col("h.trust_line.balance").as("trust_balance"),
          col("h.offer.offer_id").as("offer_id"),
          col("h.data.data_name").as("data_name"),
          col("h.data.data_value_size").as("data_value_size"),
          col("h.claimable_balance.amount").as("cb_amount"),
          col("h.liquidity_pool.fee").as("lp_fee"),
          col("h.contract_data.val_num").as("cd_val_num"),
          col("h.contract_code.code_size").as("cc_size"),
          col("h.config_setting.setting_id").as("cs_id"),
          col("h.ttl.live_until_ledger_seq").as("ttl_live"),
          call_function("graft_xdr_ledger_entry", col("bin").substr(1, 8))
            .isNull.as("truncated_rejected"))

  val queries: Map[String, QFn] = Map(
    // A1/A5: map-side-combinable aggregation; the canonical pricing summary.
    "q1_pricing_summary" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (dec2(lit(1)) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // S1: time window -> id range, the reference's get_ledger_range_from_times
    // re-expressed as a pruned scan + min/max agg.
    "s1_ledger_range" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
        .agg(min("event_id").as("start_id"), max("event_id").as("end_id"),
          count(lit(1)).as("n"))
    }),

    // S4: schema-enforced scan with pushed filter + pruned projection.
    "s4_typed_scan" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // D1: idempotent del-ins — re-delivering one day's batch leaves the
    // table unchanged; the aggregate proves it against the plain oracle.
    "d1_del_ins" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("batch_key", to_date(col("ts")).cast("string"))
      val redelivered = ev.filter(col("batch_key") === "2024-01-15")
      val reloaded = DelIns.delIns(ev, redelivered, Seq("batch_key"))
      reloaded.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("value_sum"))
    }),

    // D2: tombstone merge (MERGE ... WHEN MATCHED AND deleted THEN DELETE).
    "d2_merge_tombstone" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val updates = cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_mktsegment"),
          (col("c_custkey") % 10 === 0).as("deleted"))
      val inserts = cust.filter(col("c_custkey") % 7 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("cust_new_"), col("c_custkey").cast("string")).as("c_name"),
          col("c_nationkey"), lit(0.0).as("c_acctbal"), col("c_mktsegment"),
          lit(false).as("deleted"))
      val merged = MergeOps.merge(cust, updates.unionByName(inserts),
        MergeSpec(Seq("c_custkey"), Some("deleted")))
      merged.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    }),

    // D2 against STORAGE: the same tombstone merge executed through the
    // partition-scoped warehouse path (read only key-derived partitions,
    // dynamic-overwrite only those) — the result read back must hash-equal
    // the pure-transform oracle.
    "d2_merge_storage" -> ((s, dir) => {
      val whPath = scratch("d2wh", dir)
      val cust = t(s, dir, "customer").withColumn("p", col("c_custkey") % 8)
      cust.write.mode("overwrite").partitionBy("p").parquet(whPath)
      val updates = cust.drop("p").filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_mktsegment"),
          (col("c_custkey") % 10 === 0).as("deleted"))
      val inserts = cust.drop("p").filter(col("c_custkey") % 7 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("cust_new_"), col("c_custkey").cast("string")).as("c_name"),
          col("c_nationkey"), lit(0.0).as("c_acctbal"), col("c_mktsegment"),
          lit(false).as("deleted"))
      val source = updates.unionByName(inserts)
        .withColumn("p", col("c_custkey") % 8)
      val wh = new DelIns.Warehouse(s, whPath, Seq("p"))
      wh.mergePartitioned(source, MergeSpec(Seq("c_custkey"), Some("deleted")))
      wh.read().select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    }),

    // D3: insert-unique (PK emulation via anti-join).
    "d3_insert_unique" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val target = orders.filter(col("o_orderkey") % 3 =!= 0)
      MergeOps.insertUnique(target, orders, Seq("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
    }),

    // D4: staging dedup (oldest per key) + anti-join insert.
    "d4_dedup_insert" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
      val existing = li.filter((col("l_partkey") + col("l_suppkey")) % 4 === 0)
        .select("l_partkey", "l_suppkey").distinct()
      MergeOps.dedupInsertNewRows(li, existing,
        Seq("l_partkey", "l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate").as("first_shipdate"))
    }),

    // W1: current-state dedup (dense_rank desc = 1).
    "w1_current_state" -> ((s, dir) =>
      CurrentState.latestByKey(t(s, dir, "events"),
        Seq("user_id"), Seq("ts", "event_id"))
        .select("user_id", "event_id", "event_type", "value", "ts")),

    // W2: oldest-per-key dedup (row_number asc = 1).
    "w2_first_order" -> ((s, dir) =>
      CurrentState.firstByKey(t(s, dir, "orders"),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey").as("first_order"),
          col("o_orderdate").as("first_date"))),

    // W3: SCD2 validity intervals via lead().
    "w3_scd2_intervals" -> ((s, dir) =>
      AsOfJoin.scd2Intervals(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        Seq("user_id"), "ts", Seq("event_id"))
        .select("user_id", "event_id", "value", "valid_from", "valid_to")),

    // J3 (keyed leg): as-of join facts->prevailing interval value.
    "j3_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val intervals = AsOfJoin.scd2Intervals(
        ev.filter(col("event_type") === "purchase"), Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id").as("p_user"), col("value").as("price"),
          col("valid_from"), col("valid_to"))
      val clicks = ev.filter(col("event_type") === "click")
      AsOfJoin.asOf(clicks, intervals, Seq("user_id" -> "p_user"), "ts")
        .select(clicks("event_id"), clicks("user_id"), clicks("ts"), col("price"))
    }),

    // J3 (keyless leg): global scalar series, broadcast BNLJ — the
    // reference's xlm_price pattern.
    "j3_asof_global" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // The global series is one user's purchases, so partitioning the lead
      // window by user_id is the same global ordering over the filtered set
      // — but expressed with a real key, Spark neither warns nor funnels an
      // (in general) unbounded series through one arbitrary partition.
      // (partitionBy(lit) wouldn't do: EliminateWindowPartitions folds
      // literal partition keys away again.)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gp = ev.filter(col("event_type") === "purchase" && col("user_id") === 42)
        .withColumn("valid_from", col("ts"))
        .withColumn("valid_to",
          coalesce(lead(col("ts"), 1).over(w),
            lit(AsOfJoin.EndOfTime).cast("timestamp")))
        .select(col("value").as("global_price"), col("valid_from"), col("valid_to"))
      val views = ev.filter(col("event_type") === "view")
      AsOfJoin.asOfGlobal(views, gp, "ts")
        .select(views("event_id"), views("ts"), col("global_price"))
    }),

    // J3 scale path (keyed): SAME semantics as j3_asof_join, but via the
    // union-window form — one shuffle, linear, no facts x intervals pair
    // blowup on hot keys. The oracle is j3_asof_join's, verbatim.
    "j3_asof_union" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
      AsOfJoin.asOfUnion(clicks, purchases,
          Seq("user_id" -> "user_id"), "ts", "ts",
          payload = Seq("value" -> "price"), eventTieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("price"))
    }),

    // J3 with the regime chosen AUTOMATICALLY from the per-key density
    // stats (equi+residual vs union-window — identical results, cost
    // inverts with per-key pair volume). Oracle unchanged: whichever
    // form the stats pick must reproduce it.
    "j3_asof_auto" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
      AsOfJoin.asOfAuto(clicks, purchases,
          Seq("user_id" -> "user_id"), "ts", "ts",
          payload = Seq("value" -> "price"), eventTieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("price"))
    }),

    // The selector's OTHER branch through the driver gate: a sparse
    // synthetic key (event_id mod 50k — per-key density ~1) keeps the
    // pair volume under the budget, so asOfAuto takes the equi+residual
    // form; the oracle is regime-independent.
    "j3_asof_auto_equi" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("shard", pmod(col("event_id"), lit(50000L)))
      val clicks = ev.filter(col("event_type") === "click")
        .withColumn("shard", pmod(col("event_id"), lit(50000L)))
      AsOfJoin.asOfAuto(clicks, purchases,
          Seq("shard" -> "shard"), "ts", "ts",
          payload = Seq("value" -> "price"), eventTieBreak = Seq("event_id"))
        .select(col("event_id"), col("shard"), col("ts"), col("price"))
    }),

    // J3 scale path (keyless): SAME semantics as j3_asof_global, but via
    // bin replication — an equi join on fixed-width time bins instead of a
    // broadcast nested loop, for when the interval side outgrows broadcast.
    "j3_interval_binned" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gp = ev.filter(col("event_type") === "purchase" && col("user_id") === 42)
        .withColumn("valid_from", col("ts"))
        .withColumn("valid_to",
          coalesce(lead(col("ts"), 1).over(w),
            lit(AsOfJoin.EndOfTime).cast("timestamp")))
        .select(col("value").as("global_price"), col("valid_from"), col("valid_to"))
      val views = ev.filter(col("event_type") === "view")
      AsOfJoin.intervalJoinBinned(views, gp, "ts", binSeconds = 6L * 3600)
        .select(views("event_id"), views("ts"), col("global_price"))
    }),

    // Semi-join reduction: the urgent-orders key set folds into a Bloom
    // bit table (broadcastable at ANY dim cardinality); the fact side is
    // pre-filtered map-side through k broadcast semi joins before the real
    // join's shuffle. No true match can drop, so the result equals the
    // plain join — which is what the oracle states.
    "j10_bloom_reduce" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      Skew.bloomReduceJoin(li, urgent, "l_orderkey", "o_orderkey",
          m = 1 << 16, k = 2)
        .groupBy(col("o_orderdate"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("qty_sum"))
    }),

    // Skew-salted join: the fact side gets a deterministic row-derived
    // salt, the dim side is replicated `salts` ways, and the join key
    // becomes (key, salt) — each hot orderkey spreads over 8 reducers.
    // Salting must be invisible to results (the oracle is the plain
    // join); AQE's skew handling is the first answer at runtime, explicit
    // salting the tool when a known-hot key must never stall a stage.
    "j11_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val dim = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Skew.saltedJoin(li, dim, Seq("l_orderkey"), salts = 8,
          factSaltSource = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("price_sum"))
    }),

    // §2.8 reshape: unpivot (melt) measures to long form — the generic
    // metrics-table shape every monitoring mart lands in.
    "p12_unpivot" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity").as("l_quantity"),
            col("l_extendedprice").as("l_extendedprice"),
            col("l_discount").as("l_discount")),
          "metric", "val")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("val_sum"))
    }),

    // §2.8 reshape: pivot — per-day counts widened to one column per
    // event type (explicit value list, so the schema is deterministic).
    "p13_pivot" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    // J1: change-log x spine equi join (attach closed_at).
    "j1_state_ledger_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(li("l_orderkey"), li("l_linenumber"), li("l_quantity"),
          o("o_orderdate").as("closed_at"))
    }),

    // J2/J9-shape: fact -> chain of small dims, all broadcast.
    "j2_dim_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), n("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
    }),

    // J4: anti join (LEFT JOIN ... IS NULL in the reference).
    "j4_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o.select(col("o_custkey")), c("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    }),

    // J5: self join on composite key (the trades sell-side x buy-side).
    "j5_self_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.filter(col("l_linenumber") === 1).as("a")
      val b = li.filter(col("l_linenumber") === 2).as("b")
      a.join(b, col("a.l_orderkey") === col("b.l_orderkey"))
        .select(col("a.l_orderkey").as("l_orderkey"),
          col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"),
          col("a.l_quantity").as("qty_a"), col("b.l_quantity").as("qty_b"))
    }),

    // J6: left join + semi-join-with-exception filter.
    "j6_left_filter" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey") && p("p_size") > 40, "left_outer")
        .filter(p("p_brand").isNotNull || li("l_quantity") > 45)
        .select(li("l_orderkey"), li("l_linenumber"), li("l_quantity"), p("p_brand"))
    }),

    // J7: scalar attach via broadcast cross join (rank=1 latest price).
    "j7_cross_scalar" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val latest = ev.agg(max(col("ts")).as("max_ts"))
      ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(latest))
    }),

    // W5: ntile quartiles — per-type value quartile boundaries, the
    // ranking-window family member the marts use for cohort bucketing.
    "w5_ntile" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .filter(col("value").isNotNull)
        .withColumn("q", ntile(4).over(w))
        .groupBy(col("event_type"), col("q"))
        .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))
    }),

    // A5 (marts): calendar gap-filling — a generated day spine left-joined
    // to a sparse daily aggregate so missing days surface as explicit
    // zeros (every dashboard's line chart needs this; at scale the spine
    // is days-sized, never data-sized).
    "a5_gapfill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev
        .filter(col("event_type") === "purchase" && col("value") > 140)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      val spine = ev
        .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      spine.join(daily, Seq("day"), "left_outer").na.fill(0L, Seq("n"))
    }),

    // Record linkage: blocked edit-distance candidate pairs over the part
    // dimension — blocking on (brand, size) bounds the quadratic
    // comparator to within-block pairs.
    "t_linkage" -> ((s, dir) =>
      graft.operators.Linkage.blockedEditDistancePairs(
        t(s, dir, "part"), "p_partkey", "p_name",
        Seq("p_brand", "p_size"), maxDist = 3)),

    // W4: latest-per-key via rank desc = 1.
    "w4_rank_latest" -> ((s, dir) =>
      AsOfJoin.latest(t(s, dir, "events"), Seq("event_type"), Seq("ts", "event_id"))
        .select("event_type", "event_id", "ts", "value")),

    // A2: conditional filtered aggregation (LP providers shape).
    "a2_provider_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "signup") &&
          (col("value") > 0 || col("value").isNull))
        .groupBy("user_id")
        .agg(min("ts").as("first_seen"),
          sum(dec2(coalesce(col("value"), lit(0)))).cast("double").as("total_value"),
          count(lit(1)).as("n_events"))),

    // A5: daily mart aggregate (day x type).
    "a5_daily_activity" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          countDistinct(col("user_id")).as("uniq_users"))),

    // A5 (marts): OHLC per day — the reference's ohlc mart shape
    // (dbt_stellar_marts). first/last via min_by/max_by on a unique
    // (ts, event_id) tuple so ties are deterministic.
    "a5_ohlc" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          sum(dec2(col("value"))).cast("double").as("volume"),
          count(lit(1)).as("n_trades"))),

    // A5 (marts): TVL shape — sum over each entity's LATEST state (the
    // reference's v_liquidity_pool_value: current state -> value agg).
    "a5_tvl" -> ((s, dir) => {
      val latest = CurrentState.latestByKey(
        t(s, dir, "events"), Seq("user_id"), Seq("ts", "event_id"))
      latest.groupBy("event_type")
        .agg(
          sum(dec2(col("value"))).cast("double").as("total_value"),
          count(lit(1)).as("n_holders"))
    }),

    // S9: audit-log scan — ops telemetry over a JSON payload log, the
    // reference's audit_log.sql shape (JSON_EXTRACT_SCALAR + SAFE_CAST +
    // per-day/principal aggregation).
    "s9_audit_scan" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("payload", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
        .groupBy(to_date(col("ts")).as("day"), col("event_type").as("method"))
        .agg(count(lit(1)).as("n_calls"),
          countDistinct(col("user_id")).as("n_principals"),
          sum(col("payload")).as("payload_sum"),
          max(col("payload")).as("payload_max"))),

    // S9+ (audit breadth): the reference audit mart's minute-bucket
    // expansion (reference dags/queries/audit_log.sql:446-474 —
    // UNNEST(GENERATE_ARRAY(1, jobStatsExecutionMinuteBuckets))): each
    // job fans out one row per execution minute, aggregated to
    // per-minute-of-day concurrency — the slot-contention view the ops
    // mart serves. Runtime minutes derive deterministically from the
    // event value (ceil(value/60), capped at 10).
    "s9_audit_minutes" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          (hour(col("ts")) * 60 + minute(col("ts"))).cast("long").as("m0"),
          least(ceil(coalesce(col("value"), lit(0.0)) / lit(60.0)), lit(10L)).as("mins"))
        .filter(col("mins") >= 1)
        .select(col("event_type"), col("m0"),
          explode(sequence(lit(1L), col("mins"))).as("bk"))
        .groupBy(col("event_type"),
          ((col("m0") + col("bk") - lit(1L)) % lit(1440L)).as("minute_of_day"))
        .agg(count(lit(1)).as("concurrency"))),

    // S9+ (audit breadth): the audit mart's WIDE multi-event coalesce —
    // the actual shape of the reference's 427-line CTE stack (reference
    // dags/queries/audit_log.sql:1-478): six per-event-type extraction
    // legs over the same log, reconciled into ONE wide row per job with
    // has*Event flags, a date-part STRUCT on the job start time,
    // SAFE_DIVIDE(avg slots) and a billed-bytes cost estimate. The
    // reference builds it as six CTEs LEFT-JOINed back together — six
    // scans plus five joins; the Spark-first form is a single conditional
    // aggregation pass (one scan, one shuffle on job_id, map-side
    // combinable), which is the 100 TB-safe plan for the same semantics.
    "s9_audit_wide" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("job_id", pmod(col("event_id"), lit(997L)))
        .withColumn("k",
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
        .withColumn("slot_ms", col("k") * lit(100L))
        // the deletion and data-change legs of the reference's event
        // stack (audit_log.sql:331-348 tableDeletionEvent, :401-427
        // tableDataChangeEvent) — in the synthetic log a deletion is a
        // table-change (click) row whose payload k is a multiple of 10
        // (reason "expired" when also a multiple of 20, else "deleted"),
        // and a data change is a data-access (purchase) row with odd k,
        // carrying deleted/inserted row counts in k's digits. Both stay
        // inside the ONE conditional-aggregation pass.
        .withColumn("is_del",
          col("event_type") === "click" && col("k") % 10 === 0)
        .withColumn("is_dc",
          col("event_type") === "purchase" && col("k") % 2 === 1)
        .groupBy(col("job_id"))
        .agg(
          min(col("user_id")).as("principal"),
          max(col("event_type") === "signup").as("has_job_change"),
          max(col("event_type") === "view").as("has_table_creation"),
          max(col("event_type") === "click").as("has_table_change"),
          max(col("event_type") === "purchase").as("has_data_read"),
          max(col("event_type") === "error").as("has_error"),
          // coalesce: an all-null flag column (k unparsable on every row)
          // must read false like the oracle's bool_or
          coalesce(max(col("is_del")), lit(false)).as("has_table_deletion"),
          sum(when(col("is_del"), lit(1L))).as("n_deletions"),
          max(when(col("is_del"),
            when(col("k") % 20 === 0, lit("expired")).otherwise(lit("deleted"))))
            .as("deletion_reason"),
          coalesce(max(col("is_dc")), lit(false)).as("has_data_change"),
          sum(when(col("is_dc"), col("k") % 10)).as("dc_deleted_rows"),
          sum(when(col("is_dc"), expr("k div 10"))).as("dc_inserted_rows"),
          min(col("ts")).as("job_start"),
          sum(when(col("event_type") === "purchase",
            dec2(col("value") * 1000)).otherwise(lit(null))).cast("double").as("runtime_ms"),
          sum(col("slot_ms")).as("slot_ms"),
          // the audit mart's remaining derived tail (audit_log.sql:457-495):
          // ARRAY_LENGTH(referencedTables/Views) -> breadth counts,
          // REGEXP_CONTAINS(...) -> a regex flag over the raw payload —
          // all still inside the ONE conditional-aggregation pass. NO
          // countDistinct here: multiple distinct aggregates plan via
          // EXPAND (rows x3 + a second exchange — PlanAuditSpec caught
          // it); principals use a single-pass collect_set (per-job
          // cardinality is bounded by the job's own event count) and the
          // kind count derives from the has-flags below (the event-type
          // domain is exactly the five audited kinds).
          size(collect_set(col("user_id"))).cast("long").as("n_principals"),
          max(col("props").rlike("\"k\": [0-9]\\}")).as("is_dashboard_job"))
        .select(
          col("job_id"), col("principal"),
          col("has_job_change"), col("has_table_creation"),
          col("has_table_change"), col("has_data_read"), col("has_error"),
          col("has_table_deletion"), col("n_deletions"), col("deletion_reason"),
          col("has_data_change"), col("dc_deleted_rows"), col("dc_inserted_rows"),
          // the jobStartDate STRUCT (audit_log.sql:445-454), flattened —
          // dayofweek is 0-based Sunday like the reference's EXTRACT - 1
          minute(col("job_start")).cast("long").as("start_minute"),
          hour(col("job_start")).cast("long").as("start_hour"),
          (dayofweek(col("job_start")) - 1).cast("long").as("start_dow"),
          dayofyear(col("job_start")).cast("long").as("start_doy"),
          month(col("job_start")).cast("long").as("start_month"),
          quarter(col("job_start")).cast("long").as("start_quarter"),
          year(col("job_start")).cast("long").as("start_year"),
          col("runtime_ms"),
          // SAFE_DIVIDE(jobStatsTotalSlotMs, jobStatsRuntimeMs): exact
          // int/int division, engine-stable
          when(col("runtime_ms").isNotNull && col("runtime_ms") =!= 0,
            col("slot_ms").cast("double") / col("runtime_ms").cast("double"))
            .as("avg_slots"),
          // (billedBytes / 2^30) and * 5 cost estimate, billed bytes
          // modeled as slot_ms * 2^20 so the division is exact
          (col("slot_ms").cast("double") * lit(1048576.0) / lit(1073741824.0))
            .as("billed_gb"),
          (col("slot_ms").cast("double") * lit(1048576.0) / lit(1099511627776.0)
            * lit(5.0)).as("est_cost_usd"),
          (col("has_job_change").cast("long") +
            col("has_table_creation").cast("long") +
            col("has_table_change").cast("long") +
            col("has_data_read").cast("long") +
            col("has_error").cast("long")).as("n_event_kinds"),
          col("n_principals"), col("is_dashboard_job"),
          // isCached (audit_log.sql:494): no billable signal recorded at
          // all -> the job answered from cache
          (col("runtime_ms").isNull && col("slot_ms").isNull).as("is_cached"))),

    // S9+ (audit breadth): per-job slot-contention ATTRIBUTION — the
    // jobExecutionTimeline array of the reference's audit mart (reference
    // dags/queries/audit_log.sql:460-476): each job's average slot usage
    // fanned across its execution minutes, then per contested minute the
    // concurrent-job count, the total demand, and each job's share. Slot
    // usage is fixed-pointed to BIGINT milli-slots BEFORE the per-minute
    // sum, so the cross-job total is an exact integer (a float sum would
    // be partition-order-dependent); the only doubles are row-level.
    // Timeline rows are bounded jobs x 10 buckets — never event-sized.
    "s9_audit_slots" -> ((s, dir) => {
      val timeline = t(s, dir, "events")
        .withColumn("job_id", pmod(col("event_id"), lit(997L)))
        .withColumn("slot_ms",
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)") * lit(100L))
        .groupBy(col("job_id"))
        .agg(min(col("ts")).as("job_start"),
          sum(when(col("event_type") === "purchase",
            dec2(col("value") * 1000)).otherwise(lit(null)))
            .cast("double").as("runtime_ms"),
          sum(col("slot_ms")).as("slot_ms"))
        .filter(col("runtime_ms").isNotNull && col("runtime_ms") =!= 0 &&
          col("slot_ms").isNotNull)
        .select(col("job_id"),
          floor(lit(1000.0) * col("slot_ms") / col("runtime_ms"))
            .cast("long").as("slots_milli"),
          // tz-free minute index (ts is NTZ): whole days since a fixed
          // anchor * 1440 + minute-of-day — no session-timezone term
          (datediff(col("job_start").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long") * 1440L +
            hour(col("job_start")) * 60L + minute(col("job_start"))).as("m0"),
          least(ceil(col("runtime_ms") / lit(60000.0)).cast("long"), lit(10L))
            .as("mins"))
        .filter(col("mins") >= 1)
        .select(col("job_id"), col("slots_milli"), col("m0"),
          explode(sequence(lit(1L), col("mins"))).as("bk"))
        .select(col("job_id"), col("slots_milli"),
          (col("m0") + col("bk")).as("minute_idx"))
      val perMinute = Window.partitionBy("minute_idx")
      timeline
        .withColumn("n_jobs", count(lit(1)).over(perMinute))
        .withColumn("minute_total", sum(col("slots_milli")).over(perMinute))
        .select(col("minute_idx"), col("job_id"), col("slots_milli"),
          col("n_jobs"), col("minute_total"),
          // a minute whose every job floors to 0 milli-slots has no
          // demand to share: NULL, as in the oracle's NULLIF
          (col("slots_milli").cast("double") /
            nullif(col("minute_total"), lit(0L))).as("share"))
    }),

    // S9+ (audit breadth): the tableDataRead event leg — the reference's
    // ONE per-job ARRAY_AGG CTE (audit_log.sql:352-400: resource names
    // ordered, fields/categories, truncation flags, reasons, GROUP BY
    // jobId). Spark-first: one hash aggregate collecting the job's own
    // data-access rows (bounded by the job's event count — the
    // collect_set precedent), sort_array for the ORDER BY inside the
    // aggregate, then posexplode so the gate compares scalar rows; the
    // ordinal IS the array position, pinning element order exactly.
    "s9_audit_read" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("job_id", pmod(col("event_id"), lit(997L)))
        .withColumn("k",
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
        .groupBy("job_id")
        .agg(sort_array(collect_list(col("event_id"))).as("resources"),
          count(lit(1)).as("n_reads"),
          coalesce(max(col("k") > 50), lit(false)).as("fields_truncated"))
        .select(col("job_id"), col("n_reads"), col("fields_truncated"),
          posexplode(col("resources")))
        .select(col("job_id"), col("n_reads"), col("fields_truncated"),
          col("pos").cast("long").as("idx"), col("col").as("resource"))),

    // A5 (marts, beyond the reference): ROLLUP subtotal lattice — the
    // day x type activity mart with per-day and grand-total rows in one
    // map-side-combinable pass.
    "a5_rollup" -> ((s, dir) =>
      t(s, dir, "events")
        // grouping() resolves against grouping ATTRIBUTES, so the derived
        // day must be projected before the rollup, not aliased inside it
        .withColumn("day", to_date(col("ts")))
        .rollup(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          grouping(col("day")).as("g_day"),
          grouping(col("event_type")).as("g_type"))
        // subtotal rows get sentinels, keyed on grouping() — NOT on the
        // value being NULL, so a genuine NULL day/event_type in the data
        // stays distinguishable from a ROLLUP subtotal marker
        .select(
          when(col("g_day") === 1, to_date(lit("1900-01-01")))
            .otherwise(col("day")).as("day"),
          when(col("g_type") === 1, lit("ALL"))
            .otherwise(col("event_type")).as("event_type"),
          col("n"), col("value_sum"),
          col("g_day").cast("long").as("g_day"),
          col("g_type").cast("long").as("g_type"))),

    // A5 (marts): full CUBE lattice — every grouping-set combination of
    // (day, type) in one pass, subtotals keyed on grouping() sentinels
    // exactly like the ROLLUP mart.
    "a5_cube" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .cube(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          grouping(col("day")).as("g_day"),
          grouping(col("event_type")).as("g_type"))
        .select(
          when(col("g_day") === 1, to_date(lit("1900-01-01")))
            .otherwise(col("day")).as("day"),
          when(col("g_type") === 1, lit("ALL"))
            .otherwise(col("event_type")).as("event_type"),
          col("n"), col("value_sum"),
          col("g_day").cast("long").as("g_day"),
          col("g_type").cast("long").as("g_type"))),

    // A8: batch sessionization mart (gaps-and-islands) — the batch
    // formulation of the streaming sessionize drain: a new session opens
    // where the gap from the previous event exceeds 30 minutes.
    "a8_sessionize" -> ((s, dir) => {
      sessionized(t(s, dir, "events"))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          count(lit(1)).as("n_events"),
          sum(dec2(coalesce(col("value"), lit(0)))).cast("double").as("value_sum"))
        .drop("sid")
    }),

    // Session path mining: the top user journeys — each session's
    // time-ordered event-type sequence, counted across all sessions,
    // top 20 by frequency with a total tie order. The path string is an
    // ORDERED aggregation done portably: structs sorted by the unique
    // (ts, event_id) tuple then joined — the cross-engine-safe form of
    // string_agg(... ORDER BY), a known engine-parity trap.
    "a9_session_paths" -> ((s, dir) => {
      sessionized(t(s, dir, "events"))
        .groupBy(col("user_id"), col("sid"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            _.getField("event_type")), ">").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    }),

    // A5 (marts): trade_agg shape — per (month, asset) OHLCV over unit
    // prices, open/close picked by a unique (ts, order, line) tuple so ties
    // are deterministic. Dimension join broadcast; one map-side-combinable
    // aggregate.
    "a5_trade_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val ord = struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .withColumn("unit_price", try_divide(col("l_extendedprice"), col("l_quantity")))
        .groupBy(to_date(date_trunc("month", col("l_shipdate"))).as("month"), col("p_brand"))
        .agg(
          count(lit(1)).as("n_trades"),
          sum(dec2(col("l_quantity"))).cast("double").as("base_volume"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("counter_volume"),
          min_by(col("unit_price"), ord).as("open_price"),
          max(col("unit_price")).as("high_price"),
          min(col("unit_price")).as("low_price"),
          max_by(col("unit_price"), ord).as("close_price"))
    }),

    // A5 (marts): fee_stats shape — per-month fee distribution: exact
    // interpolated percentiles + extrema + decimal-disciplined average.
    "a5_fee_stats" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(
          count(lit(1)).as("n_fees"),
          round(expr("percentile(o_totalprice, 0.1)"), 6).as("fee_p10"),
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("fee_p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 6).as("fee_p95"),
          round(expr("percentile(o_totalprice, 0.99)"), 6).as("fee_p99"),
          max(col("o_totalprice")).as("fee_max"),
          (sum(dec2(col("o_totalprice"))).cast("double") / count(lit(1))).as("fee_avg"))),

    // S11: malformed-record quarantine — the middle ground between the
    // reference's FAILFAST (max_bad_records=0) and silent drops: every
    // 10th staged NDJSON line is corrupted, the permissive read routes
    // those to the quarantine leg (raw text kept for replay), and the
    // clean leg loads. Both legs are one scan.
    "s11_quarantine" -> ((s, dir) => {
      val stage = scratch("quar", dir)
      val lines = t(s, dir, "orders").select(
        when(col("o_orderkey") % 10 === 0,
          concat(lit("XX{\"o_orderkey\":"), col("o_orderkey"), lit("}")))
          .otherwise(concat(lit("{\"o_orderkey\":"), col("o_orderkey"), lit("}")))
          .as("value"))
      lines.write.mode("overwrite").text(stage)
      val schema = StructType(Seq(StructField("o_orderkey", LongType)))
      val split = graft.sources.Ndjson.readWithQuarantine(s, schema, stage)
      // drain both legs eagerly so the shared parse cache can be RELEASED
      // here — returned lazily it would stay pinned for the rest of the
      // gate session; the gate then reads the drained result back (the
      // K5-style roundtrip pattern)
      val res = scratch("quar_res", dir)
      split.good
        .agg(count(lit(1)).as("n_good"), sum(col("o_orderkey")).as("good_id_sum"))
        .crossJoin(split.quarantine.agg(count(lit(1)).as("n_bad")))
        .write.mode("overwrite").parquet(res)
      split.release()
      Parquet.read(s, res)
    }),

    // D11: snapshot diff — classify every key added/removed/changed/
    // unchanged between a table and its deterministically mutated next
    // version (the post-backfill audit). One full-outer key join,
    // typed null-safe column compares (never a stringified row hash).
    "d11_snapshot_diff" -> ((s, dir) => {
      val before = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val after = before.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .unionByName(before.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")))
      MergeOps.snapshotDiff(before, after, Seq("o_orderkey"))
    }),

    // S10: schema evolution on the lake — a v2 batch lands with a new
    // column, mergeSchema reconciles, old rows read NULL for it. The
    // write-append-read roundtrip is the gate (same read-back pattern as
    // the K5/K6 sink gates).
    "s10_schema_evolution" -> ((s, dir) => {
      val out = scratch("evo", dir)
      val o = t(s, dir, "orders")
      val v1 = o.select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") % 2 === 0)
      val v2 = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
        .filter(col("o_orderkey") % 2 =!= 0)
      v1.write.mode("overwrite").parquet(out)
      v2.write.mode("append").parquet(out)
      Parquet.read(s, Map("mergeSchema" -> "true"), out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("id_sum"))
    }),

    // A5 (marts, scale path): the same percentile mart over a DETERMINISTIC
    // 10% hash sample. Exact per-group percentiles hold the whole group's
    // values in one aggregation buffer — fine per month, hostile at 100 TB
    // when groups are huge; sampling by md5(o_orderkey) bounds that state
    // 10x while staying reproducible on any engine (percentile_approx-style
    // sketches can't cross-engine hash-match; a hash sample + exact
    // interpolation can, and its error is similarly bounded). n_sampled
    // reports the sample's own size so consumers can judge the estimate.
    "a5_fee_stats_sampled" -> ((s, dir) =>
      Sampling.deterministicSample(t(s, dir, "orders"), "o_orderkey", 10)
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(
          count(lit(1)).as("n_sampled"),
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("fee_p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 6).as("fee_p95"))),

    // A5 (marts): asset_stats shape — per-asset-class distinct-entity
    // counts and decimal-disciplined volumes over the fact table.
    "a5_asset_stats" -> ((s, dir) => {
      // Examined r11: the 3-way exact-distinct Expand (x4 row multiplier)
      // runs in the scan's 3-task layout, 4.2 s CPU at sf0.1. A spread of
      // the fact side was TRIED and measured SLOWER (stage walls 5.7 s ->
      // 10 s: the lineitem shuffle plus 32-way contention on the
      // decimal-heavy partial aggregate cost more than the fused 3-task
      // stage) — reverted, the qa_* precedent. The Expand itself stays:
      // its partial aggregate dedups map-side so the shuffle already
      // carries distinct (brand, key) pairs, and the decomposed
      // per-column-distinct rewrite re-scans lineitem 4x — worse at
      // 100 TB where the scan dominates.
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(
          countDistinct(col("l_partkey")).as("n_assets"),
          countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(dec2(col("l_quantity"))).cast("double").as("total_qty"),
          // decimal x decimal (exact, engine-independent) — a per-row
          // double product cast to DECIMAL would tie-break differently
          // between engines (HALF_UP vs HALF_EVEN) on >2-decimal products
          sum(dec2(col("l_extendedprice")) * (dec2(lit(1)) - dec2(col("l_discount"))))
            .cast("double").as("net_revenue"))
    }),

    // A5 (marts): network_stats shape — one row per day of global activity
    // counters (event count, active users, live types, value stats).
    "a5_network_stats" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_active_users"),
          countDistinct(col("event_type")).as("n_types"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          try_divide(sum(dec2(col("value"))).cast("double"), count(col("value")))
            .as("value_avg"),
          max(col("value")).as("value_max"),
          min(col("value")).as("value_min"))),

    // A5 (marts): asset_balance_agg shape — daily per-type value plus the
    // running cumulative balance (explicit rowsBetween frame; the daily
    // sums stay decimal until after the window so partial-agg order can't
    // perturb the floats).
    "a5_balance_running" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(dec2(col("value"))).as("dsum"), count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("event_type"), col("day"), col("n"),
        col("dsum").cast("double").as("day_value"),
        sum(col("dsum")).over(w).cast("double").as("cum_value"))
    }),

    // K5 through the gate: write -> copy -> read back -> aggregate; the
    // copy must be value-faithful, so the aggregate equals the direct one.
    "k5_copy_roundtrip" -> ((s, dir) => {
      val src = scratch("k5src", dir)
      val dst = scratch("k5dst", dir)
      val sub = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      graft.sinks.Sinks.truncateReplace(sub, src)
      graft.sinks.Sinks.copyTable(s, src, dst)
      Parquet.read(s, dst)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("price_sum"),
          sum(col("o_orderkey")).as("key_sum"))
    }),

    // D8 through the gate: sandbox seeded below a cutoff day, then the
    // day's increment appended (K1 partitioned append) — the read-back
    // aggregate must equal the direct <=-cutoff aggregate.
    "d8_daily_increment" -> ((s, dir) => {
      val sandbox = scratch("d8box", dir)
      val ev = t(s, dir, "events").withColumn("p_day", to_date(col("ts")))
      graft.sinks.Sinks.truncateReplace(
        ev.filter(col("p_day") < lit("2024-01-15").cast("date")), sandbox)
      // append exactly one day: rerunning the query overwrites the seed
      // first, so the increment lands exactly once per run
      graft.sinks.Sinks.partitionedAppend(
        Maintenance.dailyIncrement(ev, "ts", "2024-01-15")
          .withColumn("p_day", to_date(col("ts"))),
        sandbox, Seq.empty, clusterCols = Seq("event_type"))
      Parquet.read(s, sandbox)
        .groupBy(col("p_day").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          sum(col("event_id")).as("id_sum"))
    }),

    // K4 through the gate: the single-file JSON feed (the reference's TVL
    // feed) written, then read back through a DECLARED schema — the
    // round-trip must preserve every value exactly.
    "k4_json_feed" -> ((s, dir) => {
      val feed = scratch("k4feed", dir)
      val mart = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"))
      graft.sinks.Sinks.jsonExport(mart, feed)
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("value_sum", DoubleType)))
      s.read.schema(schema).option("mode", "FAILFAST").json(feed)
    }),

    // K6 through the gate: snapshot clone then read the VERSIONED path —
    // the clone must be value-faithful to the source at clone time.
    "k6_snapshot_roundtrip" -> ((s, dir) => {
      val src = scratch("k6src", dir)
      val root = scratch("k6snap", dir)
      val sub = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      graft.sinks.Sinks.truncateReplace(sub, src)
      val v1 = graft.sinks.Sinks.snapshot(s, src, root, "v1")
      Parquet.read(s, v1)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("c_acctbal"))).cast("double").as("bal_sum"),
          sum(col("c_custkey")).as("key_sum"))
    }),

    // K6 as METADATA-ONLY time travel: three commits build version
    // history (overwrite, append, destructive overwrite), then a clone
    // of the PRE-DESTRUCTION version materializes from manifest pointers
    // alone — zero data bytes copied — and must read back exactly the
    // v1 live set. The reference's staging-refresh CLONE FOR SYSTEM_TIME
    // semantics without a table-format dependency.
    "k6_timetravel" -> ((s, dir) => {
      val root = scratch("k6tt", dir)
      val cloneRoot = scratch("k6ttclone", dir)
      cleanDir(s, root); cleanDir(s, cloneRoot)
      val c = t(s, dir, "customer")
      graft.sinks.VersionedTable.commit(
        c.filter(col("c_custkey") % 3 === 0), root, overwrite = true)
      val v1 = graft.sinks.VersionedTable.commit(
        c.filter(col("c_custkey") % 3 === 1), root, overwrite = false)
      graft.sinks.VersionedTable.commit(
        c.filter(col("c_custkey") % 3 === 2), root, overwrite = true)
      graft.sinks.VersionedTable.cloneAt(s, root, v1, cloneRoot)
      graft.sinks.VersionedTable.read(s, cloneRoot)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("c_acctbal"))).cast("double").as("bal_sum"),
          sum(col("c_custkey")).as("key_sum"))
    }),

    // K6+ OPTIMIZE through the gate: many small streaming-style commits,
    // then compaction+clustering as a metadata-only commit, then vacuum —
    // and the read-back must still be value-identical to the plain batch
    // derivation. Proves the maintenance job rewrites bytes without ever
    // changing the table.
    "k6_optimize" -> ((s, dir) => {
      val root = scratch("k6opt", dir)
      cleanDir(s, root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      // 5 appends sliced by event_id — the small-file shape a 10-minute
      // ingest cadence accretes
      (0 until 5).foreach { i =>
        graft.sinks.VersionedTable.commitBatch(
          ev.filter(pmod(col("event_id"), lit(5)) === i).repartition(3),
          root, overwrite = false, txnId = s"slice-$i")
      }
      graft.sinks.VersionedTable.optimize(s, root, targetFiles = 2,
        clusterBy = Seq("event_type"))
      graft.sinks.VersionedTable.vacuum(s, root, keepLast = 1)
      graft.sinks.VersionedTable.read(s, root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          sum(col("event_id")).as("id_sum"))
    }),

    // K6+ DATASET staging refresh through the gate: the reference's dbt
    // staging-refresh DAG — enumerate every table in a source dataset,
    // skip backup-named ones, metadata-only-clone each under a suffix,
    // re-register views — run over a three-table dataset plus a _bkp_
    // decoy and one live + one missing view. The outcome report unions
    // with a per-clone read-back count, proving each staging clone
    // carries the source rows without a byte copied (the file-identity
    // audit lives in VersionedTableSpec).
    "k6_dataset_refresh" -> ((s, dir) => {
      val src = scratch("k6ds", dir)
      val dst = scratch("k6dsstg", dir)
      cleanDir(s, src); cleanDir(s, dst)
      val c = t(s, dir, "customer")
      graft.sinks.VersionedTable.commit(
        c.filter(col("c_custkey") % 3 === 0), s"$src/cust_a", overwrite = true)
      graft.sinks.VersionedTable.commit(
        c.filter(col("c_custkey") % 3 === 1), s"$src/cust_b", overwrite = true)
      graft.sinks.VersionedTable.commit(
        t(s, dir, "orders").filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        s"$src/ord_small", overwrite = true)
      // the reference's `_.*bkp_[0-9]{8}` exclusion must skip this one
      graft.sinks.VersionedTable.commit(
        c.limit(5), s"$src/cust_a_bkp_20240101", overwrite = true)
      c.filter(col("c_custkey") % 3 === 2)
        .createOrReplaceTempView("k6_refresh_view")
      val outcome = graft.sinks.VersionedTable.datasetRefresh(
        s, src, dst, suffix = "_staging",
        views = Seq("k6_refresh_view", "k6_refresh_missing_view"))
      // result-sized collect (one row per dataset object, the DelIns
      // bounded-list pattern) to read each staging clone back
      val rows = outcome.collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      import s.implicits._
      val counted = rows.map { case (kind, name) =>
        val n = if (kind == "cloned_table")
          Some(graft.sinks.VersionedTable.read(s, s"$dst/${name}_staging").count())
        else None
        (kind, name, n)
      }
      counted.toDF("kind", "name", "n_rows")
    }),

    // S12/backfill through the gate: the reference's backfill controller
    // (backfill_controller.py) slices an arbitrary range into fixed-size
    // sub-windows and replays each through the SAME idempotent del-ins
    // load as live ingest. The gate chunks January into three 11-day
    // windows, loads each as its own batch partition-set, and RETRIES
    // the middle chunk — dynamic partition overwrite keyed on the batch
    // makes the retry byte-idempotent, so the read-back must equal the
    // plain one-shot derivation.
    "s12_backfill" -> ((s, dir) => {
      import java.time.{Duration, Instant}
      val wh = scratch("s12wh", dir)
      cleanDir(s, wh)
      val ev = t(s, dir, "events")
      val warehouse = new DelIns.Warehouse(s, wh, Seq("p_day", "batch_id"))
      val window = graft.core.BatchWindow(
        Instant.parse("2024-01-01T00:00:00Z"), Instant.parse("2024-02-01T00:00:00Z"))
      def naive(i: Instant): String =
        java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))
      window.chunks(Duration.ofDays(11)).zipWithIndex.foreach { case (w, i) =>
        def load(): Unit = warehouse.loadBatch(
          ev.filter(col("ts") >= lit(naive(w.start)).cast("timestamp") &&
              col("ts") < lit(naive(w.end)).cast("timestamp"))
            .withColumn("p_day", to_date(col("ts")))
            .withColumn("batch_id", lit(s"bf-$i")))
        load()
        if (i == 1) load() // retried chunk: same batch, same partitions, no-op
      }
      Parquet.read(s, wh)
        .groupBy(col("p_day"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          sum(col("event_id")).as("id_sum"))
    }),

    // D13 (beyond the reference): incremental SCD2 maintenance — the
    // dbt-snapshot fold. Seed the interval table from the pre-cut log
    // (stored), then merge the post-cut batch: touched keys' OPEN rows
    // close, new intervals append, closed history and untouched keys
    // never rewind. The oracle is the FULL recompute over the whole log —
    // only a correct incremental fold matches it.
    "d13_scd2_merge" -> ((s, dir) => {
      val store = scratch("d13scd2", dir)
      cleanDir(s, store)
      val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"), col("ts"))
      val cut = lit("2024-01-24 00:00:00").cast("timestamp")
      AsOfJoin.scd2Intervals(ev.filter(col("ts") < cut),
          Seq("user_id"), "ts", Seq("event_id"))
        .write.mode("overwrite").parquet(store)
      MergeOps.scd2Merge(Parquet.read(s, store), ev.filter(col("ts") >= cut),
          Seq("user_id"), "ts", Seq("event_id"))
        .select("user_id", "event_id", "value", "valid_from", "valid_to")
    }),

    // D12 (beyond the reference): change data feed PRODUCED from the
    // versioned table's file-set diff — inserts from files added since
    // the base version, deletes from files dropped. Seed (even keys) →
    // append (÷3 keys) → destructive overwrite (÷5 keys); the v0→v2 feed
    // must state exactly the net inserts and deletes, reading only
    // changed files.
    "d12_change_feed" -> ((s, dir) => {
      val root = scratch("d12cdc", dir)
      cleanDir(s, root)
      val c = t(s, dir, "customer")
      val v0 = graft.sinks.VersionedTable.commit(
        c.filter(col("c_custkey") % 2 === 0), root, overwrite = true)
      graft.sinks.VersionedTable.commit(
        c.filter(col("c_custkey") % 3 === 0 && col("c_custkey") % 2 =!= 0),
        root, overwrite = false)
      val v2 = graft.sinks.VersionedTable.commit(
        c.filter(col("c_custkey") % 5 === 0), root, overwrite = true)
      graft.sinks.VersionedTable.changesBetween(s, root, v0, v2)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("c_acctbal"))).cast("double").as("bal_sum"),
          sum(col("c_custkey")).as("key_sum"))
    }),

    // K7+D5 through the gate: sandbox CTAS (months window includes the
    // whole fixture regardless of wall-clock — the determinism lives in
    // the retention cutoff) then partition expiry drops the old days as
    // DIRECTORY DELETES, never a rewrite; the read-back sees only the
    // surviving partitions.
    "k7_sandbox_retention" -> ((s, dir) => {
      val box = scratch("k7box", dir)
      graft.sinks.Sinks.sandboxCtas(t(s, dir, "events"), box, "ts", 600)
      new DelIns.Warehouse(s, box, Seq("p_day"))
        .expirePartitions("2024-01-10", "p_day")
      Parquet.read(s, box)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          sum(col("event_id")).as("id_sum"))
    }),

    // K3 in the reference's ACTUAL lake format: the ordered export
    // written as Avro CONTAINER FILES (avro-core based sink — the image
    // ships no spark-avro connector), then read back through the
    // declared schema. The round-trip must preserve every value
    // bit-exactly, NTZ timestamps included (local-timestamp-micros).
    "k3_avro_export" -> ((s, dir) => {
      val out = scratch("k3avro", dir)
      val sub = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      graft.sinks.AvroIO.write(sub.sortWithinPartitions(col("o_orderdate")), out)
      graft.sinks.AvroIO.read(s, out, sub.schema)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("price_sum"),
          sum(col("o_orderkey")).as("key_sum"),
          max(col("o_orderdate")).as("max_date"))
    }),

    // K1 through the gate: TWO partitioned+clustered appends into one
    // table (the month-partitioned, custkey-clustered layout of the
    // reference's history tables); the read-back must equal the union of
    // both appends — append semantics, partition layout, and write-time
    // clustering all survive the storage round-trip.
    "k1_partitioned_append" -> ((s, dir) => {
      val tbl = scratch("k1tbl", dir)
      cleanDir(s, tbl)
      val o = t(s, dir, "orders")
        .withColumn("p_month", date_format(col("o_orderdate"), "yyyy-MM"))
      graft.sinks.Sinks.partitionedAppend(
        o.filter(col("o_orderkey") % 2 === 0), tbl,
        Seq("p_month"), clusterCols = Seq("o_custkey"))
      graft.sinks.Sinks.partitionedAppend(
        o.filter(col("o_orderkey") % 2 === 1), tbl,
        Seq("p_month"), clusterCols = Seq("o_custkey"))
      Parquet.read(s, tbl)
        .groupBy(col("p_month"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("price_sum"),
          sum(col("o_orderkey")).as("key_sum"))
    }),

    // K2 through the gate: seed the table with one population, then
    // truncate-replace (WRITE_TRUNCATE) with another — the read-back must
    // see ONLY the replacement, proving the truncate leg actually dropped
    // the seed rather than appending beside it.
    "k2_truncate_replace" -> ((s, dir) => {
      val tbl = scratch("k2tbl", dir)
      val c = t(s, dir, "customer")
      graft.sinks.Sinks.truncateReplace(c.filter(col("c_custkey") % 2 === 0), tbl)
      graft.sinks.Sinks.truncateReplace(c.filter(col("c_custkey") % 7 === 0), tbl)
      Parquet.read(s, tbl)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("c_acctbal"))).cast("double").as("bal_sum"),
          sum(col("c_custkey")).as("key_sum"))
    }),

    // K8 through the gate: a view over a join chain, queried through the
    // SQL surface — the view must be a faithful relational alias, not a
    // materialized copy that could go stale.
    "k8_view" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("k8_orders")
      t(s, dir, "customer").createOrReplaceTempView("k8_customer")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW k8_cust_orders AS
               SELECT c.c_mktsegment, o.o_totalprice, o.o_orderkey
               FROM k8_orders o JOIN k8_customer c ON o.o_custkey = c.c_custkey
               WHERE o.o_orderstatus = 'F'""")
      s.sql("""SELECT c_mktsegment, COUNT(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
                 SUM(o_orderkey) AS key_sum
               FROM k8_cust_orders GROUP BY c_mktsegment""")
    }),

    // D6 through the gate: seed -> truncate (schema-preserving, in place)
    // -> reload a disjoint population. The read-back must equal ONLY the
    // reload: any seed row surviving the truncate, or a schema lost by
    // it, breaks the oracle.
    "d6_truncate_reset" -> ((s, dir) => {
      val tbl = scratch("d6tbl", dir)
      val sup = t(s, dir, "supplier")
      graft.sinks.Sinks.truncateReplace(sup.filter(col("s_suppkey") % 2 === 0), tbl)
      Maintenance.truncate(s, tbl)
      graft.sinks.Sinks.partitionedAppend(
        sup.filter(col("s_suppkey") % 2 === 1), tbl, Seq.empty)
      Parquet.read(s, tbl)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("s_acctbal"))).cast("double").as("bal_sum"),
          sum(col("s_suppkey")).as("key_sum"))
    }),

    // D7 through the gate: two completed batches append their audit rows
    // to the run-stats ledger; the read-back (minus the wall-clock insert
    // stamp) must equal the declared lineage — the run ledger that makes
    // gap/overlap reconciliation possible.
    "d7_run_stats" -> ((s, dir) => {
      val ledger = scratch("d7stats", dir)
      cleanDir(s, ledger)
      val w1 = graft.core.BatchWindow(
        java.time.Instant.parse("2024-01-01T00:00:00Z"),
        java.time.Instant.parse("2024-01-01T00:10:00Z"))
      val w2 = graft.core.BatchWindow(
        java.time.Instant.parse("2024-01-01T00:10:00Z"),
        java.time.Instant.parse("2024-01-01T00:20:00Z"))
      Maintenance.appendRunStats(s, ledger,
        graft.core.BatchId("run1", "ledgers"), w1, 100L, 200L, "ledgers")
      Maintenance.appendRunStats(s, ledger,
        graft.core.BatchId("run2", "ledgers"), w2, 200L, 300L, "ledgers")
      Parquet.read(s, ledger)
        .select(col("batch_id"), col("batch_run_date"),
          col("start_ledger"), col("end_ledger"), col("table_name"))
    }),

    // S5+S6 through the gate: two partner CSV drops land in the inbox;
    // the sensor picks the NEWEST by (mtime, name), the declared-schema
    // CSV load truncate-replaces the target, and the read-back must equal
    // the second drop — proving sensor choice, header skip, schema
    // enforcement, and the text round-trip of every value.
    "s5_partner_csv" -> ((s, dir) => {
      val stage = scratch("s5stage", dir)
      val inbox = scratch("s5inbox", dir)
      val target = scratch("s5tgt", dir)
      val pick = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      def drop(rem: Int, name: String): Unit = deliverCsv(s,
        t(s, dir, "orders").filter(col("o_orderkey") % 100 === rem)
          .select(pick.map(col): _*), s"$stage/$name", inbox, name)
      drop(0, "partner_001.csv") // stale version
      drop(1, "partner_002.csv") // latest — the one the sensor must load
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      graft.sources.Csv.loadLatest(s, schema, inbox, "partner_", target)
      Parquet.read(s, target)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("price_sum"),
          sum(col("o_custkey")).as("cust_sum"))
    }),

    // S7 through the gate: the external-API pull stage against a local
    // HTTP fixture serving the nation dim as NDJSON (derived from the
    // same parquet the oracle reads). Pull runs TWICE — the retried-run
    // contract: atomic rename means the rerun lands byte-identical
    // output, never a half-written batch — batch lineage is stamped per
    // record (the reference's -u metadata flag), and the landed file
    // goes through the ordinary S4 FAILFAST load.
    "s7_api_pull" -> ((s, dir) => {
      val outRoot = scratch("s7pull", dir)
      val rows = t(s, dir, "nation").orderBy("n_nationkey").collect()
      val payload = rows.map(r =>
        s"""{"n_nationkey":${r.getInt(0)},"n_name":"${r.getString(1)}",""" +
          s""""n_regionkey":${r.getInt(2)}}""").mkString("\n")
      val meta = Some(graft.sources.ApiPull.BatchMeta(
        "batch-1", "2024-01-01T00:00:00", "2024-01-01T00:05:00Z"))
      val landed = graft.sources.ApiPull.withLocalEndpoint(payload) { url =>
        graft.sources.ApiPull.pullNdjson(url, outRoot, "run_001", "nation", meta)
        // idempotent rerun over the same path
        graft.sources.ApiPull.pullNdjson(url, outRoot, "run_001", "nation", meta)
      }
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType),
        StructField("n_regionkey", LongType),
        StructField("batch_id", StringType),
        StructField("batch_run_date", StringType),
        StructField("batch_insert_ts", StringType)))
      graft.sources.Ndjson.read(s, schema, landed)
    }),

    // S2 interior through the gate: base64 XDR field extraction with the
    // NATIVE graft_xdr_* expressions (RFC 4506 big-endian layout — the
    // decode the reference delegates to its Go export binary, reference
    // dags/stellar_etl_airflow/build_export_task.py:94-161). The fixture
    // is a pseudo ledger header built per order row with PLAIN Spark
    // byte plumbing (hex/unhex/base64): version u32 @0, prev-hash
    // opaque[32] @4, close-time u64 @36, base-fee u32 @44. The oracle is
    // the fixture LAW — it states each field directly from the row key,
    // so the native extraction must invert the encode bit-for-bit (the
    // image-decode pixel-law pattern).
    "s2_xdr_decode" -> ((s, dir) => {
      val xdr = concat(
        u32(pmod(k, lit(100L))),
        unhex(concat(md5(ks), md5(concat(ks, lit("x"))))),
        i64(lit(1700000000L) + k),
        u32(lit(100L) + pmod(k, lit(7L))))
      rows(s, dir, "orders", "o_orderkey", 37)(xdr)
        .select(col("k"),
          call_function("graft_xdr_u32", col("bin"), lit(0))
            .as("ledger_version"),
          lower(hex(call_function("graft_xdr_bytes", col("bin"),
            lit(4), lit(32)))).as("prev_hash"),
          call_function("graft_xdr_u64", col("bin"), lit(36))
            .as("close_time"),
          call_function("graft_xdr_u32", col("bin"), lit(44))
            .as("base_fee"))
    }),

    // S3 interior through the gate: strkey (SEP-23) encode/decode with
    // the NATIVE expressions — base32 over version||payload||CRC16-XModem
    // (little-endian checksum), the address format every reference table
    // stores. Per customer row: a 32-byte payload encodes to a 56-char
    // G-address (version byte 48), decodes back to the same payload, and
    // a one-char tamper of the address is REJECTED by the checksum
    // (decode -> null) — the quarantine posture. The oracle states the
    // fixture law directly (DuckDB has no base32); the independent
    // codec laws (known CRC vectors, reimplemented base32, every
    // single-char substitution rejected) are spec-pinned in
    // XdrStrkeySpec.
    "s3_strkey_decode" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey").cast("long").as("k"))
        .withColumn("payload",
          unhex(concat(md5(ks), md5(concat(ks, lit("y"))))))
        .withColumn("addr",
          call_function("graft_strkey_encode", col("payload"), lit(48)))
        .select(col("k"),
          lower(hex(col("payload"))).as("payload_hex"),
          length(col("addr")).cast("long").as("addr_len"),
          lower(hex(call_function("graft_strkey_decode", col("addr"))))
            .as("decoded_hex"),
          call_function("graft_strkey_decode",
            concat(substring(col("addr"), 1, 55),
              when(substring(col("addr"), 56, 1) === "A", lit("B"))
                .otherwise(lit("A")))).isNull.as("tamper_rejected"))
    }),

    // S2 WHOLE-RECORD decode through the gate: a full Stellar
    // LedgerHeader (RFC 4506, stellar-core Stellar-ledger.x) decoded to
    // every history_ledgers scalar/hash column by the native
    // graft_xdr_ledger_header expression — the composition of the field
    // primitives into the record the reference's Go binary exports
    // (build_export_task.py:94-161). The fixture is built per order row
    // with PLAIN Spark byte plumbing and deliberately exercises the
    // VARIABLE-length interior literal offsets cannot express: an
    // upgrades<6> vector of k%3 elements with k-dependent lengths and
    // XDR zero-padding, a BASIC/SIGNED scp ext union (signed rows carry
    // a NodeID + variable-length signature), and the v1 header ext with
    // flags on k%5 rows. The oracle is the fixture LAW — every output
    // field restated directly from the row key — so the decode must
    // invert the encode across all interior-shape combinations; a
    // truncated header must quarantine to NULL.
    "s2_ledger_header" -> ((s, dir) => {
      def h32(a: String, b: String) = concat(h16(a), h16(b)) // a Hash
      val nU = pmod(k, lit(3L))
      def upgrade(i: Int): Column =
        when(nU > i, varStr(h16(s"g$i"), pmod(k + lit(i.toLong), lit(4L)) + lit(1L)))
          .otherwise(empty)
      val scpExt = when(pmod(k, lit(2L)) === 1L,
        concat(u32(lit(1L)), u32(lit(0L)), h32("n", "o"),
          varStr(concat(h16("p"), h16("q"), h16("r2")),
            lit(37L) + pmod(k, lit(5L)))))
        .otherwise(u32(lit(0L)))
      val hdrExt = when(pmod(k, lit(5L)) === 0L,
        concat(u32(lit(1L)), u32(pmod(k, lit(8L))), u32(lit(0L))))
        .otherwise(u32(lit(0L)))
      val xdr = concat(
        u32(pmod(k, lit(100L))),                       // ledgerVersion
        unhex(concat(md5(ks), md5(concat(ks, lit("x"))))), // prev hash
        h32("t", "u"),                                 // scp.txSetHash
        i64(lit(1700000000L) + k),                     // scp.closeTime
        u32(nU), upgrade(0), upgrade(1),               // scp.upgrades<6>
        scpExt,                                        // scp.ext union
        h32("r", "s"),                                 // txSetResultHash
        h32("b", "c"),                                 // bucketListHash
        u32(k),                                        // ledgerSeq
        i64(lit(1000000000000L) + k),                  // totalCoins
        i64(lit(7000000L) + k),                        // feePool
        u32(pmod(k, lit(11L))),                        // inflationSeq
        i64(lit(900000000L) + k),                      // idPool
        u32(lit(100L) + pmod(k, lit(7L))),             // baseFee
        u32(lit(5000000L) + pmod(k, lit(13L))),        // baseReserve
        u32(lit(1000L) + pmod(k, lit(50L))),           // maxTxSetSize
        concat(h16("s1"), h16("s2"), h16("s3"), h16("s4"),
          h16("s5"), h16("s6"), h16("s7"), h16("s8")), // skipList[4]
        hdrExt)                                        // header ext
      rows(s, dir, "orders", "o_orderkey", 41)(xdr)
        .withColumn("h", call_function("graft_xdr_ledger_header", col("bin")))
        .select(col("k"),
          col("h.ledger_version").as("ledger_version"),
          lower(hex(col("h.previous_ledger_hash"))).as("prev_hash"),
          lower(hex(col("h.tx_set_hash"))).as("tx_set_hash"),
          col("h.close_time").as("close_time"),
          col("h.upgrade_count").as("upgrade_count"),
          col("h.signed").as("signed"),
          lower(hex(col("h.tx_set_result_hash"))).as("result_hash"),
          lower(hex(col("h.bucket_list_hash"))).as("bucket_hash"),
          col("h.ledger_seq").as("ledger_seq"),
          col("h.total_coins").as("total_coins"),
          col("h.fee_pool").as("fee_pool"),
          col("h.inflation_seq").as("inflation_seq"),
          col("h.id_pool").as("id_pool"),
          col("h.base_fee").as("base_fee"),
          col("h.base_reserve").as("base_reserve"),
          col("h.max_tx_set_size").as("max_tx_set_size"),
          col("h.flags").as("flags"),
          call_function("graft_xdr_ledger_header", col("bin").substr(1, 60))
            .isNull.as("truncated_rejected"))
    }),

    // S3 WHOLE-RECORD decode through the gate: a full AccountEntry
    // (Stellar-ledger-entries.x) decoded by graft_xdr_account_entry —
    // the record that exercises the XDR-cursor x STRKEY composition:
    // raw ed25519 PublicKeys surface as checksum-carrying G-addresses,
    // the spelling the reference's accounts table stores. The fixture
    // varies every interior shape: optional inflation destination
    // (k%3), 0..3 signers (k%4), 0..12-byte home domain with XDR
    // padding (k%13), v0/v1 liabilities ext (k%2). The oracle restates
    // the law; address payloads verify through the independent
    // strkey_decode round-trip (DuckDB has no base32).
    "s3_account_entry" -> ((s, dir) =>
      accountEntryFixture(s, dir)
        .withColumn("h", call_function("graft_xdr_account_entry", col("bin")))
        .select(col("k"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.account_id")))).as("account_payload_hex"),
          (substring(col("h.account_id"), 1, 1) === "G").as("g_prefix"),
          col("h.balance").as("balance"),
          col("h.sequence_number").as("sequence_number"),
          col("h.num_subentries").as("num_subentries"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.inflation_destination")))).as("inflation_payload_hex"),
          col("h.flags").as("flags"),
          col("h.home_domain").as("home_domain"),
          col("h.master_weight").as("master_weight"),
          col("h.threshold_low").as("threshold_low"),
          col("h.threshold_med").as("threshold_med"),
          col("h.threshold_high").as("threshold_high"),
          col("h.num_signers").as("num_signers"),
          col("h.buying_liabilities").as("buying_liabilities"),
          col("h.selling_liabilities").as("selling_liabilities"),
          col("h.num_sponsored").as("num_sponsored"),
          col("h.num_sponsoring").as("num_sponsoring"),
          col("h.seq_ledger").as("seq_ledger"),
          col("h.seq_time").as("seq_time"),
          call_function("graft_xdr_account_entry", col("bin").substr(1, 40))
            .isNull.as("truncated_rejected"))),

    // The reference's account_signers TABLE: the signers vector of each
    // AccountEntry exploded to one row per signer, the key spelled as
    // its type-correct SEP-23 strkey (ed25519 'G', preAuthTx 'T', hashX
    // 'X') — strkey_decode strips whichever version byte, so the oracle
    // verifies the raw key payload directly. Outer explode + null
    // filter: same decode-once posture as the tx fan-out (zero-signer
    // accounts drop; the decode never re-substitutes into a filter).
    "s3_account_signers" -> ((s, dir) =>
      accountEntryFixture(s, dir)
        .withColumn("h", call_function("graft_xdr_account_entry", col("bin")))
        .select(col("k"),
          posexplode_outer(col("h.signers")).as(Seq("i", "sg")))
        .filter(col("i").isNotNull)
        .select(col("k"), col("i").cast("long").as("i"),
          lower(hex(call_function("graft_strkey_decode",
            col("sg.key")))).as("key_payload_hex"),
          col("sg.key_type").as("key_type"),
          col("sg.weight").as("weight"))),

    // S2 TRANSACTION fan-out through the gate: a TransactionV1Envelope
    // decoded by graft_xdr_tx_envelope and EXPLODED to per-operation
    // rows — the history_transactions -> history_operations transform
    // the reference's Go binary performs (build_export_task.py:94-161).
    // The fixture varies every interior shape: plain vs muxed source
    // (k%4), time-bounds present (k%2), memo none/text/id (k%3), 1..3
    // operations alternating CREATE_ACCOUNT/PAYMENT with native vs
    // alphanum4 assets, optional per-op source, 0..2 variable-length
    // signatures. The oracle restates the per-op law over a lateral
    // range; addresses verify through the strkey round-trip.
    "s2_tx_operations" -> ((s, dir) =>
      txOpsProject(txEnvelopeFixture(s, dir))),

    // The EXTENDED operation family through the gate: one op per
    // envelope, arm selected by k%9 — both PATH_PAYMENT regimes (path
    // vector rendered per element), all three offer variants,
    // SET_OPTIONS' nine optionals, CHANGE_TRUST (incl. pool share), and
    // both LIQUIDITY_POOL ops — flattened to the wide per-type nullable
    // projection the reference's history_operations.details RECORD
    // carries. Same decode-once posture as the tx fan-out (outer
    // generate + null filter). The oracle restates every column's law
    // from the row key per arm.
    "s2_tx_ops_ext" -> ((s, dir) =>
      txOpRows(txEnvelopeExtFixture(s, dir))
        .select(col("k"),
          col("op.op_type").as("op_type"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.destination")))).as("dest_payload_hex"),
          col("op.asset_type").as("asset_type"),
          col("op.asset_code").as("asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.asset_issuer")))).as("asset_issuer_payload_hex"),
          col("op.amount").as("amount"),
          col("op.source_asset_type").as("source_asset_type"),
          col("op.source_asset_code").as("source_asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.source_asset_issuer"))))
            .as("source_asset_issuer_payload_hex"),
          col("op.source_max").as("source_max"),
          col("op.source_amount").as("source_amount"),
          col("op.dest_min").as("dest_min"),
          when(col("op.path").isNotNull, size(col("op.path")).cast("long"))
            .as("path_count"),
          concat_ws("|", transform(col("op.path"), x =>
            concat_ws(":", x.getField("asset_type").cast("string"),
              coalesce(x.getField("asset_code"), lit("")),
              coalesce(lower(hex(call_function("graft_strkey_decode",
                x.getField("asset_issuer")))), lit("")))))
            .as("path_rendered"),
          col("op.selling_asset_type").as("selling_asset_type"),
          col("op.selling_asset_code").as("selling_asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.selling_asset_issuer")))).as("selling_issuer_payload_hex"),
          col("op.buying_asset_type").as("buying_asset_type"),
          col("op.buying_asset_code").as("buying_asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.buying_asset_issuer")))).as("buying_issuer_payload_hex"),
          col("op.offer_id").as("offer_id"),
          col("op.price_n").as("price_n"),
          col("op.price_d").as("price_d"),
          col("op.trust_limit").as("trust_limit"),
          col("op.lp_fee").as("lp_fee"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.inflation_dest")))).as("inflation_payload_hex"),
          col("op.clear_flags").as("clear_flags"),
          col("op.set_flags").as("set_flags"),
          col("op.master_weight").as("master_weight"),
          col("op.low_threshold").as("low_threshold"),
          col("op.med_threshold").as("med_threshold"),
          col("op.high_threshold").as("high_threshold"),
          col("op.home_domain").as("home_domain"),
          substring(col("op.signer_key"), 1, 1).as("signer_prefix"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.signer_key")))).as("signer_payload_hex"),
          col("op.signer_weight").as("signer_weight"),
          col("op.liquidity_pool_id").as("liquidity_pool_id"),
          col("op.max_amount_a").as("max_amount_a"),
          col("op.max_amount_b").as("max_amount_b"),
          col("op.min_amount_a").as("min_amount_a"),
          col("op.min_amount_b").as("min_amount_b"),
          col("op.min_price_n").as("min_price_n"),
          col("op.min_price_d").as("min_price_d"),
          col("op.max_price_n").as("max_price_n"),
          col("op.max_price_d").as("max_price_d"))),

    // The wave-2 operation family through the gate — with this the op
    // switch covers 26 of the 27 types (INVOKE_HOST_FUNCTION is the one
    // documented boundary): ALLOW_TRUST, ACCOUNT_MERGE, INFLATION,
    // MANAGE_DATA, BUMP_SEQUENCE, the claimable-balance trio,
    // sponsorship begin/end/revoke (the ledgerKey arm embedding the
    // full LedgerKey decode), CLAWBACK, SET_TRUST_LINE_FLAGS, and the
    // footprint ops. One op per envelope, arm by k%15.
    "s2_tx_ops_ext2" -> ((s, dir) => {
      val trustor = concat(u32(lit(0L)), h16("d"), h16("e"))
      val m = pmod(k, lit(15L))
      val allowTrust = concat(u32(lit(7L)), trustor,
        when(pmod(k, lit(2L)) === 0L, concat(u32(lit(1L)),
          substring(md5(concat(ks, lit("ac"))), 1, 3).cast("binary"),
          unhex(lit("00"))))
          .otherwise(concat(u32(lit(2L)),
            substring(md5(concat(ks, lit("ac"))), 1, 10).cast("binary"),
            unhex(lit("0000")))),
        u32(pmod(k, lit(3L))))
      val manageData = concat(u32(lit(10L)),
        varStr(substring(md5(concat(ks, lit("dn"))), 1, 12), pmod(k, lit(13L))),
        when(pmod(k, lit(2L)) === 1L, concat(u32(lit(1L)),
          varStr(substring(md5(concat(ks, lit("dv"))), 1, 9), pmod(k, lit(9L)))))
          .otherwise(u32(lit(0L))))
      val cbAsset = when(pmod(k, lit(2L)) === 0L, u32(lit(0L)))
        .otherwise(concat(u32(lit(1L)),
          substring(md5(concat(ks, lit("cb"))), 1, 3).cast("binary"),
          unhex(lit("00")), u32(lit(0L)), h16("cbi"), h16("cbj")))
      def claimant(a: String, b: String): Column =
        concat(u32(lit(0L)), u32(lit(0L)), h16(a), h16(b), u32(lit(0L)))
      val createCb = concat(u32(lit(14L)), cbAsset, i64(lit(70000000L) + k),
        u32(lit(1L) + pmod(k, lit(2L))), claimant("c0", "c1"),
        when(pmod(k, lit(2L)) === 1L, claimant("c2", "c3"))
          .otherwise(empty))
      val balanceId = concat(u32(lit(0L)), h16("bi"), h16("bj"))
      val revoke = when(pmod(k, lit(2L)) === 0L,
        concat(u32(lit(18L)), u32(lit(0L)), // LedgerKey arm: an OFFER key
          u32(lit(2L)), u32(lit(0L)), key32, i64(lit(4000000L) + k)))
        .otherwise(concat(u32(lit(18L)), u32(lit(1L)), // signer arm
          u32(lit(0L)), key32,
          u32(pmod(k, lit(3L))), h16("rk"), h16("rl")))
      val clawback = concat(u32(lit(19L)),
        u32(lit(1L)), substring(md5(concat(ks, lit("cw"))), 1, 3).cast("binary"),
        unhex(lit("00")), u32(lit(0L)), h16("cwi"), h16("cwj"),
        u32(lit(0L)), h16("fa"), h16("fb"), i64(lit(80000000L) + k))
      val setTlFlags = concat(u32(lit(21L)), trustor, u32(lit(0L)),
        u32(pmod(k, lit(8L))), u32(pmod(k, lit(16L))))
      val opBody = when(m === 0L, allowTrust)
        .when(m === 1L, concat(u32(lit(8L)), u32(lit(0L)), h16("d"), h16("e")))
        .when(m === 2L, u32(lit(9L)))
        .when(m === 3L, manageData)
        .when(m === 4L, concat(u32(lit(11L)), i64(lit(3000000000L) + k)))
        .when(m === 5L, createCb)
        .when(m === 6L, concat(u32(lit(15L)), balanceId))
        .when(m === 7L, concat(u32(lit(16L)), u32(lit(0L)), h16("sp"), h16("sq")))
        .when(m === 8L, u32(lit(17L)))
        .when(m === 9L, revoke)
        .when(m === 10L, clawback)
        .when(m === 11L, concat(u32(lit(20L)), balanceId))
        .when(m === 12L, setTlFlags)
        .when(m === 13L, concat(u32(lit(25L)), u32(lit(0L)),
          u32(lit(100000L) + pmod(k, lit(50000L)))))
        .otherwise(concat(u32(lit(26L)), u32(lit(0L))))
      val xdr = concat(
        u32(lit(2L)), u32(lit(0L)), key32,
        u32(lit(100L)), i64(k * lit(4294967296L) + lit(1L)),
        u32(lit(0L)), u32(lit(0L)),
        u32(lit(1L)), u32(lit(0L)), opBody,
        u32(lit(0L)), u32(lit(0L)))
      txOpsExt2Project(rows(s, dir, "orders", "o_orderkey", 67)(xdr))
    }),

    // The Soroban surface through the gate: INVOKE_HOST_FUNCTION across
    // all four HostFunction arms (k%4) — invoke-contract with walked
    // args, create v1 (address preimage + wasm executable), wasm upload
    // (size only), create v2 (asset preimage + builtin executable +
    // constructor args) — each with k%2 auth entries, and the
    // SorobanTransactionData tx ext on odd rows (resources + footprint
    // LedgerKey vectors, each key fully parsed).
    "s2_soroban" -> ((s, dir) => {
      val m = pmod(k, lit(4L))
      val fnLen = pmod(k, lit(9L)) + lit(1L)
      val nArgs = pmod(k, lit(3L))
      def arg(i: Int): Column =
        when(nArgs > i, concat(u32(lit(3L)), u32(pmod(k, lit(100L)) + lit(i.toLong))))
          .otherwise(empty)
      val invokeFn = concat(u32(lit(0L)),
        u32(lit(1L)), h16("ic1"), h16("ic2"), // SCAddress: contract
        varStr(substring(md5(concat(ks, lit("fn"))), 1, 9), fnLen),
        u32(nArgs), arg(0), arg(1))
      val createV1 = concat(u32(lit(1L)),
        u32(lit(0L)), u32(lit(0L)), u32(lit(0L)), key32, // addr preimage
        h16("sl1"), h16("sl2"),                          // salt
        u32(lit(0L)), h16("wh1"), h16("wh2"))            // wasm executable
      val wasmLen = pmod(k, lit(40L)) + lit(8L)
      val upload = concat(u32(lit(2L)),
        varStr(concat(md5(concat(ks, lit("wa"))), md5(concat(ks, lit("wb")))),
          wasmLen))
      val createV2 = concat(u32(lit(3L)),
        u32(lit(1L)), u32(lit(1L)), // asset preimage: alphanum4
        substring(md5(concat(ks, lit("ca"))), 1, 3).cast("binary"),
        unhex(lit("00")), u32(lit(0L)), h16("cai"), h16("caj"),
        u32(lit(1L)),               // executable: stellar asset
        u32(pmod(k, lit(2L))),      // constructorArgs: 0 or 1 SCV_VOID
        when(pmod(k, lit(2L)) === 1L, u32(lit(1L))).otherwise(empty))
      val hostFn = when(m === 0L, invokeFn).when(m === 1L, createV1)
        .when(m === 2L, upload).otherwise(createV2)
      // k%2 auth entries: source-account credentials + a contract-fn
      // root with no sub-invocations
      val auth = when(pmod(k, lit(2L)) === 1L,
        concat(u32(lit(1L)), u32(lit(0L)),
          u32(lit(0L)), u32(lit(1L)), h16("au1"), h16("au2"),
          varStr(substring(md5(concat(ks, lit("af"))), 1, 1), lit(1L)),
          u32(lit(0L)), u32(lit(0L))))
        .otherwise(u32(lit(0L)))
      val opBody = concat(u32(lit(24L)), hostFn, auth)
      def roKey(i: Int): Column =
        when(pmod(k, lit(3L)) > i,
          concat(u32(lit(0L)), u32(lit(0L)), h16(s"ro${i}a"), h16(s"ro${i}b")))
          .otherwise(empty)
      val soroExt = when(pmod(k, lit(2L)) === 1L,
        concat(u32(lit(1L)), u32(lit(0L)),
          u32(pmod(k, lit(3L))), roKey(0), roKey(1),
          u32(lit(1L)), u32(lit(9L)), h16("rwa"), h16("rwb"),
          u32(lit(5000000L) + pmod(k, lit(1000L))),
          u32(lit(1024L) + pmod(k, lit(64L))),
          u32(lit(2048L) + pmod(k, lit(128L))),
          i64(lit(700000L) + k)))
        .otherwise(u32(lit(0L)))
      val xdr = concat(
        u32(lit(2L)), u32(lit(0L)), key32,
        u32(lit(100L)), i64(k * lit(4294967296L) + lit(1L)),
        u32(lit(0L)), u32(lit(0L)),
        u32(lit(1L)), u32(lit(0L)), opBody,
        soroExt, u32(lit(0L)))
      txOpRows(rows(s, dir, "orders", "o_orderkey", 71)(xdr))
        .select(col("k"),
          col("op.op_type").as("op_type"),
          col("op.host_fn_type").as("host_fn_type"),
          substring(col("op.invoke_contract"), 1, 1).as("invoke_prefix"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.invoke_contract")))).as("invoke_contract_payload_hex"),
          col("op.invoke_function").as("invoke_function"),
          col("op.n_invoke_args").as("n_invoke_args"),
          col("op.wasm_hash").as("wasm_hash"),
          col("op.wasm_size").as("wasm_size"),
          col("op.n_auth").as("n_auth"),
          col("op.asset_type").as("asset_type"),
          col("op.asset_code").as("asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.asset_issuer")))).as("asset_issuer_payload_hex"),
          col("h.soroban_resource_fee").as("soroban_resource_fee"),
          col("h.soroban_instructions").as("soroban_instructions"),
          col("h.soroban_read_bytes").as("soroban_read_bytes"),
          col("h.soroban_write_bytes").as("soroban_write_bytes"),
          col("h.n_footprint_ro").as("n_footprint_ro"),
          col("h.n_footprint_rw").as("n_footprint_rw"))
    }),

    // The RESULT half of the transaction lifecycle through the gate:
    // TransactionResult across the code union (success / failed / a
    // void failure / the fee-bump inner pair) and the payload-carrying
    // per-op arms — claim atoms summed, offer effects with the embedded
    // OfferEntry, merge balance, inflation payouts, the created
    // balance id, the host-fn return hash, the path-payment tail. One
    // result per row, arm by k%9; the op vector explodes OUTER with no
    // null filter so void-code rows keep their envelope columns.
    "s2_tx_results" -> ((s, dir) => {
      val m = pmod(k, lit(9L))
      val fee = i64(lit(100L) + pmod(k, lit(50L)))
      def opInner(t: Long, rc: Long, payload: Column): Column =
        concat(u32(lit(0L)), u32(lit(t)), i32e(lit(rc)), payload)
      val m0 = concat(fee, u32(lit(0L)), u32(lit(2L)),
        opInner(1L, 0L, empty), opInner(11L, 0L, empty), u32(lit(0L)))
      val m1 = concat(fee, i32e(lit(-1L)), u32(lit(1L)),
        opInner(1L, -2L, empty), u32(lit(0L)))
      val m2 = concat(fee, i32e(lit(-3L)), u32(lit(0L)))
      val m3 = concat(i64(lit(1000L) + k), u32(lit(1L)),
        h16("ih1"), h16("ih2"),
        i64(lit(600L) + k), u32(lit(0L)), u32(lit(1L)),
        opInner(8L, 0L, i64(lit(50000000L) + k)),
        u32(lit(0L)), u32(lit(0L)))
      val nCl = pmod(k, lit(3L))
      def atom(i: Int): Column = // ORDER_BOOK atom: native/native legs
        when(nCl > i, concat(u32(lit(1L)), u32(lit(0L)), key32,
          i64(lit(11L)),
          u32(lit(0L)), i64(lit(10L) + pmod(k, lit(100L)) + lit(i.toLong)),
          u32(lit(0L)), i64(lit(20L) + pmod(k, lit(100L)) + lit(i.toLong))))
          .otherwise(empty)
      val eff = pmod(k, lit(3L))
      val offerEntry = concat(u32(lit(0L)), key32, i64(lit(7000000L) + k),
        u32(lit(0L)), u32(lit(0L)), i64(lit(1L)),
        u32(lit(1L)), u32(lit(1L)), u32(lit(0L)), u32(lit(0L)))
      val m4 = concat(fee, u32(lit(0L)), u32(lit(1L)),
        opInner(3L, 0L, concat(u32(nCl), atom(0), atom(1),
          u32(eff), when(eff < 2L, offerEntry).otherwise(empty))),
        u32(lit(0L)))
      val m5 = concat(fee, u32(lit(0L)), u32(lit(1L)),
        opInner(2L, 0L, concat(u32(lit(1L)),
          u32(lit(2L)), h16("lp1"), h16("lp2"),
          u32(lit(0L)), i64(lit(30L) + pmod(k, lit(10L))),
          u32(lit(0L)), i64(lit(40L) + pmod(k, lit(10L))),
          u32(lit(0L)), h16("d"), h16("e"), u32(lit(0L)),
          i64(lit(90000000L) + k))),
        u32(lit(0L)))
      def payout(i: Int): Column =
        when(nCl > i, concat(u32(lit(0L)), h16(s"pd$i"),
          i64(lit(1000L) + pmod(k, lit(100L)) + lit(i.toLong))))
          .otherwise(empty)
      val m6 = concat(fee, u32(lit(0L)), u32(lit(1L)),
        opInner(9L, 0L, concat(u32(nCl), payout(0), payout(1))),
        u32(lit(0L)))
      val m7 = concat(fee, u32(lit(0L)), u32(lit(1L)),
        opInner(14L, 0L, concat(u32(lit(0L)), h16("cb1"), h16("cb2"))),
        u32(lit(0L)))
      val m8 = concat(fee, u32(lit(0L)), u32(lit(1L)),
        opInner(24L, 0L, concat(h16("rh1"), h16("rh2"))),
        u32(lit(0L)))
      val xdr = when(m === 0L, m0).when(m === 1L, m1).when(m === 2L, m2)
        .when(m === 3L, m3).when(m === 4L, m4).when(m === 5L, m5)
        .when(m === 6L, m6).when(m === 7L, m7).otherwise(m8)
      rows(s, dir, "orders", "o_orderkey", 73)(xdr)
        .withColumn("h", call_function("graft_xdr_tx_result", col("bin")))
        .select(col("k"), col("h"),
          posexplode_outer(col("h.op_results")).as(Seq("i", "op")))
        .select(col("k"),
          col("h.fee_charged").as("fee_charged"),
          col("h.code").as("code"),
          col("h.inner_hash").as("inner_hash"),
          col("h.inner_fee_charged").as("inner_fee_charged"),
          col("h.inner_code").as("inner_code"),
          col("h.n_op_results").as("n_op_results"),
          col("i").cast("long").as("i"),
          col("op.op_code").as("op_code"),
          col("op.op_type").as("op_type"),
          col("op.result_code").as("result_code"),
          col("op.n_claims").as("n_claims"),
          col("op.claims_sold").as("claims_sold"),
          col("op.claims_bought").as("claims_bought"),
          col("op.offer_effect").as("offer_effect"),
          col("op.offer_id").as("offer_id"),
          col("op.merge_balance").as("merge_balance"),
          col("op.created_balance_id").as("created_balance_id"),
          col("op.invoke_return_hash").as("invoke_return_hash"),
          lower(hex(call_function("graft_strkey_decode",
            col("op.last_dest")))).as("last_dest_payload_hex"),
          col("op.last_amount").as("last_amount"),
          col("op.n_payouts").as("n_payouts"),
          col("op.payout_total").as("payout_total"))
    }),

    // All three envelope KINDS through the gate: legacy v0, v1 across
    // every Preconditions arm (NONE / TIME / V2-minimal / V2-full), and
    // the fee-bump wrap — the envelope surface of the reference's
    // history_transactions (fee_account / new_max_fee / precondition
    // columns, schemas/history_transactions_schema.json). The decoded
    // struct is a single non-cheap alias, so the projection reads it
    // once (CollapseProject does not inline expensive aliases).
    "s2_envelope_kinds" -> ((s, dir) =>
      txEnvelopeKindsFixture(s, dir)
        .withColumn("h", call_function("graft_xdr_tx_envelope", col("bin")))
        .select(col("k"),
          col("h.envelope_kind").as("envelope_kind"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.source_account")))).as("source_payload_hex"),
          col("h.muxed_id").as("muxed_id"),
          col("h.fee").as("fee"),
          col("h.seq_num").as("seq_num"),
          col("h.cond_type").as("cond_type"),
          col("h.min_time").as("min_time"),
          col("h.max_time").as("max_time"),
          col("h.min_ledger").as("min_ledger"),
          col("h.max_ledger").as("max_ledger"),
          col("h.min_seq_num").as("min_seq_num"),
          col("h.min_seq_age").as("min_seq_age"),
          col("h.min_seq_ledger_gap").as("min_seq_ledger_gap"),
          col("h.n_extra_signers").as("n_extra_signers"),
          col("h.memo_type").as("memo_type"),
          col("h.memo_text").as("memo_text"),
          col("h.memo_id").as("memo_id"),
          col("h.n_operations").as("n_operations"),
          col("h.n_signatures").as("n_signatures"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.fee_account")))).as("fee_account_payload_hex"),
          col("h.new_max_fee").as("new_max_fee"))),

    // The transaction-grain mart (history_transactions-shaped sibling
    // of s2_xdr_op_mart): decode → tx-level projection (the fee-bump
    // cap as max_fee, the op-amount total via a lambda aggregate over
    // the operations array, no explode) → hash aggregate by envelope
    // kind × precondition arm — decode to mart in ONE Catalyst plan.
    "s2_tx_mart" -> ((s, dir) =>
      txEnvelopeKindsFixture(s, dir)
        .withColumn("h", call_function("graft_xdr_tx_envelope", col("bin")))
        .select(col("k"),
          col("h.envelope_kind").as("envelope_kind"),
          col("h.cond_type").as("cond_type"),
          col("h.fee").as("fee"),
          coalesce(col("h.new_max_fee"), col("h.fee")).as("max_fee"),
          col("h.n_operations").as("n_ops"),
          col("h.memo_text").isNotNull.as("has_memo_text"),
          aggregate(col("h.operations"), lit(0L),
            (acc, op) => acc + coalesce(op.getField("amount"), lit(0L)))
            .as("op_amount"))
        .groupBy("envelope_kind", "cond_type")
        .agg(
          count(lit(1)).as("n_tx"),
          sum(col("fee")).as("total_fee"),
          sum(col("max_fee")).as("total_max_fee"),
          sum(col("n_ops")).as("total_ops"),
          sum(col("op_amount")).as("total_amount"),
          sum(when(col("has_memo_text"), 1L).otherwise(0L)).as("n_memo_text"))),

    // S3 ConfigSettingEntry through the gate — the last Soroban state
    // table: all 14 setting arms by k%14, each a fixed scalar sequence
    // (the protocol-20 layouts), the two cost-params VECTOR arms and
    // the size-window vector sized by k. The decoded value array
    // explodes to (setting, position, value); the oracle restates the
    // per-position law v(arm,i), with the EvictionIterator bool pinned.
    "s3_config_setting" -> ((s, dir) => {
      val a = pmod(k, lit(14L))
      def v(i: Int): Column = (a + lit(1L)) * lit(100000L) + k + lit(7L * i)
      def seqW(widths: String): Column =
        concat(widths.zipWithIndex.map { case (ch, i) =>
          if (ch == 'w') u32(v(i)) else i64(v(i)) }: _*)
      val nCp = pmod(k, lit(3L)) + lit(1L)
      def cpEntry(j: Int): Column =
        when(nCp > j, concat(u32(lit(0L)), i64(v(2 * j)), i64(v(2 * j + 1))))
          .otherwise(empty)
      val costParams = concat(u32(nCp), cpEntry(0), cpEntry(1), cpEntry(2))
      val nW = pmod(k, lit(4L)) + lit(1L)
      def wEl(i: Int): Column =
        when(nW > i, i64(v(i))).otherwise(empty)
      val window = concat(u32(nW), wEl(0), wEl(1), wEl(2), wEl(3))
      val evict = concat(u32(v(0)), u32(pmod(k, lit(2L))), i64(v(2)))
      val body = when(a === 0L, seqW("w"))
        .when(a === 1L, seqW("qqqw"))
        .when(a === 2L, seqW("wwwwwwwwqqqqqqw"))
        .when(a === 3L, seqW("q"))
        .when(a === 4L, seqW("wq"))
        .when(a === 5L, seqW("wwq"))
        .when(a === 6L || a === 7L, costParams)
        .when(a === 8L || a === 9L, seqW("w"))
        .when(a === 10L, seqW("wwwqqwwwww"))
        .when(a === 11L, seqW("w"))
        .when(a === 12L, window)
        .otherwise(evict)
      rows(s, dir, "customer", "c_custkey", 41)(concat(u32(a), body))
        .withColumn("h", call_function("graft_xdr_config_setting", col("bin")))
        .select(col("k"),
          col("h.setting_id").as("setting_id"),
          col("h.n_values").as("n_values"),
          call_function("graft_xdr_config_setting", col("bin").substr(1, 4))
            .isNull.as("truncated_rejected"),
          posexplode_outer(col("h.values")).as(Seq("i", "value")))
        .filter(col("i").isNotNull)
        .select(col("k"), col("setting_id"), col("n_values"),
          col("i").cast("long").as("i"), col("value"),
          col("truncated_rejected"))
    }),

    // S3 LedgerKey through the gate — the reference's restored_key
    // surface: all ten key arms by k%10, each surfacing its own
    // identifying columns (account, trust-line asset incl. pool share,
    // offer id, data name, the four hash arms, the contract-data
    // address + SCVal key + durability, the config setting id).
    "s3_restored_key" -> ((s, dir) => {
      val acct = concat(u32(lit(0L)), key32)
      val ta = pmod(k, lit(4L))
      val trustAsset = when(ta === 0L, u32(lit(0L)))
        .when(ta === 1L, concat(u32(lit(1L)),
          substring(md5(concat(ks, lit("c"))), 1, 3).cast("binary"),
          unhex(lit("00")), u32(lit(0L)), h16("f"), h16("g")))
        .when(ta === 2L, concat(u32(lit(2L)),
          substring(md5(concat(ks, lit("c"))), 1, 10).cast("binary"),
          unhex(lit("0000")), u32(lit(0L)), h16("f"), h16("g")))
        .otherwise(concat(u32(lit(3L)), h16("p"), h16("q")))
      val scAddr = when(pmod(k, lit(2L)) === 0L, concat(u32(lit(0L)), acct))
        .otherwise(concat(u32(lit(1L)), h16("h"), h16("i")))
      val tEt = pmod(k, lit(10L))
      val body = when(tEt === 0L, acct)
        .when(tEt === 1L, concat(acct, trustAsset))
        .when(tEt === 2L, concat(acct, i64(lit(4000000L) + k)))
        .when(tEt === 3L, concat(acct,
          varStr(substring(md5(concat(ks, lit("dn"))), 1, 12),
            pmod(k, lit(13L)))))
        .when(tEt === 4L, concat(u32(lit(0L)), h16("b"), h16("c")))
        .when(tEt === 5L, concat(h16("lp"), h16("lq")))
        .when(tEt === 6L, concat(scAddr,
          u32(lit(15L)),
          varStr(substring(md5(concat(ks, lit("k"))), 1, 9),
            pmod(k, lit(9L)) + lit(1L)),
          u32(pmod(k, lit(2L)))))
        .when(tEt === 7L, concat(h16("cc"), h16("cd")))
        .when(tEt === 8L, u32(pmod(k, lit(14L))))
        .otherwise(concat(h16("th"), h16("tu")))
      rows(s, dir, "customer", "c_custkey", 43)(concat(u32(tEt), body))
        .withColumn("h", call_function("graft_xdr_ledger_key", col("bin")))
        .select(col("k"),
          col("h.entry_type").as("entry_type"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.account_id")))).as("account_payload_hex"),
          col("h.asset_type").as("asset_type"),
          col("h.asset_code").as("asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.asset_issuer")))).as("asset_issuer_payload_hex"),
          col("h.offer_id").as("offer_id"),
          col("h.data_name").as("data_name"),
          col("h.balance_id").as("balance_id"),
          col("h.pool_id").as("pool_id"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.contract_id")))).as("contract_payload_hex"),
          substring(col("h.contract_id"), 1, 1).as("addr_prefix"),
          col("h.key_type").as("key_type"),
          col("h.key_text").as("key_text"),
          col("h.durability").as("durability"),
          col("h.code_hash").as("code_hash"),
          col("h.setting_id").as("setting_id"),
          col("h.key_hash").as("key_hash"),
          call_function("graft_xdr_ledger_key", col("bin").substr(1, 4))
            .isNull.as("truncated_rejected"))
    }),

    // S3 state-entry decodes through the gate: TrustLineEntry (all four
    // TrustLineAsset arms incl. the pool-share PoolID, and the nested
    // v0/v1/v2 ext chain carrying liabilities + pool use count) and
    // OfferEntry (both Asset unions, the n/d Price fraction) — the
    // remaining two core state tables of the reference's export
    // (trust_lines, offers). Same fixture-law pattern: every column
    // restated from the row key, addresses via the strkey round-trip.
    "s3_trust_line" -> ((s, dir) => {
      val issuer = concat(u32(lit(0L)), h16("f"), h16("g"))
      val at = pmod(k, lit(4L))
      val asset = when(at === 0L, u32(lit(0L)))
        .when(at === 1L, concat(u32(lit(1L)),
          substring(md5(concat(ks, lit("c"))), 1, 3).cast("binary"),
          unhex(lit("00")), issuer))
        .when(at === 2L, concat(u32(lit(2L)),
          substring(md5(concat(ks, lit("c"))), 1, 10).cast("binary"),
          unhex(lit("0000")), issuer))
        .otherwise(concat(u32(lit(3L)), h16("p"), h16("q")))
      val e = pmod(k, lit(3L))
      val ext = when(e === 0L, u32(lit(0L)))
        .when(e === 1L, concat(u32(lit(1L)),
          i64(lit(11L) + k), i64(lit(22L) + k), u32(lit(0L))))
        .otherwise(concat(u32(lit(1L)),
          i64(lit(11L) + k), i64(lit(22L) + k),
          u32(lit(2L)), u32(pmod(k, lit(5L))), u32(lit(0L))))
      val xdr = concat(u32(lit(0L)), key32, asset,
        i64(lit(31337000L) + k), i64(lit(900000000L) + k),
        u32(pmod(k, lit(4L))), ext)
      rows(s, dir, "customer", "c_custkey", 19)(xdr)
        .withColumn("h", call_function("graft_xdr_trust_line", col("bin")))
        .select(col("k"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.account_id")))).as("account_payload_hex"),
          col("h.asset_type").as("asset_type"),
          col("h.asset_code").as("asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.asset_issuer")))).as("asset_issuer_payload_hex"),
          col("h.balance").as("balance"),
          col("h.trust_limit").as("trust_limit"),
          col("h.flags").as("flags"),
          col("h.buying_liabilities").as("buying_liabilities"),
          col("h.selling_liabilities").as("selling_liabilities"),
          col("h.pool_use_count").as("pool_use_count"),
          call_function("graft_xdr_trust_line", col("bin").substr(1, 30))
            .isNull.as("truncated_rejected"))
    }),

    "s3_offer_entry" -> ((s, dir) => {
      val xdr = concat(u32(lit(0L)), key32,
        i64(lit(4000000000L) + k),
        asset(pmod(k, lit(3L)), "s"), asset(pmod(k + lit(1L), lit(3L)), "b"),
        i64(lit(777000L) + k),
        u32(lit(1L) + pmod(k, lit(97L))), u32(lit(1L) + pmod(k, lit(89L))),
        u32(pmod(k, lit(4L))), u32(lit(0L)))
      rows(s, dir, "orders", "o_orderkey", 47)(xdr)
        .withColumn("h", call_function("graft_xdr_offer", col("bin")))
        .select(col("k"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.seller_id")))).as("seller_payload_hex"),
          col("h.offer_id").as("offer_id"),
          col("h.selling_asset_type").as("selling_asset_type"),
          col("h.selling_asset_code").as("selling_asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.selling_asset_issuer")))).as("selling_issuer_payload_hex"),
          col("h.buying_asset_type").as("buying_asset_type"),
          col("h.buying_asset_code").as("buying_asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.buying_asset_issuer")))).as("buying_issuer_payload_hex"),
          col("h.amount").as("amount"),
          col("h.price_n").as("price_n"),
          col("h.price_d").as("price_d"),
          col("h.flags").as("flags"),
          call_function("graft_xdr_offer", col("bin").substr(1, 44))
            .isNull.as("truncated_rejected"))
    }),

    // S3 remaining state entries through the gate: LiquidityPoolEntry
    // (constant-product body: asset pair, fee, reserves, share totals)
    // and ClaimableBalanceEntry (RECURSIVE ClaimPredicate trees per
    // claimant — AND/OR vectors, NOT optionals, abs/rel time leaves —
    // summarized as root type / node count / depth / earliest absolute
    // bound, claimants exploded per row). With these the reference's
    // state-table family is fully decoded natively: accounts,
    // account_signers, trust_lines, offers, liquidity_pools,
    // claimable_balances.
    "s3_liquidity_pool" -> ((s, dir) => {
      val xdr = concat(
        h16("p"), h16("q"),                            // PoolID
        u32(lit(0L)),                                  // constant product
        asset(pmod(k, lit(3L)), "s"), asset(pmod(k + lit(1L), lit(3L)), "b"),
        u32(lit(30L)),                                 // fee (bps)
        i64(lit(111000L) + k), i64(lit(222000L) + k),  // reserves
        i64(lit(333000L) + k), i64(pmod(k, lit(50L)))) // shares, tl count
      rows(s, dir, "customer", "c_custkey", 23)(xdr)
        .withColumn("h", call_function("graft_xdr_liquidity_pool", col("bin")))
        .select(col("k"),
          col("h.pool_id").as("pool_id"),
          col("h.asset_a_type").as("asset_a_type"),
          col("h.asset_a_code").as("asset_a_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.asset_a_issuer")))).as("asset_a_issuer_payload_hex"),
          col("h.asset_b_type").as("asset_b_type"),
          col("h.asset_b_code").as("asset_b_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.asset_b_issuer")))).as("asset_b_issuer_payload_hex"),
          col("h.fee").as("fee"),
          col("h.reserve_a").as("reserve_a"),
          col("h.reserve_b").as("reserve_b"),
          col("h.total_pool_shares").as("total_pool_shares"),
          col("h.pool_shares_trust_line_count").as("pool_shares_tl_count"),
          call_function("graft_xdr_liquidity_pool", col("bin").substr(1, 35))
            .isNull.as("truncated_rejected"))
    }),

    "s3_claimable_balance" -> ((s, dir) => {
      val pm3 = pmod(k, lit(3L))
      // claimant 0's predicate varies: UNCONDITIONAL | AND(ABS, UNCOND)
      // | NOT(REL) — exercising leaf, vector, and optional arms
      val pred0 = when(pm3 === 0L, u32(lit(0L)))
        .when(pm3 === 1L, concat(u32(lit(1L)), u32(lit(2L)),
          u32(lit(4L)), i64(lit(1700000L) + k), u32(lit(0L))))
        .otherwise(concat(u32(lit(3L)), u32(lit(1L)),
          u32(lit(5L)), i64(lit(60L) + pmod(k, lit(100L)))))
      val claimant0 = concat(u32(lit(0L)),
        u32(lit(0L)), h16("d0"), h16("e0"), pred0)
      // claimant 1 (on k%2 rows): OR(UNCOND, ABS)
      val claimant1 = when(pmod(k, lit(2L)) === 1L,
        concat(u32(lit(0L)), u32(lit(0L)), h16("d1"), h16("e1"),
          u32(lit(2L)), u32(lit(2L)), u32(lit(0L)),
          u32(lit(4L)), i64(lit(1800000L) + k)))
        .otherwise(empty)
      val asset = when(pmod(k, lit(2L)) === 0L, u32(lit(0L)))
        .otherwise(concat(u32(lit(1L)),
          substring(md5(concat(ks, lit("x"))), 1, 3).cast("binary"),
          unhex(lit("00")), u32(lit(0L)), h16("f"), h16("g")))
      // ClaimableBalanceEntryExtensionV1: inner ext union FIRST, then flags
      val ext = when(pmod(k, lit(5L)) === 0L,
        concat(u32(lit(1L)), u32(lit(0L)), u32(pmod(k, lit(4L)))))
        .otherwise(u32(lit(0L)))
      val xdr = concat(
        u32(lit(0L)), h16("b"), h16("c"),              // balance id v0
        u32(lit(1L) + pmod(k, lit(2L))),               // claimants<10>
        claimant0, claimant1, asset,
        i64(lit(555000L) + k), ext)
      rows(s, dir, "customer", "c_custkey", 29)(xdr)
        .withColumn("h", call_function("graft_xdr_claimable_balance", col("bin")))
        .select(col("k"), col("h"),
          posexplode_outer(col("h.claimants")).as(Seq("i", "cl")))
        .filter(col("i").isNotNull)
        .select(col("k"), col("i").cast("long").as("i"),
          col("h.balance_id").as("balance_id"),
          col("h.asset_type").as("asset_type"),
          col("h.asset_code").as("asset_code"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.asset_issuer")))).as("asset_issuer_payload_hex"),
          col("h.amount").as("amount"),
          col("h.flags").as("flags"),
          col("h.n_claimants").as("n_claimants"),
          lower(hex(call_function("graft_strkey_decode",
            col("cl.destination")))).as("dest_payload_hex"),
          col("cl.predicate_type").as("predicate_type"),
          col("cl.predicate_nodes").as("predicate_nodes"),
          col("cl.predicate_depth").as("predicate_depth"),
          col("cl.abs_before_min").as("abs_before_min"))
    }),

    // The decode-to-mart COMPOSITION: raw envelope bytes → whole-record
    // decode → per-op fan-out → hash aggregate, one plan end to end —
    // the shape a real ingest lands (the reference decodes in its Go
    // binary, loads, THEN aggregates in BigQuery; here the decode is a
    // codegen'd expression inside the same Catalyst plan as the mart).
    // Grouped on (op_type, asset_type): op volumes, amount totals,
    // distinct-transaction counts, worst fee.
    "s2_xdr_op_mart" -> ((s, dir) =>
      txOpsProject(txEnvelopeFixture(s, dir))
        .groupBy("op_type", "asset_type")
        .agg(
          count(lit(1)).as("n_ops"),
          sum(col("amount")).as("total_amount"),
          countDistinct(col("k")).as("n_tx"),
          max(col("fee")).as("max_fee"))),

    // S3 Soroban-era state through the gate: ContractDataEntry — the
    // contract address union (account G vs contract C strkeys), a
    // SYMBOL key, durability, and an SCVal value tree varying scalar
    // U64 / STRING / VEC / MAP shapes, summarized to queryable columns.
    "s3_contract_data" -> ((s, dir) => {
      val contract = when(pmod(k, lit(2L)) === 0L,
        concat(u32(lit(0L)), u32(lit(0L)), key32))
        .otherwise(concat(u32(lit(1L)), h16("h"), h16("i")))
      val keyLen = pmod(k, lit(9L)) + lit(1L)
      val keyVal = concat(u32(lit(15L)), // SCV_SYMBOL
        varStr(substring(md5(concat(ks, lit("k"))), 1, 9), keyLen))
      val vLen = pmod(k, lit(12L)) + lit(1L)
      val pm7 = pmod(k, lit(7L))
      val valVal = when(pm7 === 0L,
        concat(u32(lit(5L)), i64(lit(7000000L) + k))) // SCV_U64
        .when(pm7 === 1L, concat(u32(lit(14L)),       // SCV_STRING
          varStr(substring(md5(concat(ks, lit("v"))), 1, 12), vLen)))
        .when(pm7 === 2L, concat(u32(lit(16L)),       // SCV_VEC of 2 U32
          u32(lit(1L)), u32(lit(2L)),
          u32(lit(3L)), u32(pmod(k, lit(100L))),
          u32(lit(3L)), u32(pmod(k + lit(1L), lit(100L)))))
        .when(pm7 === 3L, concat(u32(lit(17L)),       // SCV_MAP of 1
          u32(lit(1L)), u32(lit(1L)),
          u32(lit(15L)), varStr(substring(md5(concat(ks, lit("m"))), 1, 1),
            lit(1L)),
          u32(lit(6L)), i64(lit(900L) + k)))
        .when(pm7 === 4L, concat(u32(lit(9L)),        // SCV_U128: hi‖lo
          i64(pmod(k, lit(3L))), i64(lit(1000000L) + k)))
        .when(pm7 === 5L, concat(u32(lit(10L)),       // SCV_I128: negative
          i64(lit(-1L)), i64(lit(-1000000L) - k)))    // = -(1000000+k)
        .otherwise(concat(u32(lit(18L)),              // SCV_ADDRESS
          when(pmod(k, lit(2L)) === 0L,
            concat(u32(lit(0L)), u32(lit(0L)), h16("v1"), h16("v2")))
            .otherwise(concat(u32(lit(1L)), h16("v1"), h16("v2")))))
      val xdr = concat(u32(lit(0L)), contract, keyVal,
        u32(pmod(k, lit(2L))), valVal)
      rows(s, dir, "customer", "c_custkey", 31)(xdr)
        .withColumn("h", call_function("graft_xdr_contract_data", col("bin")))
        .select(col("k"),
          lower(hex(call_function("graft_strkey_decode",
            col("h.contract_id")))).as("contract_payload_hex"),
          substring(col("h.contract_id"), 1, 1).as("addr_prefix"),
          col("h.contract_kind").as("contract_kind"),
          col("h.durability").as("durability"),
          col("h.key_type").as("key_type"),
          col("h.key_text").as("key_text"),
          col("h.val_type").as("val_type"),
          // the address arm's strkey lives in the text slot — DuckDB has
          // no base32, so the gate verifies it via the decode round-trip
          // and withholds the raw spelling from the text column
          when(col("h.val_type") =!= 18L, col("h.val_text")).as("val_text"),
          substring(when(col("h.val_type") === 18L, col("h.val_text")), 1, 1)
            .as("val_addr_prefix"),
          lower(hex(call_function("graft_strkey_decode",
            when(col("h.val_type") === 18L, col("h.val_text")))))
            .as("val_addr_payload_hex"),
          col("h.val_num").as("val_num"),
          // decimal comparison crosses the oracle as its digit string
          // (pandas renders nullable DECIMAL(38,0) columns as floats)
          col("h.val_dec").cast("string").as("val_dec"),
          col("h.val_nodes").as("val_nodes"),
          col("h.val_depth").as("val_depth"),
          col("h.key_json").as("key_json"),
          // the address arm's JSON embeds the strkey (no base32 in
          // DuckDB) — verified via the round-trip columns instead
          when(col("h.val_type") =!= 18L, col("h.val_json")).as("val_json"),
          call_function("graft_xdr_contract_data", col("bin").substr(1, 30))
            .isNull.as("truncated_rejected"))
    }),

    // The whole LedgerEntry WIRE record through the gate: the data
    // union dispatches to all ten per-type parsers (one expression
    // decodes any state record), the v1 ext carries the sponsor, and
    // each arm's nested struct is probed by one identifying column.
    "s3_ledger_entry" -> ((s, dir) =>
      ledgerEntryProject(ledgerEntryFixture(s, dir))),

    // The LedgerEntryChanges stream unit through the gate — the exact
    // record the reference's export_ledger_entry_changes task walks: a
    // change vector whose created/updated/state arms carry whole
    // LedgerEntries and whose removed arm carries a LedgerKey, exploded
    // to one row per change.
    "s3_entry_changes" -> ((s, dir) => {
      val lastMod = u32(lit(9000000L) + pmod(k, lit(100000L)))
      val ttlEntry = concat(lastMod, u32(lit(9L)),
        h16("t0a"), h16("t0b"), u32(lit(4000000L) + k), u32(lit(0L)))
      val ttlKey = concat(u32(lit(9L)), h16("t0a"), h16("t0b"))
      val offerEntry = concat(lastMod, u32(lit(2L)),
        u32(lit(0L)), key32, i64(lit(4000000000L) + k),
        u32(lit(0L)), u32(lit(0L)), i64(lit(777000L) + k),
        u32(lit(1L)), u32(lit(1L)), u32(lit(0L)), u32(lit(0L)),
        u32(lit(0L)))
      val acctKey = concat(u32(lit(0L)), u32(lit(0L)), key32)
      val kind0 = pmod(k, lit(5L))
      val n = lit(1L) + pmod(k, lit(3L))
      val change0 = when(kind0 === 2L, concat(u32(lit(2L)), ttlKey))
        .otherwise(concat(u32(kind0), ttlEntry))
      val change1 = when(n > 1L, concat(u32(lit(0L)), offerEntry))
        .otherwise(empty)
      val change2 = when(n > 2L, concat(u32(lit(2L)), acctKey))
        .otherwise(empty)
      val xdr = concat(u32(n), change0, change1, change2)
      rows(s, dir, "customer", "c_custkey", 59)(xdr)
        .withColumn("h", call_function("graft_xdr_entry_changes", col("bin")))
        .select(col("k"), col("h.n_changes").as("n_changes"),
          posexplode_outer(col("h.changes")).as(Seq("i", "ch")))
        .filter(col("i").isNotNull)
        .select(col("k"), col("n_changes"),
          col("i").cast("long").as("i"),
          col("ch.change_kind").as("change_kind"),
          col("ch.entry.entry_type").as("entry_type"),
          col("ch.entry.last_modified_ledger_seq").as("last_modified"),
          col("ch.entry.ttl.live_until_ledger_seq").as("ttl_live"),
          col("ch.entry.offer.offer_id").as("offer_id"),
          col("ch.key.entry_type").as("key_entry_type"),
          col("ch.key.key_hash").as("key_hash"),
          lower(hex(call_function("graft_strkey_decode",
            col("ch.key.account_id")))).as("key_account_payload_hex"))
    }),

    // The SCVal COMPLETION arms through the gate — with these the
    // walker is total over the union: ERROR, U256/I256 (digit strings),
    // CONTRACT_INSTANCE (executable + storage map), and both
    // ledger-key arms, each with its JSON rendering law. (The gate's
    // 256-bit values keep the two high limbs zero so DuckDB's 128-bit
    // HUGEINT can restate them; the four-limb math is spec-pinned.)
    "s3_scval_exotic" -> ((s, dir) => {
      val m = pmod(k, lit(6L))
      val valVal = when(m === 0L,
        concat(u32(lit(2L)), u32(pmod(k, lit(10L))), u32(pmod(k, lit(1000L)))))
        .when(m === 1L, concat(u32(lit(11L)), i64(lit(0L)), i64(lit(0L)),
          i64(pmod(k, lit(9L))), i64(lit(1000000L) + k)))
        .when(m === 2L, concat(u32(lit(12L)), i64(lit(-1L)), i64(lit(-1L)),
          i64(lit(-1L)), i64(lit(-500L) - pmod(k, lit(1000L)))))
        .when(m === 3L, concat(u32(lit(19L)),
          u32(lit(0L)), h16("w1"), h16("w2"), // wasm executable
          u32(lit(1L)), u32(lit(1L)),         // storage: one entry
          u32(lit(15L)), varStr(substring(md5(concat(ks, lit("sk"))), 1, 1),
            lit(1L)),
          u32(lit(6L)), i64(lit(300L) + k)))
        .when(m === 4L, u32(lit(20L)))
        .otherwise(concat(u32(lit(21L)), i64(lit(900000L) + k)))
      val keyVal = concat(u32(lit(15L)),
        varStr(substring(md5(concat(ks, lit("k"))), 1, 4), lit(4L)))
      val xdr = concat(u32(lit(0L)),
        concat(u32(lit(1L)), h16("h"), h16("i")), // contract address
        keyVal, u32(lit(1L)), valVal)
      rows(s, dir, "customer", "c_custkey", 47)(xdr)
        .withColumn("h", call_function("graft_xdr_contract_data", col("bin")))
        .select(col("k"),
          col("h.val_type").as("val_type"),
          col("h.val_text").as("val_text"),
          col("h.val_num").as("val_num"),
          col("h.val_json").as("val_json"),
          col("h.val_nodes").as("val_nodes"),
          col("h.val_depth").as("val_depth"))
    }),

    // S3 Soroban tail through the gate: TTLEntry (the minimal 36-byte
    // record — exact consumption IS the check) and ContractCodeEntry
    // (code hash + size + a sha256 fingerprint of the blob instead of
    // the blob itself — code bytes stay out of the row). The code
    // fixture uses ASCII (hex-string) bytes so the DuckDB oracle's
    // VARCHAR-only sha256 hashes the identical byte sequence.
    "s3_ttl" -> ((s, dir) => {
      val xdr = concat(
        unhex(concat(md5(concat(ks, lit("t"))), md5(concat(ks, lit("u"))))),
        u32(lit(4000000L) + k))
      rows(s, dir, "customer", "c_custkey", 37)(xdr)
        .withColumn("h", call_function("graft_xdr_ttl", col("bin")))
        .select(col("k"),
          col("h.key_hash").as("key_hash"),
          col("h.live_until_ledger_seq").as("live_until_ledger_seq"),
          call_function("graft_xdr_ttl", col("bin").substr(1, 35))
            .isNull.as("truncated_rejected"))
    }),

    "s3_contract_code" -> ((s, dir) => {
      val xdr = concat(
        u32(lit(0L)),
        unhex(concat(md5(concat(ks, lit("h"))), md5(concat(ks, lit("i"))))),
        varStr(concat(md5(concat(ks, lit("p"))), md5(concat(ks, lit("q")))),
          pmod(k, lit(40L)) + lit(8L)))
      rows(s, dir, "orders", "o_orderkey", 53)(xdr)
        .withColumn("h", call_function("graft_xdr_contract_code", col("bin")))
        .select(col("k"),
          col("h.code_hash").as("code_hash"),
          col("h.code_size").as("code_size"),
          col("h.code_sha256").as("code_sha256"),
          call_function("graft_xdr_contract_code", col("bin").substr(1, 38))
            .isNull.as("truncated_rejected"))
    }),

    // Incremental mart refresh through the gate: bootstrap the daily mart
    // from the seed window, land a 2-day batch, refresh ONLY those two
    // mart partitions — the read-back must equal the full recompute the
    // oracle performs over the whole fact.
    "a5_incremental_mart" -> ((s, dir) => {
      val mart = scratch("incmart", dir)
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-20").cast("date")
      val hi = lit("2024-01-22").cast("date")
      val seed = ev.filter(to_date(col("ts")) < cut)
      val batch = ev.filter(to_date(col("ts")) >= cut && to_date(col("ts")) < hi)
      val martFn: DataFrame => DataFrame = f =>
        f.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("value_sum"))
      IncrementalMart.full(seed, mart, martFn)
      IncrementalMart.refresh(s, seed.unionByName(batch), mart, batch, "ts", martFn)
      Parquet.read(s, mart).select("day", "event_type", "n", "value_sum")
    }),

    // dbt-test surface through the gate: singular + recency checks over
    // two tables, each battery ONE fused aggregate pass; includes a
    // deliberately-tight recency check so the FAILING path is exercised
    // (violations counted, passed=false), not just the green one.
    "qa_checks" -> ((s, dir) => {
      import QualityChecks._
      val ev = battery(t(s, dir, "events"), "events",
        Seq(notNull("ts"), notNull("event_type"),
          acceptedValues("event_type",
            Seq("click", "purchase", "view", "signup", "error")),
          nonNegative("value")),
        Seq(unique(Seq("event_id")), minRows(1000),
          recency("ts", "2024-02-01 00:00:00", 48),
          recency("ts", "2024-02-01 00:00:00", 12)))
      val ord = battery(t(s, dir, "orders"), "orders",
        Seq(notNull("o_orderkey"),
          acceptedValues("o_orderstatus", Seq("F", "O", "P")),
          nonNegative("o_totalprice")),
        Seq(unique(Seq("o_orderkey"))))
      ev.unionByName(ord)
    }),

    // dbt relationships (FK integrity) — the two-table test shape: two
    // green checks over real FKs, plus an exercised FAILING path (parents
    // restricted to even suppkeys, so lineitems referencing odd suppliers
    // count as violations).
    "qa_relationships" -> ((s, dir) => {
      import QualityChecks._
      val li = t(s, dir, "lineitem")
      relationship(t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey", "orders", "customer")
        .unionByName(relationship(li, "l_partkey",
          t(s, dir, "part"), "p_partkey", "lineitem", "part"))
        .unionByName(relationship(li, "l_suppkey",
          t(s, dir, "supplier").filter(col("s_suppkey") % 2 === 0),
          "s_suppkey", "lineitem", "supplier_even"))
    }),

    // Volume-anomaly audit (data-observability volume monitor): per-day
    // row counts z-scored against the trailing 7 days. Integer window
    // sums until the final sqrt/division; the ordered window runs over
    // ONE row per day (calendar-bounded), never raw rows.
    "qa_volume_anomaly" -> ((s, dir) =>
      QualityChecks.volumeAnomaly(t(s, dir, "events"),
        to_date(col("ts")), window = 7, zThreshold = 3.0)),

    // EWMA-smoothed daily volume (alpha = 1/2): the halving recurrence
    // as one integer window sum divided by a power of two — exact
    // dyadic, bit-identical on both engines.
    "qa_ewma_volume" -> ((s, dir) =>
      QualityChecks.ewmaDaily(t(s, dir, "events"), to_date(col("ts")))),

    // EWMA past the exact-window horizon: a 90-day series (synthetic
    // calendar derived deterministically from event ids, since the
    // fixture spans ~30 real days) through the CHUNKED form — per-chunk
    // exact bigint sums, carry folded through the rescaled dyadic
    // recurrence, oracle replays the fold with a recursive CTE.
    "qa_ewma_long" -> ((s, dir) =>
      QualityChecks.ewmaDailyLong(
        t(s, dir, "events"),
        date_add(to_date(lit("2024-01-01")),
          pmod(col("event_id"), lit(90)).cast("int")),
        chunkDays = 32)),

    // Small-cell suppression (k-anonymity export guard): (lang, source)
    // cells under 5 docs fold into one sentinel bucket — no published
    // row describes fewer than 5 documents, totals preserved.
    "qa_kanon" -> ((s, dir) =>
      QualityChecks.suppressSmallCells(t(s, dir, "documents"),
        Seq("lang", "source"), k = 5)),

    // Robust volume anomaly: per-day counts scored by median + MAD
    // instead of mean + stddev — the estimate a single 10x day can't
    // poison. Exact integer medians (dyadic .5 averages at worst), so
    // the flag is bit-deterministic and the oracle replays it.
    "qa_volume_mad" -> ((s, dir) =>
      QualityChecks.madAnomaly(t(s, dir, "events"), to_date(col("ts")), k = 3.0)),

    // Cost guardrail in the submit path (SURVEY §4, the reference's
    // dbt_maximum_bytes_billed): the daily-volume mart runs WRAPPED in
    // enforceScanBudget — the budget check prices the plan from file
    // listings (partition pruning applied, zero jobs) and refuses an
    // over-budget submit; within budget the wrapped plan is returned
    // unchanged, which is exactly what this gate's oracle pins (the
    // refusal leg is spec-pinned in MaintenanceSpec, where the job
    // counter proves nothing executed).
    "qa_scan_budget" -> ((s, dir) =>
      graft.operators.Maintenance.enforceScanBudget(
        t(s, dir, "events").groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        maxBytes = 1L << 40)),

    // Alert ROUTING (the reference's 15-minute Elementary monitor,
    // dbt_data_quality_alerts_dag.py:26-37 `monitor --filters
    // statuses:fail,error`): two monitor runs of a volume-drop check
    // battery (per event_type, did the window's volume fall below the
    // prior window's) route through the versioned sent-alert ledger —
    // run w2's failures emit under txn w2; run w3 emits ONLY checks not
    // already alerted (Elementary's re-send suppression), exactly-once
    // via commitBatch txn replay protection. The gate reads the final
    // ledger; the oracle restates the dedup rule in SQL (w3 rows exclude
    // w2 failures).
    "qa_alert_route" -> ((s, dir) => {
      val root = scratch("alerts", dir)
      cleanDir(s, root)
      val runs = volumeDropRuns(s, dir)
      graft.operators.Alerting.routeAlerts(
        runs.filter(col("run_id") === "w2").drop("run_id"), root, "w2")
      graft.operators.Alerting.routeAlerts(
        runs.filter(col("run_id") === "w3").drop("run_id"), root, "w3")
      graft.operators.Alerting.sentAlerts(s, root)
    }),

    // Alert REPORT (the reference's weekly send-report,
    // elementary_report_dag.py:30-45 `send-report --days-back 7`): the
    // same two-run check history aggregated per check — runs, failures,
    // failure rate (dyadic halves — bit-exact), first failing run,
    // latest status, worst violation count. One hash aggregate.
    "qa_alert_report" -> ((s, dir) =>
      graft.operators.Alerting.runReport(volumeDropRuns(s, dir))),

    // Ordered funnel: users reaching view -> (later) click -> (later)
    // purchase. Each stage is one min-ts aggregate joined forward —
    // stage N's input is stage N-1's survivors, so work shrinks down the
    // funnel and every join is keyed on user_id (no window over the log).
    "a6_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("tv"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("tv"))
        .groupBy("user_id").agg(min("ts").as("tc"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("tc"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      v.agg(count(lit(1)).as("n"))
        .select(lit(1L).as("stage"), lit("view").as("stage_name"), col("n"))
        .unionByName(c.agg(count(lit(1)).as("n"))
          .select(lit(2L).as("stage"), lit("click").as("stage_name"), col("n")))
        .unionByName(p.agg(count(lit(1)).as("n"))
          .select(lit(3L).as("stage"), lit("purchase").as("stage_name"), col("n")))
    }),

    // Retention cohort matrix: users bucketed by first-active week, then
    // distinct-active counts per (cohort, week offset). Two hash
    // aggregates + one user-keyed join — the standard product-analytics
    // mart over the raw event log.
    "a7_retention" -> ((s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .distinct()
      val first = uw.groupBy("user_id").agg(min("week").as("cohort"))
      uw.join(first, "user_id")
        .withColumn("week_offset",
          (datediff(col("week"), col("cohort")) / 7).cast("long"))
        .groupBy("cohort", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
    }),

    // Numeric column profile (dbt-profiler / data-card shape): one fused
    // scan per table; Σv and Σv² are fixed-point DECIMAL sums so mean and
    // population stddev hash identically on any engine.
    "qa_profile" -> ((s, dir) =>
      QualityChecks.numericProfile(t(s, dir, "events"), "events",
          Seq("value", "user_id"), scale = 2)
        .unionByName(QualityChecks.numericProfile(t(s, dir, "lineitem"),
          "lineitem", Seq("l_quantity", "l_extendedprice"), scale = 2))),

    // Set op: unionByName of heterogeneous sources.
    "set_union_by_name" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(lit("customer").as("src"), col("c_custkey").as("id"), col("c_name").as("name"))
      val sup = t(s, dir, "supplier")
        .select(lit("supplier").as("src"), col("s_suppkey").as("id"), col("s_name").as("name"))
      c.unionByName(sup)
    }),

    // K3: lake-export-shaped query — window filter, flat projection, order.
    "k3_sorted_export" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")),

    // P4: string scalar functions.
    "p4_strings" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        regexp_replace(col("p_name"), " ", "_").as("name_us"),
        expr("split_part(p_type, ' ', 1)").as("type_head"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        col("p_name").like("%a%").as("has_a"),
        regexp_extract(col("p_type"), "[A-Z]+", 0).as("type_caps"),
        col("p_brand").rlike("Brand#[12]").as("is_b12"),
        size(regexp_extract_all(col("p_name"), lit("[aeiou]+"), lit(0)))
          .cast("long").as("n_vowel_runs"),
        trim(substring(col("p_name"), 1, 10)).as("name10"))),

    // P5: date/time scalar functions.
    "p5_dates" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        to_date(date_trunc("month", col("o_orderdate"))).as("order_month"),
        add_months(col("o_orderdate"), 15).as("plus15m"),
        (unix_seconds(col("o_orderdate").cast("timestamp")) - lit(946684800L)).as("sec_since_2000"),
        (unix_millis(col("o_orderdate").cast("timestamp")) - lit(946684800000L)).as("ms_since_2000"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"))),

    // P8: JSON extraction + aggregation over a JSON payload column.
    "p8_json" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("user_id")
        .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("n"))),

    // P8 (Spark 4 Variant path): the same JSON aggregation through
    // parse_json + variant_get — the engine's VariantType surface for
    // JSON-typed columns (SURVEY §1.2), which at scale beats per-access
    // string re-parsing: the payload parses once into the binary variant
    // encoding and every field access is a cheap path lookup.
    "p8_variant" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", variant_get(col("v"), "$.k", "bigint"))
        .groupBy("user_id")
        .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("n"))),

    // P6: arithmetic scalar functions — fee multipliers, safe division,
    // ceilings, ratios (reference v_liquidity_pool_trade_volume fee math).
    "p6_math" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (lit(1.0) + col("l_tax")).as("fee_mult"),
        try_divide(col("l_extendedprice"), col("l_quantity")).as("unit_price"),
        try_divide(col("l_discount"), col("l_tax")).as("disc_tax_ratio"),
        ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
        floor(col("l_quantity")).cast("long").as("qty_floor"),
        (dec2(col("l_extendedprice")) * dec2(col("l_discount")))
          .cast("double").as("disc_amt"))),

    // P9: array functions — explode-free aggregation into arrays, sizes,
    // deterministic ordering via sort + join-to-string.
    "p9_arrays" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          countDistinct("event_type").cast("long").as("n_types"),
          concat_ws(",", array_sort(collect_set(col("event_type")))).as("types"),
          size(collect_list(col("event_id"))).cast("long").as("n_events"))),

    // P1 (full width): the reference's hardest projection surface — the
    // 121-field details RECORD parsed via from_json through the complete
    // schema replica, then the avro-export flatten (~120 leaves in
    // reference order). Most leaves are null (each op type populates its
    // slice), exactly like production history_operations.
    // The JSON round trip (to_json fixture build + from_json through the
    // full schema) is CodegenFallback per-row work — measured 5.7 s of
    // CPU in ONE task at sf0.1 (single-row-group source, so the scan
    // never splits and the whole parse serializes; r11 ProfileStages).
    // Spread the 5 narrow input columns first (the scan-estimate rule:
    // a no-op on many-split production tables) so the parse runs wide.
    "p1_struct_flatten_wide" -> ((s, dir) =>
      graft.sources.HistoryOperations.flattenWideScalar(
        graft.sources.HistoryOperations.syntheticOps(
          graft.operators.Dedup.spread(t(s, dir, "events"))))),

    // P1 (full width #2): history_effects — NUMERIC (decimal) leaves,
    // eight BOOL flags, repeated asset-amount records, and the export's
    // one transformed column (safe_cast of seller_muxed_id to integer).
    // Spread before the parse for the same reason as its sibling above.
    "p1_effects_flatten_wide" -> ((s, dir) =>
      graft.sources.HistoryEffects.flattenWideScalar(
        graft.sources.HistoryEffects.syntheticEffects(
          graft.operators.Dedup.spread(t(s, dir, "events"))))),

    // P1: RECORD handling — parse JSON into a typed struct, build a nested
    // struct, flatten leaf fields (Catalyst prunes the unread branches).
    "p1_struct_flatten" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("detail",
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))))
        .withColumn("u", struct(col("user_id"), col("value"), col("event_type")))
        .select(
          col("event_id"),
          col("detail.k").as("k"),
          col("u.user_id").as("user_id"),
          col("u.value").as("value")))
  )

  private val d2Oracle: String =
    """WITH src AS (
      |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, c_mktsegment,
      |         (c_custkey % 10 = 0) AS deleted
      |  FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'cust_new_' || CAST(c_custkey AS VARCHAR), 0.0,
      |         c_mktsegment, false
      |  FROM customer WHERE c_custkey % 7 = 0)
      |SELECT t.c_custkey, t.c_name, t.c_acctbal, t.c_mktsegment
      |FROM customer t LEFT JOIN (SELECT DISTINCT c_custkey FROM src) s USING (c_custkey)
      |WHERE s.c_custkey IS NULL
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM src WHERE NOT deleted""".stripMargin

  /** The per-user as-of join oracle: each click's prevailing purchase
    * price from the half-open [ts, next ts) purchase intervals. */
  private val asofJoinOracle: String =
    """WITH intervals AS (
      |  SELECT user_id AS p_user, value AS price, ts AS valid_from,
      |    coalesce(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |             TIMESTAMP '2200-01-01 00:00:00') AS valid_to
      |  FROM events WHERE event_type = 'purchase')
      |SELECT e.event_id, e.user_id, e.ts, p.price
      |FROM events e LEFT JOIN intervals p
      |  ON e.user_id = p.p_user AND e.ts >= p.valid_from AND e.ts < p.valid_to
      |WHERE e.event_type = 'click'""".stripMargin

  /** The global as-of join oracle: each view's prevailing price from
    * user 42's purchase intervals. */
  private val asofGlobalOracle: String =
    """WITH gp AS (
      |  SELECT value AS global_price, ts AS valid_from,
      |    coalesce(lead(ts, 1) OVER (ORDER BY ts, event_id),
      |             TIMESTAMP '2200-01-01 00:00:00') AS valid_to
      |  FROM events WHERE event_type = 'purchase' AND user_id = 42)
      |SELECT e.event_id, e.ts, g.global_price
      |FROM events e LEFT JOIN gp g ON e.ts >= g.valid_from AND e.ts < g.valid_to
      |WHERE e.event_type = 'view'""".stripMargin

  /** The SCD2 interval law: each purchase valid until the user's next one
    * (end of time for the last). */
  private val scd2IntervalsOracle: String =
    """SELECT user_id, event_id, value, ts AS valid_from,
      |  coalesce(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |           TIMESTAMP '2200-01-01 00:00:00') AS valid_to
      |FROM events WHERE event_type = 'purchase'""".stripMargin

  /** Per user, the sum of the JSON key `props.k` and the event count. */
  private val jsonKeySumOracle: String =
    """SELECT user_id,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  COUNT(*) AS n
      |FROM events GROUP BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "s1_ledger_range" ->
      """SELECT min(event_id) AS start_id, max(event_id) AS end_id, COUNT(*) AS n
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

    "s4_typed_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0""".stripMargin,

    "d1_del_ins" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1""".stripMargin,

    "d2_merge_tombstone" -> d2Oracle,

    // identical semantics, executed against partitioned storage
    "d2_merge_storage" -> d2Oracle,

    "d3_insert_unique" ->
      """SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin,

    "d4_dedup_insert" ->
      """WITH ranked AS (
        |  SELECT l_partkey, l_suppkey, l_shipdate,
        |    row_number() OVER (PARTITION BY l_partkey, l_suppkey
        |                       ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem),
        |fresh AS (SELECT l_partkey, l_suppkey, l_shipdate AS first_shipdate
        |          FROM ranked WHERE rn = 1)
        |SELECT * FROM fresh WHERE (l_partkey + l_suppkey) % 4 <> 0""".stripMargin,

    "w1_current_state" ->
      """SELECT user_id, event_id, event_type, value, ts FROM (
        |  SELECT e.*, dense_rank() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rnk
        |  FROM events e) WHERE rnk = 1""".stripMargin,

    "w2_first_order" ->
      """SELECT o_custkey, o_orderkey AS first_order, o_orderdate AS first_date FROM (
        |  SELECT o.*, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders o) WHERE rn = 1""".stripMargin,

    "w3_scd2_intervals" -> scd2IntervalsOracle,

    "j3_asof_join" -> asofJoinOracle,

    "j3_asof_global" -> asofGlobalOracle,

    // Identical semantics to j3_asof_join — the union-window execution must
    // be invisible to results.
    "j3_asof_union" -> asofJoinOracle,

    // sparse-key leg: same interval semantics on the synthetic shard
    "j3_asof_auto_equi" ->
      """WITH p0 AS (
        |  SELECT event_id % 50000 AS shard, value, ts, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |intervals AS (
        |  SELECT shard, value AS price, ts AS valid_from,
        |    coalesce(lead(ts, 1) OVER (PARTITION BY shard ORDER BY ts, event_id),
        |             TIMESTAMP '2200-01-01 00:00:00') AS valid_to
        |  FROM p0),
        |c AS (SELECT event_id, event_id % 50000 AS shard, ts
        |      FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.shard, c.ts, p.price
        |FROM c LEFT JOIN intervals p
        |  ON c.shard = p.shard AND c.ts >= p.valid_from AND c.ts < p.valid_to""".stripMargin,

    // regime choice must be invisible: same oracle as the fixed forms
    "j3_asof_auto" -> asofJoinOracle,

    // Identical semantics to j3_asof_global — bin replication must be
    // invisible to results.
    "j3_interval_binned" -> asofGlobalOracle,

    "j1_state_ledger_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderdate AS closed_at
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin,

    // salting must be invisible to results: plain join oracle
    "j11_salted_join" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

    // the bloom pre-filter must be invisible to results: plain join oracle
    "j10_bloom_reduce" ->
      """SELECT o.o_orderdate, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "p12_unpivot" ->
      """WITH u AS (
        |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
        |SELECT metric, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM u GROUP BY 1""".stripMargin,

    // pivot == conditional aggregation, stated as such
    "p13_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY 1""".stripMargin,

    "j2_dim_join" ->
      """SELECT r.r_name, n.n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name""".stripMargin,

    "j4_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "j5_self_join" ->
      """SELECT a.l_orderkey, a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  a.l_quantity AS qty_a, b.l_quantity AS qty_b
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = 1 AND b.l_linenumber = 2""".stripMargin,

    "j6_left_filter" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_brand
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size > 40
        |WHERE p.p_brand IS NOT NULL OR l.l_quantity > 45""".stripMargin,

    "j7_cross_scalar" ->
      """SELECT e.event_type, COUNT(*) AS n, (SELECT max(ts) FROM events) AS max_ts
        |FROM events e GROUP BY e.event_type""".stripMargin,

    "w4_rank_latest" ->
      """SELECT event_type, event_id, ts, value FROM (
        |  SELECT e.*, rank() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS r
        |  FROM events e) WHERE r = 1""".stripMargin,

    "a2_provider_agg" ->
      """SELECT user_id, min(ts) AS first_seen,
        |  CAST(SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  COUNT(*) AS n_events
        |FROM events
        |WHERE event_type IN ('purchase', 'signup') AND (value > 0 OR value IS NULL)
        |GROUP BY user_id""".stripMargin,

    "a5_daily_activity" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  COUNT(DISTINCT user_id) AS uniq_users
        |FROM events GROUP BY 1, 2""".stripMargin,

    "a5_ohlc" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  first(value ORDER BY ts, event_id) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  last(value ORDER BY ts, event_id) AS close,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
        |  COUNT(*) AS n_trades
        |FROM events WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,

    "a5_tvl" ->
      """WITH latest AS (
        |  SELECT * FROM (
        |    SELECT e.*, dense_rank() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rnk FROM events e) WHERE rnk = 1)
        |SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  COUNT(*) AS n_holders
        |FROM latest GROUP BY event_type""".stripMargin,

    "s9_audit_scan" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type AS method,
        |  COUNT(*) AS n_calls,
        |  COUNT(DISTINCT user_id) AS n_principals,
        |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS payload_sum,
        |  CAST(MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS payload_max
        |FROM events GROUP BY 1, 2""".stripMargin,

    "s12_backfill" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS p_day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "d13_scd2_merge" -> scd2IntervalsOracle,

    "k6_optimize" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1""".stripMargin,

    // outcome report + per-clone read-back counts; the _bkp_ decoy must
    // be absent and the missing view must report missing
    "k6_dataset_refresh" ->
      """SELECT 'cloned_table' AS kind, 'cust_a' AS name,
        |  CAST((SELECT COUNT(*) FROM customer WHERE c_custkey % 3 = 0) AS BIGINT) AS n_rows
        |UNION ALL SELECT 'cloned_table', 'cust_b',
        |  CAST((SELECT COUNT(*) FROM customer WHERE c_custkey % 3 = 1) AS BIGINT)
        |UNION ALL SELECT 'cloned_table', 'ord_small',
        |  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0) AS BIGINT)
        |UNION ALL SELECT 'cloned_view', 'k6_refresh_view', CAST(NULL AS BIGINT)
        |UNION ALL SELECT 'missing_view', 'k6_refresh_missing_view', CAST(NULL AS BIGINT)""".stripMargin,

    "s9_audit_wide" ->
      """WITH base AS (
        |  SELECT event_id % 997 AS job_id, user_id, event_type, ts, value, props,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) * 100 AS slot_ms,
        |    (event_type = 'click'
        |      AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 0)
        |      AS is_del,
        |    (event_type = 'purchase'
        |      AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 1)
        |      AS is_dc
        |  FROM events),
        |j AS (
        |  SELECT job_id,
        |    MIN(user_id) AS principal,
        |    bool_or(event_type = 'signup') AS has_job_change,
        |    bool_or(event_type = 'view') AS has_table_creation,
        |    bool_or(event_type = 'click') AS has_table_change,
        |    bool_or(event_type = 'purchase') AS has_data_read,
        |    bool_or(event_type = 'error') AS has_error,
        |    COALESCE(bool_or(is_del), FALSE) AS has_table_deletion,
        |    CAST(SUM(CASE WHEN is_del THEN 1 END) AS BIGINT) AS n_deletions,
        |    MAX(CASE WHEN is_del THEN
        |      (CASE WHEN k % 20 = 0 THEN 'expired' ELSE 'deleted' END) END)
        |      AS deletion_reason,
        |    COALESCE(bool_or(is_dc), FALSE) AS has_data_change,
        |    CAST(SUM(CASE WHEN is_dc THEN k % 10 END) AS BIGINT) AS dc_deleted_rows,
        |    CAST(SUM(CASE WHEN is_dc THEN k // 10 END) AS BIGINT) AS dc_inserted_rows,
        |    MIN(ts) AS job_start,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value * 1000 AS DECIMAL(18,2)) END) AS DOUBLE) AS runtime_ms,
        |    SUM(slot_ms) AS slot_ms,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_kinds,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_principals,
        |    bool_or(regexp_matches(props, '"k": [0-9]\}')) AS is_dashboard_job
        |  FROM base GROUP BY 1)
        |SELECT job_id, principal, has_job_change, has_table_creation,
        |  has_table_change, has_data_read, has_error,
        |  has_table_deletion, n_deletions, deletion_reason,
        |  has_data_change, dc_deleted_rows, dc_inserted_rows,
        |  CAST(minute(job_start) AS BIGINT) AS start_minute,
        |  CAST(hour(job_start) AS BIGINT) AS start_hour,
        |  CAST(dayofweek(job_start) AS BIGINT) AS start_dow,
        |  CAST(dayofyear(job_start) AS BIGINT) AS start_doy,
        |  CAST(month(job_start) AS BIGINT) AS start_month,
        |  CAST(quarter(job_start) AS BIGINT) AS start_quarter,
        |  CAST(year(job_start) AS BIGINT) AS start_year,
        |  runtime_ms,
        |  CASE WHEN runtime_ms IS NOT NULL AND runtime_ms <> 0
        |       THEN slot_ms / runtime_ms END AS avg_slots,
        |  slot_ms * 1048576.0 / 1073741824.0 AS billed_gb,
        |  slot_ms * 1048576.0 / 1099511627776.0 * 5.0 AS est_cost_usd,
        |  n_event_kinds, n_principals, is_dashboard_job,
        |  (runtime_ms IS NULL AND slot_ms IS NULL) AS is_cached
        |FROM j""".stripMargin,

    // the ordered ARRAY_AGG replayed as sorted positions: resources are
    // unique per job, so the 0-based ordinal is a row_number over the
    // same order the Spark side's sort_array + posexplode pins
    "s9_audit_read" ->
      """WITH r AS (
        |  SELECT event_id % 997 AS job_id, event_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT job_id, CAST(COUNT(*) AS BIGINT) AS n_reads,
        |    COALESCE(bool_or(k > 50), FALSE) AS fields_truncated
        |  FROM r GROUP BY 1)
        |SELECT g.job_id, g.n_reads, g.fields_truncated,
        |  CAST(row_number() OVER (PARTITION BY r.job_id ORDER BY r.event_id)
        |    - 1 AS BIGINT) AS idx,
        |  r.event_id AS resource
        |FROM r JOIN g ON r.job_id = g.job_id""".stripMargin,

    // timeline fan-out + exact integer per-minute totals, shares row-level
    // (NULL where the minute's total demand is 0)
    "s9_audit_slots" ->
      """WITH base AS (
        |  SELECT event_id % 997 AS job_id, event_type, ts, value,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) * 100 AS slot_ms
        |  FROM events),
        |j AS (
        |  SELECT job_id, MIN(ts) AS job_start,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value * 1000 AS DECIMAL(18,2)) END) AS DOUBLE) AS runtime_ms,
        |    SUM(slot_ms) AS slot_ms
        |  FROM base GROUP BY 1),
        |f AS (
        |  SELECT job_id,
        |    CAST(FLOOR(1000.0 * slot_ms / runtime_ms) AS BIGINT) AS slots_milli,
        |    CAST((CAST(job_start AS DATE) - DATE '2024-01-01') AS BIGINT) * 1440
        |      + CAST(hour(job_start) AS BIGINT) * 60
        |      + CAST(minute(job_start) AS BIGINT) AS m0,
        |    LEAST(CAST(CEIL(runtime_ms / 60000.0) AS BIGINT), 10) AS mins
        |  FROM j
        |  WHERE runtime_ms IS NOT NULL AND runtime_ms <> 0
        |    AND slot_ms IS NOT NULL),
        |tl AS (
        |  SELECT job_id, slots_milli, m0 + bk AS minute_idx
        |  FROM (SELECT job_id, slots_milli, m0,
        |          unnest(generate_series(1, mins)) AS bk
        |        FROM f WHERE mins >= 1)),
        |tot AS (
        |  SELECT minute_idx, CAST(COUNT(*) AS BIGINT) AS n_jobs,
        |    CAST(SUM(slots_milli) AS BIGINT) AS minute_total
        |  FROM tl GROUP BY 1)
        |SELECT tl.minute_idx, tl.job_id, tl.slots_milli,
        |  tot.n_jobs, tot.minute_total,
        |  CAST(tl.slots_milli AS DOUBLE) / NULLIF(tot.minute_total, 0) AS share
        |FROM tl JOIN tot USING (minute_idx)""".stripMargin,

    "a5_cube" -> OracleSql.groupingSets("CUBE"),

    "w5_ntile" ->
      """WITH t AS (
        |  SELECT event_type, NTILE(4) OVER (PARTITION BY event_type
        |           ORDER BY value, event_id) AS q,
        |    value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(q AS INTEGER) AS q, COUNT(*) AS n,
        |  MIN(value) AS lo, MAX(value) AS hi
        |FROM t GROUP BY 1, 2""".stripMargin,

    "a5_gapfill" ->
      """WITH r AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM r),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events
        |  WHERE event_type = 'purchase' AND value > 140 GROUP BY 1)
        |SELECT s.day, coalesce(d.n, 0) AS n
        |FROM spine s LEFT JOIN daily d USING (day)""".stripMargin,

    "t_linkage" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,

    // same gaps-and-islands sessions (shared CTE chain); the path via
    // ORDER BY inside string_agg (DuckDB's ordered aggregation) must
    // equal Spark's sorted-struct join
    "a9_session_paths" ->
      (sessionCtes +
        """, p AS (
          |  SELECT user_id, grp,
          |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          |  FROM z GROUP BY 1, 2)
          |SELECT path, COUNT(*) AS n_sessions
          |FROM p GROUP BY 1
          |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    "a8_sessionize" ->
      (sessionCtes +
        """SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
          |  COUNT(*) AS n_events,
          |  CAST(SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
          |FROM z GROUP BY user_id, grp""".stripMargin),

    "a5_rollup" -> OracleSql.groupingSets("ROLLUP"),

    "a5_trade_agg" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month, p_brand,
        |  COUNT(*) AS n_trades,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS base_volume,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS counter_volume,
        |  first(l_extendedprice / nullif(l_quantity, 0)
        |        ORDER BY l_shipdate, l_orderkey, l_linenumber) AS open_price,
        |  max(l_extendedprice / nullif(l_quantity, 0)) AS high_price,
        |  min(l_extendedprice / nullif(l_quantity, 0)) AS low_price,
        |  last(l_extendedprice / nullif(l_quantity, 0)
        |       ORDER BY l_shipdate, l_orderkey, l_linenumber) AS close_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2""".stripMargin,

    "a5_fee_stats" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  COUNT(*) AS n_fees,
        |  round(quantile_cont(o_totalprice, 0.1), 6) AS fee_p10,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS fee_p50,
        |  round(quantile_cont(o_totalprice, 0.95), 6) AS fee_p95,
        |  round(quantile_cont(o_totalprice, 0.99), 6) AS fee_p99,
        |  max(o_totalprice) AS fee_max,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS fee_avg
        |FROM orders GROUP BY 1""".stripMargin,

    "s11_quarantine" ->
      """SELECT
        |  COUNT(CASE WHEN o_orderkey % 10 <> 0 THEN 1 END) AS n_good,
        |  CAST(SUM(CASE WHEN o_orderkey % 10 <> 0 THEN o_orderkey END) AS BIGINT) AS good_id_sum,
        |  COUNT(CASE WHEN o_orderkey % 10 = 0 THEN 1 END) AS n_bad
        |FROM orders""".stripMargin,

    "d11_snapshot_diff" ->
      """WITH bf AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |af AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |j AS (
        |  SELECT coalesce(bf.o_orderkey, af.o_orderkey) AS o_orderkey,
        |    bf.o_orderkey IS NOT NULL AS in_bf,
        |    af.o_orderkey IS NOT NULL AS in_af,
        |    CAST(bf.o_orderstatus IS DISTINCT FROM af.o_orderstatus AS INTEGER) +
        |    CAST(bf.o_totalprice IS DISTINCT FROM af.o_totalprice AS INTEGER) AS nch
        |  FROM bf FULL OUTER JOIN af ON bf.o_orderkey = af.o_orderkey)
        |SELECT o_orderkey,
        |  CASE WHEN NOT in_bf THEN 'added'
        |       WHEN NOT in_af THEN 'removed'
        |       WHEN nch > 0 THEN 'changed' ELSE 'unchanged' END AS change_type,
        |  CAST(CASE WHEN in_bf AND in_af THEN nch ELSE 0 END AS BIGINT) AS n_cols_changed
        |FROM j""".stripMargin,

    "s10_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |            ELSE o_orderstatus END AS o_orderstatus,
        |  COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS id_sum
        |FROM orders GROUP BY 1""".stripMargin,

    "a5_fee_stats_sampled" ->
      """WITH s AS (
        |  SELECT o_orderdate, o_totalprice
        |  FROM orders
        |  WHERE CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13) AS BIGINT) % 100 AS INTEGER) < 10)
        |SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  COUNT(*) AS n_sampled,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS fee_p50,
        |  round(quantile_cont(o_totalprice, 0.95), 6) AS fee_p95
        |FROM s GROUP BY 1""".stripMargin,

    "a5_asset_stats" ->
      """SELECT p_brand,
        |  COUNT(DISTINCT l_partkey) AS n_assets,
        |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS net_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    "a5_network_stats" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_active_users,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / nullif(COUNT(value), 0) AS value_avg,
        |  max(value) AS value_max,
        |  min(value) AS value_min
        |FROM events GROUP BY 1""".stripMargin,

    "a5_balance_running" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS dsum, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n, CAST(dsum AS DOUBLE) AS day_value,
        |  CAST(SUM(dsum) OVER (PARTITION BY event_type ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
        |FROM daily""".stripMargin,

    "k5_copy_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderstatus = 'O' GROUP BY 1""".stripMargin,

    "k4_json_feed" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1""".stripMargin,

    "k6_snapshot_roundtrip" ->
      """SELECT c_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer WHERE c_custkey % 3 = 0 GROUP BY 1""".stripMargin,

    "k7_sandbox_retention" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
        |GROUP BY 1""".stripMargin,

    "s9_audit_minutes" ->
      """WITH j AS (
        |  SELECT event_type,
        |    CAST(EXTRACT(HOUR FROM ts) * 60 + EXTRACT(MINUTE FROM ts) AS BIGINT) AS m0,
        |    LEAST(CAST(ceil(coalesce(value, 0) / 60.0) AS BIGINT), 10) AS mins
        |  FROM events),
        |x AS (
        |  SELECT event_type, m0, unnest(generate_series(1, mins)) AS bk
        |  FROM j WHERE mins >= 1)
        |SELECT event_type, CAST((m0 + bk - 1) % 1440 AS BIGINT) AS minute_of_day,
        |  COUNT(*) AS concurrency
        |FROM x GROUP BY 1, 2""".stripMargin,

    // endpoint diff: the transient v1 files (÷3-odd) are in neither
    // endpoint manifest, so they are correctly absent from the feed
    "d12_change_feed" ->
      """SELECT 'insert' AS _change_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer WHERE c_custkey % 5 = 0
        |UNION ALL
        |SELECT 'delete', COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE),
        |  CAST(SUM(c_custkey) AS BIGINT)
        |FROM customer WHERE c_custkey % 2 = 0""".stripMargin,

    "k6_timetravel" ->
      """SELECT c_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer WHERE c_custkey % 3 IN (0, 1) GROUP BY 1""".stripMargin,

    "k3_avro_export" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  MAX(o_orderdate) AS max_date
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 1""".stripMargin,

    "k1_partitioned_append" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS p_month, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin,

    "k2_truncate_replace" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer WHERE c_custkey % 7 = 0 GROUP BY 1""".stripMargin,

    "k8_view" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderstatus = 'F' GROUP BY 1""".stripMargin,

    "d6_truncate_reset" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  CAST(SUM(s_suppkey) AS BIGINT) AS key_sum
        |FROM supplier WHERE s_suppkey % 2 = 1 GROUP BY 1""".stripMargin,

    "d7_run_stats" ->
      """SELECT * FROM (VALUES
        |  ('run1-ledgers', TIMESTAMP '2023-12-31 23:50:00',
        |   CAST(100 AS BIGINT), CAST(200 AS BIGINT), 'ledgers'),
        |  ('run2-ledgers', TIMESTAMP '2024-01-01 00:00:00',
        |   CAST(200 AS BIGINT), CAST(300 AS BIGINT), 'ledgers'))
        |AS t(batch_id, batch_run_date, start_ledger, end_ledger, table_name)""".stripMargin,

    "s5_partner_csv" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
        |FROM orders WHERE o_orderkey % 100 = 1 GROUP BY 1""".stripMargin,

    // the pulled feed must equal the source dim plus the stamped lineage
    "s7_api_pull" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  'batch-1' AS batch_id,
        |  '2024-01-01T00:00:00' AS batch_run_date,
        |  '2024-01-01T00:05:00Z' AS batch_insert_ts
        |FROM nation""".stripMargin,

    "a5_incremental_mart" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-22'
        |GROUP BY 1, 2""".stripMargin,

    "qa_checks" ->
      """WITH ev AS (SELECT
        |  COUNT(CASE WHEN ts IS NULL THEN 1 END) AS not_null_ts,
        |  COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS not_null_event_type,
        |  COUNT(CASE WHEN event_type IS NOT NULL AND event_type NOT IN ('click','purchase','view','signup','error') THEN 1 END) AS accepted_values_event_type,
        |  COUNT(CASE WHEN value < 0 THEN 1 END) AS non_negative_value,
        |  COUNT(*) - COUNT(DISTINCT event_id) AS unique_event_id,
        |  CASE WHEN COUNT(*) < 1000 THEN 1 ELSE 0 END AS min_rows_1000,
        |  CASE WHEN max(ts) IS NULL OR max(ts) < TIMESTAMP '2024-02-01 00:00:00' - INTERVAL 48 HOUR THEN 1 ELSE 0 END AS recency_ts_48h,
        |  CASE WHEN max(ts) IS NULL OR max(ts) < TIMESTAMP '2024-02-01 00:00:00' - INTERVAL 12 HOUR THEN 1 ELSE 0 END AS recency_ts_12h
        |  FROM events),
        | ord AS (SELECT
        |  COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS not_null_o_orderkey,
        |  COUNT(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O','P') THEN 1 END) AS accepted_values_o_orderstatus,
        |  COUNT(CASE WHEN o_totalprice < 0 THEN 1 END) AS non_negative_o_totalprice,
        |  COUNT(*) - COUNT(DISTINCT o_orderkey) AS unique_o_orderkey
        |  FROM orders),
        | rows_ AS (
        |  SELECT 'events' AS table_name, 'not_null_ts' AS check_name, not_null_ts AS violations FROM ev
        |  UNION ALL SELECT 'events', 'not_null_event_type', not_null_event_type FROM ev
        |  UNION ALL SELECT 'events', 'accepted_values_event_type', accepted_values_event_type FROM ev
        |  UNION ALL SELECT 'events', 'non_negative_value', non_negative_value FROM ev
        |  UNION ALL SELECT 'events', 'unique_event_id', unique_event_id FROM ev
        |  UNION ALL SELECT 'events', 'min_rows_1000', min_rows_1000 FROM ev
        |  UNION ALL SELECT 'events', 'recency_ts_48h', recency_ts_48h FROM ev
        |  UNION ALL SELECT 'events', 'recency_ts_12h', recency_ts_12h FROM ev
        |  UNION ALL SELECT 'orders', 'not_null_o_orderkey', not_null_o_orderkey FROM ord
        |  UNION ALL SELECT 'orders', 'accepted_values_o_orderstatus', accepted_values_o_orderstatus FROM ord
        |  UNION ALL SELECT 'orders', 'non_negative_o_totalprice', non_negative_o_totalprice FROM ord
        |  UNION ALL SELECT 'orders', 'unique_o_orderkey', unique_o_orderkey FROM ord)
        |SELECT table_name, check_name, CAST(violations AS BIGINT) AS violations,
        |  violations = 0 AS passed
        |FROM rows_""".stripMargin,

    // the fixture LAW, stated directly: the native XDR extraction must
    // invert the plain-Spark encode field-for-field
    "s2_xdr_decode" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(o_orderkey % 100 AS BIGINT) AS ledger_version,
        |  md5(CAST(o_orderkey AS VARCHAR))
        |    || md5(CAST(o_orderkey AS VARCHAR) || 'x') AS prev_hash,
        |  CAST(1700000000 + o_orderkey AS BIGINT) AS close_time,
        |  CAST(100 + o_orderkey % 7 AS BIGINT) AS base_fee
        |FROM orders WHERE o_orderkey % 37 = 0""".stripMargin,

    // the whole-record fixture LAW: every LedgerHeader column restated
    // from the row key; the native record decode must invert the
    // variable-interior encode (upgrades vector, scp ext union, v1
    // flags ext) bit-for-bit across all shape combinations
    "s2_ledger_header" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  CAST(o_orderkey % 100 AS BIGINT) AS ledger_version,
        |  md5(CAST(o_orderkey AS VARCHAR))
        |    || md5(CAST(o_orderkey AS VARCHAR) || 'x') AS prev_hash,
        |  md5(CAST(o_orderkey AS VARCHAR) || 't')
        |    || md5(CAST(o_orderkey AS VARCHAR) || 'u') AS tx_set_hash,
        |  CAST(1700000000 + o_orderkey AS BIGINT) AS close_time,
        |  CAST(o_orderkey % 3 AS BIGINT) AS upgrade_count,
        |  o_orderkey % 2 = 1 AS signed,
        |  md5(CAST(o_orderkey AS VARCHAR) || 'r')
        |    || md5(CAST(o_orderkey AS VARCHAR) || 's') AS result_hash,
        |  md5(CAST(o_orderkey AS VARCHAR) || 'b')
        |    || md5(CAST(o_orderkey AS VARCHAR) || 'c') AS bucket_hash,
        |  CAST(o_orderkey AS BIGINT) AS ledger_seq,
        |  CAST(1000000000000 + o_orderkey AS BIGINT) AS total_coins,
        |  CAST(7000000 + o_orderkey AS BIGINT) AS fee_pool,
        |  CAST(o_orderkey % 11 AS BIGINT) AS inflation_seq,
        |  CAST(900000000 + o_orderkey AS BIGINT) AS id_pool,
        |  CAST(100 + o_orderkey % 7 AS BIGINT) AS base_fee,
        |  CAST(5000000 + o_orderkey % 13 AS BIGINT) AS base_reserve,
        |  CAST(1000 + o_orderkey % 50 AS BIGINT) AS max_tx_set_size,
        |  CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_orderkey % 8 ELSE 0 END
        |    AS BIGINT) AS flags,
        |  true AS truncated_rejected
        |FROM orders WHERE o_orderkey % 41 = 0""".stripMargin,

    // the LedgerEntryChanges LAW: change 0's kind by k%5 (removed →
    // the TTL key, else the TTL entry), change 1 a created offer,
    // change 2 a removed account key, vector length 1 + k%3
    "s3_entry_changes" ->
      """WITH src AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey AS VARCHAR) AS ks,
        |    unnest(range(0, 1 + CAST(c_custkey % 3 AS BIGINT))) AS i0
        |  FROM customer WHERE c_custkey % 59 = 0)
        |SELECT k, CAST(1 + k % 3 AS BIGINT) AS n_changes,
        |  CAST(i0 AS BIGINT) AS i,
        |  CAST(CASE WHEN i0 = 0 THEN k % 5 WHEN i0 = 1 THEN 0 ELSE 2 END
        |    AS BIGINT) AS change_kind,
        |  CAST(CASE WHEN i0 = 0 AND k % 5 <> 2 THEN 9
        |    WHEN i0 = 1 THEN 2 END AS BIGINT) AS entry_type,
        |  CAST(CASE WHEN (i0 = 0 AND k % 5 <> 2) OR i0 = 1
        |    THEN 9000000 + k % 100000 END AS BIGINT) AS last_modified,
        |  CAST(CASE WHEN i0 = 0 AND k % 5 <> 2 THEN 4000000 + k END
        |    AS BIGINT) AS ttl_live,
        |  CAST(CASE WHEN i0 = 1 THEN 4000000000 + k END AS BIGINT)
        |    AS offer_id,
        |  CAST(CASE WHEN i0 = 0 AND k % 5 = 2 THEN 9
        |    WHEN i0 = 2 THEN 0 END AS BIGINT) AS key_entry_type,
        |  CASE WHEN i0 = 0 AND k % 5 = 2
        |    THEN md5(ks||'t0a')||md5(ks||'t0b') END AS key_hash,
        |  CASE WHEN i0 = 2 THEN md5(ks)||md5(ks||'a') END
        |    AS key_account_payload_hex
        |FROM src""".stripMargin,

    // the LedgerEntry wire-record LAW: entry arm t = k%10, the v1 ext's
    // sponsor by k%3, one identifying probe per nested struct
    "s3_ledger_entry" ->
      """WITH src AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey AS VARCHAR) AS ks,
        |    CAST(c_custkey % 10 AS BIGINT) AS t
        |  FROM customer WHERE c_custkey % 53 = 0)
        |SELECT k,
        |  CAST(9000000 + k % 100000 AS BIGINT) AS last_modified_ledger_seq,
        |  t AS entry_type,
        |  CASE WHEN k % 3 = 0 THEN md5(ks||'sp1')||md5(ks||'sp2') END
        |    AS sponsor_payload_hex,
        |  CAST(CASE WHEN t = 0 THEN 5000000000 + k END AS BIGINT)
        |    AS account_balance,
        |  CAST(CASE WHEN t = 1 THEN 31337000 + k END AS BIGINT)
        |    AS trust_balance,
        |  CAST(CASE WHEN t = 2 THEN 4000000000 + k END AS BIGINT)
        |    AS offer_id,
        |  CASE WHEN t = 3
        |    THEN substring(md5(ks||'dn'),1,CAST(k % 13 AS INTEGER))
        |  END AS data_name,
        |  CAST(CASE WHEN t = 3 THEN k % 9 END AS BIGINT) AS data_value_size,
        |  CAST(CASE WHEN t = 4 THEN 555000 + k END AS BIGINT) AS cb_amount,
        |  CAST(CASE WHEN t = 5 THEN 30 END AS BIGINT) AS lp_fee,
        |  CAST(CASE WHEN t = 6 THEN 7000000 + k END AS BIGINT)
        |    AS cd_val_num,
        |  CAST(CASE WHEN t = 7 THEN k % 20 + 4 END AS BIGINT) AS cc_size,
        |  CAST(CASE WHEN t = 8 THEN 0 END AS BIGINT) AS cs_id,
        |  CAST(CASE WHEN t = 9 THEN 4000000 + k END AS BIGINT) AS ttl_live,
        |  true AS truncated_rejected
        |FROM src""".stripMargin,

    // the SCVal-completion fixture LAW: arm m = k%6, the summaries AND
    // the JSON rendering restated per arm (256-bit via HUGEINT)
    "s3_scval_exotic" ->
      """WITH src AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey AS VARCHAR) AS ks,
        |    CAST(c_custkey % 6 AS BIGINT) AS m
        |  FROM customer WHERE c_custkey % 47 = 0)
        |SELECT k,
        |  CAST(CASE m WHEN 0 THEN 2 WHEN 1 THEN 11 WHEN 2 THEN 12
        |    WHEN 3 THEN 19 WHEN 4 THEN 20 ELSE 21 END AS BIGINT)
        |    AS val_type,
        |  CASE WHEN m = 1 THEN CAST((k % 9)
        |      * CAST('18446744073709551616' AS HUGEINT) + 1000000 + k
        |      AS VARCHAR)
        |    WHEN m = 2 THEN CAST(-(500 + k % 1000) AS VARCHAR)
        |    WHEN m = 3 THEN md5(ks || 'w1') || md5(ks || 'w2')
        |  END AS val_text,
        |  CAST(CASE WHEN m = 0 THEN k % 1000
        |    WHEN m = 5 THEN 900000 + k END AS BIGINT) AS val_num,
        |  CASE m
        |    WHEN 0 THEN '["error",' || CAST(k % 10 AS VARCHAR) || ','
        |      || CAST(k % 1000 AS VARCHAR) || ']'
        |    WHEN 1 THEN '"' || CAST((k % 9)
        |      * CAST('18446744073709551616' AS HUGEINT) + 1000000 + k
        |      AS VARCHAR) || '"'
        |    WHEN 2 THEN '"' || CAST(-(500 + k % 1000) AS VARCHAR) || '"'
        |    WHEN 3 THEN '["instance","0x' || md5(ks || 'w1')
        |      || md5(ks || 'w2') || '",[["'
        |      || substring(md5(ks || 'sk'), 1, 1) || '",'
        |      || CAST(300 + k AS VARCHAR) || ']]]'
        |    WHEN 4 THEN '"instance_key"'
        |    ELSE '["nonce",' || CAST(900000 + k AS VARCHAR) || ']'
        |  END AS val_json,
        |  CAST(CASE WHEN m = 3 THEN 3 ELSE 1 END AS BIGINT) AS val_nodes,
        |  CAST(CASE WHEN m = 3 THEN 2 ELSE 1 END AS BIGINT) AS val_depth
        |FROM src""".stripMargin,

    // the TTL fixture LAW (36 exact bytes)
    "s3_ttl" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  md5(CAST(c_custkey AS VARCHAR) || 't')
        |    || md5(CAST(c_custkey AS VARCHAR) || 'u') AS key_hash,
        |  CAST(4000000 + c_custkey AS BIGINT) AS live_until_ledger_seq,
        |  true AS truncated_rejected
        |FROM customer WHERE c_custkey % 37 = 0""".stripMargin,

    // the ContractCode fixture LAW: the ASCII code bytes hash the same
    // through DuckDB's VARCHAR sha256 and the decoder's byte sha256
    "s3_contract_code" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  md5(CAST(o_orderkey AS VARCHAR) || 'h')
        |    || md5(CAST(o_orderkey AS VARCHAR) || 'i') AS code_hash,
        |  CAST(o_orderkey % 40 + 8 AS BIGINT) AS code_size,
        |  sha256(substring(
        |    md5(CAST(o_orderkey AS VARCHAR) || 'p')
        |      || md5(CAST(o_orderkey AS VARCHAR) || 'q'),
        |    1, CAST(o_orderkey % 40 AS INTEGER) + 8)) AS code_sha256,
        |  true AS truncated_rejected
        |FROM orders WHERE o_orderkey % 53 = 0""".stripMargin,

    // the ContractDataEntry fixture LAW: address union, SCVal shapes
    // incl. the 128-bit decimals and the SCV_ADDRESS round-trip
    "s3_contract_data" ->
      """WITH src AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey AS VARCHAR) AS ks
        |  FROM customer WHERE c_custkey % 31 = 0)
        |SELECT k,
        |  CASE WHEN k % 2 = 0 THEN md5(ks) || md5(ks || 'a')
        |    ELSE md5(ks || 'h') || md5(ks || 'i')
        |  END AS contract_payload_hex,
        |  CASE WHEN k % 2 = 0 THEN 'G' ELSE 'C' END AS addr_prefix,
        |  CAST(k % 2 AS BIGINT) AS contract_kind,
        |  CAST(k % 2 AS BIGINT) AS durability,
        |  CAST(15 AS BIGINT) AS key_type,
        |  substring(md5(ks || 'k'), 1, CAST(k % 9 AS INTEGER) + 1)
        |    AS key_text,
        |  CAST(CASE k % 7 WHEN 0 THEN 5 WHEN 1 THEN 14 WHEN 2 THEN 16
        |    WHEN 3 THEN 17 WHEN 4 THEN 9 WHEN 5 THEN 10 ELSE 18 END
        |    AS BIGINT) AS val_type,
        |  CASE WHEN k % 7 = 1 THEN
        |    substring(md5(ks || 'v'), 1, CAST(k % 12 AS INTEGER) + 1)
        |  END AS val_text,
        |  CASE WHEN k % 7 = 6 THEN
        |    CASE WHEN k % 2 = 0 THEN 'G' ELSE 'C' END END AS val_addr_prefix,
        |  CASE WHEN k % 7 = 6 THEN md5(ks || 'v1') || md5(ks || 'v2') END
        |    AS val_addr_payload_hex,
        |  CASE WHEN k % 7 = 0 THEN CAST(7000000 + k AS BIGINT)
        |  END AS val_num,
        |  CASE WHEN k % 7 = 4 THEN CAST(
        |      (k % 3) * CAST('18446744073709551616' AS HUGEINT)
        |        + 1000000 + k AS VARCHAR)
        |    WHEN k % 7 = 5 THEN CAST(-(1000000 + k) AS VARCHAR)
        |  END AS val_dec,
        |  CAST(CASE WHEN k % 7 IN (2, 3) THEN 3 ELSE 1 END AS BIGINT)
        |    AS val_nodes,
        |  CAST(CASE WHEN k % 7 IN (2, 3) THEN 2 ELSE 1 END AS BIGINT)
        |    AS val_depth,
        |  '"' || substring(md5(ks || 'k'), 1, CAST(k % 9 AS INTEGER) + 1)
        |    || '"' AS key_json,
        |  CASE k % 7
        |    WHEN 0 THEN CAST(7000000 + k AS VARCHAR)
        |    WHEN 1 THEN '"' || substring(md5(ks || 'v'), 1,
        |      CAST(k % 12 AS INTEGER) + 1) || '"'
        |    WHEN 2 THEN '[' || CAST(k % 100 AS VARCHAR) || ','
        |      || CAST((k + 1) % 100 AS VARCHAR) || ']'
        |    WHEN 3 THEN '[["' || substring(md5(ks || 'm'), 1, 1) || '",'
        |      || CAST(900 + k AS VARCHAR) || ']]'
        |    WHEN 4 THEN '"' || CAST((k % 3)
        |      * CAST('18446744073709551616' AS HUGEINT) + 1000000 + k
        |      AS VARCHAR) || '"'
        |    WHEN 5 THEN '"-' || CAST(1000000 + k AS VARCHAR) || '"'
        |  END AS val_json,
        |  true AS truncated_rejected
        |FROM src""".stripMargin,

    // the LiquidityPoolEntry fixture LAW
    "s3_liquidity_pool" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  md5(CAST(c_custkey AS VARCHAR) || 'p')
        |    || md5(CAST(c_custkey AS VARCHAR) || 'q') AS pool_id,
        |  CAST(c_custkey % 3 AS BIGINT) AS asset_a_type,
        |  CASE c_custkey % 3
        |    WHEN 1 THEN substring(md5(CAST(c_custkey AS VARCHAR) || 's'), 1, 3)
        |    WHEN 2 THEN substring(md5(CAST(c_custkey AS VARCHAR) || 's'), 1, 10)
        |  END AS asset_a_code,
        |  CASE WHEN c_custkey % 3 IN (1, 2) THEN
        |    md5(CAST(c_custkey AS VARCHAR) || 'si')
        |      || md5(CAST(c_custkey AS VARCHAR) || 'sj')
        |  END AS asset_a_issuer_payload_hex,
        |  CAST((c_custkey + 1) % 3 AS BIGINT) AS asset_b_type,
        |  CASE (c_custkey + 1) % 3
        |    WHEN 1 THEN substring(md5(CAST(c_custkey AS VARCHAR) || 'b'), 1, 3)
        |    WHEN 2 THEN substring(md5(CAST(c_custkey AS VARCHAR) || 'b'), 1, 10)
        |  END AS asset_b_code,
        |  CASE WHEN (c_custkey + 1) % 3 IN (1, 2) THEN
        |    md5(CAST(c_custkey AS VARCHAR) || 'bi')
        |      || md5(CAST(c_custkey AS VARCHAR) || 'bj')
        |  END AS asset_b_issuer_payload_hex,
        |  CAST(30 AS BIGINT) AS fee,
        |  CAST(111000 + c_custkey AS BIGINT) AS reserve_a,
        |  CAST(222000 + c_custkey AS BIGINT) AS reserve_b,
        |  CAST(333000 + c_custkey AS BIGINT) AS total_pool_shares,
        |  CAST(c_custkey % 50 AS BIGINT) AS pool_shares_tl_count,
        |  true AS truncated_rejected
        |FROM customer WHERE c_custkey % 23 = 0""".stripMargin,

    // the ClaimableBalanceEntry per-claimant LAW: record scalars repeat
    // per claimant row; the predicate-tree summaries restate each
    // fixture shape (UNCONDITIONAL / AND(ABS,UNCOND) / NOT(REL) / OR)
    "s3_claimable_balance" ->
      """WITH src AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k0,
        |    CAST(c_custkey AS VARCHAR) AS ks,
        |    unnest(range(0, 1 + CAST(c_custkey % 2 AS BIGINT))) AS i0
        |  FROM customer WHERE c_custkey % 29 = 0)
        |SELECT k0 AS k, CAST(i0 AS BIGINT) AS i,
        |  md5(ks || 'b') || md5(ks || 'c') AS balance_id,
        |  CAST(CASE WHEN k0 % 2 = 0 THEN 0 ELSE 1 END AS BIGINT) AS asset_type,
        |  CASE WHEN k0 % 2 = 1 THEN substring(md5(ks || 'x'), 1, 3) END
        |    AS asset_code,
        |  CASE WHEN k0 % 2 = 1 THEN md5(ks || 'f') || md5(ks || 'g') END
        |    AS asset_issuer_payload_hex,
        |  CAST(555000 + k0 AS BIGINT) AS amount,
        |  CAST(CASE WHEN k0 % 5 = 0 THEN k0 % 4 ELSE 0 END AS BIGINT) AS flags,
        |  CAST(1 + k0 % 2 AS BIGINT) AS n_claimants,
        |  md5(ks || 'd' || CAST(i0 AS VARCHAR))
        |    || md5(ks || 'e' || CAST(i0 AS VARCHAR)) AS dest_payload_hex,
        |  CAST(CASE WHEN i0 = 1 THEN 2
        |    WHEN k0 % 3 = 0 THEN 0 WHEN k0 % 3 = 1 THEN 1 ELSE 3 END
        |    AS BIGINT) AS predicate_type,
        |  CAST(CASE WHEN i0 = 1 THEN 3
        |    WHEN k0 % 3 = 0 THEN 1 WHEN k0 % 3 = 1 THEN 3 ELSE 2 END
        |    AS BIGINT) AS predicate_nodes,
        |  CAST(CASE WHEN i0 = 1 THEN 2
        |    WHEN k0 % 3 = 0 THEN 1 ELSE 2 END AS BIGINT) AS predicate_depth,
        |  CASE WHEN i0 = 1 THEN CAST(1800000 + k0 AS BIGINT)
        |    WHEN k0 % 3 = 1 THEN CAST(1700000 + k0 AS BIGINT)
        |  END AS abs_before_min
        |FROM src""".stripMargin,

    // the per-signer fan-out LAW: one row per (account, signer index);
    // key payloads verify through the version-agnostic strkey round-trip
    "s3_account_signers" ->
      """WITH src AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k0,
        |    CAST(c_custkey AS VARCHAR) AS ks,
        |    unnest(range(0, CAST(c_custkey % 4 AS BIGINT))) AS i0
        |  FROM customer WHERE c_custkey % 17 = 0)
        |SELECT k0 AS k, CAST(i0 AS BIGINT) AS i,
        |  md5(ks || 's' || CAST(i0 AS VARCHAR))
        |    || md5(ks || 't' || CAST(i0 AS VARCHAR)) AS key_payload_hex,
        |  CAST(i0 AS BIGINT) AS key_type,
        |  CAST(10 + i0 AS BIGINT) AS weight
        |FROM src""".stripMargin,

    // the decode-to-mart law: the same lateral fan-out aggregated
    "s2_xdr_op_mart" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k0,
        |    unnest(range(0, CAST(o_orderkey % 3 AS BIGINT) + 1)) AS i0
        |  FROM orders WHERE o_orderkey % 43 = 0)
        |SELECT CAST(i0 % 2 AS BIGINT) AS op_type,
        |  CASE WHEN i0 % 2 = 1 THEN
        |    CAST(CASE WHEN (k0 + i0) % 2 = 0 THEN 0 ELSE 1 END AS BIGINT)
        |  END AS asset_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_ops,
        |  CAST(SUM(CASE WHEN i0 % 2 = 0 THEN 10000000 + k0 + i0
        |    ELSE 20000000 + k0 + i0 END) AS BIGINT) AS total_amount,
        |  CAST(COUNT(DISTINCT k0) AS BIGINT) AS n_tx,
        |  CAST(MAX(100 * (1 + k0 % 3)) AS BIGINT) AS max_fee
        |FROM src GROUP BY 1, 2""".stripMargin,

    // the per-operation fan-out LAW over a lateral range: one row per
    // (transaction, operation index), every column from the key pair
    "s2_tx_operations" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k0,
        |    CAST(o_orderkey AS VARCHAR) AS ks,
        |    unnest(range(0, CAST(o_orderkey % 3 AS BIGINT) + 1)) AS i0
        |  FROM orders WHERE o_orderkey % 43 = 0)
        |SELECT k0 AS k, CAST(i0 AS BIGINT) AS i,
        |  md5(ks) || md5(ks || 'a') AS source_payload_hex,
        |  CASE WHEN k0 % 4 = 0 THEN CAST(7000 + k0 AS BIGINT) END AS muxed_id,
        |  CAST(100 * (1 + k0 % 3) AS BIGINT) AS fee,
        |  CAST(k0 * 4294967296 + 1 AS BIGINT) AS seq_num,
        |  CASE WHEN k0 % 2 = 1 THEN CAST(1600000000 + k0 AS BIGINT) END
        |    AS min_time,
        |  CASE WHEN k0 % 2 = 1 THEN CAST(1800000000 + k0 AS BIGINT) END
        |    AS max_time,
        |  CAST(k0 % 3 AS BIGINT) AS memo_type,
        |  CASE WHEN k0 % 3 = 1 THEN
        |    substring(md5(ks || 'm'), 1, CAST(k0 % 10 AS INTEGER) + 1)
        |  END AS memo_text,
        |  CASE WHEN k0 % 3 = 2 THEN CAST(5000 + k0 AS BIGINT) END AS memo_id,
        |  CAST(1 + k0 % 3 AS BIGINT) AS n_operations,
        |  CAST(k0 % 3 AS BIGINT) AS n_signatures,
        |  CAST(i0 % 2 AS BIGINT) AS op_type,
        |  CASE WHEN i0 = 0 AND k0 % 5 = 0 THEN
        |    md5(ks || 'z') || md5(ks || 'w')
        |  END AS op_source_payload_hex,
        |  md5(ks || 'd' || CAST(i0 AS VARCHAR))
        |    || md5(ks || 'e' || CAST(i0 AS VARCHAR)) AS dest_payload_hex,
        |  CASE WHEN i0 % 2 = 1 THEN
        |    CAST(CASE WHEN (k0 + i0) % 2 = 0 THEN 0 ELSE 1 END AS BIGINT)
        |  END AS asset_type,
        |  CASE WHEN i0 % 2 = 1 AND (k0 + i0) % 2 = 1 THEN
        |    substring(md5(ks || 'c'), 1, 3)
        |  END AS asset_code,
        |  CASE WHEN i0 % 2 = 1 AND (k0 + i0) % 2 = 1 THEN
        |    md5(ks || 'f' || CAST(i0 AS VARCHAR))
        |      || md5(ks || 'g' || CAST(i0 AS VARCHAR))
        |  END AS asset_issuer_payload_hex,
        |  CAST(CASE WHEN i0 % 2 = 0 THEN 10000000 + k0 + i0
        |    ELSE 20000000 + k0 + i0 END AS BIGINT) AS amount
        |FROM src""".stripMargin,

    // the extended-arm fixture LAW: one op per envelope, arm m = k%9,
    // EVERY per-type column restated from the row key — path elements
    // as the rendered per-hop string, addresses via the strkey
    // round-trip, each SET_OPTIONS optional under its own presence law
    "s2_tx_ops_ext" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey AS VARCHAR) AS ks,
        |    CAST(o_orderkey % 9 AS BIGINT) AS m
        |  FROM orders WHERE o_orderkey % 59 = 0)
        |SELECT k,
        |  CAST(CASE m WHEN 0 THEN 2 WHEN 1 THEN 13 WHEN 2 THEN 3
        |    WHEN 3 THEN 12 WHEN 4 THEN 5 WHEN 5 THEN 6 WHEN 6 THEN 22
        |    WHEN 7 THEN 23 ELSE 4 END AS BIGINT) AS op_type,
        |  CASE WHEN m IN (0,1) THEN md5(ks||'d')||md5(ks||'e') END
        |    AS dest_payload_hex,
        |  CAST(CASE WHEN m IN (0,1) THEN (k+1)%3 WHEN m=5 THEN k%4 END
        |    AS BIGINT) AS asset_type,
        |  CASE WHEN m IN (0,1) THEN
        |      CASE (k+1)%3 WHEN 1 THEN substring(md5(ks||'da'),1,3)
        |        WHEN 2 THEN substring(md5(ks||'da'),1,10) END
        |    WHEN m=5 THEN
        |      CASE k%4 WHEN 1 THEN substring(md5(ks||'ct'),1,3)
        |        WHEN 2 THEN substring(md5(ks||'ct'),1,10) END
        |  END AS asset_code,
        |  CASE WHEN m IN (0,1) AND (k+1)%3 IN (1,2)
        |      THEN md5(ks||'dai')||md5(ks||'daj')
        |    WHEN m=5 AND k%4 IN (1,2) THEN md5(ks||'cti')||md5(ks||'ctj')
        |  END AS asset_issuer_payload_hex,
        |  CAST(CASE WHEN m=0 THEN 40000000+k
        |    WHEN m IN (2,3,8) THEN 50000000+k
        |    WHEN m=7 THEN 63000000+k END AS BIGINT) AS amount,
        |  CAST(CASE WHEN m IN (0,1) THEN k%3 END AS BIGINT)
        |    AS source_asset_type,
        |  CASE WHEN m IN (0,1) THEN
        |    CASE k%3 WHEN 1 THEN substring(md5(ks||'sa'),1,3)
        |      WHEN 2 THEN substring(md5(ks||'sa'),1,10) END
        |  END AS source_asset_code,
        |  CASE WHEN m IN (0,1) AND k%3 IN (1,2)
        |    THEN md5(ks||'sai')||md5(ks||'saj')
        |  END AS source_asset_issuer_payload_hex,
        |  CAST(CASE WHEN m=0 THEN 30000000+k END AS BIGINT) AS source_max,
        |  CAST(CASE WHEN m=1 THEN 31000000+k END AS BIGINT) AS source_amount,
        |  CAST(CASE WHEN m=1 THEN 41000000+k END AS BIGINT) AS dest_min,
        |  CAST(CASE WHEN m IN (0,1) THEN k%3 END AS BIGINT) AS path_count,
        |  CASE WHEN m IN (0,1) THEN
        |    CASE k%3
        |      WHEN 0 THEN ''
        |      WHEN 1 THEN
        |        CASE k%2 WHEN 0 THEN '0::'
        |          ELSE '1:'||substring(md5(ks||'p0'),1,3)||':'
        |            ||md5(ks||'p0i')||md5(ks||'p0j') END
        |      ELSE
        |        CASE k%2 WHEN 0 THEN '0::'
        |          ELSE '1:'||substring(md5(ks||'p0'),1,3)||':'
        |            ||md5(ks||'p0i')||md5(ks||'p0j') END
        |        ||'|'||
        |        CASE (k+1)%2 WHEN 0 THEN '0::'
        |          ELSE '1:'||substring(md5(ks||'p1'),1,3)||':'
        |            ||md5(ks||'p1i')||md5(ks||'p1j') END
        |    END
        |  ELSE '' END AS path_rendered,
        |  CAST(CASE WHEN m IN (2,3,8) THEN k%3
        |    WHEN m=5 AND k%4=3 THEN k%2 END AS BIGINT) AS selling_asset_type,
        |  CASE WHEN m IN (2,3,8) THEN
        |      CASE k%3 WHEN 1 THEN substring(md5(ks||'sl'),1,3)
        |        WHEN 2 THEN substring(md5(ks||'sl'),1,10) END
        |    WHEN m=5 AND k%4=3 AND k%2=1 THEN substring(md5(ks||'la'),1,3)
        |  END AS selling_asset_code,
        |  CASE WHEN m IN (2,3,8) AND k%3 IN (1,2)
        |      THEN md5(ks||'sli')||md5(ks||'slj')
        |    WHEN m=5 AND k%4=3 AND k%2=1 THEN md5(ks||'lai')||md5(ks||'laj')
        |  END AS selling_issuer_payload_hex,
        |  CAST(CASE WHEN m IN (2,3,8) THEN (k+1)%3
        |    WHEN m=5 AND k%4=3 THEN 1 END AS BIGINT) AS buying_asset_type,
        |  CASE WHEN m IN (2,3,8) THEN
        |      CASE (k+1)%3 WHEN 1 THEN substring(md5(ks||'bu'),1,3)
        |        WHEN 2 THEN substring(md5(ks||'bu'),1,10) END
        |    WHEN m=5 AND k%4=3 THEN substring(md5(ks||'lb'),1,3)
        |  END AS buying_asset_code,
        |  CASE WHEN m IN (2,3,8) AND (k+1)%3 IN (1,2)
        |      THEN md5(ks||'bui')||md5(ks||'buj')
        |    WHEN m=5 AND k%4=3 THEN md5(ks||'lbi')||md5(ks||'lbj')
        |  END AS buying_issuer_payload_hex,
        |  CAST(CASE WHEN m IN (2,3) THEN 7000000+k END AS BIGINT) AS offer_id,
        |  CAST(CASE WHEN m IN (2,3,8) THEN 1+k%97 END AS BIGINT) AS price_n,
        |  CAST(CASE WHEN m IN (2,3,8) THEN 1+k%89 END AS BIGINT) AS price_d,
        |  CAST(CASE WHEN m=5 THEN 60000000+k END AS BIGINT) AS trust_limit,
        |  CAST(CASE WHEN m=5 AND k%4=3 THEN 30 END AS BIGINT) AS lp_fee,
        |  CASE WHEN m=4 AND k%2=0 THEN md5(ks||'i')||md5(ks||'j') END
        |    AS inflation_payload_hex,
        |  CAST(CASE WHEN m=4 AND k%3=0 THEN k%16 END AS BIGINT) AS clear_flags,
        |  CAST(CASE WHEN m=4 AND k%3=1 THEN k%32 END AS BIGINT) AS set_flags,
        |  CAST(CASE WHEN m=4 AND k%2=1 THEN k%256 END AS BIGINT)
        |    AS master_weight,
        |  CAST(CASE WHEN m=4 AND k%5=0 THEN k%10 END AS BIGINT)
        |    AS low_threshold,
        |  CAST(CASE WHEN m=4 AND k%5=1 THEN k%11 END AS BIGINT)
        |    AS med_threshold,
        |  CAST(CASE WHEN m=4 AND k%5=2 THEN k%12 END AS BIGINT)
        |    AS high_threshold,
        |  CASE WHEN m=4 AND k%7=0
        |    THEN substring(md5(ks||'hd'),1,CAST(k%13 AS INTEGER))
        |  END AS home_domain,
        |  CASE WHEN m=4 AND k%4=0 THEN
        |    CASE k%3 WHEN 0 THEN 'G' WHEN 1 THEN 'T' ELSE 'X' END
        |  END AS signer_prefix,
        |  CASE WHEN m=4 AND k%4=0 THEN md5(ks||'sk')||md5(ks||'sl') END
        |    AS signer_payload_hex,
        |  CAST(CASE WHEN m=4 AND k%4=0 THEN 1+k%255 END AS BIGINT)
        |    AS signer_weight,
        |  CASE WHEN m IN (6,7) THEN md5(ks||'pl')||md5(ks||'pm') END
        |    AS liquidity_pool_id,
        |  CAST(CASE WHEN m=6 THEN 61000000+k END AS BIGINT) AS max_amount_a,
        |  CAST(CASE WHEN m=6 THEN 62000000+k END AS BIGINT) AS max_amount_b,
        |  CAST(CASE WHEN m=7 THEN 64000000+k END AS BIGINT) AS min_amount_a,
        |  CAST(CASE WHEN m=7 THEN 65000000+k END AS BIGINT) AS min_amount_b,
        |  CAST(CASE WHEN m=6 THEN 1+k%7 END AS BIGINT) AS min_price_n,
        |  CAST(CASE WHEN m=6 THEN 1+k%11 END AS BIGINT) AS min_price_d,
        |  CAST(CASE WHEN m=6 THEN 1+k%13 END AS BIGINT) AS max_price_n,
        |  CAST(CASE WHEN m=6 THEN 1+k%17 END AS BIGINT) AS max_price_d
        |FROM src""".stripMargin,

    // the wave-2 fixture LAW: arm m = k%15 over the 15 wave-2 op types,
    // every per-type column restated from the row key
    "s2_tx_ops_ext2" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey AS VARCHAR) AS ks,
        |    CAST(o_orderkey % 15 AS BIGINT) AS m
        |  FROM orders WHERE o_orderkey % 67 = 0)
        |SELECT k,
        |  CAST(CASE m WHEN 0 THEN 7 WHEN 1 THEN 8 WHEN 2 THEN 9
        |    WHEN 3 THEN 10 WHEN 4 THEN 11 WHEN 5 THEN 14 WHEN 6 THEN 15
        |    WHEN 7 THEN 16 WHEN 8 THEN 17 WHEN 9 THEN 18 WHEN 10 THEN 19
        |    WHEN 11 THEN 20 WHEN 12 THEN 21 WHEN 13 THEN 25 ELSE 26 END
        |    AS BIGINT) AS op_type,
        |  CASE WHEN m = 1 THEN md5(ks||'d')||md5(ks||'e') END
        |    AS dest_payload_hex,
        |  CAST(CASE WHEN m = 0 THEN 1 + k%2 WHEN m = 5 THEN k%2
        |    WHEN m = 10 THEN 1 WHEN m = 12 THEN 0 END AS BIGINT)
        |    AS asset_type,
        |  CASE WHEN m = 0 THEN
        |      CASE k%2 WHEN 0 THEN substring(md5(ks||'ac'),1,3)
        |        ELSE substring(md5(ks||'ac'),1,10) END
        |    WHEN m = 5 AND k%2 = 1 THEN substring(md5(ks||'cb'),1,3)
        |    WHEN m = 10 THEN substring(md5(ks||'cw'),1,3)
        |  END AS asset_code,
        |  CASE WHEN m = 5 AND k%2 = 1 THEN md5(ks||'cbi')||md5(ks||'cbj')
        |    WHEN m = 10 THEN md5(ks||'cwi')||md5(ks||'cwj')
        |  END AS asset_issuer_payload_hex,
        |  CAST(CASE WHEN m = 5 THEN 70000000 + k
        |    WHEN m = 10 THEN 80000000 + k END AS BIGINT) AS amount,
        |  CASE WHEN m IN (0, 12) THEN md5(ks||'d')||md5(ks||'e') END
        |    AS trustor_payload_hex,
        |  CAST(CASE WHEN m = 0 THEN k%3 END AS BIGINT) AS authorize,
        |  CASE WHEN m = 3
        |    THEN substring(md5(ks||'dn'),1,CAST(k%13 AS INTEGER))
        |  END AS data_name,
        |  CAST(CASE WHEN m = 3 AND k%2 = 1 THEN k%9 END AS BIGINT)
        |    AS data_value_size,
        |  CAST(CASE WHEN m = 4 THEN 3000000000 + k END AS BIGINT) AS bump_to,
        |  CAST(CASE WHEN m = 5 THEN 1 + k%2 END AS BIGINT) AS n_claimants,
        |  CASE WHEN m IN (6, 11) THEN md5(ks||'bi')||md5(ks||'bj') END
        |    AS balance_id,
        |  CASE WHEN m = 7 THEN md5(ks||'sp')||md5(ks||'sq') END
        |    AS sponsored_payload_hex,
        |  CAST(CASE WHEN m = 9 THEN k%2 END AS BIGINT) AS revoke_kind,
        |  CAST(CASE WHEN m = 9 AND k%2 = 0 THEN 2 END AS BIGINT)
        |    AS revoke_entry_type,
        |  CAST(CASE WHEN m = 9 AND k%2 = 0 THEN 4000000 + k END AS BIGINT)
        |    AS revoke_offer_id,
        |  CASE WHEN m = 9 AND k%2 = 0 THEN md5(ks)||md5(ks||'a') END
        |    AS revoke_seller_payload_hex,
        |  CASE WHEN m = 9 AND k%2 = 1 THEN md5(ks)||md5(ks||'a') END
        |    AS revoke_account_payload_hex,
        |  CASE WHEN m = 9 AND k%2 = 1 THEN md5(ks||'rk')||md5(ks||'rl') END
        |    AS revoke_signer_payload_hex,
        |  CASE WHEN m = 10 THEN md5(ks||'fa')||md5(ks||'fb') END
        |    AS from_payload_hex,
        |  CAST(CASE WHEN m = 12 THEN k%8 END AS BIGINT) AS clear_flags,
        |  CAST(CASE WHEN m = 12 THEN k%16 END AS BIGINT) AS set_flags,
        |  CAST(CASE WHEN m = 13 THEN 100000 + k%50000 END AS BIGINT)
        |    AS extend_to
        |FROM src""".stripMargin,

    // the Soroban fixture LAW: host-fn arm by k%4, auth by k%2, the tx
    // resource ext on odd rows, every surfaced column from the row key
    "s2_soroban" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey AS VARCHAR) AS ks,
        |    CAST(o_orderkey % 4 AS BIGINT) AS m
        |  FROM orders WHERE o_orderkey % 71 = 0)
        |SELECT k,
        |  CAST(24 AS BIGINT) AS op_type,
        |  m AS host_fn_type,
        |  CASE WHEN m = 0 THEN 'C' WHEN m = 1 THEN 'G' END AS invoke_prefix,
        |  CASE WHEN m = 0 THEN md5(ks||'ic1')||md5(ks||'ic2')
        |    WHEN m = 1 THEN md5(ks)||md5(ks||'a')
        |  END AS invoke_contract_payload_hex,
        |  CASE WHEN m = 0
        |    THEN substring(md5(ks||'fn'),1,CAST(k%9 AS INTEGER)+1)
        |  END AS invoke_function,
        |  CAST(CASE WHEN m = 0 THEN k%3 WHEN m = 3 THEN k%2 END AS BIGINT)
        |    AS n_invoke_args,
        |  CASE WHEN m = 1 THEN md5(ks||'wh1')||md5(ks||'wh2') END
        |    AS wasm_hash,
        |  CAST(CASE WHEN m = 2 THEN k%40+8 END AS BIGINT) AS wasm_size,
        |  CAST(k%2 AS BIGINT) AS n_auth,
        |  CAST(CASE WHEN m = 3 THEN 1 END AS BIGINT) AS asset_type,
        |  CASE WHEN m = 3 THEN substring(md5(ks||'ca'),1,3) END AS asset_code,
        |  CASE WHEN m = 3 THEN md5(ks||'cai')||md5(ks||'caj') END
        |    AS asset_issuer_payload_hex,
        |  CAST(CASE WHEN k%2 = 1 THEN 700000+k END AS BIGINT)
        |    AS soroban_resource_fee,
        |  CAST(CASE WHEN k%2 = 1 THEN 5000000+k%1000 END AS BIGINT)
        |    AS soroban_instructions,
        |  CAST(CASE WHEN k%2 = 1 THEN 1024+k%64 END AS BIGINT)
        |    AS soroban_read_bytes,
        |  CAST(CASE WHEN k%2 = 1 THEN 2048+k%128 END AS BIGINT)
        |    AS soroban_write_bytes,
        |  CAST(CASE WHEN k%2 = 1 THEN k%3 END AS BIGINT) AS n_footprint_ro,
        |  CAST(CASE WHEN k%2 = 1 THEN 1 END AS BIGINT) AS n_footprint_rw
        |FROM src""".stripMargin,

    // the TransactionResult fixture LAW: arm m = k%9 over the code
    // union + payload arms; void-code rows (m=2) carry a NULL op index
    "s2_tx_results" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey AS VARCHAR) AS ks,
        |    CAST(o_orderkey % 9 AS BIGINT) AS m
        |  FROM orders WHERE o_orderkey % 73 = 0),
        |exp AS (
        |  SELECT k, ks, m, CAST(i0 AS BIGINT) AS i
        |  FROM (SELECT k, ks, m,
        |      unnest(range(0, CASE WHEN m = 0 THEN 2 ELSE 1 END)) AS i0
        |    FROM src WHERE m <> 2)
        |  UNION ALL
        |  SELECT k, ks, m, CAST(NULL AS BIGINT) FROM src WHERE m = 2)
        |SELECT k,
        |  CAST(CASE WHEN m = 3 THEN 1000 + k ELSE 100 + k % 50 END
        |    AS BIGINT) AS fee_charged,
        |  CAST(CASE m WHEN 0 THEN 0 WHEN 1 THEN -1 WHEN 2 THEN -3
        |    WHEN 3 THEN 1 ELSE 0 END AS BIGINT) AS code,
        |  CASE WHEN m = 3 THEN md5(ks||'ih1')||md5(ks||'ih2') END
        |    AS inner_hash,
        |  CAST(CASE WHEN m = 3 THEN 600 + k END AS BIGINT)
        |    AS inner_fee_charged,
        |  CAST(CASE WHEN m = 3 THEN 0 END AS BIGINT) AS inner_code,
        |  CAST(CASE WHEN m = 2 THEN NULL WHEN m = 0 THEN 2 ELSE 1 END
        |    AS BIGINT) AS n_op_results,
        |  i,
        |  CAST(CASE WHEN m <> 2 THEN 0 END AS BIGINT) AS op_code,
        |  CAST(CASE WHEN m = 0 THEN CASE i WHEN 0 THEN 1 ELSE 11 END
        |    WHEN m = 1 THEN 1 WHEN m = 3 THEN 8 WHEN m = 4 THEN 3
        |    WHEN m = 5 THEN 2 WHEN m = 6 THEN 9 WHEN m = 7 THEN 14
        |    WHEN m = 8 THEN 24 END AS BIGINT) AS op_type,
        |  CAST(CASE WHEN m = 1 THEN -2 WHEN m <> 2 THEN 0 END AS BIGINT)
        |    AS result_code,
        |  CAST(CASE WHEN m = 4 THEN k % 3 WHEN m = 5 THEN 1 END AS BIGINT)
        |    AS n_claims,
        |  CAST(CASE WHEN m = 4 THEN
        |      CASE k % 3 WHEN 0 THEN 0 WHEN 1 THEN 10 + k % 100
        |        ELSE 2 * (10 + k % 100) + 1 END
        |    WHEN m = 5 THEN 30 + k % 10 END AS BIGINT) AS claims_sold,
        |  CAST(CASE WHEN m = 4 THEN
        |      CASE k % 3 WHEN 0 THEN 0 WHEN 1 THEN 20 + k % 100
        |        ELSE 2 * (20 + k % 100) + 1 END
        |    WHEN m = 5 THEN 40 + k % 10 END AS BIGINT) AS claims_bought,
        |  CAST(CASE WHEN m = 4 THEN k % 3 END AS BIGINT) AS offer_effect,
        |  CAST(CASE WHEN m = 4 AND k % 3 < 2 THEN 7000000 + k END
        |    AS BIGINT) AS offer_id,
        |  CAST(CASE WHEN m = 3 THEN 50000000 + k END AS BIGINT)
        |    AS merge_balance,
        |  CASE WHEN m = 7 THEN md5(ks||'cb1')||md5(ks||'cb2') END
        |    AS created_balance_id,
        |  CASE WHEN m = 8 THEN md5(ks||'rh1')||md5(ks||'rh2') END
        |    AS invoke_return_hash,
        |  CASE WHEN m = 5 THEN md5(ks||'d')||md5(ks||'e') END
        |    AS last_dest_payload_hex,
        |  CAST(CASE WHEN m = 5 THEN 90000000 + k END AS BIGINT)
        |    AS last_amount,
        |  CAST(CASE WHEN m = 6 THEN k % 3 END AS BIGINT) AS n_payouts,
        |  CAST(CASE WHEN m = 6 THEN
        |    CASE k % 3 WHEN 0 THEN 0 WHEN 1 THEN 1000 + k % 100
        |      ELSE 2 * (1000 + k % 100) + 1 END END AS BIGINT)
        |    AS payout_total
        |FROM exp""".stripMargin,

    // the envelope-kinds fixture LAW: kind by k%3, the v1 Preconditions
    // arm by k%4, every envelope column restated from the row key
    "s2_envelope_kinds" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_orderkey AS VARCHAR) AS ks
        |  FROM orders WHERE o_orderkey % 61 = 0)
        |SELECT k,
        |  CAST(CASE k%3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 5 END AS BIGINT)
        |    AS envelope_kind,
        |  md5(ks)||md5(ks||'a') AS source_payload_hex,
        |  CAST(CASE WHEN k%3=1 AND k%5=0 THEN 7000+k END AS BIGINT)
        |    AS muxed_id,
        |  CAST(100+k%50 AS BIGINT) AS fee,
        |  CAST(k*4294967296+1 AS BIGINT) AS seq_num,
        |  CAST(CASE WHEN k%3=0 THEN k%2
        |    WHEN k%3=1 THEN CASE k%4 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END
        |    ELSE k%2 END AS BIGINT) AS cond_type,
        |  CAST(CASE WHEN (k%3=0 AND k%2=1) OR (k%3=1 AND k%4 IN (1,3))
        |      OR (k%3=2 AND k%2=1) THEN 1600000000+k END AS BIGINT)
        |    AS min_time,
        |  CAST(CASE WHEN (k%3=0 AND k%2=1) OR (k%3=1 AND k%4 IN (1,3))
        |      OR (k%3=2 AND k%2=1) THEN 1800000000+k END AS BIGINT)
        |    AS max_time,
        |  CAST(CASE WHEN k%3=1 AND k%4=3 THEN k%1000 END AS BIGINT)
        |    AS min_ledger,
        |  CAST(CASE WHEN k%3=1 AND k%4=3 THEN k%1000+500 END AS BIGINT)
        |    AS max_ledger,
        |  CAST(CASE WHEN k%3=1 AND k%4=3 THEN k END AS BIGINT) AS min_seq_num,
        |  CAST(CASE WHEN k%3=1 AND k%4 IN (2,3) THEN 3600+k%100 END
        |    AS BIGINT) AS min_seq_age,
        |  CAST(CASE WHEN k%3=1 AND k%4 IN (2,3) THEN k%7 END AS BIGINT)
        |    AS min_seq_ledger_gap,
        |  CAST(CASE WHEN k%3=1 AND k%4=3 THEN 2
        |    WHEN k%3=1 AND k%4=2 THEN 0 END AS BIGINT) AS n_extra_signers,
        |  CAST(CASE k%3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS BIGINT)
        |    AS memo_type,
        |  CASE WHEN k%3=1
        |    THEN substring(md5(ks||'m'),1,CAST(k%10 AS INTEGER)+1)
        |  END AS memo_text,
        |  CAST(CASE WHEN k%3=2 THEN 5000+k END AS BIGINT) AS memo_id,
        |  CAST(1 AS BIGINT) AS n_operations,
        |  CAST(CASE WHEN k%3=0 THEN 0 ELSE 1 END AS BIGINT) AS n_signatures,
        |  CASE WHEN k%3=2 THEN md5(ks||'f')||md5(ks||'g') END
        |    AS fee_account_payload_hex,
        |  CAST(CASE WHEN k%3=2 THEN 90000000+k END AS BIGINT) AS new_max_fee
        |FROM src""".stripMargin,

    // the transaction-grain mart law: the same per-envelope laws
    // aggregated by kind × precondition arm
    "s2_tx_mart" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k
        |  FROM orders WHERE o_orderkey % 61 = 0),
        |tx AS (SELECT k,
        |  CAST(CASE k%3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 5 END AS BIGINT)
        |    AS envelope_kind,
        |  CAST(CASE WHEN k%3=0 THEN k%2
        |    WHEN k%3=1 THEN CASE k%4 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END
        |    ELSE k%2 END AS BIGINT) AS cond_type,
        |  100+k%50 AS fee,
        |  CASE WHEN k%3=2 THEN 90000000+k ELSE 100+k%50 END AS max_fee,
        |  CASE WHEN k%3=1 THEN 20000000+k ELSE 10000000+k END AS amount,
        |  CASE WHEN k%3=1 THEN 1 ELSE 0 END AS memo_text
        |FROM src)
        |SELECT envelope_kind, cond_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_tx,
        |  CAST(SUM(fee) AS BIGINT) AS total_fee,
        |  CAST(SUM(max_fee) AS BIGINT) AS total_max_fee,
        |  CAST(COUNT(*) AS BIGINT) AS total_ops,
        |  CAST(SUM(amount) AS BIGINT) AS total_amount,
        |  CAST(SUM(memo_text) AS BIGINT) AS n_memo_text
        |FROM tx GROUP BY 1, 2""".stripMargin,

    // the ConfigSettingEntry fixture LAW: arm a = k%14, per-position
    // value v(a,i) = (a+1)*100000 + k + 7i (the EvictionIterator bool
    // position pinned to k%2), counts per arm layout
    "s3_config_setting" ->
      """WITH src AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey % 14 AS BIGINT) AS a,
        |    unnest(range(0, CAST(
        |      CASE WHEN c_custkey % 14 IN (0,3,8,9,11) THEN 1
        |        WHEN c_custkey % 14 = 1 THEN 4
        |        WHEN c_custkey % 14 = 2 THEN 15
        |        WHEN c_custkey % 14 = 4 THEN 2
        |        WHEN c_custkey % 14 = 5 THEN 3
        |        WHEN c_custkey % 14 IN (6,7) THEN 2 * (c_custkey % 3 + 1)
        |        WHEN c_custkey % 14 = 10 THEN 10
        |        WHEN c_custkey % 14 = 12 THEN c_custkey % 4 + 1
        |        ELSE 3 END AS BIGINT))) AS i
        |  FROM customer WHERE c_custkey % 41 = 0)
        |SELECT k, a AS setting_id,
        |  CAST(CASE WHEN a IN (0,3,8,9,11) THEN 1 WHEN a = 1 THEN 4
        |    WHEN a = 2 THEN 15 WHEN a = 4 THEN 2 WHEN a = 5 THEN 3
        |    WHEN a IN (6,7) THEN 2 * (k % 3 + 1) WHEN a = 10 THEN 10
        |    WHEN a = 12 THEN k % 4 + 1 ELSE 3 END AS BIGINT) AS n_values,
        |  CAST(i AS BIGINT) AS i,
        |  CAST(CASE WHEN a = 13 AND i = 1 THEN k % 2
        |    ELSE (a + 1) * 100000 + k + 7 * i END AS BIGINT) AS value,
        |  true AS truncated_rejected
        |FROM src""".stripMargin,

    // the LedgerKey fixture LAW: arm t = k%10, each arm's identifying
    // columns restated from the row key, the rest NULL
    "s3_restored_key" ->
      """WITH src AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey AS VARCHAR) AS ks,
        |    CAST(c_custkey % 10 AS BIGINT) AS t
        |  FROM customer WHERE c_custkey % 43 = 0)
        |SELECT k, t AS entry_type,
        |  CASE WHEN t IN (0,1,2,3)
        |    THEN md5(ks)||md5(ks||'a') END AS account_payload_hex,
        |  CAST(CASE WHEN t = 1 THEN k % 4 END AS BIGINT) AS asset_type,
        |  CASE WHEN t = 1 THEN
        |    CASE k % 4 WHEN 1 THEN substring(md5(ks||'c'),1,3)
        |      WHEN 2 THEN substring(md5(ks||'c'),1,10)
        |      WHEN 3 THEN md5(ks||'p')||md5(ks||'q') END
        |  END AS asset_code,
        |  CASE WHEN t = 1 AND k % 4 IN (1,2) THEN md5(ks||'f')||md5(ks||'g')
        |  END AS asset_issuer_payload_hex,
        |  CAST(CASE WHEN t = 2 THEN 4000000 + k END AS BIGINT) AS offer_id,
        |  CASE WHEN t = 3
        |    THEN substring(md5(ks||'dn'),1,CAST(k % 13 AS INTEGER))
        |  END AS data_name,
        |  CASE WHEN t = 4 THEN md5(ks||'b')||md5(ks||'c') END AS balance_id,
        |  CASE WHEN t = 5 THEN md5(ks||'lp')||md5(ks||'lq') END AS pool_id,
        |  CASE WHEN t = 6 THEN
        |    CASE WHEN k % 2 = 0 THEN md5(ks)||md5(ks||'a')
        |      ELSE md5(ks||'h')||md5(ks||'i') END
        |  END AS contract_payload_hex,
        |  CASE WHEN t = 6 THEN
        |    CASE WHEN k % 2 = 0 THEN 'G' ELSE 'C' END END AS addr_prefix,
        |  CAST(CASE WHEN t = 6 THEN 15 END AS BIGINT) AS key_type,
        |  CASE WHEN t = 6
        |    THEN substring(md5(ks||'k'),1,CAST(k % 9 AS INTEGER) + 1)
        |  END AS key_text,
        |  CAST(CASE WHEN t = 6 THEN k % 2 END AS BIGINT) AS durability,
        |  CASE WHEN t = 7 THEN md5(ks||'cc')||md5(ks||'cd') END AS code_hash,
        |  CAST(CASE WHEN t = 8 THEN k % 14 END AS BIGINT) AS setting_id,
        |  CASE WHEN t = 9 THEN md5(ks||'th')||md5(ks||'tu') END AS key_hash,
        |  true AS truncated_rejected
        |FROM src""".stripMargin,

    // the TrustLineEntry fixture LAW: all four asset arms (the pool
    // share surfaces its PoolID as the 64-hex asset_code) and the
    // nested ext chain, every column from the row key
    "s3_trust_line" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  md5(CAST(c_custkey AS VARCHAR))
        |    || md5(CAST(c_custkey AS VARCHAR) || 'a') AS account_payload_hex,
        |  CAST(c_custkey % 4 AS BIGINT) AS asset_type,
        |  CASE c_custkey % 4
        |    WHEN 1 THEN substring(md5(CAST(c_custkey AS VARCHAR) || 'c'), 1, 3)
        |    WHEN 2 THEN substring(md5(CAST(c_custkey AS VARCHAR) || 'c'), 1, 10)
        |    WHEN 3 THEN md5(CAST(c_custkey AS VARCHAR) || 'p')
        |      || md5(CAST(c_custkey AS VARCHAR) || 'q')
        |  END AS asset_code,
        |  CASE WHEN c_custkey % 4 IN (1, 2) THEN
        |    md5(CAST(c_custkey AS VARCHAR) || 'f')
        |      || md5(CAST(c_custkey AS VARCHAR) || 'g')
        |  END AS asset_issuer_payload_hex,
        |  CAST(31337000 + c_custkey AS BIGINT) AS balance,
        |  CAST(900000000 + c_custkey AS BIGINT) AS trust_limit,
        |  CAST(c_custkey % 4 AS BIGINT) AS flags,
        |  CAST(CASE WHEN c_custkey % 3 = 0 THEN 0 ELSE 11 + c_custkey END
        |    AS BIGINT) AS buying_liabilities,
        |  CAST(CASE WHEN c_custkey % 3 = 0 THEN 0 ELSE 22 + c_custkey END
        |    AS BIGINT) AS selling_liabilities,
        |  CAST(CASE WHEN c_custkey % 3 = 2 THEN c_custkey % 5 ELSE 0 END
        |    AS BIGINT) AS pool_use_count,
        |  true AS truncated_rejected
        |FROM customer WHERE c_custkey % 19 = 0""".stripMargin,

    // the OfferEntry fixture LAW: both asset unions + the price fraction
    "s3_offer_entry" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
        |  md5(CAST(o_orderkey AS VARCHAR))
        |    || md5(CAST(o_orderkey AS VARCHAR) || 'a') AS seller_payload_hex,
        |  CAST(4000000000 + o_orderkey AS BIGINT) AS offer_id,
        |  CAST(o_orderkey % 3 AS BIGINT) AS selling_asset_type,
        |  CASE o_orderkey % 3
        |    WHEN 1 THEN substring(md5(CAST(o_orderkey AS VARCHAR) || 's'), 1, 3)
        |    WHEN 2 THEN substring(md5(CAST(o_orderkey AS VARCHAR) || 's'), 1, 10)
        |  END AS selling_asset_code,
        |  CASE WHEN o_orderkey % 3 IN (1, 2) THEN
        |    md5(CAST(o_orderkey AS VARCHAR) || 'si')
        |      || md5(CAST(o_orderkey AS VARCHAR) || 'sj')
        |  END AS selling_issuer_payload_hex,
        |  CAST((o_orderkey + 1) % 3 AS BIGINT) AS buying_asset_type,
        |  CASE (o_orderkey + 1) % 3
        |    WHEN 1 THEN substring(md5(CAST(o_orderkey AS VARCHAR) || 'b'), 1, 3)
        |    WHEN 2 THEN substring(md5(CAST(o_orderkey AS VARCHAR) || 'b'), 1, 10)
        |  END AS buying_asset_code,
        |  CASE WHEN (o_orderkey + 1) % 3 IN (1, 2) THEN
        |    md5(CAST(o_orderkey AS VARCHAR) || 'bi')
        |      || md5(CAST(o_orderkey AS VARCHAR) || 'bj')
        |  END AS buying_issuer_payload_hex,
        |  CAST(777000 + o_orderkey AS BIGINT) AS amount,
        |  CAST(1 + o_orderkey % 97 AS BIGINT) AS price_n,
        |  CAST(1 + o_orderkey % 89 AS BIGINT) AS price_d,
        |  CAST(o_orderkey % 4 AS BIGINT) AS flags,
        |  true AS truncated_rejected
        |FROM orders WHERE o_orderkey % 47 = 0""".stripMargin,

    // the AccountEntry fixture LAW: every column from the row key;
    // address payloads verified through the strkey_decode round-trip
    "s3_account_entry" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  md5(CAST(c_custkey AS VARCHAR))
        |    || md5(CAST(c_custkey AS VARCHAR) || 'a') AS account_payload_hex,
        |  true AS g_prefix,
        |  CAST(5000000000 + c_custkey AS BIGINT) AS balance,
        |  CAST(c_custkey * 4294967296 + c_custkey % 100 AS BIGINT)
        |    AS sequence_number,
        |  CAST(c_custkey % 20 AS BIGINT) AS num_subentries,
        |  CASE WHEN c_custkey % 3 = 0 THEN
        |    md5(CAST(c_custkey AS VARCHAR) || 'i')
        |      || md5(CAST(c_custkey AS VARCHAR) || 'j')
        |  END AS inflation_payload_hex,
        |  CAST(c_custkey % 8 AS BIGINT) AS flags,
        |  substring(md5(CAST(c_custkey AS VARCHAR) || 'd'), 1,
        |    CAST(c_custkey % 13 AS INTEGER)) AS home_domain,
        |  CAST(1 + c_custkey % 4 AS BIGINT) AS master_weight,
        |  CAST(c_custkey % 3 AS BIGINT) AS threshold_low,
        |  CAST(c_custkey % 5 AS BIGINT) AS threshold_med,
        |  CAST(c_custkey % 7 AS BIGINT) AS threshold_high,
        |  CAST(c_custkey % 4 AS BIGINT) AS num_signers,
        |  CAST(CASE WHEN c_custkey % 2 = 1 THEN 111222333 + c_custkey
        |    ELSE 0 END AS BIGINT) AS buying_liabilities,
        |  CAST(CASE WHEN c_custkey % 2 = 1 THEN 444555 + c_custkey
        |    ELSE 0 END AS BIGINT) AS selling_liabilities,
        |  CAST(CASE WHEN c_custkey % 2 = 1 AND c_custkey % 3 <> 1
        |    THEN c_custkey % 5 ELSE 0 END AS BIGINT) AS num_sponsored,
        |  CAST(CASE WHEN c_custkey % 2 = 1 AND c_custkey % 3 <> 1
        |    THEN c_custkey % 7 ELSE 0 END AS BIGINT) AS num_sponsoring,
        |  CAST(CASE WHEN c_custkey % 2 = 1 AND c_custkey % 3 = 2
        |    THEN 100000 + c_custkey % 1000 ELSE 0 END AS BIGINT) AS seq_ledger,
        |  CAST(CASE WHEN c_custkey % 2 = 1 AND c_custkey % 3 = 2
        |    THEN 1650000000 + c_custkey ELSE 0 END AS BIGINT) AS seq_time,
        |  true AS truncated_rejected
        |FROM customer WHERE c_custkey % 17 = 0""".stripMargin,

    // strkey round-trip law (DuckDB has no base32): payload identities
    // and checksum rejection; codec-vs-independent-reimplementation is
    // spec-pinned in XdrStrkeySpec
    "s3_strkey_decode" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  md5(CAST(c_custkey AS VARCHAR))
        |    || md5(CAST(c_custkey AS VARCHAR) || 'y') AS payload_hex,
        |  CAST(56 AS BIGINT) AS addr_len,
        |  md5(CAST(c_custkey AS VARCHAR))
        |    || md5(CAST(c_custkey AS VARCHAR) || 'y') AS decoded_hex,
        |  true AS tamper_rejected
        |FROM customer WHERE c_custkey % 11 = 0""".stripMargin,

    // the routing law restated: w2's failures, plus w3's failures NOT
    // already alerted in w2 (the ledger dedup)
    "qa_alert_route" ->
      s"""${OracleSql.alertWindowCounts}
        |SELECT event_type AS check_key, CAST(c1 - c2 AS BIGINT) AS violations,
        |  'w2' AS txn
        |FROM c WHERE c2 < c1
        |UNION ALL
        |SELECT event_type, CAST(c2 - c3 AS BIGINT), 'w3'
        |FROM c WHERE c3 < c2 AND NOT c2 < c1""".stripMargin,

    // the report law: two runs per check, failure counts/rate (dyadic),
    // first failing run id, w3 is always the latest status
    "qa_alert_report" ->
      s"""${OracleSql.alertWindowCounts},
        |runs AS (
        |  SELECT 'w2' AS run_id, event_type AS check_key,
        |    CASE WHEN c2 < c1 THEN 'fail' ELSE 'pass' END AS status,
        |    CASE WHEN c2 < c1 THEN c1 - c2 ELSE 0 END AS violations
        |  FROM c
        |  UNION ALL
        |  SELECT 'w3', event_type,
        |    CASE WHEN c3 < c2 THEN 'fail' ELSE 'pass' END,
        |    CASE WHEN c3 < c2 THEN c2 - c3 ELSE 0 END
        |  FROM c)
        |SELECT check_key, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |  CAST(SUM(CASE WHEN status = 'fail' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_failures,
        |  CAST(SUM(CASE WHEN status = 'fail' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS fail_rate,
        |  coalesce(min(CASE WHEN status = 'fail' THEN run_id END), '')
        |    AS first_failed_run,
        |  max_by(status, run_id) AS last_status,
        |  CAST(MAX(violations) AS BIGINT) AS worst_violations
        |FROM runs GROUP BY 1""".stripMargin,

    "a6_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS tv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS tc FROM events e
        |  JOIN v ON e.user_id = v.user_id AND e.ts > v.tv
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS tp FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.tc
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
        |  (SELECT COUNT(*) FROM v) AS n
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM c)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM p)""".stripMargin,

    "a7_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort FROM uw GROUP BY 1)
        |SELECT f.cohort,
        |  CAST(date_diff('day', f.cohort, uw.week) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT uw.user_id) AS n_active
        |FROM uw JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    "qa_profile" ->
      """WITH ea AS (
        |  SELECT
        |    COUNT(value) AS v_n, COUNT(*) - COUNT(value) AS v_nulls,
        |    min(CAST(value AS DOUBLE)) AS v_min, max(CAST(value AS DOUBLE)) AS v_max,
        |    CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE) AS v_s1,
        |    CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE) AS v_s2,
        |    COUNT(user_id) AS u_n, COUNT(*) - COUNT(user_id) AS u_nulls,
        |    min(CAST(user_id AS DOUBLE)) AS u_min, max(CAST(user_id AS DOUBLE)) AS u_max,
        |    CAST(SUM(CAST(round(CAST(user_id AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE) AS u_s1,
        |    CAST(SUM(CAST(round(CAST(user_id AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(round(CAST(user_id AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE) AS u_s2
        |  FROM events),
        |la AS (
        |  SELECT
        |    COUNT(l_quantity) AS q_n, COUNT(*) - COUNT(l_quantity) AS q_nulls,
        |    min(CAST(l_quantity AS DOUBLE)) AS q_min, max(CAST(l_quantity AS DOUBLE)) AS q_max,
        |    CAST(SUM(CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE) AS q_s1,
        |    CAST(SUM(CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE) AS q_s2,
        |    COUNT(l_extendedprice) AS p_n, COUNT(*) - COUNT(l_extendedprice) AS p_nulls,
        |    min(CAST(l_extendedprice AS DOUBLE)) AS p_min, max(CAST(l_extendedprice AS DOUBLE)) AS p_max,
        |    CAST(SUM(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE) AS p_s1,
        |    CAST(SUM(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)
        |           * CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE) AS p_s2
        |  FROM lineitem)
        |SELECT 'events' AS table_name, 'value' AS column_name,
        |  v_n AS n, v_nulls AS n_null, v_min AS min_v, v_max AS max_v,
        |  round(v_s1 / v_n / 100, 6) AS mean_v,
        |  round(sqrt(CAST(v_n AS DOUBLE) * v_s2 - v_s1 * v_s1) / v_n / 100, 6) AS std_v
        |FROM ea
        |UNION ALL
        |SELECT 'events', 'user_id', u_n, u_nulls, u_min, u_max,
        |  round(u_s1 / u_n / 100, 6),
        |  round(sqrt(CAST(u_n AS DOUBLE) * u_s2 - u_s1 * u_s1) / u_n / 100, 6)
        |FROM ea
        |UNION ALL
        |SELECT 'lineitem', 'l_quantity', q_n, q_nulls, q_min, q_max,
        |  round(q_s1 / q_n / 100, 6),
        |  round(sqrt(CAST(q_n AS DOUBLE) * q_s2 - q_s1 * q_s1) / q_n / 100, 6)
        |FROM la
        |UNION ALL
        |SELECT 'lineitem', 'l_extendedprice', p_n, p_nulls, p_min, p_max,
        |  round(p_s1 / p_n / 100, 6),
        |  round(sqrt(CAST(p_n AS DOUBLE) * p_s2 - p_s1 * p_s1) / p_n / 100, 6)
        |FROM la""".stripMargin,

    "qa_volume_anomaly" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, n,
        |    COUNT(*) OVER w AS w,
        |    SUM(n) OVER w AS s1,
        |    SUM(n * n) OVER w AS s2
        |  FROM d
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT day, n,
        |    round(CAST(s1 AS DOUBLE) / w, 6) AS mean_prev,
        |    CASE WHEN w < 7 THEN NULL
        |         ELSE round((n - CAST(s1 AS DOUBLE) / w) /
        |                sqrt(greatest(CAST(w * s2 - s1 * s1 AS DOUBLE) / (w * w), 1.0)), 6)
        |    END AS z
        |  FROM t)
        |SELECT day, n, mean_prev, z,
        |  (z IS NULL OR abs(z) > 3.0) AS flagged
        |FROM z""".stripMargin,

    // same integer-weight window sum, one power-of-two division
    "qa_ewma_volume" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events
        |  WHERE ts IS NOT NULL GROUP BY 1),
        |r AS (SELECT day, n, row_number() OVER (ORDER BY day) AS rn FROM d),
        |s AS (
        |  SELECT day, n, rn,
        |    SUM(n * (CASE WHEN rn = 1 THEN CAST(4 AS BIGINT)
        |                  ELSE (CAST(1 AS BIGINT) << rn) END))
        |      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sw
        |  FROM r)
        |SELECT day, n, CAST(sw AS DOUBLE) / pow(2, rn + 1) AS ewma FROM s""".stripMargin,

    // chunked EWMA: per-chunk exact bigint window sums, chunk-boundary
    // carry E_j = (2*E_{j-1} + T_j)/2^(s_j+1) replayed as a recursive CTE
    "qa_ewma_long" ->
      """WITH RECURSIVE d AS (
        |  SELECT DATE '2024-01-01' + CAST(event_id % 90 AS INTEGER) AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |r AS (SELECT day, n, row_number() OVER (ORDER BY day) AS rn FROM d
        |      WHERE day IS NOT NULL),
        |c AS (SELECT day, n, rn, CAST((rn - 1) // 32 AS BIGINT) AS ck,
        |             CAST(rn - 32 * ((rn - 1) // 32) AS INTEGER) AS r
        |      FROM r),
        |s AS (
        |  SELECT day, n, ck, r,
        |    SUM(n * (CASE WHEN rn = 1 THEN CAST(4 AS BIGINT)
        |                  ELSE (CAST(1 AS BIGINT) << r) END))
        |      OVER (PARTITION BY ck ORDER BY day ROWS UNBOUNDED PRECEDING) AS sw
        |  FROM c),
        |tot AS (SELECT ck, max_by(sw, r) AS t, MAX(r) AS s FROM s GROUP BY ck),
        |carry AS (
        |  SELECT CAST(-1 AS BIGINT) AS ck, CAST(0 AS DOUBLE) AS e
        |  UNION ALL
        |  SELECT tot.ck,
        |         (2.0 * carry.e + CAST(tot.t AS DOUBLE)) / pow(2, tot.s + 1)
        |  FROM carry JOIN tot ON tot.ck = carry.ck + 1)
        |SELECT s.day, s.n,
        |  (2.0 * carry.e + CAST(s.sw AS DOUBLE)) / pow(2, s.r + 1) AS ewma
        |FROM s JOIN carry ON carry.ck = s.ck - 1""".stripMargin,

    // cells under k re-keyed to the sentinel, then re-aggregated
    "qa_kanon" ->
      """WITH c AS (
        |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |r AS (
        |  SELECT CASE WHEN n < 5 THEN '__suppressed__' ELSE lang END AS lang,
        |         CASE WHEN n < 5 THEN '__suppressed__' ELSE source END AS source,
        |         n
        |  FROM c)
        |SELECT lang, source, CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells
        |FROM r GROUP BY 1, 2
        |HAVING NOT (lang = '__suppressed__' AND SUM(n) < 5)""".stripMargin,

    // exact medians: integers or two-mid .5 averages, all dyadic — the
    // robust flag replays bit-exactly
    "qa_volume_mad" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1),
        |m AS (SELECT median(n) AS med FROM d),
        |dev AS (SELECT day, n, abs(n - med) AS dev FROM d, m),
        |md AS (SELECT median(dev) AS mad FROM dev)
        |SELECT day, n, dev, (dev > 3.0 * mad) AS is_anomaly
        |FROM dev, md""".stripMargin,

    // the guardrail returns the wrapped plan unchanged when within
    // budget — the oracle is the plain mart
    "qa_scan_budget" ->
      """SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1""".stripMargin,

    "qa_relationships" ->
      """SELECT 'orders' AS table_name, 'rel_o_custkey_customer' AS check_name,
        |  CAST((SELECT COUNT(*) FROM orders o
        |        WHERE o.o_custkey IS NOT NULL
        |          AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT) AS violations,
        |  (SELECT COUNT(*) FROM orders o
        |   WHERE o.o_custkey IS NOT NULL
        |     AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0 AS passed
        |UNION ALL
        |SELECT 'lineitem', 'rel_l_partkey_part',
        |  CAST((SELECT COUNT(*) FROM lineitem l
        |        WHERE l.l_partkey IS NOT NULL
        |          AND l.l_partkey NOT IN (SELECT p_partkey FROM part)) AS BIGINT),
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE l.l_partkey IS NOT NULL
        |     AND l.l_partkey NOT IN (SELECT p_partkey FROM part)) = 0
        |UNION ALL
        |SELECT 'lineitem', 'rel_l_suppkey_supplier_even',
        |  CAST((SELECT COUNT(*) FROM lineitem l
        |        WHERE l.l_suppkey IS NOT NULL
        |          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 2 = 0)) AS BIGINT),
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE l.l_suppkey IS NOT NULL
        |     AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 2 = 0)) = 0""".stripMargin,

    "d8_daily_increment" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events
        |WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-15'
        |GROUP BY 1""".stripMargin,

    "set_union_by_name" ->
      """SELECT 'customer' AS src, c_custkey AS id, c_name AS name FROM customer
        |UNION ALL
        |SELECT 'supplier' AS src, s_suppkey AS id, s_name AS name FROM supplier""".stripMargin,

    "k3_sorted_export" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY o_orderdate, o_orderkey""".stripMargin,

    "p4_strings" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  replace(p_name, ' ', '_') AS name_us,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  p_brand || ':' || p_type AS brand_type,
        |  (p_name LIKE '%a%') AS has_a,
        |  coalesce(regexp_extract(p_type, '[A-Z]+'), '') AS type_caps,
        |  regexp_matches(p_brand, 'Brand#[12]') AS is_b12,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT) AS n_vowel_runs,
        |  trim(substr(p_name, 1, 10)) AS name10
        |FROM part""".stripMargin,

    "p5_dates" ->
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
        |  CAST(o_orderdate + INTERVAL 15 MONTH AS DATE) AS plus15m,
        |  date_diff('second', TIMESTAMP '2000-01-01 00:00:00', o_orderdate) AS sec_since_2000,
        |  date_diff('millisecond', TIMESTAMP '2000-01-01 00:00:00', o_orderdate) AS ms_since_2000,
        |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr
        |FROM orders""".stripMargin,

    "p8_json" -> jsonKeySumOracle,

    "p8_variant" -> jsonKeySumOracle,

    "p1_struct_flatten_wide" -> graft.sources.HistoryOperations.wideOracleSql,

    "p1_effects_flatten_wide" -> graft.sources.HistoryEffects.wideOracleSql,

    "p1_struct_flatten" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  user_id, value
        |FROM events""".stripMargin,

    "p6_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  1.0 + l_tax AS fee_mult,
        |  l_extendedprice / nullif(l_quantity, 0) AS unit_price,
        |  l_discount / nullif(l_tax, 0) AS disc_tax_ratio,
        |  CAST(ceiling(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) AS disc_amt
        |FROM lineitem""".stripMargin,

    "p9_arrays" ->
      """SELECT user_id,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  CAST(COUNT(event_id) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id""".stripMargin
  )
}
