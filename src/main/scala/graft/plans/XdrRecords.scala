package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-record XDR decodes: raw Stellar ledger structures (RFC 4506
  * encodings of the structs in stellar-core's .x files) → typed Spark
  * structs carrying the columns the reference's warehouse tables store
  * (reference dags/stellar_etl_airflow/build_export_task.py:94-161
  * delegates these decodes to its Go export binary). These compose the
  * [[XdrStrkey]] primitives into full records: unlike the
  * literal-offset extractors, every record here has a VARIABLE-length
  * interior (count-prefixed vectors, optionals, unions), so each decode
  * is a sequential cursor walk over one shared [[XdrCursor]].
  *
  * Failure semantics are the pack's quarantine convention: any
  * structural violation — short buffer, over-limit vector, an element
  * length past the buffer, an unknown union discriminant, nonzero XDR
  * padding, trailing garbage (each record must consume its buffer
  * EXACTLY) — decodes to NULL, never an exception, so an ingest filter
  * routes bad rows instead of dying mid-scan. Constructs a decoder
  * recognizes as valid-but-outside-its-switch (a fee-bump envelope, an
  * exotic operation type) quarantine the same way: NULL means "this
  * decoder cannot produce the record", the same routing signal either
  * way. [[XdrDecode]] compiles to one static parser call per row.
  */
private[plans] object XdrCursor {
  /** Quarantine signal — a stackless control throwable so the hot path
    * pays nothing for the failure channel. */
  object Malformed extends Throwable(null, null, false, false)

  // SEP-23 version bytes per SignerKey arm: ed25519 'G', preAuthTx 'T',
  // hashX 'X', ed25519SignedPayload 'P'
  private[plans] val signerVersionByte = Array(48, 152, 184, 120)
}

/** Sequential big-endian cursor over one XDR buffer. Every accessor
  * either returns a decoded value or throws [[XdrCursor.Malformed]] —
  * the record parsers stay linear and the entry points translate the
  * throw to the quarantine NULL.
  */
private[plans] final class XdrCursor(b: Array[Byte]) {
  private var p = 0

  private def fail(): Nothing = throw XdrCursor.Malformed
  private def need(n: Int): Unit = if (n < 0 || b.length - p < n) fail()

  def u32(): Long = {
    need(4)
    val v = ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    p += 4; v
  }

  def i64(): Long = {
    need(8)
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (b(p + i) & 0xffL); i += 1 }
    p += 8; v
  }

  def bytes(n: Int): Array[Byte] = {
    need(n)
    val out = java.util.Arrays.copyOfRange(b, p, p + n); p += n; out
  }

  def skip(n: Int): Unit = { need(n); p += n }

  /** Discriminant that must equal `want` (a required union arm). */
  def expect(want: Long): Unit = if (u32() != want) fail()

  /** Variable opaque<max>: length-prefixed, zero-padded to the 4-byte
    * boundary; rejects over-limit lengths and nonzero pad bytes. */
  def varBytes(max: Int): Array[Byte] = {
    val len = u32()
    if (len > max) fail()
    val out = bytes(len.toInt)
    val pad = ((4L - len % 4L) % 4L).toInt
    need(pad)
    var i = 0
    while (i < pad) { if (b(p + i) != 0) fail(); i += 1 }
    p += pad
    out
  }

  /** 32-byte hash → lowercase hex (64 chars). */
  def hex32(): UTF8String = UTF8String.fromString(
    bytes(32).map(x => f"${x & 0xff}%02x").mkString)

  /** 32-byte key → SEP-23 G-address (account strkey, version byte 48). */
  def strkey32(): UTF8String = StrkeyCodec.encode(48, bytes(32))

  /** AccountID = PublicKey union: ed25519 only. */
  def accountId(): UTF8String = { expect(0L); strkey32() }

  /** MuxedAccount → (G-address of the underlying key, mux id or null). */
  def muxedAccount(): (UTF8String, Any) = u32() match {
    case 0L     => (strkey32(), null) // KEY_TYPE_ED25519
    case 0x100L => val id = i64(); (strkey32(), id) // KEY_TYPE_MUXED_ED25519
    case _      => fail()
  }

  /** Fixed asset code opaque[n], trailing zero bytes trimmed. */
  def assetCode(n: Int): UTF8String = {
    val raw = bytes(n)
    var end = n
    while (end > 0 && raw(end - 1) == 0) end -= 1
    UTF8String.fromBytes(java.util.Arrays.copyOf(raw, end))
  }

  /** Asset union → (type, code or null, issuer G-address or null).
    * `poolShareArm` admits the TrustLineAsset-only arm 3 (PoolID),
    * surfacing the 32-byte pool id hex as the "code". */
  def asset(poolShareArm: Boolean = false): (Long, Any, Any) = u32() match {
    case 0L => (0L, null, null) // native
    case 1L => val c = assetCode(4); (1L, c, accountId())
    case 2L => val c = assetCode(12); (2L, c, accountId())
    case 3L if poolShareArm =>
      (3L, hex32(), null)
    case _ => fail()
  }

  /** SignerKey union (key types 0–3, type 3 carrying a variable signed
    * payload) → (type-correct SEP-23 strkey, key type). The 'P' arm's
    * strkey payload is key ‖ 4-byte BE length ‖ payload zero-padded to
    * 4 — exactly the XDR wire bytes of the arm. Shared by AccountEntry
    * signers and SET_OPTIONS' optional signer. */
  def signerKey(): (UTF8String, Long) = {
    val keyType = u32()
    if (keyType > 3L) fail()
    val key = bytes(32)
    val payload =
      if (keyType == 3L) {
        val sp = varBytes(64)
        val pad = (4 - sp.length % 4) % 4
        val out = new Array[Byte](32 + 4 + sp.length + pad)
        System.arraycopy(key, 0, out, 0, 32)
        out(32) = ((sp.length >> 24) & 0xff).toByte
        out(33) = ((sp.length >> 16) & 0xff).toByte
        out(34) = ((sp.length >> 8) & 0xff).toByte
        out(35) = (sp.length & 0xff).toByte
        System.arraycopy(sp, 0, out, 36, sp.length)
        out
      } else key
    (StrkeyCodec.encode(XdrCursor.signerVersionByte(keyType.toInt), payload),
      keyType)
  }

  /** The record must consume the buffer exactly — no trailing bytes. */
  def done(): Unit = if (p != b.length) fail()
}

/** One whole-record decoder: the SQL function `sqlName(bin)` that
  * [[XdrDecode]] plans, its result `schema`, and the cursor `parse` that
  * fills one row of it. Each record is an object, listed once in
  * [[XdrRecords.all]].
  */
abstract class XdrRecord(val sqlName: String) extends Serializable {
  val schema: StructType

  /** Mid-stream parse (no exact-consumption check): records that embed
    * this one call it on their own cursor. */
  private[plans] def parse(c: XdrCursor): InternalRow

  /** The whole buffer as one record: NULL on null input and on any
    * structural violation, trailing bytes included. */
  final def decode(b: Array[Byte]): InternalRow =
    if (b == null) null
    else try {
      val c = new XdrCursor(b)
      val row = parse(c)
      c.done()
      row
    } catch { case XdrCursor.Malformed => null }
}

/** Every whole-record decoder, in registration order. */
object XdrRecords {
  val all: Seq[XdrRecord] = Seq(XdrLedgerHeader, XdrAccountEntry,
    XdrTrustLineEntry, XdrOfferEntry, XdrLiquidityPoolEntry,
    XdrClaimableBalanceEntry, XdrContractDataEntry, XdrTtlEntry,
    XdrContractCodeEntry, XdrConfigSettingEntry, XdrLedgerKey,
    XdrLedgerEntry, XdrTxEnvelope, XdrTxResult, XdrLedgerEntryChanges)
}

/** Full `LedgerHeader` decode (Stellar-ledger.x) — the
  * history_ledgers-shaped record. Variable interior: the SCP value's
  * `upgrades<6>` vector and its BASIC/SIGNED ext union; the v1 header
  * ext carries flags. */
object XdrLedgerHeader extends XdrRecord("graft_xdr_ledger_header") {

  /** Result schema — history_ledgers-shaped; hashes stay binary (the
    * query hex()es them into the reference's string spelling). */
  val schema: StructType = StructType(Seq(
    StructField("ledger_version", LongType),
    StructField("previous_ledger_hash", BinaryType),
    StructField("tx_set_hash", BinaryType),
    StructField("close_time", LongType),
    StructField("upgrade_count", LongType),
    StructField("signed", BooleanType),
    StructField("tx_set_result_hash", BinaryType),
    StructField("bucket_list_hash", BinaryType),
    StructField("ledger_seq", LongType),
    StructField("total_coins", LongType),
    StructField("fee_pool", LongType),
    StructField("inflation_seq", LongType),
    StructField("id_pool", LongType),
    StructField("base_fee", LongType),
    StructField("base_reserve", LongType),
    StructField("max_tx_set_size", LongType),
    StructField("flags", LongType)))

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val ledgerVersion = c.u32()
    val prevHash = c.bytes(32)
    val txSetHash = c.bytes(32) // scp.txSetHash
    val closeTime = c.i64()
    val nUpgrades = c.u32()
    if (nUpgrades > 6) throw XdrCursor.Malformed // UpgradeType upgrades<6>
    var u = 0L
    while (u < nUpgrades) { c.varBytes(128); u += 1 } // opaque<128> each
    val signed = c.u32() match {
      case 0L => false
      case 1L => // LedgerCloseValueSignature: NodeID + Signature
        c.expect(0L) // PUBLIC_KEY_TYPE_ED25519
        c.skip(32)
        c.varBytes(64) // Signature = opaque<64>
        true
      case _ => throw XdrCursor.Malformed
    }
    val txSetResultHash = c.bytes(32)
    val bucketListHash = c.bytes(32)
    val ledgerSeq = c.u32()
    val totalCoins = c.i64()
    val feePool = c.i64()
    val inflationSeq = c.u32()
    val idPool = c.i64()
    val baseFee = c.u32()
    val baseReserve = c.u32()
    val maxTxSetSize = c.u32()
    c.skip(128) // skipList: Hash[4]
    val flags = c.u32() match {
      case 0L => 0L
      case 1L => // LedgerHeaderExtensionV1: uint32 flags + ext(0)
        val fl = c.u32(); c.expect(0L); fl
      case _ => throw XdrCursor.Malformed
    }
    new GenericInternalRow(Array[Any](
      ledgerVersion, prevHash, txSetHash, closeTime, nUpgrades, signed,
      txSetResultHash, bucketListHash, ledgerSeq, totalCoins, feePool,
      inflationSeq, idPool, baseFee, baseReserve, maxTxSetSize, flags))
  }
}

/** Full `AccountEntry` decode (Stellar-ledger-entries.x) — the record
  * that exercises the XDR-cursor × strkey COMPOSITION: raw ed25519
  * PublicKeys surface as checksum-carrying G-addresses, the spelling
  * the reference's `accounts` table stores. Variable interior: optional
  * inflation destination, string32 home domain, `signers<20>` (key
  * types 0–3, type 3 carrying a variable signed payload), and the full
  * v0/v1/v2/v3 ext chain: v1 liabilities, v2 sponsorship counters with
  * the SponsorshipDescriptor (optional AccountID) vector, v3 seq
  * ledger/time — the columns the reference's accounts table stores
  * (num_sponsored / num_sponsoring / sequence_ledger / sequence_time,
  * reference schemas/accounts_schema.json). */
object XdrAccountEntry extends XdrRecord("graft_xdr_account_entry") {

  val signerType: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("key_type", LongType),
    StructField("weight", LongType)))

  val schema: StructType = StructType(Seq(
    StructField("account_id", StringType),
    StructField("balance", LongType),
    StructField("sequence_number", LongType),
    StructField("num_subentries", LongType),
    StructField("inflation_destination", StringType),
    StructField("flags", LongType),
    StructField("home_domain", StringType),
    StructField("master_weight", LongType),
    StructField("threshold_low", LongType),
    StructField("threshold_med", LongType),
    StructField("threshold_high", LongType),
    StructField("num_signers", LongType),
    StructField("buying_liabilities", LongType),
    StructField("selling_liabilities", LongType),
    StructField("num_sponsored", LongType),
    StructField("num_sponsoring", LongType),
    StructField("seq_ledger", LongType),
    StructField("seq_time", LongType),
    // exploding this array IS the reference's account_signers table
    StructField("signers", ArrayType(signerType))))

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val accountId = c.accountId()
    val balance = c.i64()
    val seqNum = c.i64()
    val numSubEntries = c.u32()
    val inflationDest: Any = c.u32() match {
      case 0L => null
      case 1L => c.accountId()
      case _  => throw XdrCursor.Malformed
    }
    val flags = c.u32()
    val homeDomain = UTF8String.fromBytes(c.varBytes(32)) // string32
    val thr = c.bytes(4)
    val nSigners = c.u32()
    if (nSigners > 20) throw XdrCursor.Malformed // Signer signers<20>
    val signers = new Array[Any](nSigners.toInt)
    var s = 0
    while (s < nSigners) {
      val (key, keyType) = c.signerKey()
      signers(s) = new GenericInternalRow(Array[Any](key, keyType, c.u32()))
      s += 1
    }
    var numSponsored = 0L; var numSponsoring = 0L
    var seqLedger = 0L; var seqTime = 0L
    val (buying, selling) = c.u32() match {
      case 0L => (0L, 0L)
      case 1L => // AccountEntryExtensionV1: Liabilities + inner ext 0|2
        val bl = c.i64(); val sl = c.i64()
        c.u32() match {
          case 0L => ()
          case 2L => // AccountEntryExtensionV2: sponsorship counters +
            // signerSponsoringIDs<20> of SponsorshipDescriptor
            // (optional AccountID), then the 0|3 inner ext
            numSponsored = c.u32(); numSponsoring = c.u32()
            val nIds = c.u32()
            if (nIds > 20) throw XdrCursor.Malformed
            var i = 0L
            while (i < nIds) {
              c.u32() match {
                case 0L => ()
                case 1L => c.expect(0L); c.skip(32) // present AccountID
                case _  => throw XdrCursor.Malformed
              }
              i += 1
            }
            c.u32() match {
              case 0L => ()
              case 3L => // AccountEntryExtensionV3: ExtensionPoint +
                // uint32 seqLedger + TimePoint seqTime
                c.expect(0L)
                seqLedger = c.u32(); seqTime = c.i64()
              case _ => throw XdrCursor.Malformed
            }
          case _ => throw XdrCursor.Malformed
        }
        (bl, sl)
      case _ => throw XdrCursor.Malformed
    }
    new GenericInternalRow(Array[Any](
      accountId, balance, seqNum, numSubEntries, inflationDest, flags,
      homeDomain, (thr(0) & 0xff).toLong, (thr(1) & 0xff).toLong,
      (thr(2) & 0xff).toLong, (thr(3) & 0xff).toLong,
      nSigners.toLong, buying, selling, numSponsored, numSponsoring,
      seqLedger, seqTime, new GenericArrayData(signers)))
  }
}

/** Full `TrustLineEntry` decode (Stellar-ledger-entries.x) — the
  * reference's `trust_lines` table shape. The TrustLineAsset union
  * admits the pool-share arm (PoolID surfaces as the 64-hex-char
  * asset_code with asset_type 3); the nested ext chain carries v1
  * liabilities and the v2 liquidity-pool use count. */
object XdrTrustLineEntry extends XdrRecord("graft_xdr_trust_line") {
  val schema: StructType = StructType(Seq(
    StructField("account_id", StringType),
    StructField("asset_type", LongType),
    StructField("asset_code", StringType),
    StructField("asset_issuer", StringType),
    StructField("balance", LongType),
    StructField("trust_limit", LongType),
    StructField("flags", LongType),
    StructField("buying_liabilities", LongType),
    StructField("selling_liabilities", LongType),
    StructField("pool_use_count", LongType)))

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val accountId = c.accountId()
    val (aType, aCode, aIssuer) = c.asset(poolShareArm = true)
    val balance = c.i64()
    val limit = c.i64()
    val flags = c.u32()
    var buying = 0L; var selling = 0L; var poolUse = 0L
    c.u32() match {
      case 0L => ()
      case 1L => // TrustLineEntryExtensionV1
        buying = c.i64(); selling = c.i64()
        c.u32() match {
          case 0L => ()
          case 2L => // TrustLineEntryExtensionV2: int32 useCount + ext 0
            poolUse = c.u32().toInt.toLong; c.expect(0L) // sign-extend int32
          case _ => throw XdrCursor.Malformed
        }
      case _ => throw XdrCursor.Malformed
    }
    new GenericInternalRow(Array[Any](
      accountId, aType, aCode, aIssuer, balance, limit, flags,
      buying, selling, poolUse))
  }
}

/** Full `OfferEntry` decode (Stellar-ledger-entries.x) — the
  * reference's `offers` table shape: seller, offer id, both Asset
  * unions, amount, the n/d Price fraction, flags. */
object XdrOfferEntry extends XdrRecord("graft_xdr_offer") {
  val schema: StructType = StructType(Seq(
    StructField("seller_id", StringType),
    StructField("offer_id", LongType),
    StructField("selling_asset_type", LongType),
    StructField("selling_asset_code", StringType),
    StructField("selling_asset_issuer", StringType),
    StructField("buying_asset_type", LongType),
    StructField("buying_asset_code", StringType),
    StructField("buying_asset_issuer", StringType),
    StructField("amount", LongType),
    StructField("price_n", LongType),
    StructField("price_d", LongType),
    StructField("flags", LongType)))

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val sellerId = c.accountId()
    val offerId = c.i64()
    val (sType, sCode, sIssuer) = c.asset()
    val (bType, bCode, bIssuer) = c.asset()
    val amount = c.i64()
    val priceN = c.u32().toInt.toLong // Price { int32 n; int32 d }:
    val priceD = c.u32().toInt.toLong // sign-extended int32s
    if (priceD == 0L) throw XdrCursor.Malformed // a price is a fraction
    val flags = c.u32()
    c.expect(0L) // ext
    new GenericInternalRow(Array[Any](
      sellerId, offerId, sType, sCode, sIssuer, bType, bCode, bIssuer,
      amount, priceN, priceD, flags))
  }
}

/** Full `LiquidityPoolEntry` decode (Stellar-ledger-entries.x) — the
  * reference's `liquidity_pools` table shape: pool id, the
  * constant-product body's asset pair, fee, reserves, share totals. */
object XdrLiquidityPoolEntry extends XdrRecord("graft_xdr_liquidity_pool") {
  val schema: StructType = StructType(Seq(
    StructField("pool_id", StringType),
    StructField("asset_a_type", LongType),
    StructField("asset_a_code", StringType),
    StructField("asset_a_issuer", StringType),
    StructField("asset_b_type", LongType),
    StructField("asset_b_code", StringType),
    StructField("asset_b_issuer", StringType),
    StructField("fee", LongType),
    StructField("reserve_a", LongType),
    StructField("reserve_b", LongType),
    StructField("total_pool_shares", LongType),
    StructField("pool_shares_trust_line_count", LongType)))

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val poolId = c.hex32()
    c.expect(0L) // LIQUIDITY_POOL_CONSTANT_PRODUCT, the only arm
    val (aT, aC, aI) = c.asset()
    val (bT, bC, bI) = c.asset()
    val fee = c.u32().toInt.toLong // int32 fee (basis points), sign-extended
    val reserveA = c.i64()
    val reserveB = c.i64()
    val totalShares = c.i64()
    val tlCount = c.i64()
    new GenericInternalRow(Array[Any](
      poolId, aT, aC, aI, bT, bC, bI, fee, reserveA, reserveB,
      totalShares, tlCount))
  }
}

/** Full `ClaimableBalanceEntry` decode (Stellar-ledger-entries.x) — the
  * reference's `claimable_balances` table shape, including the
  * RECURSIVE ClaimPredicate tree each claimant carries (AND/OR carry
  * predicate vectors<2>, NOT an optional child, the leaves are
  * unconditional or abs/rel time bounds). The tree is walked with a
  * depth guard and surfaced as per-claimant summary columns — root
  * type, node count, depth, and the earliest absolute-time bound — the
  * queryable shape; claimants explode like signers/operations. */
object XdrClaimableBalanceEntry extends XdrRecord("graft_xdr_claimable_balance") {

  val claimantType: StructType = StructType(Seq(
    StructField("destination", StringType),
    StructField("predicate_type", LongType),
    StructField("predicate_nodes", LongType),
    StructField("predicate_depth", LongType),
    StructField("abs_before_min", LongType)))

  val schema: StructType = StructType(Seq(
    StructField("balance_id", StringType),
    StructField("asset_type", LongType),
    StructField("asset_code", StringType),
    StructField("asset_issuer", StringType),
    StructField("amount", LongType),
    StructField("flags", LongType),
    StructField("n_claimants", LongType),
    StructField("claimants", ArrayType(claimantType))))

  /** Walk one predicate subtree: (root type, node count, depth, min
    * abs-before or null). Recursive calls drop the child's root type. */
  private[plans] def predicate(c: XdrCursor, depth: Int): (Long, Long, Long, Any) = {
    if (depth > 16) throw XdrCursor.Malformed // defensive recursion bound
    def minAbs(a: Any, b: Any): Any = (a, b) match {
      case (null, v)          => v
      case (v, null)          => v
      case (x: Long, y: Long) => if (x < y) x else y
    }
    c.u32() match {
      case 0L => (0L, 1L, 1L, null) // UNCONDITIONAL
      case t @ (1L | 2L) => // AND / OR: ClaimPredicate vector<2>
        val n = c.u32()
        if (n > 2) throw XdrCursor.Malformed
        var nodes = 1L; var dMax = 0L; var abs: Any = null
        var i = 0L
        while (i < n) {
          val (_, cn, cd, ca) = predicate(c, depth + 1)
          nodes += cn
          if (cd > dMax) dMax = cd
          abs = minAbs(abs, ca)
          i += 1
        }
        (t, nodes, dMax + 1L, abs)
      case 3L => // NOT: optional child
        c.u32() match {
          case 0L => (3L, 1L, 1L, null)
          case 1L =>
            val (_, cn, cd, ca) = predicate(c, depth + 1)
            (3L, cn + 1L, cd + 1L, ca)
          case _ => throw XdrCursor.Malformed
        }
      case 4L => (4L, 1L, 1L, c.i64()) // BEFORE_ABSOLUTE_TIME
      case 5L => { c.i64(); (5L, 1L, 1L, null) } // BEFORE_RELATIVE_TIME
      case _ => throw XdrCursor.Malformed
    }
  }

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    c.expect(0L) // CLAIMABLE_BALANCE_ID_TYPE_V0
    val balanceId = c.hex32()
    val nClaimants = c.u32()
    if (nClaimants < 1 || nClaimants > 10) throw XdrCursor.Malformed
    val claimants = new Array[Any](nClaimants.toInt)
    var i = 0
    while (i < nClaimants) {
      c.expect(0L) // CLAIMANT_TYPE_V0
      val dest = c.accountId()
      val (rootType, nodes, depth, absMin) = predicate(c, 1)
      claimants(i) = new GenericInternalRow(Array[Any](
        dest, rootType, nodes, depth, absMin))
      i += 1
    }
    val (aT, aC, aI) = c.asset()
    val amount = c.i64()
    val flags = c.u32() match {
      case 0L => 0L
      case 1L =>
        // ClaimableBalanceEntryExtensionV1 is the INNER ext union FIRST,
        // then uint32 flags (Stellar-ledger-entries.x) — the reverse of
        // LedgerHeaderExtensionV1's flags-then-ext layout.
        c.expect(0L); c.u32()
      case _ => throw XdrCursor.Malformed
    }
    new GenericInternalRow(Array[Any](
      balanceId, aT, aC, aI, amount, flags, nClaimants.toLong,
      new GenericArrayData(claimants)))
  }
}

/** Full `ContractDataEntry` decode (Stellar-contract/ledger-entries.x,
  * the Soroban-era `contract_data` table): contract address, durability,
  * and the key/val SCVal trees. The walker is TOTAL over the SCVal
  * union — BOOL, VOID, ERROR (type + code), U32, I32, U64, I64,
  * TIMEPOINT, DURATION, the 128-bit parts (token amounts are i128 —
  * surfaced as Decimal(38,0); the 39-digit extremes past 10^38
  * quarantine, a documented boundary), the 256-bit parts (digit string
  * in the text slot — too wide for any Spark decimal), BYTES, STRING,
  * SYMBOL, the recursive VEC/MAP containers (depth-16 guard),
  * SCV_ADDRESS (account/contract strkeys in the text slot),
  * CONTRACT_INSTANCE (executable + storage map), and both ledger-key
  * arms. Each tree is summarized to queryable columns — type, node
  * count, depth, the scalar rendering when the value IS a scalar — and
  * the whole tree renders as the deterministic JSON document the
  * reference's key_decoded / val_decoded columns carry.
  */
object XdrContractDataEntry extends XdrRecord("graft_xdr_contract_data") {

  val schema: StructType = StructType(Seq(
    StructField("contract_id", StringType),
    StructField("contract_kind", LongType), // 0 account, 1 contract
    StructField("durability", LongType),    // 0 temporary, 1 persistent
    StructField("key_type", LongType),
    StructField("key_text", StringType),
    StructField("key_num", LongType),
    StructField("key_dec", DecimalType(38, 0)),
    StructField("val_type", LongType),
    StructField("val_text", StringType),
    StructField("val_num", LongType),
    StructField("val_dec", DecimalType(38, 0)),
    StructField("val_nodes", LongType),
    StructField("val_depth", LongType),
    // the reference's key_decoded / val_decoded JSON columns: the whole
    // tree rendered during the same walk (see scval's doc for the
    // deterministic rendering rules)
    StructField("key_json", StringType),
    StructField("val_json", StringType)))

  // Decimal(38,0) bound: 128-bit values at or past 10^38 quarantine
  private val decMax = new java.math.BigInteger("1" + "0" * 38)

  private def dec128(hi: Long, lo: Long, signedHi: Boolean): Decimal = {
    val hiBig =
      if (signedHi) java.math.BigInteger.valueOf(hi)
      else new java.math.BigInteger(java.lang.Long.toUnsignedString(hi))
    val big = hiBig.shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
    if (big.abs.compareTo(decMax) >= 0) throw XdrCursor.Malformed
    Decimal(new java.math.BigDecimal(big), 38, 0)
  }

  private def jsonStr(sb: java.lang.StringBuilder, s: UTF8String): Unit = {
    sb.append('"')
    val str = s.toString
    var i = 0
    while (i < str.length) {
      str.charAt(i) match {
        case '"'          => sb.append("\\\"")
        case '\\'         => sb.append("\\\\")
        case ch if ch < ' ' => sb.append(f"\\u${ch.toInt}%04x")
        case ch           => sb.append(ch)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Walk one SCVal:
    * (type, nodes, depth, text-or-null, num-or-null, dec-or-null).
    * When `sb` is non-null the walk ALSO renders the whole tree as a
    * deterministic JSON document — the reference's `key_decoded` /
    * `val_decoded` surface: 64-bit numerics and bool/void as JSON
    * literals, 128-bit decimals as quoted digit strings (JSON numbers
    * would lose precision downstream), bytes as a quoted "0x<hex>"
    * string, string/symbol/address as JSON strings, VEC as an array,
    * and MAP as an array of [key, value] pairs (SCVal map keys are not
    * restricted to strings, so a JSON object cannot carry them). */
  private[plans] def scval(c: XdrCursor, depth: Int,
                           sb: java.lang.StringBuilder = null)
  : (Long, Long, Long, Any, Any, Any) = {
    if (depth > 16) throw XdrCursor.Malformed
    val t = c.u32()
    t match {
      case 0L => // SCV_BOOL as 0/1
        val v = c.u32()
        if (sb != null) sb.append(if (v != 0L) "true" else "false")
        (t, 1L, 1L, null, v, null)
      case 1L => // SCV_VOID
        if (sb != null) sb.append("null")
        (t, 1L, 1L, null, null, null)
      case 3L => // SCV_U32
        val v = c.u32()
        if (sb != null) sb.append(v)
        (t, 1L, 1L, null, v, null)
      case 4L => // SCV_I32: sign-extend the 32-bit value
        val v = c.u32().toInt.toLong
        if (sb != null) sb.append(v)
        (t, 1L, 1L, null, v, null)
      case 5L | 6L | 7L | 8L => // U64 / I64 / TIMEPOINT / DURATION
        val v = c.i64()
        if (sb != null) sb.append(v)
        (t, 1L, 1L, null, v, null)
      case 9L | 10L => // SCV_U128 / SCV_I128: hi/lo parts
        val d = dec128(c.i64(), c.i64(), signedHi = t == 10L)
        if (sb != null) sb.append('"').append(d.toString).append('"')
        (t, 1L, 1L, null, null, d)
      case 13L => // SCV_BYTES → hex rendering
        val raw = c.varBytes(Int.MaxValue)
        val hx = raw.map(x => f"${x & 0xff}%02x").mkString
        if (sb != null) sb.append("\"0x").append(hx).append('"')
        (t, 1L, 1L, UTF8String.fromString(hx), null, null)
      case 14L =>
        val s = UTF8String.fromBytes(c.varBytes(Int.MaxValue))
        if (sb != null) jsonStr(sb, s)
        (t, 1L, 1L, s, null, null)
      case 15L => // SYMBOL
        val s = UTF8String.fromBytes(c.varBytes(32))
        if (sb != null) jsonStr(sb, s)
        (t, 1L, 1L, s, null, null)
      case arm @ (16L | 17L) => // SCV_VEC / SCV_MAP: optional container
        c.u32() match {
          case 0L =>
            if (sb != null) sb.append("null")
            (arm, 1L, 1L, null, null, null)
          case 1L =>
            val n = c.u32()
            if (n > 256) throw XdrCursor.Malformed // defensive bound
            if (sb != null) sb.append('[')
            var nodes = 1L; var dMax = 0L
            var i = 0L
            while (i < n) {
              if (sb != null && i > 0) sb.append(',')
              if (arm == 17L) { // a map entry carries key AND val
                if (sb != null) sb.append('[')
                val (_, kn, kd, _, _, _) = scval(c, depth + 1, sb)
                nodes += kn; if (kd > dMax) dMax = kd
                if (sb != null) sb.append(',')
                val (_, vn, vd, _, _, _) = scval(c, depth + 1, sb)
                nodes += vn; if (vd > dMax) dMax = vd
                if (sb != null) sb.append(']')
              } else {
                val (_, kn, kd, _, _, _) = scval(c, depth + 1, sb)
                nodes += kn; if (kd > dMax) dMax = kd
              }
              i += 1
            }
            if (sb != null) sb.append(']')
            (arm, nodes, dMax + 1L, null, null, null)
          case _ => throw XdrCursor.Malformed
        }
      case 18L => // SCV_ADDRESS: the strkey spelling in the text slot
        val addr = c.u32() match {
          case 0L => c.accountId()
          case 1L => StrkeyCodec.encode(16, c.bytes(32))
          case _  => throw XdrCursor.Malformed
        }
        if (sb != null) jsonStr(sb, addr)
        (t, 1L, 1L, addr, null, null)
      case 2L => // SCV_ERROR: SCError — an error-type discriminant plus
        // one uint32 code whichever the arm (contract code or enum)
        val errType = c.u32()
        if (errType > 9L) throw XdrCursor.Malformed
        val code = c.u32()
        if (sb != null)
          sb.append("[\"error\",").append(errType).append(',')
            .append(code).append(']')
        (t, 1L, 1L, null, code, null)
      case 11L | 12L => // SCV_U256 / SCV_I256: four 64-bit parts — too
        // wide for Decimal(38,0), so the digit string rides the text
        // slot (and the JSON as a quoted string)
        val hiHi = c.i64(); val hiLo = c.i64()
        val loHi = c.i64(); val loLo = c.i64()
        def u(v: Long) =
          new java.math.BigInteger(java.lang.Long.toUnsignedString(v))
        val hi =
          if (t == 12L) java.math.BigInteger.valueOf(hiHi) else u(hiHi)
        val big = hi.shiftLeft(64).add(u(hiLo)).shiftLeft(64).add(u(loHi))
          .shiftLeft(64).add(u(loLo))
        val s = UTF8String.fromString(big.toString)
        if (sb != null) sb.append('"').append(big.toString).append('"')
        (t, 1L, 1L, s, null, null)
      case 19L => // SCV_CONTRACT_INSTANCE: executable + optional storage
        // map; the wasm hash rides the text slot, storage entries count
        // into nodes/depth
        if (sb != null) sb.append("[\"instance\",")
        val exec: Any = c.u32() match {
          case 0L =>
            val hx = c.bytes(32).map(x => f"${x & 0xff}%02x").mkString
            if (sb != null) sb.append("\"0x").append(hx).append('"')
            UTF8String.fromString(hx)
          case 1L =>
            if (sb != null) sb.append("null")
            null // CONTRACT_EXECUTABLE_STELLAR_ASSET
          case _ => throw XdrCursor.Malformed
        }
        if (sb != null) sb.append(',')
        var nodes = 1L; var dMax = 0L
        c.u32() match { // SCMap* storage
          case 0L => if (sb != null) sb.append("null")
          case 1L =>
            val n = c.u32()
            if (n > 256) throw XdrCursor.Malformed
            if (sb != null) sb.append('[')
            var i = 0L
            while (i < n) {
              if (sb != null) {
                if (i > 0) sb.append(',')
                sb.append('[')
              }
              val (_, kn, kd, _, _, _) = scval(c, depth + 1, sb)
              nodes += kn; if (kd > dMax) dMax = kd
              if (sb != null) sb.append(',')
              val (_, vn, vd, _, _, _) = scval(c, depth + 1, sb)
              nodes += vn; if (vd > dMax) dMax = vd
              if (sb != null) sb.append(']')
              i += 1
            }
            if (sb != null) sb.append(']')
          case _ => throw XdrCursor.Malformed
        }
        if (sb != null) sb.append(']')
        (t, nodes, dMax + 1L, exec, null, null)
      case 20L => // SCV_LEDGER_KEY_CONTRACT_INSTANCE: void
        if (sb != null) sb.append("\"instance_key\"")
        (t, 1L, 1L, null, null, null)
      case 21L => // SCV_LEDGER_KEY_NONCE: { int64 nonce }
        val n = c.i64()
        if (sb != null) sb.append("[\"nonce\",").append(n).append(']')
        (t, 1L, 1L, null, n, null)
      case _ => throw XdrCursor.Malformed // no SCVal arm beyond 21
    }
  }

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    c.expect(0L) // ExtensionPoint
    val (contractId: UTF8String, kind) = c.u32() match {
      case 0L => (c.accountId(), 0L) // SC_ADDRESS_TYPE_ACCOUNT
      case 1L => // SC_ADDRESS_TYPE_CONTRACT: Hash → SEP-23 C-address (16)
        (StrkeyCodec.encode(16, c.bytes(32)), 1L)
      case _ => throw XdrCursor.Malformed
    }
    val kSb = new java.lang.StringBuilder(64)
    val (kT, _, _, kText, kNum, kDec) = scval(c, 1, kSb) // container keys
    // allowed: their text/num render null, the type still surfaces
    val durability = c.u32()
    if (durability > 1L) throw XdrCursor.Malformed
    val vSb = new java.lang.StringBuilder(64)
    val (vT, vNodes, vDepth, vText, vNum, vDec) = scval(c, 1, vSb)
    new GenericInternalRow(Array[Any](
      contractId, kind, durability, kT, kText, kNum, kDec, vT, vText,
      vNum, vDec, vNodes, vDepth,
      UTF8String.fromString(kSb.toString), UTF8String.fromString(vSb.toString)))
  }
}

/** `TTLEntry` + `ContractCodeEntry` decodes (Stellar-ledger-entries.x /
  * Stellar-contract.x) — the last two Soroban state tables the
  * reference exports (`ttl`, `contract_code`). TTL is the minimal
  * record (keyHash + liveUntilLedgerSeq, exactly 36 bytes — the
  * exact-consumption rule does the heavy lifting); ContractCode
  * surfaces the code hash and size without shipping the WASM blob
  * through the row (a sha256 fingerprint stands in for the bytes —
  * the pixels-stay-in-the-task posture applied to code). The v1
  * cost-inputs extension is outside this decoder's boundary
  * (quarantines; mechanical to add). */
object XdrTtlEntry extends XdrRecord("graft_xdr_ttl") {
  val schema: StructType = StructType(Seq(
    StructField("key_hash", StringType),
    StructField("live_until_ledger_seq", LongType)))

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val keyHash = c.hex32()
    val liveUntil = c.u32()
    new GenericInternalRow(Array[Any](keyHash, liveUntil))
  }
}

object XdrContractCodeEntry extends XdrRecord("graft_xdr_contract_code") {
  val schema: StructType = StructType(Seq(
    StructField("code_hash", StringType),
    StructField("code_size", LongType),
    StructField("code_sha256", StringType)))

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    c.expect(0L) // ExtensionPoint (v1 cost inputs: boundary)
    val hash = c.hex32()
    val code = c.varBytes(Int.MaxValue)
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(code)
    new GenericInternalRow(Array[Any](hash, code.length.toLong,
      UTF8String.fromString(sha.map(x => f"${x & 0xff}%02x").mkString)))
  }
}

/** `ConfigSettingEntry` decode (Stellar-contract-config-setting.x) —
  * the reference's `config_settings` state table. The entry is one big
  * union on ConfigSettingID whose decodable arms are fixed sequences of
  * u32/i64/bool scalars (the protocol-21+ layouts: STATE_ARCHIVAL here
  * is the 10-field shape with bucketListWindowSamplePeriod present and
  * a uint32 evictionScanSize — a genuine protocol-20 STATE_ARCHIVAL
  * blob, 9 fields with a uint64 evictionScanSize, happens to have the
  * SAME byte length and would decode with evictionScanSize split
  * across two slots and startingEvictionScanLevel shifted; pre-21
  * archives must be migrated or read with a versioned layout), so the
  * record
  * surfaces GENERICALLY as (setting_id, the scalar sequence in wire
  * order as an array<long>) — the stable queryable shape the
  * reference's flat per-arm projection (schemas/
  * config_settings_schema.json) derives by position. The two
  * ContractCostParams arms (vectors of ExtensionPoint + two int64
  * terms) flatten to const/linear pairs; the bucket-list size window
  * (vector<uint64>) passes through. Unknown setting ids quarantine.
  */
object XdrConfigSettingEntry extends XdrRecord("graft_xdr_config_setting") {
  val schema: StructType = StructType(Seq(
    StructField("setting_id", LongType),
    StructField("n_values", LongType),
    StructField("values", ArrayType(LongType))))

  // per-arm scalar layouts: 'w' = uint32, 'q' = int64/uint64, 'b' = bool
  private val layouts: Map[Long, String] = Map(
    0L -> "w",                 // CONTRACT_MAX_SIZE_BYTES
    1L -> "qqqw",              // COMPUTE_V0
    2L -> "wwwwwwwwqqqqqqw",   // LEDGER_COST_V0
    3L -> "q",                 // HISTORICAL_DATA_V0
    4L -> "wq",                // EVENTS_V0
    5L -> "wwq",               // BANDWIDTH_V0
    8L -> "w",                 // CONTRACT_DATA_KEY_SIZE_BYTES
    9L -> "w",                 // CONTRACT_DATA_ENTRY_SIZE_BYTES
    10L -> "wwwqqwwwww",       // STATE_ARCHIVAL (protocol-21+ shape; see doc)
    11L -> "w",                // EXECUTION_LANES
    13L -> "wbq")              // EVICTION_ITERATOR

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val id = c.u32()
    val vals: Array[Any] = id match {
      case 6L | 7L => // ContractCostParams: vector of (ext, const, linear)
        val n = c.u32()
        if (n > 1024) throw XdrCursor.Malformed
        val out = new Array[Any](2 * n.toInt)
        var i = 0
        while (i < n) {
          c.expect(0L) // ExtensionPoint
          out(2 * i) = c.i64(); out(2 * i + 1) = c.i64()
          i += 1
        }
        out
      case 12L => // bucketListSizeWindow: vector<uint64>
        val n = c.u32()
        if (n > 4096) throw XdrCursor.Malformed
        val out = new Array[Any](n.toInt)
        var i = 0
        while (i < n) { out(i) = c.i64(); i += 1 }
        out
      case other =>
        val layout = layouts.getOrElse(other, throw XdrCursor.Malformed)
        val out = new Array[Any](layout.length)
        var i = 0
        while (i < layout.length) {
          out(i) = layout.charAt(i) match {
            case 'w' => c.u32()
            case 'q' => c.i64()
            case 'b' => c.u32() match { // XDR bool
              case v @ (0L | 1L) => v
              case _             => throw XdrCursor.Malformed
            }
          }
          i += 1
        }
        out
    }
    new GenericInternalRow(Array[Any](
      id, vals.length.toLong, new GenericArrayData(vals)))
  }
}

/** `LedgerKey` decode (Stellar-ledger-entries.x) — all ten arms. This
  * is the key half of every state record (and the reference's
  * `restored_key` table surface, schemas/restored_key_schema.json):
  * per-arm nullable columns name whichever identifying fields the arm
  * carries — account, trust-line asset (incl. pool share), offer id,
  * data name, balance/pool/code/TTL hashes, the contract-data address
  * + SCVal key summary + durability, config setting id. */
object XdrLedgerKey extends XdrRecord("graft_xdr_ledger_key") {
  val schema: StructType = StructType(Seq(
    StructField("entry_type", LongType),
    StructField("account_id", StringType),
    StructField("asset_type", LongType),
    StructField("asset_code", StringType),
    StructField("asset_issuer", StringType),
    StructField("offer_id", LongType),
    StructField("data_name", StringType),
    StructField("balance_id", StringType),
    StructField("pool_id", StringType),
    StructField("contract_id", StringType),
    StructField("key_type", LongType),
    StructField("key_text", StringType),
    StructField("key_num", LongType),
    StructField("durability", LongType),
    StructField("code_hash", StringType),
    StructField("setting_id", LongType),
    StructField("key_hash", StringType)))

  /** Mid-stream parse (no exact-consumption check) — the shape embedded
    * records use, e.g. REVOKE_SPONSORSHIP's ledgerKey arm. */
  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val f = new Array[Any](schema.length)
    val t = c.u32()
    f(0) = t
    t match {
      case 0L => f(1) = c.accountId() // ACCOUNT
      case 1L => // TRUSTLINE: account + TrustLineAsset (pool-share arm ok)
        f(1) = c.accountId()
        val (aT, aC, aI) = c.asset(poolShareArm = true)
        f(2) = aT; f(3) = aC; f(4) = aI
      case 2L => f(1) = c.accountId(); f(5) = c.i64() // OFFER
      case 3L => // DATA: account + string64 name
        f(1) = c.accountId()
        f(6) = UTF8String.fromBytes(c.varBytes(64))
      case 4L => // CLAIMABLE_BALANCE: ClaimableBalanceID v0
        c.expect(0L); f(7) = c.hex32()
      case 5L => f(8) = c.hex32() // LIQUIDITY_POOL
      case 6L => // CONTRACT_DATA: SCAddress + SCVal key + durability
        f(9) = c.u32() match {
          case 0L => c.accountId()
          case 1L => StrkeyCodec.encode(16, c.bytes(32))
          case _  => throw XdrCursor.Malformed
        }
        val (kT, _, _, kText, kNum, _) = XdrContractDataEntry.scval(c, 1)
        f(10) = kT; f(11) = kText; f(12) = kNum
        val dur = c.u32()
        if (dur > 1L) throw XdrCursor.Malformed
        f(13) = dur
      case 7L => f(14) = c.hex32() // CONTRACT_CODE
      case 8L => // CONFIG_SETTING
        val id = c.u32()
        if (id > 13L) throw XdrCursor.Malformed
        f(15) = id
      case 9L => f(16) = c.hex32() // TTL
      case _ => throw XdrCursor.Malformed
    }
    new GenericInternalRow(f)
  }
}

/** Whole `LedgerEntry` decode (Stellar-ledger-entries.x) — the WIRE
  * record of the bounded-core state export: every ledger-entry change
  * lands as one of these, carrying the last-modified ledger seq, the
  * data union over all ten entry types, and the v1 ext's sponsoring
  * account. The data union dispatches to the per-type record parsers
  * (the same objects the per-table gates pin), each surfacing as a
  * nested nullable struct — ONE expression decodes ANY state record,
  * so an ingest can route by `entry_type` without ten scans. The DATA
  * arm (the classic key-value DataEntry, the one state shape without
  * its own table gate) decodes inline: account, name, value size. */
object XdrLedgerEntry extends XdrRecord("graft_xdr_ledger_entry") {

  val dataEntryType: StructType = StructType(Seq(
    StructField("account_id", StringType),
    StructField("data_name", StringType),
    StructField("data_value_size", LongType)))

  val schema: StructType = StructType(Seq(
    StructField("last_modified_ledger_seq", LongType),
    StructField("entry_type", LongType),
    StructField("sponsor", StringType),
    StructField("account", XdrAccountEntry.schema),
    StructField("trust_line", XdrTrustLineEntry.schema),
    StructField("offer", XdrOfferEntry.schema),
    StructField("data", dataEntryType),
    StructField("claimable_balance", XdrClaimableBalanceEntry.schema),
    StructField("liquidity_pool", XdrLiquidityPoolEntry.schema),
    StructField("contract_data", XdrContractDataEntry.schema),
    StructField("contract_code", XdrContractCodeEntry.schema),
    StructField("config_setting", XdrConfigSettingEntry.schema),
    StructField("ttl", XdrTtlEntry.schema)))

  /** Mid-stream parse — LedgerEntryChanges embeds this record. */
  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val f = new Array[Any](schema.length)
    f(0) = c.u32() // lastModifiedLedgerSeq
    val t = c.u32()
    f(1) = t
    t match {
      case 0L => f(3) = XdrAccountEntry.parse(c)
      case 1L => f(4) = XdrTrustLineEntry.parse(c)
      case 2L => f(5) = XdrOfferEntry.parse(c)
      case 3L => // DataEntry: account + string64 name + DataValue + ext
        val acct = c.accountId()
        val name = UTF8String.fromBytes(c.varBytes(64))
        val size = c.varBytes(64).length.toLong
        c.expect(0L)
        f(6) = new GenericInternalRow(Array[Any](acct, name, size))
      case 4L => f(7) = XdrClaimableBalanceEntry.parse(c)
      case 5L => f(8) = XdrLiquidityPoolEntry.parse(c)
      case 6L => f(9) = XdrContractDataEntry.parse(c)
      case 7L => f(10) = XdrContractCodeEntry.parse(c)
      case 8L => f(11) = XdrConfigSettingEntry.parse(c)
      case 9L => f(12) = XdrTtlEntry.parse(c)
      case _  => throw XdrCursor.Malformed
    }
    c.u32() match { // LedgerEntry ext
      case 0L => ()
      case 1L => // LedgerEntryExtensionV1: SponsorshipDescriptor + ext 0
        c.u32() match {
          case 0L => ()
          case 1L => f(2) = c.accountId()
          case _  => throw XdrCursor.Malformed
        }
        c.expect(0L)
      case _ => throw XdrCursor.Malformed
    }
    new GenericInternalRow(f)
  }
}

/** `TransactionV1Envelope` decode (Stellar-transaction.x) — the record
  * that carries the reference's per-OPERATION table transform: the
  * decoded struct's `operations` array explodes into
  * history_operations-shaped rows. Ed25519 keys surface as strkey
  * G-addresses; muxed sources surface as the underlying G-address plus
  * the mux id.
  *
  * The operation switch covers the high-traffic types the reference's
  * `history_operations.details` RECORD carries (reference
  * schemas/history_operations_schema.json; projection
  * dags/queries/generate_avro/history_operations.sql): CREATE_ACCOUNT,
  * PAYMENT, both PATH_PAYMENT regimes (with the repeated `path` asset
  * RECORD), MANAGE_SELL/BUY_OFFER, CREATE_PASSIVE_SELL_OFFER,
  * SET_OPTIONS (all nine optionals, the signer as its type-correct
  * strkey), CHANGE_TRUST (incl. the pool-share ChangeTrustAsset arm —
  * the pool's two assets surface in the selling/buying slots, its fee
  * in lp_fee; the pool-ID hash derivation is left to downstream marts),
  * and LIQUIDITY_POOL_DEPOSIT/WITHDRAW. Per-type fields are nullable
  * columns of one wide struct, mirroring the reference's details
  * RECORD.
  *
  * All three envelope KINDS decode: the legacy v0 layout (raw ed25519
  * source key), the v1 transaction, and the fee-bump wrap — whose
  * feeSource/fee surface as fee_account/new_max_fee (the reference's
  * history_transactions fee-bump columns,
  * schemas/history_transactions_schema.json) while the inner v1
  * transaction fills the rest of the row. Preconditions decode all
  * three arms (NONE / TIME / V2 with ledger bounds, min seq
  * num/age/gap, extra signers).
  *
  * The second wave completes the classic-protocol switch: ALLOW_TRUST,
  * ACCOUNT_MERGE, INFLATION, MANAGE_DATA, BUMP_SEQUENCE,
  * CREATE/CLAIM/CLAWBACK_CLAIMABLE_BALANCE, BEGIN/END_SPONSORING,
  * REVOKE_SPONSORSHIP (its ledgerKey arm embeds the full
  * [[XdrLedgerKey]] decode as a nested struct), CLAWBACK,
  * SET_TRUST_LINE_FLAGS, EXTEND_FOOTPRINT_TTL, RESTORE_FOOTPRINT —
  * and INVOKE_HOST_FUNCTION, whose HostFunction union decodes all four
  * arms (invoke-contract with the SCVal args walked and counted,
  * create-contract v1/v2 with the ID preimage and executable, wasm
  * upload with the size surfaced) and whose SorobanAuthorizationEntry
  * vector is structurally validated in full (credentials union + the
  * recursive authorized-invocation tree). ALL 27 operation types
  * decode; what stays summarized rather than rendered are the SCVal
  * argument VALUES (walked, counted, quarantined on malformation) —
  * per-value rendering composes from [[XdrContractDataEntry]]'s
  * walker when a mart needs it.
  *
  * The v1 transaction ext's SorobanTransactionData arm also decodes:
  * declared resources (instructions / read / write bytes), the
  * resource fee, and the footprint's LedgerKey vectors (each key fully
  * parsed via [[XdrLedgerKey]], counts surfaced) — so real Soroban
  * transactions no longer quarantine at the ext. */
object XdrTxEnvelope extends XdrRecord("graft_xdr_tx_envelope") {

  /** One `path` element — the reference's repeated asset RECORD. */
  val pathAssetType: StructType = StructType(Seq(
    StructField("asset_type", LongType),
    StructField("asset_code", StringType),
    StructField("asset_issuer", StringType)))

  val operationType: StructType = StructType(Seq(
    StructField("op_type", LongType),
    StructField("source_account", StringType),
    StructField("destination", StringType),
    StructField("asset_type", LongType),
    StructField("asset_code", StringType),
    StructField("asset_issuer", StringType),
    StructField("amount", LongType),
    // path payments
    StructField("source_asset_type", LongType),
    StructField("source_asset_code", StringType),
    StructField("source_asset_issuer", StringType),
    StructField("source_max", LongType),
    StructField("source_amount", LongType),
    StructField("dest_min", LongType),
    StructField("path", ArrayType(pathAssetType)),
    // offers
    StructField("selling_asset_type", LongType),
    StructField("selling_asset_code", StringType),
    StructField("selling_asset_issuer", StringType),
    StructField("buying_asset_type", LongType),
    StructField("buying_asset_code", StringType),
    StructField("buying_asset_issuer", StringType),
    StructField("offer_id", LongType),
    StructField("price_n", LongType),
    StructField("price_d", LongType),
    // change trust
    StructField("trust_limit", LongType),
    StructField("lp_fee", LongType),
    // set options
    StructField("inflation_dest", StringType),
    StructField("clear_flags", LongType),
    StructField("set_flags", LongType),
    StructField("master_weight", LongType),
    StructField("low_threshold", LongType),
    StructField("med_threshold", LongType),
    StructField("high_threshold", LongType),
    StructField("home_domain", StringType),
    StructField("signer_key", StringType),
    StructField("signer_weight", LongType),
    // liquidity pools
    StructField("liquidity_pool_id", StringType),
    StructField("max_amount_a", LongType),
    StructField("max_amount_b", LongType),
    StructField("min_amount_a", LongType),
    StructField("min_amount_b", LongType),
    StructField("min_price_n", LongType),
    StructField("min_price_d", LongType),
    StructField("max_price_n", LongType),
    StructField("max_price_d", LongType),
    // allow trust / set trust line flags
    StructField("trustor", StringType),
    StructField("authorize", LongType),
    // manage data / bump sequence
    StructField("data_name", StringType),
    StructField("data_value_size", LongType),
    StructField("bump_to", LongType),
    // claimable balances
    StructField("n_claimants", LongType),
    StructField("balance_id", StringType),
    // sponsorship
    StructField("sponsored_id", StringType),
    StructField("revoke_kind", LongType), // 0 ledger entry, 1 signer
    StructField("revoke_account", StringType),
    StructField("revoke_signer_key", StringType),
    // the revoked ledger key, decoded in place (all ten arms)
    StructField("revoke_key", XdrLedgerKey.schema),
    // clawback
    StructField("from_account", StringType),
    // Soroban footprint maintenance
    StructField("extend_to", LongType),
    // invoke host function: 0 invoke contract, 1 create contract,
    // 2 upload wasm, 3 create contract v2
    StructField("host_fn_type", LongType),
    StructField("invoke_contract", StringType),
    StructField("invoke_function", StringType),
    StructField("n_invoke_args", LongType),
    StructField("wasm_hash", StringType),
    StructField("wasm_size", LongType),
    StructField("n_auth", LongType)))

  val opFieldCount: Int = operationType.length

  private def scAddress(c: XdrCursor): UTF8String = c.u32() match {
    case 0L => c.accountId()
    case 1L => StrkeyCodec.encode(16, c.bytes(32))
    case _  => throw XdrCursor.Malformed
  }

  /** InvokeContractArgs: SCAddress + SCSymbol + SCVal args<> (each arg
    * fully walked, the count surfaced). */
  private def invokeArgs(c: XdrCursor): (UTF8String, UTF8String, Long) = {
    val addr = scAddress(c)
    val fn = UTF8String.fromBytes(c.varBytes(32)) // SCSymbol
    val n = c.u32()
    if (n > 128) throw XdrCursor.Malformed
    var i = 0L
    while (i < n) { XdrContractDataEntry.scval(c, 1); i += 1 }
    (addr, fn, n)
  }

  /** CreateContractArgs (V2 adds constructor args): the ID preimage
    * (address+salt or asset) + the executable (wasm hash or the
    * stellar-asset builtin), written into `f` when it is the op's own
    * row (the auth walker passes a scratch array). */
  private def createArgs(c: XdrCursor, f: Array[Any], v2: Boolean): Unit = {
    c.u32() match { // ContractIDPreimage
      case 0L => // FROM_ADDRESS: SCAddress + uint256 salt
        f(59) = scAddress(c)
        c.skip(32)
      case 1L => // FROM_ASSET
        val (aT, aC, aI) = c.asset()
        f(3) = aT; f(4) = aC; f(5) = aI
      case _ => throw XdrCursor.Malformed
    }
    c.u32() match { // ContractExecutable
      case 0L => f(62) = c.hex32() // CONTRACT_EXECUTABLE_WASM
      case 1L => ()               // CONTRACT_EXECUTABLE_STELLAR_ASSET
      case _  => throw XdrCursor.Malformed
    }
    if (v2) { // SCVal constructorArgs<>
      val n = c.u32()
      if (n > 128) throw XdrCursor.Malformed
      var i = 0L
      while (i < n) { XdrContractDataEntry.scval(c, 1); i += 1 }
      f(61) = n
    }
  }

  /** SorobanAuthorizedInvocation: the function union + the recursive
    * sub-invocation vector, fully parsed (nothing surfaced beyond the
    * auth count — this is structural validation). */
  private def authInvocation(c: XdrCursor, depth: Int): Unit = {
    if (depth > 8) throw XdrCursor.Malformed
    val scratch = new Array[Any](opFieldCount)
    c.u32() match {
      case 0L => invokeArgs(c)
      case 1L => createArgs(c, scratch, v2 = false)
      case 2L => createArgs(c, scratch, v2 = true)
      case _  => throw XdrCursor.Malformed
    }
    val n = c.u32()
    if (n > 16) throw XdrCursor.Malformed
    var i = 0L
    while (i < n) { authInvocation(c, depth + 1); i += 1 }
  }

  /** One Operation body → the wide per-type row ([[operationType]]
    * order). `opSrc` is the already-decoded optional per-op source. */
  private def decodeOp(c: XdrCursor, opSrc: Any): GenericInternalRow = {
    val f = new Array[Any](opFieldCount)
    f(1) = opSrc
    def path(): Unit = { // Asset path<5>, the repeated path RECORD
      val n = c.u32()
      if (n > 5) throw XdrCursor.Malformed
      val es = new Array[Any](n.toInt)
      var i = 0
      while (i < n) {
        val (t, cd, is) = c.asset()
        es(i) = new GenericInternalRow(Array[Any](t, cd, is))
        i += 1
      }
      f(13) = new GenericArrayData(es)
    }
    def optU32(idx: Int): Unit = c.u32() match {
      case 0L => ()
      case 1L => f(idx) = c.u32()
      case _  => throw XdrCursor.Malformed
    }
    val t = c.u32()
    f(0) = t
    t match {
      case 0L => // CREATE_ACCOUNT: destination + starting balance
        f(2) = c.accountId(); f(6) = c.i64()
      case 1L => // PAYMENT: MuxedAccount + Asset + amount
        f(2) = c.muxedAccount()._1
        val (aT, aC, aI) = c.asset()
        f(3) = aT; f(4) = aC; f(5) = aI
        f(6) = c.i64()
      case 2L => // PATH_PAYMENT_STRICT_RECEIVE: send asset/max, dest +
        // dest asset/amount, path — the delivered amount is the dest one
        val (sT, sC, sI) = c.asset()
        f(7) = sT; f(8) = sC; f(9) = sI
        f(10) = c.i64() // sendMax
        f(2) = c.muxedAccount()._1
        val (dT, dC, dI) = c.asset()
        f(3) = dT; f(4) = dC; f(5) = dI
        f(6) = c.i64() // destAmount
        path()
      case 13L => // PATH_PAYMENT_STRICT_SEND: the sent amount is fixed,
        // the destination amount only floor-bounded (dest_min)
        val (sT, sC, sI) = c.asset()
        f(7) = sT; f(8) = sC; f(9) = sI
        f(11) = c.i64() // sendAmount
        f(2) = c.muxedAccount()._1
        val (dT, dC, dI) = c.asset()
        f(3) = dT; f(4) = dC; f(5) = dI
        f(12) = c.i64() // destMin
        path()
      case 3L | 4L | 12L => // MANAGE_SELL_OFFER / CREATE_PASSIVE_SELL_OFFER
        // / MANAGE_BUY_OFFER: asset pair, amount, Price, offer id (the
        // passive variant carries none)
        val (sT, sC, sI) = c.asset()
        f(14) = sT; f(15) = sC; f(16) = sI
        val (bT, bC, bI) = c.asset()
        f(17) = bT; f(18) = bC; f(19) = bI
        f(6) = c.i64() // amount (buyAmount for MANAGE_BUY_OFFER)
        f(21) = c.u32().toInt.toLong // Price { int32 n; int32 d }
        f(22) = c.u32().toInt.toLong
        if (f(22) == 0L) throw XdrCursor.Malformed
        if (t != 4L) f(20) = c.i64() // offerID
      case 5L => // SET_OPTIONS: nine optionals, in wire order
        c.u32() match { // AccountID* inflationDest
          case 0L => ()
          case 1L => f(25) = c.accountId()
          case _  => throw XdrCursor.Malformed
        }
        optU32(26); optU32(27); optU32(28) // clear/set flags, master weight
        optU32(29); optU32(30); optU32(31) // low/med/high thresholds
        c.u32() match { // string32* homeDomain
          case 0L => ()
          case 1L => f(32) = UTF8String.fromBytes(c.varBytes(32))
          case _  => throw XdrCursor.Malformed
        }
        c.u32() match { // Signer* signer: SignerKey + uint32 weight
          case 0L => ()
          case 1L =>
            val (key, _) = c.signerKey()
            f(33) = key; f(34) = c.u32()
          case _ => throw XdrCursor.Malformed
        }
      case 6L => // CHANGE_TRUST: ChangeTrustAsset + limit. The pool-share
        // arm surfaces the constant-product params in the selling/buying
        // slots + lp_fee (the pool-ID hash derivation is a mart concern)
        c.u32() match {
          case 0L => f(3) = 0L
          case 1L => f(3) = 1L; f(4) = c.assetCode(4); f(5) = c.accountId()
          case 2L => f(3) = 2L; f(4) = c.assetCode(12); f(5) = c.accountId()
          case 3L =>
            c.expect(0L) // LIQUIDITY_POOL_CONSTANT_PRODUCT
            f(3) = 3L
            val (aT, aC, aI) = c.asset()
            f(14) = aT; f(15) = aC; f(16) = aI
            val (bT, bC, bI) = c.asset()
            f(17) = bT; f(18) = bC; f(19) = bI
            f(24) = c.u32().toInt.toLong // int32 fee
          case _ => throw XdrCursor.Malformed
        }
        f(23) = c.i64() // limit
      case 22L => // LIQUIDITY_POOL_DEPOSIT: pool id, max amounts, the
        // min/max Price fractions
        f(35) = c.hex32()
        f(36) = c.i64(); f(37) = c.i64()
        f(40) = c.u32().toInt.toLong; f(41) = c.u32().toInt.toLong
        f(42) = c.u32().toInt.toLong; f(43) = c.u32().toInt.toLong
        if (f(41) == 0L || f(43) == 0L) throw XdrCursor.Malformed
      case 23L => // LIQUIDITY_POOL_WITHDRAW: pool id, shares burned
        // (amount), min amounts out
        f(35) = c.hex32()
        f(6) = c.i64()
        f(38) = c.i64(); f(39) = c.i64()
      case 7L => // ALLOW_TRUST: trustor + AssetCode union + authorize
        f(44) = c.accountId()
        c.u32() match {
          case 1L => f(3) = 1L; f(4) = c.assetCode(4)
          case 2L => f(3) = 2L; f(4) = c.assetCode(12)
          case _  => throw XdrCursor.Malformed
        }
        f(45) = c.u32()
      case 8L => // ACCOUNT_MERGE: the body IS the destination account
        f(2) = c.muxedAccount()._1
      case 9L | 17L => () // INFLATION / END_SPONSORING: void bodies
      case 10L => // MANAGE_DATA: string64 name + optional DataValue<64>
        f(46) = UTF8String.fromBytes(c.varBytes(64))
        c.u32() match {
          case 0L => ()
          case 1L => f(47) = c.varBytes(64).length.toLong
          case _  => throw XdrCursor.Malformed
        }
      case 11L => f(48) = c.i64() // BUMP_SEQUENCE
      case 14L => // CREATE_CLAIMABLE_BALANCE: asset, amount, claimants<10>
        val (aT, aC, aI) = c.asset()
        f(3) = aT; f(4) = aC; f(5) = aI
        f(6) = c.i64()
        val nCl = c.u32()
        if (nCl < 1 || nCl > 10) throw XdrCursor.Malformed
        var ci = 0L
        while (ci < nCl) {
          c.expect(0L) // CLAIMANT_TYPE_V0
          c.accountId()
          XdrClaimableBalanceEntry.predicate(c, 1)
          ci += 1
        }
        f(49) = nCl
      case 15L | 20L => // CLAIM / CLAWBACK_CLAIMABLE_BALANCE: balance id v0
        c.expect(0L)
        f(50) = c.hex32()
      case 16L => // BEGIN_SPONSORING_FUTURE_RESERVES
        f(51) = c.accountId()
      case 18L => // REVOKE_SPONSORSHIP: a LedgerKey or an (account, signer)
        c.u32() match {
          case 0L =>
            f(52) = 0L
            f(55) = XdrLedgerKey.parse(c)
          case 1L =>
            f(52) = 1L
            f(53) = c.accountId()
            f(54) = c.signerKey()._1
          case _ => throw XdrCursor.Malformed
        }
      case 19L => // CLAWBACK: asset, from, amount
        val (aT, aC, aI) = c.asset()
        f(3) = aT; f(4) = aC; f(5) = aI
        f(56) = c.muxedAccount()._1
        f(6) = c.i64()
      case 21L => // SET_TRUST_LINE_FLAGS: trustor, asset, clear/set
        f(44) = c.accountId()
        val (aT, aC, aI) = c.asset()
        f(3) = aT; f(4) = aC; f(5) = aI
        f(26) = c.u32(); f(27) = c.u32()
      case 25L => // EXTEND_FOOTPRINT_TTL: ExtensionPoint + extendTo
        c.expect(0L)
        f(57) = c.u32()
      case 26L => // RESTORE_FOOTPRINT: ExtensionPoint only
        c.expect(0L)
      case 24L => // INVOKE_HOST_FUNCTION: the HostFunction union + the
        // SorobanAuthorizationEntry vector (credentials + the recursive
        // authorized-invocation tree, fully parsed; counts surface)
        val ft = c.u32()
        f(58) = ft
        ft match {
          case 0L =>
            val (addr, fn, n) = invokeArgs(c)
            f(59) = addr; f(60) = fn; f(61) = n
          case 1L => createArgs(c, f, v2 = false)
          case 3L => createArgs(c, f, v2 = true)
          case 2L => // UPLOAD_CONTRACT_WASM: size surfaces, bytes do not
            f(63) = c.varBytes(Int.MaxValue).length.toLong
          case _ => throw XdrCursor.Malformed
        }
        val nAuth = c.u32()
        if (nAuth > 16) throw XdrCursor.Malformed
        var ai = 0L
        while (ai < nAuth) {
          c.u32() match { // SorobanCredentials
            case 0L => () // SOURCE_ACCOUNT: void
            case 1L => // ADDRESS: address, nonce, expiration, signature
              scAddress(c); c.i64(); c.u32()
              XdrContractDataEntry.scval(c, 1)
            case _ => throw XdrCursor.Malformed
          }
          authInvocation(c, 1)
          ai += 1
        }
        f(64) = nAuth
      case _ => throw XdrCursor.Malformed // no remaining op types
    }
    new GenericInternalRow(f)
  }

  val schema: StructType = StructType(Seq(
    StructField("source_account", StringType),
    StructField("muxed_id", LongType),
    StructField("fee", LongType),
    StructField("seq_num", LongType),
    StructField("min_time", LongType),
    StructField("max_time", LongType),
    StructField("memo_type", LongType),
    StructField("memo_text", StringType),
    StructField("memo_id", LongType),
    StructField("memo_hash", BinaryType),
    StructField("n_operations", LongType),
    StructField("n_signatures", LongType),
    StructField("operations", ArrayType(operationType)),
    // envelope kind: 0 legacy v0, 2 v1, 5 fee-bump (EnvelopeType values)
    StructField("envelope_kind", LongType),
    // fee-bump outer layer (the reference's history_transactions
    // fee_account / new_max_fee columns); the inner v1 transaction
    // fills every other field
    StructField("fee_account", StringType),
    StructField("new_max_fee", LongType),
    // Preconditions: 0 none, 1 time bounds, 2 PRECOND_V2 (whose
    // time bounds still fill min_time/max_time)
    StructField("cond_type", LongType),
    StructField("min_ledger", LongType),
    StructField("max_ledger", LongType),
    StructField("min_seq_num", LongType),
    StructField("min_seq_age", LongType),
    StructField("min_seq_ledger_gap", LongType),
    StructField("n_extra_signers", LongType),
    // SorobanTransactionData (the v1 tx ext's case-1 arm): declared
    // resources + fee, with the footprint's LedgerKeys counted after a
    // full per-key parse
    StructField("soroban_resource_fee", LongType),
    StructField("soroban_instructions", LongType),
    StructField("soroban_read_bytes", LongType),
    StructField("soroban_write_bytes", LongType),
    StructField("n_footprint_ro", LongType),
    StructField("n_footprint_rw", LongType)))

  /** Parse one transaction body + its DecoratedSignature vector into the
    * envelope row fields (indices per [[schema]]). `v0` selects
    * the legacy layout: a RAW ed25519 source key (no PublicKey
    * discriminant) and a plain optional-TimeBounds cond arm. The v1
    * layout reads the full Preconditions union (NONE / TIME / V2). */
  private def parseTxBody(c: XdrCursor, f: Array[Any], v0: Boolean): Unit = {
    if (v0) {
      f(0) = c.strkey32() // uint256 sourceAccountEd25519, no discriminant
      f(13) = 0L
    } else {
      val (srcAddr, muxId) = c.muxedAccount()
      f(0) = srcAddr; f(1) = muxId
      f(13) = 2L
    }
    f(2) = c.u32() // fee
    f(3) = c.i64() // seqNum
    c.u32() match {
      case 0L => f(16) = 0L
      case 1L => // TimeBounds (and v0's optional-present arm)
        f(16) = 1L; f(4) = c.i64(); f(5) = c.i64()
      case 2L if !v0 => // PreconditionsV2 (Stellar-transaction.x)
        f(16) = 2L
        c.u32() match { // TimeBounds*
          case 0L => ()
          case 1L => f(4) = c.i64(); f(5) = c.i64()
          case _  => throw XdrCursor.Malformed
        }
        c.u32() match { // LedgerBounds*
          case 0L => ()
          case 1L => f(17) = c.u32(); f(18) = c.u32()
          case _  => throw XdrCursor.Malformed
        }
        c.u32() match { // SequenceNumber* minSeqNum
          case 0L => ()
          case 1L => f(19) = c.i64()
          case _  => throw XdrCursor.Malformed
        }
        f(20) = c.i64() // Duration minSeqAge
        f(21) = c.u32() // uint32 minSeqLedgerGap
        val nExtra = c.u32()
        if (nExtra > 2) throw XdrCursor.Malformed // SignerKey extraSigners<2>
        var e = 0L
        while (e < nExtra) { c.signerKey(); e += 1 }
        f(22) = nExtra
      case _ => throw XdrCursor.Malformed
    }
    val memoType = c.u32()
    f(6) = memoType
    memoType match {
      case 0L      => ()
      case 1L      => f(7) = UTF8String.fromBytes(c.varBytes(28))
      case 2L      => f(8) = c.i64()
      case 3L | 4L => f(9) = c.bytes(32)
      case _       => throw XdrCursor.Malformed
    }
    val nOps = c.u32()
    if (nOps < 1 || nOps > 100) throw XdrCursor.Malformed // operations<100>
    val ops = new Array[Any](nOps.toInt)
    var oi = 0
    while (oi < nOps) {
      val opSrc: Any = c.u32() match {
        case 0L => null
        case 1L => c.muxedAccount()._1 // per-op mux ids are not surfaced
        case _  => throw XdrCursor.Malformed
      }
      ops(oi) = decodeOp(c, opSrc)
      oi += 1
    }
    f(10) = nOps
    f(12) = new GenericArrayData(ops)
    c.u32() match { // tx ext
      case 0L => ()
      case 1L if !v0 => // SorobanTransactionData: ext + resources + fee,
        // the footprint's LedgerKeys each fully parsed
        c.expect(0L) // ExtensionPoint
        val nRo = c.u32()
        if (nRo > 128) throw XdrCursor.Malformed
        var ri = 0L
        while (ri < nRo) { XdrLedgerKey.parse(c); ri += 1 }
        val nRw = c.u32()
        if (nRw > 128) throw XdrCursor.Malformed
        var wi = 0L
        while (wi < nRw) { XdrLedgerKey.parse(c); wi += 1 }
        f(24) = c.u32() // instructions
        f(25) = c.u32() // readBytes
        f(26) = c.u32() // writeBytes
        f(23) = c.i64() // resourceFee
        f(27) = nRo; f(28) = nRw
      case _ => throw XdrCursor.Malformed
    }
    val nSigs = c.u32()
    if (nSigs > 20) throw XdrCursor.Malformed // signatures<20>
    var si = 0L
    while (si < nSigs) {
      c.skip(4) // hint opaque[4]
      c.varBytes(64)
      si += 1
    }
    f(11) = nSigs
  }

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val f = new Array[Any](schema.length)
    c.u32() match {
      case 0L => // ENVELOPE_TYPE_TX_V0: the legacy pre-protocol-13 layout
        parseTxBody(c, f, v0 = true)
      case 2L => // ENVELOPE_TYPE_TX
        parseTxBody(c, f, v0 = false)
      case 5L => // ENVELOPE_TYPE_TX_FEE_BUMP: feeSource + int64 fee wrap
        // a FULL inner v1 envelope; the inner tx fills the row, the
        // wrapper surfaces as fee_account / new_max_fee
        val (feeSrc, _) = c.muxedAccount()
        val newMaxFee = c.i64()
        c.expect(2L) // innerTx: ENVELOPE_TYPE_TX only
        parseTxBody(c, f, v0 = false)
        c.expect(0L) // fee-bump ext
        val nOuter = c.u32()
        if (nOuter > 20) throw XdrCursor.Malformed
        var so = 0L
        while (so < nOuter) { c.skip(4); c.varBytes(64); so += 1 }
        f(13) = 5L
        f(14) = feeSrc
        f(15) = newMaxFee
      case _ => throw XdrCursor.Malformed
    }
    new GenericInternalRow(f)
  }
}

/** `LedgerEntryChanges` decode (Stellar-ledger.x) — the exact unit the
  * reference's `export_ledger_entry_changes` task processes: a vector
  * of LedgerEntryChange unions, where created/updated/state/restored
  * carry a whole [[XdrLedgerEntry]] and removed carries a
  * [[XdrLedgerKey]]. The decoded array explodes to one row per change
  * — (change kind, the full entry struct or the key struct) — so an
  * ingest derives every state table from ONE decode of the change
  * stream, the del-ins shape the reference's state DAG applies. */
object XdrLedgerEntryChanges extends XdrRecord("graft_xdr_entry_changes") {

  val changeType: StructType = StructType(Seq(
    StructField("change_kind", LongType), // 0 created, 1 updated,
    // 2 removed, 3 state, 4 restored
    StructField("entry", XdrLedgerEntry.schema),
    StructField("key", XdrLedgerKey.schema)))

  val schema: StructType = StructType(Seq(
    StructField("n_changes", LongType),
    StructField("changes", ArrayType(changeType))))

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val n = c.u32()
    if (n > 1024) throw XdrCursor.Malformed
    val out = new Array[Any](n.toInt)
    var i = 0
    while (i < n) {
      val kind = c.u32()
      out(i) = kind match {
        case 0L | 1L | 3L | 4L => // created/updated/state/restored
          new GenericInternalRow(Array[Any](
            kind, XdrLedgerEntry.parse(c), null))
        case 2L => // removed: the LedgerKey
          new GenericInternalRow(Array[Any](
            kind, null, XdrLedgerKey.parse(c)))
        case _ => throw XdrCursor.Malformed
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n, new GenericArrayData(out)))
  }
}

/** `TransactionResult` decode (Stellar-transaction.x) — the OTHER half
  * of the transaction lifecycle: the reference's history_transactions
  * carries fee_charged and `successful` from this record, and several
  * history_operations detail columns (claimed offers, merge balances,
  * created balance ids, host-fn return hashes) come from the per-op
  * result arms. The decoder covers the whole grammar:
  *
  *  - the top-level code union: txSUCCESS / txFAILED carry the
  *    OperationResult vector; the fee-bump arms carry the
  *    InnerTransactionResultPair (inner hash + a full inner result,
  *    whose op vector fills the row's op_results); every other code is
  *    void. Codes are SIGNED int32s.
  *  - OperationResult: opINNER dispatches on the operation type to the
  *    per-type result union; the negative op-level codes are void.
  *  - per-type payload arms: the path-payment successes (ClaimAtom
  *    vector + the SimplePaymentResult tail), the manage-offer
  *    successes (ClaimAtom vector + a CREATED/UPDATED OfferEntry —
  *    parsed by [[XdrOfferEntry]] — or DELETED), ACCOUNT_MERGE's
  *    source balance, INFLATION's payout vector, the created
  *    ClaimableBalanceID, INVOKE_HOST_FUNCTION's return-value hash,
  *    and the path-payment NO_ISSUER asset. ClaimAtoms (all three
  *    kinds: legacy v0 raw-key, order-book, liquidity-pool) are
  *    counted and their sold/bought amounts summed.
  */
object XdrTxResult extends XdrRecord("graft_xdr_tx_result") {

  val opResultType: StructType = StructType(Seq(
    StructField("op_code", LongType),
    StructField("op_type", LongType),
    StructField("result_code", LongType),
    StructField("n_claims", LongType),
    StructField("claims_sold", LongType),
    StructField("claims_bought", LongType),
    StructField("offer_effect", LongType),
    StructField("offer_id", LongType),
    StructField("merge_balance", LongType),
    StructField("created_balance_id", StringType),
    StructField("invoke_return_hash", StringType),
    StructField("last_dest", StringType),
    StructField("last_amount", LongType),
    StructField("n_payouts", LongType),
    StructField("payout_total", LongType)))

  val schema: StructType = StructType(Seq(
    StructField("fee_charged", LongType),
    StructField("code", LongType),
    StructField("inner_hash", StringType),
    StructField("inner_fee_charged", LongType),
    StructField("inner_code", LongType),
    StructField("n_op_results", LongType),
    StructField("op_results", ArrayType(opResultType))))

  private def i32(c: XdrCursor): Long = c.u32().toInt.toLong

  /** ClaimAtom vector → (count, sum sold, sum bought). */
  private def claims(c: XdrCursor): (Long, Long, Long) = {
    val n = c.u32()
    if (n > 256) throw XdrCursor.Malformed
    var sold = 0L; var bought = 0L
    var i = 0L
    while (i < n) {
      c.u32() match {
        case 0L => c.skip(32) // V0: raw uint256 seller key
          c.i64() // offerID
        case 1L => // ORDER_BOOK: AccountID seller
          c.accountId(); c.i64()
        case 2L => c.skip(32) // LIQUIDITY_POOL: PoolID
        case _  => throw XdrCursor.Malformed
      }
      c.asset(); sold += c.i64()
      c.asset(); bought += c.i64()
      i += 1
    }
    (n, sold, bought)
  }

  /** One OperationResult → the op-result row. */
  private def opResult(c: XdrCursor): GenericInternalRow = {
    val f = new Array[Any](opResultType.length)
    val opCode = i32(c)
    f(0) = opCode
    if (opCode == 0L) { // opINNER: dispatch on the operation type
      val t = c.u32()
      f(1) = t
      val rc = i32(c)
      f(2) = rc
      // Every per-type result-code enum in the protocol has SUCCESS = 0
      // and strictly negative failure arms — a positive rc names a union
      // arm that does not exist, so it quarantines like any other
      // malformed input instead of decoding to a 'valid' void row.
      if (rc > 0L) throw XdrCursor.Malformed
      t match {
        case 2L | 13L => // path payments
          if (rc == 0L) { // success: claims + SimplePaymentResult
            val (n, s, b) = claims(c)
            f(3) = n; f(4) = s; f(5) = b
            f(11) = c.accountId()
            c.asset()
            f(12) = c.i64()
          } else if (rc == -9L) c.asset() // NO_ISSUER carries the asset
        case 3L | 4L | 12L => // manage-offer family
          if (rc == 0L) {
            val (n, s, b) = claims(c)
            f(3) = n; f(4) = s; f(5) = b
            val eff = c.u32()
            f(6) = eff
            eff match {
              case 0L | 1L => // CREATED / UPDATED: the embedded OfferEntry
                val offer = XdrOfferEntry.parse(c)
                f(7) = offer.getLong(
                  XdrOfferEntry.schema.fieldIndex("offer_id"))
              case 2L => () // DELETED
              case _  => throw XdrCursor.Malformed
            }
          }
        case 8L => // ACCOUNT_MERGE: success carries the source balance
          if (rc == 0L) f(8) = c.i64()
        case 9L => // INFLATION: success carries the payout vector
          if (rc == 0L) {
            val n = c.u32()
            if (n > 4096) throw XdrCursor.Malformed
            var total = 0L
            var i = 0L
            while (i < n) { c.accountId(); total += c.i64(); i += 1 }
            f(13) = n; f(14) = total
          }
        case 14L => // CREATE_CLAIMABLE_BALANCE: the created id
          if (rc == 0L) { c.expect(0L); f(9) = c.hex32() }
        case 24L => // INVOKE_HOST_FUNCTION: the return-value hash
          if (rc == 0L) f(10) = c.hex32()
        case other => // every other op type's result arms are void
          if (other > 26L) throw XdrCursor.Malformed
      }
    } else if (opCode < -6L || opCode > 0L) throw XdrCursor.Malformed
    // op-level codes -1..-6 (opBAD_AUTH..opTOO_MANY_SPONSORING): void
    new GenericInternalRow(f)
  }

  /** feeCharged + the code union + op vector; `inner` restricts the
    * code set (an InnerTransactionResult cannot itself be a fee bump). */
  private def body(c: XdrCursor, f: Array[Any], inner: Boolean): Unit = {
    val fee = c.i64()
    val code = i32(c)
    if (inner) { f(3) = fee; f(4) = code } else { f(0) = fee; f(1) = code }
    code match {
      case 1L | -13L if !inner => // txFEE_BUMP_INNER_SUCCESS / _FAILED
        f(2) = c.hex32() // the inner transaction's hash
        body(c, f, inner = true)
      case 0L | -1L => // txSUCCESS / txFAILED: OperationResult results<>
        val n = c.u32()
        if (n > 100) throw XdrCursor.Malformed
        val rs = new Array[Any](n.toInt)
        var i = 0
        while (i < n) { rs(i) = opResult(c); i += 1 }
        f(5) = n; f(6) = new GenericArrayData(rs)
      case v if v >= -17L && v < 0L => () // the void failure codes
      case _ => throw XdrCursor.Malformed
    }
    c.expect(0L) // ext
  }

  private[plans] def parse(c: XdrCursor): GenericInternalRow = {
    val f = new Array[Any](schema.length)
    body(c, f, inner = false)
    new GenericInternalRow(f)
  }
}

/** `graft_xdr_<name>(bin)`: one whole-record decode of a binary column to
  * `record.schema` (NULL on malformed input). Its codegen is one static
  * call to the record object's `decode` per row.
  */
case class XdrDecode(child: Expression, record: XdrRecord) extends UnaryExpression {
  override def dataType: DataType = record.schema
  override def prettyName: String = record.sqlName
  // the plan string names the function and its input, not the record object
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary arg, got ${child.dataType}")
  // malformed input decodes to null even when the input is non-null
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    record.decode(input.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the record object's static forwarder, e.g. graft.plans.XdrTtlEntry.decode
    val decode = record.getClass.getName.stripSuffix("$") + ".decode"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $decode($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): XdrDecode =
    copy(child = newChild)
}
