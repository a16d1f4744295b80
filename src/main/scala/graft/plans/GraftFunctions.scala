package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native SQL functions (`graft_cosine`, `graft_xdr_*`, ...),
  * installed on a session by [[GraftFunctions.register]], which
  * `GraftSession.tune` calls.
  */
object GraftFunctions {

  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private val cosineDescriptor: Descriptor = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_cosine(a, b) takes two array<float> args")
      CosineSimilarity(children.head, children(1))
    })

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private val hplaneSigDescriptor: Descriptor = (
    FunctionIdentifier("graft_hplane_sig"),
    new ExpressionInfo(classOf[HyperplaneSig].getName, "graft_hplane_sig"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "graft_hplane_sig(vec, planes, dims) takes an array<float> and two int literals")
      HyperplaneSig(children.head,
        litInt(children(1), "planes"), litInt(children(2), "dims"))
    })

  private val shinglesDescriptor: Descriptor = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[ShingleArray].getName, "graft_shingles"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_shingles(text, n) takes a string and an int literal")
      ShingleArray(children.head, litInt(children(1), "n"))
    })

  private val kmvDescriptor: Descriptor = (
    FunctionIdentifier("graft_kmv_kth"),
    new ExpressionInfo(classOf[KmvKthMin].getName, "graft_kmv_kth"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_kmv_kth(hash, k) takes a string column and an int literal")
      KmvKthMin(children.head, litInt(children(1), "k"))
    })

  private val kmvMinsDescriptor: Descriptor = (
    FunctionIdentifier("graft_kmv_mins"),
    new ExpressionInfo(classOf[KmvMins].getName, "graft_kmv_mins"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_kmv_mins(hash, k) takes a string column and an int literal")
      KmvMins(children.head, litInt(children(1), "k"))
    })

  private val mgTopKDescriptor: Descriptor = (
    FunctionIdentifier("graft_mg_topk"),
    new ExpressionInfo(classOf[MgTopK].getName, "graft_mg_topk"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_mg_topk(value, k) takes a string column and an int literal")
      MgTopK(children.head, litInt(children(1), "k"))
    })

  private val hilbertDescriptor: Descriptor = (
    FunctionIdentifier("graft_hilbert"),
    new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "graft_hilbert(x, y, bits) takes two bigint columns and an int literal")
      HilbertIndex(children.head, children(1), litInt(children(2), "bits"))
    })

  private val nfcDescriptor: Descriptor = (
    FunctionIdentifier("graft_nfc"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_nfc(text) takes one string arg")
      NfcNormalize(children.head)
    })

  private val strkeyDecodeDescriptor: Descriptor = (
    FunctionIdentifier("graft_strkey_decode"),
    new ExpressionInfo(classOf[StrkeyDecode].getName, "graft_strkey_decode"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_strkey_decode(addr) takes one string arg")
      StrkeyDecode(children.head)
    })

  private val strkeyEncodeDescriptor: Descriptor = (
    FunctionIdentifier("graft_strkey_encode"),
    new ExpressionInfo(classOf[StrkeyEncode].getName, "graft_strkey_encode"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_strkey_encode(payload, version) takes a binary column and an int literal")
      StrkeyEncode(children.head, litInt(children(1), "version"))
    })

  private val xdrU32Descriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_u32"),
    new ExpressionInfo(classOf[XdrU32].getName, "graft_xdr_u32"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_xdr_u32(bin, offset) takes a binary column and an int literal")
      XdrU32(children.head, litInt(children(1), "offset"))
    })

  private val xdrU64Descriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_u64"),
    new ExpressionInfo(classOf[XdrU64].getName, "graft_xdr_u64"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_xdr_u64(bin, offset) takes a binary column and an int literal")
      XdrU64(children.head, litInt(children(1), "offset"))
    })

  private val xdrBytesDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_bytes"),
    new ExpressionInfo(classOf[XdrBytes].getName, "graft_xdr_bytes"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "graft_xdr_bytes(bin, offset, len) takes a binary column and two int literals")
      XdrBytes(children.head, litInt(children(1), "offset"),
        litInt(children(2), "len"))
    })

  private val xdrLedgerHeaderDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_ledger_header"),
    new ExpressionInfo(classOf[XdrLedgerHeader].getName, "graft_xdr_ledger_header"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_ledger_header(bin) takes one binary arg")
      XdrLedgerHeader(children.head)
    })

  private val xdrAccountEntryDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_account_entry"),
    new ExpressionInfo(classOf[XdrAccountEntryDecode].getName, "graft_xdr_account_entry"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_account_entry(bin) takes one binary arg")
      XdrAccountEntryDecode(children.head)
    })

  private val xdrTxEnvelopeDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_tx_envelope"),
    new ExpressionInfo(classOf[XdrTxEnvelopeDecode].getName, "graft_xdr_tx_envelope"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_tx_envelope(bin) takes one binary arg")
      XdrTxEnvelopeDecode(children.head)
    })

  private val xdrTrustLineDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_trust_line"),
    new ExpressionInfo(classOf[XdrTrustLineDecode].getName, "graft_xdr_trust_line"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_trust_line(bin) takes one binary arg")
      XdrTrustLineDecode(children.head)
    })

  private val xdrOfferDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_offer"),
    new ExpressionInfo(classOf[XdrOfferDecode].getName, "graft_xdr_offer"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_offer(bin) takes one binary arg")
      XdrOfferDecode(children.head)
    })

  private val xdrLiquidityPoolDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_liquidity_pool"),
    new ExpressionInfo(classOf[XdrLiquidityPoolDecode].getName, "graft_xdr_liquidity_pool"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_liquidity_pool(bin) takes one binary arg")
      XdrLiquidityPoolDecode(children.head)
    })

  private val xdrClaimableBalanceDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_claimable_balance"),
    new ExpressionInfo(classOf[XdrClaimableBalanceDecode].getName, "graft_xdr_claimable_balance"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_claimable_balance(bin) takes one binary arg")
      XdrClaimableBalanceDecode(children.head)
    })

  private val xdrContractDataDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_contract_data"),
    new ExpressionInfo(classOf[XdrContractDataDecode].getName, "graft_xdr_contract_data"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_contract_data(bin) takes one binary arg")
      XdrContractDataDecode(children.head)
    })

  private val xdrTtlDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_ttl"),
    new ExpressionInfo(classOf[XdrTtlDecode].getName, "graft_xdr_ttl"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_xdr_ttl(bin) takes one binary arg")
      XdrTtlDecode(children.head)
    })

  private val xdrContractCodeDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_contract_code"),
    new ExpressionInfo(classOf[XdrContractCodeDecode].getName, "graft_xdr_contract_code"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_contract_code(bin) takes one binary arg")
      XdrContractCodeDecode(children.head)
    })

  private val xdrConfigSettingDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_config_setting"),
    new ExpressionInfo(classOf[XdrConfigSettingDecode].getName,
      "graft_xdr_config_setting"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_config_setting(bin) takes one binary arg")
      XdrConfigSettingDecode(children.head)
    })

  private val xdrEntryChangesDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_entry_changes"),
    new ExpressionInfo(classOf[XdrLedgerEntryChangesDecode].getName,
      "graft_xdr_entry_changes"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_entry_changes(bin) takes one binary arg")
      XdrLedgerEntryChangesDecode(children.head)
    })

  private val xdrTxResultDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_tx_result"),
    new ExpressionInfo(classOf[XdrTxResultDecode].getName,
      "graft_xdr_tx_result"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_tx_result(bin) takes one binary arg")
      XdrTxResultDecode(children.head)
    })

  private val xdrLedgerEntryDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_ledger_entry"),
    new ExpressionInfo(classOf[XdrLedgerEntryDecode].getName,
      "graft_xdr_ledger_entry"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_ledger_entry(bin) takes one binary arg")
      XdrLedgerEntryDecode(children.head)
    })

  private val xdrLedgerKeyDescriptor: Descriptor = (
    FunctionIdentifier("graft_xdr_ledger_key"),
    new ExpressionInfo(classOf[XdrLedgerKeyDecode].getName,
      "graft_xdr_ledger_key"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "graft_xdr_ledger_key(bin) takes one binary arg")
      XdrLedgerKeyDecode(children.head)
    })

  private val descriptors: Seq[Descriptor] =
    Seq(cosineDescriptor, hplaneSigDescriptor, shinglesDescriptor,
      kmvDescriptor, kmvMinsDescriptor, mgTopKDescriptor, hilbertDescriptor,
      nfcDescriptor, strkeyDecodeDescriptor, strkeyEncodeDescriptor,
      xdrU32Descriptor, xdrU64Descriptor, xdrBytesDescriptor,
      xdrLedgerHeaderDescriptor, xdrAccountEntryDescriptor,
      xdrTxEnvelopeDescriptor, xdrTrustLineDescriptor, xdrOfferDescriptor,
      xdrLiquidityPoolDescriptor, xdrClaimableBalanceDescriptor,
      xdrContractDataDescriptor, xdrTtlDescriptor, xdrContractCodeDescriptor,
      xdrConfigSettingDescriptor, xdrLedgerKeyDescriptor,
      xdrLedgerEntryDescriptor, xdrTxResultDescriptor,
      xdrEntryChangesDescriptor)

  /** Idempotently register the engine's native functions on a session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
