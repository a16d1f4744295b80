package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Whole-record LedgerHeader decode: an independent test-side encoder
  * (straight RFC 4506 writes, no shared code with the parser) builds
  * headers across every interior-shape combination; the native decode
  * must invert each one field-for-field, and EVERY structural
  * corruption — any strict prefix, trailing bytes, over-limit vectors,
  * nonzero padding, unknown discriminants — must quarantine to NULL.
  */
class XdrRecordsSpec extends SparkSpec {

  import spark.implicits._

  private def hash(seed: Int): Array[Byte] =
    Array.tabulate[Byte](32)(i => ((seed * 31 + i * 7 + 3) & 0xff).toByte)

  /** Independent encoder for the exact layout the parser walks. */
  private def encode(ledgerVersion: Long, closeTime: Long,
                     upgrades: Seq[Array[Byte]], signedExt: Boolean,
                     ledgerSeq: Long, totalCoins: Long,
                     flagsExt: Option[Long], sigLen: Int = 40): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    def wVar(bytes: Array[Byte]): Unit = {
      w32(bytes.length.toLong)
      bb.write(bytes, 0, bytes.length)
      var pad = (4 - bytes.length % 4) % 4
      while (pad > 0) { bb.write(0); pad -= 1 }
    }
    w32(ledgerVersion)
    bb.write(hash(1), 0, 32) // previousLedgerHash
    bb.write(hash(2), 0, 32) // scp.txSetHash
    w64(closeTime)
    w32(upgrades.length.toLong)
    upgrades.foreach(wVar)
    if (signedExt) {
      w32(1L); w32(0L); bb.write(hash(3), 0, 32)
      wVar(Array.tabulate[Byte](sigLen)(i => (i + 1).toByte))
    } else w32(0L)
    bb.write(hash(4), 0, 32) // txSetResultHash
    bb.write(hash(5), 0, 32) // bucketListHash
    w32(ledgerSeq); w64(totalCoins); w64(777L); w32(9L); w64(123456L)
    w32(100L); w32(5000000L); w32(1000L)
    (6 to 9).foreach(s => bb.write(hash(s), 0, 32)) // skipList[4]
    flagsExt match {
      case Some(fl) => w32(1L); w32(fl); w32(0L)
      case None     => w32(0L)
    }
    bb.toByteArray
  }

  private val shapes: Seq[Array[Byte]] = for {
    nUp <- 0 to 3
    signedExt <- Seq(false, true)
    flags <- Seq(None, Some(5L))
  } yield encode(23L, 1700000099L,
    (0 until nUp).map(i => Array.tabulate[Byte](i * 3 + 1)(j => (j + i).toByte)),
    signedExt, 424242L, 1000000007L, flags)

  test("decode inverts the independent encoder across every " +
      "upgrades/signed/flags shape combination") {
    for {
      nUp <- 0 to 3
      signedExt <- Seq(false, true)
      flags <- Seq(None, Some(5L))
    } {
      val buf = encode(23L, 1700000099L,
        (0 until nUp).map(i => Array.tabulate[Byte](i * 3 + 1)(j => (j + i).toByte)),
        signedExt, 424242L, 1000000007L, flags)
      val r = XdrLedgerHeader.decode(buf)
      assert(r != null, s"shape nUp=$nUp signed=$signedExt flags=$flags")
      assert(r.getLong(0) == 23L)
      assert(r.getBinary(1).toSeq == hash(1).toSeq)
      assert(r.getBinary(2).toSeq == hash(2).toSeq)
      assert(r.getLong(3) == 1700000099L)
      assert(r.getLong(4) == nUp.toLong)
      assert(r.getBoolean(5) == signedExt)
      assert(r.getBinary(6).toSeq == hash(4).toSeq)
      assert(r.getBinary(7).toSeq == hash(5).toSeq)
      assert(r.getLong(8) == 424242L)
      assert(r.getLong(9) == 1000000007L)
      assert(r.getLong(10) == 777L && r.getLong(11) == 9L)
      assert(r.getLong(12) == 123456L)
      assert(r.getLong(13) == 100L && r.getLong(14) == 5000000L)
      assert(r.getLong(15) == 1000L)
      assert(r.getLong(16) == flags.getOrElse(0L))
    }
  }

  test("quarantine sweep: EVERY strict prefix and every one-byte " +
      "extension of a valid header decodes to null — no partial records") {
    shapes.foreach { buf =>
      (0 until buf.length).foreach { n =>
        assert(XdrLedgerHeader.decode(buf.take(n)) == null,
          s"prefix of $n/${buf.length} bytes must not decode")
      }
      assert(XdrLedgerHeader.decode(buf :+ 0.toByte) == null,
        "trailing garbage must not decode")
      assert(XdrLedgerHeader.decode(buf) != null, "the full record does")
    }
  }

  test("quarantine: over-limit vectors, nonzero padding, unknown " +
      "discriminants all reject") {
    // upgrade count 7 exceeds upgrades<6>
    val sevenUp = encode(1L, 1L, (0 until 7).map(_ => Array[Byte](1)),
      signedExt = false, 1L, 1L, None)
    assert(XdrLedgerHeader.decode(sevenUp) == null)
    // a signature longer than opaque<64>
    val longSig = encode(1L, 1L, Nil, signedExt = true, 1L, 1L, None, sigLen = 65)
    assert(XdrLedgerHeader.decode(longSig) == null)
    // nonzero XDR padding byte inside an upgrade element
    val padded = encode(1L, 1L, Seq(Array[Byte](9)), signedExt = false, 1L, 1L, None)
    val padIdx = 4 + 32 + 32 + 8 + 4 + 4 + 1 // first pad byte of the upgrade
    assert(padded(padIdx) == 0, "layout self-check")
    val corrupt = padded.clone(); corrupt(padIdx) = 1
    assert(XdrLedgerHeader.decode(corrupt) == null)
    // unknown scp ext discriminant (2): flip the BASIC marker
    val basic = encode(1L, 1L, Nil, signedExt = false, 1L, 1L, None)
    val extIdx = 4 + 32 + 32 + 8 + 4 // scp ext u32 starts here (0 upgrades)
    val badExt = basic.clone(); badExt(extIdx + 3) = 2
    assert(XdrLedgerHeader.decode(badExt) == null)
    // unknown node key type (1) under a SIGNED ext
    val signedBuf = encode(1L, 1L, Nil, signedExt = true, 1L, 1L, None)
    val badKey = signedBuf.clone(); badKey(extIdx + 7) = 1
    assert(XdrLedgerHeader.decode(badKey) == null)
  }

  /** Sponsorship ext shape: counters, per-slot descriptor presence, and
    * the optional v3 (seqLedger, seqTime). */
  private case class Sponsorship(numSponsored: Long, numSponsoring: Long,
                                 slots: Seq[Boolean],
                                 v3: Option[(Long, Long)])

  /** Independent AccountEntry encoder (Stellar-ledger-entries.x). */
  private def encodeAccount(balance: Long, seqNum: Long,
                            inflation: Boolean, homeDomain: String,
                            signerTypes: Seq[Int], liabilities: Option[(Long, Long)],
                            sponsorship: Option[Sponsorship] = None)
  : Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    def wVar(bytes: Array[Byte]): Unit = {
      w32(bytes.length.toLong); bb.write(bytes, 0, bytes.length)
      var pad = (4 - bytes.length % 4) % 4
      while (pad > 0) { bb.write(0); pad -= 1 }
    }
    w32(0L); bb.write(hash(10), 0, 32) // accountID: ed25519 PublicKey
    w64(balance); w64(seqNum); w32(7L) // numSubEntries
    if (inflation) { w32(1L); w32(0L); bb.write(hash(11), 0, 32) } else w32(0L)
    w32(5L) // flags
    wVar(homeDomain.getBytes("UTF-8"))
    bb.write(Array[Byte](3, 1, 2, 4), 0, 4) // thresholds
    w32(signerTypes.length.toLong)
    signerTypes.foreach { t =>
      w32(t.toLong); bb.write(hash(12 + t), 0, 32)
      if (t == 3) wVar(Array.tabulate[Byte](19)(_.toByte)) // signed payload
      w32(200L + t)
    }
    liabilities match {
      case Some((buy, sell)) =>
        w32(1L); w64(buy); w64(sell)
        sponsorship match {
          case None => w32(0L)
          case Some(Sponsorship(nd, ng, slots, v3)) =>
            w32(2L); w32(nd); w32(ng) // AccountEntryExtensionV2
            w32(slots.length.toLong)
            slots.zipWithIndex.foreach { case (present, i) =>
              if (present) { w32(1L); w32(0L); bb.write(hash(70 + i), 0, 32) }
              else w32(0L)
            }
            v3 match {
              case None => w32(0L)
              case Some((sl, st)) => // AccountEntryExtensionV3
                w32(3L); w32(0L); w32(sl); w64(st)
            }
        }
      case None => w32(0L)
    }
    bb.toByteArray
  }

  private val sponsorshipShapes: Seq[Option[Sponsorship]] = Seq(
    None,
    Some(Sponsorship(3L, 5L, Nil, None)),
    Some(Sponsorship(1L, 0L, Seq(true, false, true), None)),
    Some(Sponsorship(2L, 4L, Seq(false), Some((123456L, 1650000042L)))))

  private val accountShapes: Seq[Array[Byte]] = (for {
    inflation <- Seq(false, true)
    domain <- Seq("", "a", "stellar.org") // 0, 1 (pad 3), 11 (pad 1) bytes
    signers <- Seq(Seq.empty[Int], Seq(0), Seq(0, 1, 2, 3))
    liab <- Seq(None, Some((42L, 77L)))
  } yield encodeAccount(999L, 1L << 40, inflation, domain, signers, liab)) ++
    sponsorshipShapes.flatten.map(sp =>
      encodeAccount(999L, 1L << 40, inflation = true, "s.org", Seq(0),
        Some((42L, 77L)), Some(sp)))

  test("AccountEntry decode inverts the independent encoder across " +
      "inflation/domain/signers(incl. type-3)/liabilities shapes, and " +
      "the account id surfaces as the checksum-valid strkey G-address " +
      "of the raw key") {
    for {
      inflation <- Seq(false, true)
      domain <- Seq("", "a", "stellar.org")
      signers <- Seq(Seq.empty[Int], Seq(0), Seq(0, 1, 2, 3))
      liab <- Seq(None, Some((42L, 77L)))
      sp <- sponsorshipShapes
    } {
      val buf = encodeAccount(999L, 1L << 40, inflation, domain, signers,
        liab, if (liab.isDefined) sp else None)
      val r = XdrAccountEntry.decode(buf)
      assert(r != null, s"shape $inflation/$domain/$signers/$liab/$sp")
      val addr = r.getUTF8String(0).toString
      assert(addr.length == 56 && addr.startsWith("G"))
      // strkey composition: the independent codec must round-trip the
      // address back to the raw key bytes the encoder wrote
      assert(StrkeyCodec.decodePayload(
        org.apache.spark.unsafe.types.UTF8String.fromString(addr))
        .toSeq == hash(10).toSeq)
      assert(r.getLong(1) == 999L && r.getLong(2) == (1L << 40))
      assert(r.getLong(3) == 7L)
      if (inflation)
        assert(StrkeyCodec.decodePayload(r.getUTF8String(4)).toSeq == hash(11).toSeq)
      else assert(r.isNullAt(4))
      assert(r.getLong(5) == 5L)
      assert(r.getUTF8String(6).toString == domain)
      assert((r.getLong(7), r.getLong(8), r.getLong(9), r.getLong(10)) ==
        ((3L, 1L, 2L, 4L)))
      assert(r.getLong(11) == signers.length.toLong)
      assert(r.getLong(12) == liab.map(_._1).getOrElse(0L))
      assert(r.getLong(13) == liab.map(_._2).getOrElse(0L))
      // the v2 sponsorship counters and v3 seq ledger/time (0 when the
      // chain stops at v0/v1)
      val spEff = if (liab.isDefined) sp else None
      assert(r.getLong(14) == spEff.map(_.numSponsored).getOrElse(0L))
      assert(r.getLong(15) == spEff.map(_.numSponsoring).getOrElse(0L))
      assert(r.getLong(16) == spEff.flatMap(_.v3).map(_._1).getOrElse(0L))
      assert(r.getLong(17) == spEff.flatMap(_.v3).map(_._2).getOrElse(0L))
      // the signers array: one row per signer, key as the TYPE-CORRECT
      // SEP-23 strkey (G/T/X/P per arm), weight carried through
      val arr = r.getArray(18)
      assert(arr.numElements() == signers.length)
      signers.zipWithIndex.foreach { case (t, i) =>
        val sg = arr.getStruct(i, 3)
        val addr = sg.getUTF8String(0).toString
        assert(addr.head == "GTXP".charAt(t), s"type $t prefix: $addr")
        val payload = StrkeyCodec.decodePayload(sg.getUTF8String(0))
        if (t == 3) {
          // 'P' payload = key || 4-byte BE len || payload padded to 4
          assert(payload.take(32).toSeq == hash(12 + t).toSeq)
          val len = ((payload(32) & 0xff) << 24) | ((payload(33) & 0xff) << 16) |
            ((payload(34) & 0xff) << 8) | (payload(35) & 0xff)
          assert(len == 19)
          assert(payload.slice(36, 36 + 19).toSeq ==
            Array.tabulate[Byte](19)(_.toByte).toSeq)
          assert(payload.length == 32 + 4 + 19 + 1, "zero-padded to 4")
        } else assert(payload.toSeq == hash(12 + t).toSeq)
        assert(sg.getLong(1) == t.toLong)
        assert(sg.getLong(2) == 200L + t)
      }
    }
  }

  test("AccountEntry quarantine: every strict prefix and one-byte " +
      "extension rejects; so do over-limit domains/signer vectors and " +
      "unknown discriminants") {
    accountShapes.foreach { buf =>
      (0 until buf.length).foreach { n =>
        assert(XdrAccountEntry.decode(buf.take(n)) == null,
          s"prefix $n/${buf.length}")
      }
      assert(XdrAccountEntry.decode(buf :+ 0.toByte) == null)
      assert(XdrAccountEntry.decode(buf) != null)
    }
    // home domain longer than string32
    assert(XdrAccountEntry.decode(
      encodeAccount(1L, 1L, inflation = false, "x" * 33, Nil, None)) == null)
    // 21 signers exceeds signers<20>
    assert(XdrAccountEntry.decode(
      encodeAccount(1L, 1L, inflation = false, "", Seq.fill(21)(0), None)) == null)
    // unknown signer key type (4)
    assert(XdrAccountEntry.decode(
      encodeAccount(1L, 1L, inflation = false, "", Seq(4), None)) == null)
    // non-ed25519 account key type: flip the leading discriminant
    val bad = accountShapes.head.clone(); bad(3) = 1
    assert(XdrAccountEntry.decode(bad) == null)
  }

  /** Independent TransactionV1Envelope encoder (Stellar-transaction.x). */
  private def encodeTx(muxedSrc: Option[Long], timeBounds: Boolean,
                       memo: Int, ops: Seq[Int], nSigs: Int,
                       envType: Long = 2L, opSrcOnFirst: Boolean = false,
                       muxedDest: Boolean = false): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    def wVar(bytes: Array[Byte]): Unit = {
      w32(bytes.length.toLong); bb.write(bytes, 0, bytes.length)
      var pad = (4 - bytes.length % 4) % 4
      while (pad > 0) { bb.write(0); pad -= 1 }
    }
    w32(envType)
    muxedSrc match {
      case Some(id) => w32(0x100L); w64(id); bb.write(hash(20), 0, 32)
      case None     => w32(0L); bb.write(hash(20), 0, 32)
    }
    w32(500L) // fee
    w64(9000000L) // seqNum
    if (timeBounds) { w32(1L); w64(111L); w64(222L) } else w32(0L)
    memo match {
      case 0 => w32(0L)
      case 1 => w32(1L); wVar("hello memo".getBytes("UTF-8"))
      case 2 => w32(2L); w64(31337L)
      case 3 => w32(3L); bb.write(hash(21), 0, 32)
    }
    w32(ops.length.toLong)
    ops.zipWithIndex.foreach { case (t, i) =>
      if (i == 0 && opSrcOnFirst) { w32(1L); w32(0L); bb.write(hash(22), 0, 32) }
      else w32(0L)
      w32(t.toLong)
      t match {
        case 0 => // CREATE_ACCOUNT
          w32(0L); bb.write(hash(23 + i), 0, 32); w64(1000L + i)
        case 1 => // PAYMENT, alphanum4 asset
          if (muxedDest) { w32(0x100L); w64(55L) } else w32(0L)
          bb.write(hash(23 + i), 0, 32)
          w32(1L); bb.write("USD\u0000".getBytes("UTF-8"), 0, 4)
          w32(0L); bb.write(hash(29), 0, 32)
          w64(2000L + i)
        case other => w32(9L) // unsupported body: junk the parser must reject
      }
    }
    w32(0L) // tx ext
    w32(nSigs.toLong)
    (0 until nSigs).foreach { j =>
      bb.write(Array[Byte](1, 2, 3, (4 + j).toByte), 0, 4)
      wVar(Array.tabulate[Byte](37 + j)(x => (x + j).toByte))
    }
    bb.toByteArray
  }

  private val txShapes: Seq[Array[Byte]] = for {
    muxedSrc <- Seq(None, Some(42L))
    timeBounds <- Seq(false, true)
    memo <- 0 to 3
    ops <- Seq(Seq(0), Seq(1), Seq(0, 1, 0))
    nSigs <- Seq(0, 2)
  } yield encodeTx(muxedSrc, timeBounds, memo, ops, nSigs)

  test("TxEnvelope decode inverts the independent encoder across " +
      "muxed/timebounds/memo/ops/signature shapes; the operations array " +
      "fans out with per-op fields intact") {
    for {
      muxedSrc <- Seq(None, Some(42L))
      timeBounds <- Seq(false, true)
      memo <- 0 to 3
      ops <- Seq(Seq(0), Seq(1), Seq(0, 1, 0))
      nSigs <- Seq(0, 2)
    } {
      val buf = encodeTx(muxedSrc, timeBounds, memo, ops, nSigs)
      val r = XdrTxEnvelope.decode(buf)
      assert(r != null, s"shape $muxedSrc/$timeBounds/$memo/$ops/$nSigs")
      assert(StrkeyCodec.decodePayload(r.getUTF8String(0)).toSeq == hash(20).toSeq)
      if (muxedSrc.isDefined) assert(r.getLong(1) == 42L) else assert(r.isNullAt(1))
      assert(r.getLong(2) == 500L && r.getLong(3) == 9000000L)
      if (timeBounds) assert(r.getLong(4) == 111L && r.getLong(5) == 222L)
      else assert(r.isNullAt(4) && r.isNullAt(5))
      assert(r.getLong(6) == memo.toLong)
      if (memo == 1) assert(r.getUTF8String(7).toString == "hello memo")
      if (memo == 2) assert(r.getLong(8) == 31337L)
      if (memo == 3) assert(r.getBinary(9).toSeq == hash(21).toSeq)
      assert(r.getLong(10) == ops.length.toLong)
      assert(r.getLong(11) == nSigs.toLong)
      val arr = r.getArray(12)
      assert(arr.numElements() == ops.length)
      ops.zipWithIndex.foreach { case (t, i) =>
        val op = arr.getStruct(i, XdrTxEnvelope.opFieldCount)
        assert(op.getLong(0) == t.toLong)
        assert(StrkeyCodec.decodePayload(op.getUTF8String(2)).toSeq ==
          hash(23 + i).toSeq)
        if (t == 0) {
          assert(op.isNullAt(3) && op.isNullAt(4) && op.isNullAt(5))
          assert(op.getLong(6) == 1000L + i)
        } else {
          assert(op.getLong(3) == 1L)
          assert(op.getUTF8String(4).toString == "USD")
          assert(StrkeyCodec.decodePayload(op.getUTF8String(5)).toSeq ==
            hash(29).toSeq)
          assert(op.getLong(6) == 2000L + i)
        }
      }
    }
    // optional per-op source and muxed payment destination both decode
    val withOpSrc = XdrTxEnvelope.decode(
      encodeTx(None, false, 0, Seq(0), 0, opSrcOnFirst = true))
    assert(StrkeyCodec.decodePayload(
      withOpSrc.getArray(12).getStruct(0, XdrTxEnvelope.opFieldCount).getUTF8String(1)).toSeq ==
      hash(22).toSeq)
    val withMuxedDest = XdrTxEnvelope.decode(
      encodeTx(None, false, 0, Seq(1), 0, muxedDest = true))
    assert(StrkeyCodec.decodePayload(
      withMuxedDest.getArray(12).getStruct(0, XdrTxEnvelope.opFieldCount).getUTF8String(2)).toSeq ==
      hash(23).toSeq)
  }

  test("TxEnvelope quarantine: strict prefixes, trailing bytes, and the " +
      "documented decode boundary (unknown envelope types, unsupported " +
      "op types, zero ops) all reject") {
    txShapes.take(12).foreach { buf =>
      (0 until buf.length).foreach { n =>
        assert(XdrTxEnvelope.decode(buf.take(n)) == null, s"prefix $n")
      }
      assert(XdrTxEnvelope.decode(buf :+ 0.toByte) == null)
      assert(XdrTxEnvelope.decode(buf) != null)
    }
    assert(XdrTxEnvelope.decode(
      encodeTx(None, false, 0, Seq(0), 0, envType = 7L)) == null,
      "unknown envelope type")
    assert(XdrTxEnvelope.decode(
      encodeTx(None, false, 0, Seq(27), 0)) == null, "unsupported op type")
    assert(XdrTxEnvelope.decode(
      encodeTx(None, false, 0, Nil, 0)) == null, "a tx needs >= 1 op")
  }

  test("envelope kinds: legacy v0 (raw source key), the fee-bump wrap " +
      "(fee_account/new_max_fee around a full inner v1), and PRECOND_V2 " +
      "(ledger bounds, min seq num/age/gap, extra signers) invert " +
      "independent encoders; over-limit extra signers and unknown inner " +
      "kinds reject") {
    val ET = XdrTxEnvelope.schema
    def ix(n: String) = ET.fieldIndex(n)
    def encodeV0(timeBounds: Boolean): Array[Byte] = {
      val w = new OpW()
      w.w32(0L).h(20) // envelope type + RAW uint256 source key
      w.w32(700L).w64(8000000L)
      if (timeBounds) w.w32(1L).w64(11L).w64(22L) else w.w32(0L)
      w.w32(0L)                                // memo none
      w.w32(1L).w32(0L)                        // one op, no per-op source
      w.w32(0L).acct(23).w64(1000L)            // CREATE_ACCOUNT
      w.w32(0L).w32(0L)                        // ext, no signatures
      w.bytes
    }
    for (tb <- Seq(false, true)) {
      val r = XdrTxEnvelope.decode(encodeV0(tb))
      assert(r != null, s"v0 tb=$tb")
      assert(r.getLong(ix("envelope_kind")) == 0L)
      assert(StrkeyCodec.decodePayload(r.getUTF8String(0)).toSeq == hash(20).toSeq)
      assert(r.isNullAt(ix("muxed_id")))
      assert(r.getLong(ix("cond_type")) == (if (tb) 1L else 0L))
      assert(r.getLong(ix("fee")) == 700L)
      assert(r.isNullAt(ix("fee_account")) && r.isNullAt(ix("new_max_fee")))
    }
    def encodeV2(withTb: Boolean, withLb: Boolean, withSeq: Boolean,
                 nExtra: Int): Array[Byte] = {
      val w = new OpW()
      w.w32(2L).w32(0L).h(20).w32(500L).w64(9000000L)
      w.w32(2L) // PRECOND_V2
      if (withTb) w.w32(1L).w64(11L).w64(22L) else w.w32(0L)
      if (withLb) w.w32(1L).w32(100L).w32(200L) else w.w32(0L)
      if (withSeq) w.w32(1L).w64(31337L) else w.w32(0L)
      w.w64(3600L).w32(5L) // minSeqAge, minSeqLedgerGap
      w.w32(nExtra.toLong)
      (0 until nExtra).foreach(i => w.w32(0L).h(40 + i)) // ed25519 keys
      w.w32(0L)                                // memo none
      w.w32(1L).w32(0L).w32(0L).acct(23).w64(1000L)
      w.w32(0L).w32(0L)
      w.bytes
    }
    for (tb <- Seq(false, true); lb <- Seq(false, true);
         sq <- Seq(false, true); ne <- 0 to 2) {
      val r = XdrTxEnvelope.decode(encodeV2(tb, lb, sq, ne))
      assert(r != null, s"v2 $tb/$lb/$sq/$ne")
      assert(r.getLong(ix("envelope_kind")) == 2L)
      assert(r.getLong(ix("cond_type")) == 2L)
      if (tb) assert(r.getLong(ix("min_time")) == 11L &&
        r.getLong(ix("max_time")) == 22L)
      else assert(r.isNullAt(ix("min_time")) && r.isNullAt(ix("max_time")))
      if (lb) assert(r.getLong(ix("min_ledger")) == 100L &&
        r.getLong(ix("max_ledger")) == 200L)
      else assert(r.isNullAt(ix("min_ledger")))
      if (sq) assert(r.getLong(ix("min_seq_num")) == 31337L)
      else assert(r.isNullAt(ix("min_seq_num")))
      assert(r.getLong(ix("min_seq_age")) == 3600L)
      assert(r.getLong(ix("min_seq_ledger_gap")) == 5L)
      assert(r.getLong(ix("n_extra_signers")) == ne.toLong)
    }
    assert(XdrTxEnvelope.decode(encodeV2(false, false, false, 3)) == null,
      "extraSigners<2> over-limit")
    def encodeFeeBump(muxedFeeSrc: Boolean): Array[Byte] = {
      val w = new OpW()
      w.w32(5L)
      if (muxedFeeSrc) w.w32(0x100L).w64(77L).h(28) else w.w32(0L).h(28)
      w.w64(123456789L) // int64 fee (the new max fee)
      val inner = encodeTx(Some(42L), true, 1, Seq(0, 1), 2)
      w.bb.write(inner, 0, inner.length) // innerTx: type disc + v1 body
      w.w32(0L)                          // fee-bump ext
      w.w32(1L)                          // one outer signature
      w.bb.write(Array[Byte](9, 9, 9, 9), 0, 4)
      w.w32(4L); w.bb.write(Array[Byte](1, 2, 3, 4), 0, 4)
      w.bytes
    }
    for (mx <- Seq(false, true)) {
      val r = XdrTxEnvelope.decode(encodeFeeBump(mx))
      assert(r != null, s"fee bump muxed=$mx")
      assert(r.getLong(ix("envelope_kind")) == 5L)
      assert(StrkeyCodec.decodePayload(
        r.getUTF8String(ix("fee_account"))).toSeq == hash(28).toSeq)
      assert(r.getLong(ix("new_max_fee")) == 123456789L)
      // the inner v1 transaction fills the row
      assert(StrkeyCodec.decodePayload(r.getUTF8String(0)).toSeq == hash(20).toSeq)
      assert(r.getLong(ix("muxed_id")) == 42L)
      assert(r.getLong(ix("fee")) == 500L)
      assert(r.getLong(ix("n_operations")) == 2L)
      assert(r.getLong(ix("n_signatures")) == 2L)
      assert(r.getUTF8String(ix("memo_text")).toString == "hello memo")
    }
    // a fee bump wrapping a non-v1 inner kind rejects
    val w = new OpW()
    w.w32(5L).w32(0L).h(28).w64(1L).w32(0L)
    assert(XdrTxEnvelope.decode(w.bytes) == null)
    val fb = encodeFeeBump(muxedFeeSrc = false)
    (0 until fb.length).foreach { n =>
      assert(XdrTxEnvelope.decode(fb.take(n)) == null, s"prefix $n")
    }
    assert(XdrTxEnvelope.decode(fb :+ 0.toByte) == null)
  }

  /** Envelope scaffold around raw op-BODY bytes (type included, no
    * per-op source) — the independent encoder for the extended op arms. */
  private def envWithOps(bodies: Seq[Array[Byte]]): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    w32(2L); w32(0L); bb.write(hash(20), 0, 32) // v1, plain source
    w32(500L); w64(9000000L); w32(0L); w32(0L)  // fee, seq, no cond, no memo
    w32(bodies.length.toLong)
    bodies.foreach { b => w32(0L); bb.write(b, 0, b.length) }
    w32(0L); w32(0L) // ext, no signatures
    bb.toByteArray
  }

  /** Raw op-body builder: a tiny writer DSL over one ByteArrayOutputStream. */
  private class OpW {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): this.type = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt); this
    }
    def w64(v: Long): this.type = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    def h(seed: Int): this.type = { bb.write(hash(seed), 0, 32); this }
    def acct(seed: Int): this.type = { w32(0L); h(seed) }
    def asset(arm: Int, code: String = "EUR", issuerSeed: Int = 30): this.type =
      arm match {
        case 0 => w32(0L)
        case 1 =>
          w32(1L)
          bb.write(java.util.Arrays.copyOf(code.getBytes("UTF-8"), 4), 0, 4)
          acct(issuerSeed)
        case 2 =>
          w32(2L)
          bb.write(java.util.Arrays.copyOf(code.getBytes("UTF-8"), 12), 0, 12)
          acct(issuerSeed)
      }
    def bytes: Array[Byte] = bb.toByteArray
  }

  test("extended op arms invert the independent encoder: path payments " +
      "(with the repeated path record), all three offer variants, " +
      "SET_OPTIONS optionals, CHANGE_TRUST incl. pool share, and both " +
      "liquidity-pool ops; malformed arm interiors reject") {
    val OT = XdrTxEnvelope.operationType
    def ix(n: String) = OT.fieldIndex(n)
    def decode1(body: Array[Byte]) = {
      val r = XdrTxEnvelope.decode(envWithOps(Seq(body)))
      assert(r != null, "envelope must decode")
      r.getArray(12).getStruct(0, XdrTxEnvelope.opFieldCount)
    }

    // PATH_PAYMENT_STRICT_RECEIVE: alphanum4 send, native dest, 2-hop path
    val ppr = decode1(new OpW().w32(2L)
      .asset(1, "EUR", 30).w64(777L).acct(25).asset(0).w64(888L)
      .w32(2L).asset(0).asset(2, "LONGCODE", 31).bytes)
    assert(ppr.getLong(ix("op_type")) == 2L)
    assert(ppr.getLong(ix("source_asset_type")) == 1L)
    assert(ppr.getUTF8String(ix("source_asset_code")).toString == "EUR")
    assert(StrkeyCodec.decodePayload(
      ppr.getUTF8String(ix("source_asset_issuer"))).toSeq == hash(30).toSeq)
    assert(ppr.getLong(ix("source_max")) == 777L)
    assert(ppr.isNullAt(ix("source_amount")) && ppr.isNullAt(ix("dest_min")))
    assert(StrkeyCodec.decodePayload(
      ppr.getUTF8String(ix("destination"))).toSeq == hash(25).toSeq)
    assert(ppr.getLong(ix("asset_type")) == 0L)
    assert(ppr.getLong(ix("amount")) == 888L)
    val path = ppr.getArray(ix("path"))
    assert(path.numElements() == 2)
    assert(path.getStruct(0, 3).getLong(0) == 0L)
    val hop1 = path.getStruct(1, 3)
    assert(hop1.getLong(0) == 2L &&
      hop1.getUTF8String(1).toString == "LONGCODE")
    assert(StrkeyCodec.decodePayload(hop1.getUTF8String(2)).toSeq == hash(31).toSeq)

    // PATH_PAYMENT_STRICT_SEND: fixed send amount, floor-bounded dest
    val pps = decode1(new OpW().w32(13L)
      .asset(0).w64(779L).acct(25).asset(1, "USD", 32).w64(889L)
      .w32(0L).bytes)
    assert(pps.getLong(ix("op_type")) == 13L)
    assert(pps.getLong(ix("source_amount")) == 779L)
    assert(pps.getLong(ix("dest_min")) == 889L)
    assert(pps.isNullAt(ix("amount")) && pps.isNullAt(ix("source_max")))
    assert(pps.getArray(ix("path")).numElements() == 0)

    // the three offer variants share a body; passive carries no offer id
    def offerBody(t: Long, withId: Boolean) = {
      val w = new OpW().w32(t).asset(0).asset(2, "LONGCODE", 33)
        .w64(600L).w32(3L).w32(7L)
      if (withId) w.w64(42L)
      w.bytes
    }
    val sell = decode1(offerBody(3L, withId = true))
    assert(sell.getLong(ix("op_type")) == 3L &&
      sell.getLong(ix("offer_id")) == 42L &&
      sell.getLong(ix("amount")) == 600L &&
      sell.getLong(ix("price_n")) == 3L && sell.getLong(ix("price_d")) == 7L &&
      sell.getLong(ix("selling_asset_type")) == 0L &&
      sell.getUTF8String(ix("buying_asset_code")).toString == "LONGCODE")
    val passive = decode1(offerBody(4L, withId = false))
    assert(passive.getLong(ix("op_type")) == 4L &&
      passive.isNullAt(ix("offer_id")))
    val buy = decode1(offerBody(12L, withId = true))
    assert(buy.getLong(ix("op_type")) == 12L &&
      buy.getLong(ix("amount")) == 600L)

    // SET_OPTIONS: all nine absent → all null; all present → values
    val soNone = decode1(new OpW().w32(5L)
      .w32(0L).w32(0L).w32(0L).w32(0L).w32(0L).w32(0L).w32(0L).w32(0L)
      .w32(0L).bytes)
    Seq("inflation_dest", "clear_flags", "set_flags", "master_weight",
      "low_threshold", "med_threshold", "high_threshold", "home_domain",
      "signer_key", "signer_weight").foreach(n =>
      assert(soNone.isNullAt(ix(n)), s"absent optional $n must be null"))
    val soAllW = new OpW().w32(5L)
    soAllW.w32(1L).acct(34)                    // inflationDest
    soAllW.w32(1L).w32(6L); soAllW.w32(1L).w32(9L)   // clear/set flags
    soAllW.w32(1L).w32(255L)                   // masterWeight
    soAllW.w32(1L).w32(1L); soAllW.w32(1L).w32(2L); soAllW.w32(1L).w32(3L)
    soAllW.w32(1L).w32(5L)                     // homeDomain "hello" len 5
    soAllW.bb.write("hello\u0000\u0000\u0000".getBytes("UTF-8"), 0, 8)
    soAllW.w32(1L).w32(2L).h(35).w32(11L)      // signer: hashX key, weight
    val soAll = decode1(soAllW.bytes)
    assert(StrkeyCodec.decodePayload(
      soAll.getUTF8String(ix("inflation_dest"))).toSeq == hash(34).toSeq)
    assert(soAll.getLong(ix("clear_flags")) == 6L &&
      soAll.getLong(ix("set_flags")) == 9L &&
      soAll.getLong(ix("master_weight")) == 255L &&
      soAll.getLong(ix("low_threshold")) == 1L &&
      soAll.getLong(ix("med_threshold")) == 2L &&
      soAll.getLong(ix("high_threshold")) == 3L)
    assert(soAll.getUTF8String(ix("home_domain")).toString == "hello")
    val sk = soAll.getUTF8String(ix("signer_key"))
    assert(sk.toString.head == 'X') // hashX arm strkey
    assert(StrkeyCodec.decodePayload(sk).toSeq == hash(35).toSeq)
    assert(soAll.getLong(ix("signer_weight")) == 11L)

    // CHANGE_TRUST: alphanum4 line, then the pool-share arm
    val ct = decode1(new OpW().w32(6L).asset(1, "USD", 36).w64(4444L).bytes)
    assert(ct.getLong(ix("op_type")) == 6L &&
      ct.getLong(ix("asset_type")) == 1L &&
      ct.getUTF8String(ix("asset_code")).toString == "USD" &&
      ct.getLong(ix("trust_limit")) == 4444L)
    val ctPoolW = new OpW().w32(6L).w32(3L).w32(0L) // pool share, const prod
      .asset(0).asset(1, "EUR", 37)
    ctPoolW.w32(30L).w64(5555L) // int32 fee, limit
    val ctPool = decode1(ctPoolW.bytes)
    assert(ctPool.getLong(ix("asset_type")) == 3L &&
      ctPool.isNullAt(ix("asset_code")) &&
      ctPool.getLong(ix("selling_asset_type")) == 0L &&
      ctPool.getUTF8String(ix("buying_asset_code")).toString == "EUR" &&
      ctPool.getLong(ix("lp_fee")) == 30L &&
      ctPool.getLong(ix("trust_limit")) == 5555L)

    // LIQUIDITY_POOL_DEPOSIT / WITHDRAW
    val dep = decode1(new OpW().w32(22L).h(26)
      .w64(100L).w64(200L).w32(1L).w32(2L).w32(3L).w32(4L).bytes)
    assert(dep.getUTF8String(ix("liquidity_pool_id")).toString ==
      hash(26).map("%02x".format(_)).mkString)
    assert(dep.getLong(ix("max_amount_a")) == 100L &&
      dep.getLong(ix("max_amount_b")) == 200L &&
      dep.getLong(ix("min_price_n")) == 1L &&
      dep.getLong(ix("min_price_d")) == 2L &&
      dep.getLong(ix("max_price_n")) == 3L &&
      dep.getLong(ix("max_price_d")) == 4L)
    val wd = decode1(new OpW().w32(23L).h(26)
      .w64(500L).w64(50L).w64(60L).bytes)
    assert(wd.getLong(ix("amount")) == 500L &&
      wd.getLong(ix("min_amount_a")) == 50L &&
      wd.getLong(ix("min_amount_b")) == 60L)

    // malformed arm interiors quarantine the whole envelope
    def rejects(body: Array[Byte], why: String): Unit =
      assert(XdrTxEnvelope.decode(envWithOps(Seq(body))) == null, why)
    rejects(new OpW().w32(3L).asset(0).asset(0).w64(1L).w32(3L).w32(0L)
      .w64(42L).bytes, "zero price denominator")
    rejects(new OpW().w32(2L).asset(0).w64(1L).acct(25).asset(0).w64(1L)
      .w32(6L).asset(0).asset(0).asset(0).asset(0).asset(0).asset(0).bytes,
      "path of 6 exceeds path<5>")
    rejects(new OpW().w32(6L).w32(4L).w64(1L).bytes, "ChangeTrustAsset arm 4")
    rejects(new OpW().w32(5L).w32(2L).bytes, "optional discriminant 2")
    rejects(new OpW().w32(22L).h(26).w64(1L).w64(1L)
      .w32(1L).w32(0L).w32(1L).w32(1L).bytes, "zero min price denominator")
    // prefix sweep over one envelope composing four extended arms
    val composite = envWithOps(Seq(
      new OpW().w32(2L).asset(1, "EUR", 30).w64(7L).acct(25).asset(0)
        .w64(8L).w32(1L).asset(0).bytes,
      offerBody(12L, withId = true),
      new OpW().w32(6L).w32(3L).w32(0L).asset(0).asset(1, "EUR", 37)
        .w32(30L).w64(5L).bytes,
      new OpW().w32(22L).h(26).w64(1L).w64(2L).w32(1L).w32(2L).w32(3L)
        .w32(4L).bytes))
    assert(XdrTxEnvelope.decode(composite) != null)
    (0 until composite.length).foreach { n =>
      assert(XdrTxEnvelope.decode(composite.take(n)) == null, s"prefix $n")
    }
    assert(XdrTxEnvelope.decode(composite :+ 0.toByte) == null)
  }

  test("wave-2 op arms invert independent encoders: allow trust, account " +
      "merge, inflation, manage data, bump sequence, the claimable-" +
      "balance trio, sponsorship begin/end/revoke (incl. the embedded " +
      "LedgerKey), clawback, set-trust-line-flags, footprint ops") {
    val OT = XdrTxEnvelope.operationType
    def ix(n: String) = OT.fieldIndex(n)
    def decode1(body: Array[Byte]) = {
      val r = XdrTxEnvelope.decode(envWithOps(Seq(body)))
      assert(r != null, "envelope must decode")
      r.getArray(12).getStruct(0, XdrTxEnvelope.opFieldCount)
    }
    def payload(op: org.apache.spark.sql.catalyst.InternalRow, col: String) =
      StrkeyCodec.decodePayload(op.getUTF8String(ix(col))).toSeq

    // ALLOW_TRUST: trustor + bare AssetCode union + authorize flag
    val at = {
      val w = new OpW().w32(7L).acct(50).w32(1L)
      w.bb.write("EUR".getBytes("UTF-8"), 0, 3); w.bb.write(0)
      w.w32(2L).bytes
    }
    val rAt = decode1(at)
    assert(payload(rAt, "trustor") == hash(50).toSeq)
    assert(rAt.getLong(ix("asset_type")) == 1L &&
      rAt.getUTF8String(ix("asset_code")).toString == "EUR" &&
      rAt.getLong(ix("authorize")) == 2L)

    // ACCOUNT_MERGE: the body IS the destination
    val rAm = decode1(new OpW().w32(8L).w32(0L).h(25).bytes)
    assert(payload(rAm, "destination") == hash(25).toSeq)

    // INFLATION / END_SPONSORING / RESTORE_FOOTPRINT: void bodies
    assert(decode1(new OpW().w32(9L).bytes).getLong(0) == 9L)
    assert(decode1(new OpW().w32(17L).bytes).getLong(0) == 17L)
    assert(decode1(new OpW().w32(26L).w32(0L).bytes).getLong(0) == 26L)

    // MANAGE_DATA: name + optional value (size surfaces, bytes do not)
    val md = {
      val w = new OpW().w32(10L).w32(3L)
      w.bb.write("cfg".getBytes("UTF-8"), 0, 3); w.bb.write(0)
      w.w32(1L).w32(5L)
      w.bb.write(Array[Byte](1, 2, 3, 4, 5, 0, 0, 0), 0, 8)
      w.bytes
    }
    val rMd = decode1(md)
    assert(rMd.getUTF8String(ix("data_name")).toString == "cfg" &&
      rMd.getLong(ix("data_value_size")) == 5L)
    val rMdNone = decode1 {
      val w = new OpW().w32(10L).w32(3L)
      w.bb.write("cfg".getBytes("UTF-8"), 0, 3); w.bb.write(0)
      w.w32(0L).bytes
    }
    assert(rMdNone.isNullAt(ix("data_value_size")))

    // BUMP_SEQUENCE
    assert(decode1(new OpW().w32(11L).w64(31337L).bytes)
      .getLong(ix("bump_to")) == 31337L)

    // CREATE_CLAIMABLE_BALANCE: asset + amount + claimant count
    val ccb = new OpW().w32(14L).w32(0L).w64(900L).w32(2L)
      .w32(0L).acct(41).w32(0L) // claimant 0, unconditional
      .w32(0L).acct(42).w32(4L).w64(777L) // claimant 1, abs-before
      .bytes
    val rCcb = decode1(ccb)
    assert(rCcb.getLong(ix("asset_type")) == 0L &&
      rCcb.getLong(ix("amount")) == 900L &&
      rCcb.getLong(ix("n_claimants")) == 2L)

    // CLAIM / CLAWBACK_CLAIMABLE_BALANCE: the v0 balance id
    for (t <- Seq(15L, 20L)) {
      val r = decode1(new OpW().w32(t).w32(0L).h(52).bytes)
      assert(r.getUTF8String(ix("balance_id")).toString ==
        hash(52).map("%02x".format(_)).mkString, s"arm $t")
    }

    // BEGIN_SPONSORING_FUTURE_RESERVES
    assert(payload(decode1(new OpW().w32(16L).acct(53).bytes),
      "sponsored_id") == hash(53).toSeq)

    // REVOKE_SPONSORSHIP: the embedded LedgerKey arm (an offer key)...
    val rv0 = decode1(new OpW().w32(18L).w32(0L)
      .w32(2L).acct(54).w64(99L).bytes)
    assert(rv0.getLong(ix("revoke_kind")) == 0L)
    val rk = rv0.getStruct(ix("revoke_key"), XdrLedgerKey.schema.length)
    assert(rk.getLong(0) == 2L) // OFFER
    assert(rk.getLong(XdrLedgerKey.schema.fieldIndex("offer_id")) == 99L)
    // ...and the signer arm
    val rv1 = decode1(new OpW().w32(18L).w32(1L).acct(55).w32(0L).h(56).bytes)
    assert(rv1.getLong(ix("revoke_kind")) == 1L)
    assert(payload(rv1, "revoke_account") == hash(55).toSeq)
    assert(payload(rv1, "revoke_signer_key") == hash(56).toSeq)

    // CLAWBACK: asset + from + amount
    val cw = decode1(new OpW().w32(19L).asset(1, "USD", 57)
      .w32(0L).h(58).w64(800L).bytes)
    assert(cw.getUTF8String(ix("asset_code")).toString == "USD" &&
      payload(cw, "from_account") == hash(58).toSeq &&
      cw.getLong(ix("amount")) == 800L)

    // SET_TRUST_LINE_FLAGS reuses the clear/set flag columns
    val tf = decode1(new OpW().w32(21L).acct(50).w32(0L).w32(3L).w32(5L).bytes)
    assert(payload(tf, "trustor") == hash(50).toSeq &&
      tf.getLong(ix("clear_flags")) == 3L && tf.getLong(ix("set_flags")) == 5L)

    // EXTEND_FOOTPRINT_TTL
    assert(decode1(new OpW().w32(25L).w32(0L).w32(424242L).bytes)
      .getLong(ix("extend_to")) == 424242L)

    // a truncated INVOKE_HOST_FUNCTION body still quarantines
    assert(XdrTxEnvelope.decode(
      envWithOps(Seq(new OpW().w32(24L).w32(0L).bytes))) == null)
    // prefix sweep over an envelope composing four wave-2 arms
    val composite = envWithOps(Seq(at, ccb,
      new OpW().w32(18L).w32(0L).w32(2L).acct(54).w64(99L).bytes, md))
    assert(XdrTxEnvelope.decode(composite) != null)
    (0 until composite.length).foreach { n =>
      assert(XdrTxEnvelope.decode(composite.take(n)) == null, s"prefix $n")
    }
    assert(XdrTxEnvelope.decode(composite :+ 0.toByte) == null)
  }

  test("INVOKE_HOST_FUNCTION decodes all four HostFunction arms with the " +
      "auth tree structurally validated, and SorobanTransactionData " +
      "(resources + footprint keys) decodes on the v1 tx ext; malformed " +
      "interiors and over-limit vectors reject") {
    val OT = XdrTxEnvelope.operationType
    def ix(n: String) = OT.fieldIndex(n)
    val ET = XdrTxEnvelope.schema
    def ex(n: String) = ET.fieldIndex(n)
    var dbgN = 0
    def decode1(body: Array[Byte]) = {
      dbgN += 1
      val r = XdrTxEnvelope.decode(envWithOps(Seq(body)))
      assert(r != null, s"envelope must decode (call #$dbgN, body=" +
        body.map("%02x".format(_)).mkString + ")")
      r.getArray(12).getStruct(0, XdrTxEnvelope.opFieldCount)
    }
    def wSym(w: OpW, s: String): OpW = {
      w.w32(s.length.toLong)
      w.bb.write(s.getBytes("UTF-8"), 0, s.length)
      var pad = (4 - s.length % 4) % 4
      while (pad > 0) { w.bb.write(0); pad -= 1 }
      w
    }
    // invoke-contract: C-address, symbol fn, two walked args; one auth
    // entry with source-account credentials and a contract-fn root
    // carrying one sub-invocation
    val inv = {
      val w = new OpW().w32(24L).w32(0L)
      w.w32(1L).h(80) // SCAddress: contract
      wSym(w, "transfer")
      w.w32(2L).w32(3L).w32(7L) // arg 0: SCV_U32
      w.w32(10L).w64(-1L).w64(-5000L) // arg 1: SCV_I128
      w.w32(1L) // one auth entry
      w.w32(0L) // SOROBAN_CREDENTIALS_SOURCE_ACCOUNT
      w.w32(0L); w.w32(1L).h(80); wSym(w, "inner"); w.w32(0L) // root fn
      w.w32(1L) // one sub-invocation
      w.w32(0L); w.w32(1L).h(81); wSym(w, "leaf"); w.w32(0L)
      w.w32(0L) // its sub-invocations: none
      w.bytes
    }
    val rInv = decode1(inv)
    assert(rInv.getLong(ix("host_fn_type")) == 0L)
    assert(rInv.getUTF8String(ix("invoke_contract")).toString.head == 'C')
    assert(StrkeyCodec.decodePayload(
      rInv.getUTF8String(ix("invoke_contract"))).toSeq == hash(80).toSeq)
    assert(rInv.getUTF8String(ix("invoke_function")).toString == "transfer")
    assert(rInv.getLong(ix("n_invoke_args")) == 2L)
    assert(rInv.getLong(ix("n_auth")) == 1L)
    // create v1: from-address preimage + wasm executable
    val cr1 = {
      val w = new OpW().w32(24L).w32(1L)
      // FROM_ADDRESS: SCAddress(account arm + PublicKey arm) + salt
      w.w32(0L).w32(0L).w32(0L).h(82).h(83)
      w.w32(0L).h(84)               // executable: wasm hash
      w.w32(0L)                     // no auth
      w.bytes
    }
    val rCr1 = decode1(cr1)
    assert(rCr1.getLong(ix("host_fn_type")) == 1L)
    assert(StrkeyCodec.decodePayload(
      rCr1.getUTF8String(ix("invoke_contract"))).toSeq == hash(82).toSeq)
    assert(rCr1.getUTF8String(ix("wasm_hash")).toString ==
      hash(84).map("%02x".format(_)).mkString)
    assert(rCr1.isNullAt(ix("n_invoke_args")))
    // create v2: from-asset preimage + stellar-asset executable + one
    // constructor arg
    val cr2 = {
      val w = new OpW().w32(24L).w32(3L)
      w.w32(1L).asset(1, "USD", 85) // FROM_ASSET
      w.w32(1L)                     // executable: stellar asset
      w.w32(1L).w32(1L)             // constructorArgs: one SCV_VOID
      w.w32(0L)                     // no auth
      w.bytes
    }
    val rCr2 = decode1(cr2)
    assert(rCr2.getLong(ix("host_fn_type")) == 3L)
    assert(rCr2.getUTF8String(ix("asset_code")).toString == "USD")
    assert(rCr2.getLong(ix("n_invoke_args")) == 1L)
    assert(rCr2.isNullAt(ix("wasm_hash")))
    // upload: size surfaces, bytes stay out of the row
    val up = {
      val w = new OpW().w32(24L).w32(2L).w32(37L)
      w.bb.write(Array.tabulate[Byte](40)(i =>
        if (i < 37) (i + 1).toByte else 0), 0, 40)
      w.w32(0L)
      w.bytes
    }
    assert(decode1(up).getLong(ix("wasm_size")) == 37L)
    // address credentials also parse
    val withAddrCred = {
      val w = new OpW().w32(24L).w32(2L).w32(0L) // empty wasm
      w.w32(1L) // one auth entry
      w.w32(1L).w32(0L).w32(0L).h(86) // ADDRESS credentials: G-address
      w.w64(9L).w32(100L).w32(1L)     // nonce, expiration, SCV_VOID sig
      w.w32(0L).w32(1L).h(87); wSym(w, "f"); w.w32(0L); w.w32(0L)
      w.bytes
    }
    assert(decode1(withAddrCred).getLong(ix("n_auth")) == 1L)
    // SorobanTransactionData on the tx ext: two ro keys + one rw key
    val soroEnv = {
      val w = new OpW()
      w.w32(2L).w32(0L).h(20).w32(500L).w64(9000000L).w32(0L).w32(0L)
      w.w32(1L).w32(0L)
      w.bb.write(up, 0, up.length) // the upload op
      w.w32(1L)                    // tx ext: SorobanTransactionData
      w.w32(0L)                    // its ExtensionPoint
      w.w32(2L)                    // footprint.readOnly: 2 keys
      w.w32(0L).w32(0L).h(88)      // ACCOUNT key
      w.w32(9L).h(89)              // TTL key
      w.w32(1L)                    // footprint.readWrite: 1 key
      w.w32(7L).h(90)              // CONTRACT_CODE key
      w.w32(5000000L).w32(1024L).w32(2048L) // instructions, read, write
      w.w64(777777L)               // resourceFee
      w.w32(0L)                    // no signatures
      w.bytes
    }
    val rs = XdrTxEnvelope.decode(soroEnv)
    assert(rs != null)
    assert(rs.getLong(ex("soroban_resource_fee")) == 777777L)
    assert(rs.getLong(ex("soroban_instructions")) == 5000000L)
    assert(rs.getLong(ex("soroban_read_bytes")) == 1024L)
    assert(rs.getLong(ex("soroban_write_bytes")) == 2048L)
    assert(rs.getLong(ex("n_footprint_ro")) == 2L)
    assert(rs.getLong(ex("n_footprint_rw")) == 1L)
    // a plain tx leaves the soroban columns null
    val plain = XdrTxEnvelope.decode(envWithOps(Seq(up)))
    assert(plain.isNullAt(ex("soroban_resource_fee")) &&
      plain.isNullAt(ex("n_footprint_ro")))
    // rejects: unknown host-fn arm, unknown credential kind, a
    // malformed footprint key, and the whole-envelope prefix sweep
    assert(XdrTxEnvelope.decode(envWithOps(Seq(
      new OpW().w32(24L).w32(4L).w32(0L).bytes))) == null)
    assert(XdrTxEnvelope.decode(envWithOps(Seq {
      val w = new OpW().w32(24L).w32(2L).w32(0L)
      w.w32(1L).w32(2L).bytes // credential kind 2
    })) == null)
    (0 until soroEnv.length).foreach { n =>
      assert(XdrTxEnvelope.decode(soroEnv.take(n)) == null, s"prefix $n")
    }
    assert(XdrTxEnvelope.decode(soroEnv :+ 0.toByte) == null)
    val compInv = envWithOps(Seq(inv, cr2))
    (0 until compInv.length).foreach { n =>
      assert(XdrTxEnvelope.decode(compInv.take(n)) == null, s"inv prefix $n")
    }
  }

  test("ConfigSettingEntry: every scalar arm inverts its protocol-20 " +
      "layout, the cost-params vector flattens to const/linear pairs, " +
      "the size window passes through; unknown ids, bad bools, and " +
      "prefixes reject") {
    // scalar arms: (id, width string) — 'w' u32, 'q' i64, 'b' bool
    val scalarArms = Seq(
      0L -> "w", 1L -> "qqqw", 2L -> "wwwwwwwwqqqqqqw", 3L -> "q",
      4L -> "wq", 5L -> "wwq", 8L -> "w", 9L -> "w", 10L -> "wwwqqwwwww",
      11L -> "w", 13L -> "wbq")
    def enc(id: Long, widths: String, boolVal: Long = 1L): Array[Byte] = {
      val w = new OpW().w32(id)
      widths.zipWithIndex.foreach { case (ch, i) =>
        ch match {
          case 'w' => w.w32(1000L * id + i)
          case 'q' => w.w64(1000L * id + i)
          case 'b' => w.w32(boolVal)
        }
      }
      w.bytes
    }
    scalarArms.foreach { case (id, widths) =>
      val r = XdrConfigSettingEntry.decode(enc(id, widths))
      assert(r != null, s"arm $id")
      assert(r.getLong(0) == id && r.getLong(1) == widths.length.toLong)
      val vals = r.getArray(2)
      widths.zipWithIndex.foreach { case (ch, i) =>
        val expect = if (ch == 'b') 1L else 1000L * id + i
        assert(vals.getLong(i) == expect, s"arm $id pos $i")
      }
    }
    // cost params (arm 6/7): vector of (ExtensionPoint, const, linear)
    val cp = new OpW().w32(6L).w32(2L)
      .w32(0L).w64(11L).w64(12L).w32(0L).w64(21L).w64(22L)
    val rcp = XdrConfigSettingEntry.decode(cp.bytes)
    assert(rcp != null && rcp.getLong(1) == 4L)
    assert((0 until 4).map(rcp.getArray(2).getLong(_)) == Seq(11L, 12L, 21L, 22L))
    // size window (arm 12): vector<uint64>
    val win = new OpW().w32(12L).w32(3L).w64(5L).w64(6L).w64(7L)
    val rw = XdrConfigSettingEntry.decode(win.bytes)
    assert(rw != null && rw.getLong(1) == 3L && rw.getArray(2).getLong(2) == 7L)
    // unknown id / non-0-1 bool / nonzero cost-params ext reject
    assert(XdrConfigSettingEntry.decode(new OpW().w32(14L).w32(1L).bytes) == null)
    assert(XdrConfigSettingEntry.decode(enc(13L, "wbq", boolVal = 2L)) == null)
    assert(XdrConfigSettingEntry.decode(new OpW().w32(6L).w32(1L)
      .w32(1L).w64(1L).w64(2L).bytes) == null)
    // prefix sweep over a representative of each family
    Seq(enc(2L, "wwwwwwwwqqqqqqw"), cp.bytes, win.bytes).foreach { full =>
      (0 until full.length).foreach { n =>
        assert(XdrConfigSettingEntry.decode(full.take(n)) == null, s"prefix $n")
      }
      assert(XdrConfigSettingEntry.decode(full :+ 0.toByte) == null)
    }
  }

  test("LedgerKey: all ten arms invert independent encoders with the " +
      "arm's identifying columns set and the rest null; unknown arms, " +
      "bad durability, and prefixes reject") {
    val LK = XdrLedgerKey.schema
    def ix(n: String) = LK.fieldIndex(n)
    def enc(t: Long)(body: OpW => Unit): Array[Byte] = {
      val w = new OpW().w32(t); body(w); w.bytes
    }
    val keys: Seq[(Array[Byte], InternalRow => Unit)] = Seq(
      (enc(0L)(_.acct(50)), r =>
        assert(StrkeyCodec.decodePayload(
          r.getUTF8String(ix("account_id"))).toSeq == hash(50).toSeq)),
      (enc(1L)(w => { w.acct(50); w.w32(3L).h(51) }), r => { // pool share
        assert(r.getLong(ix("asset_type")) == 3L)
        assert(r.getUTF8String(ix("asset_code")).toString ==
          hash(51).map("%02x".format(_)).mkString)
      }),
      (enc(2L)(w => { w.acct(50); w.w64(777L) }), r =>
        assert(r.getLong(ix("offer_id")) == 777L)),
      (enc(3L)(w => { w.acct(50); w.w32(4L)
        w.bb.write("name".getBytes("UTF-8"), 0, 4) }), r =>
        assert(r.getUTF8String(ix("data_name")).toString == "name")),
      (enc(4L)(w => { w.w32(0L); w.h(52) }), r =>
        assert(r.getUTF8String(ix("balance_id")).toString ==
          hash(52).map("%02x".format(_)).mkString)),
      (enc(5L)(_.h(53)), r =>
        assert(r.getUTF8String(ix("pool_id")).toString ==
          hash(53).map("%02x".format(_)).mkString)),
      (enc(6L)(w => { w.w32(1L).h(54)           // contract address
        w.w32(15L).w32(3L)                      // SCV_SYMBOL "abc"
        w.bb.write("abc\u0000".getBytes("UTF-8"), 0, 4)
        w.w32(1L) }), r => {                    // persistent
        assert(r.getUTF8String(ix("contract_id")).toString.head == 'C')
        assert(r.getLong(ix("key_type")) == 15L)
        assert(r.getUTF8String(ix("key_text")).toString == "abc")
        assert(r.getLong(ix("durability")) == 1L)
        assert(r.isNullAt(ix("account_id")))
      }),
      (enc(7L)(_.h(55)), r =>
        assert(r.getUTF8String(ix("code_hash")).toString ==
          hash(55).map("%02x".format(_)).mkString)),
      (enc(8L)(_.w32(9L)), r => assert(r.getLong(ix("setting_id")) == 9L)),
      (enc(9L)(_.h(56)), r =>
        assert(r.getUTF8String(ix("key_hash")).toString ==
          hash(56).map("%02x".format(_)).mkString)))
    keys.zipWithIndex.foreach { case ((buf, check), t) =>
      val r = XdrLedgerKey.decode(buf)
      assert(r != null, s"arm $t")
      assert(r.getLong(0) == t.toLong)
      check(r)
      (0 until buf.length).foreach { n =>
        assert(XdrLedgerKey.decode(buf.take(n)) == null, s"arm $t prefix $n")
      }
      assert(XdrLedgerKey.decode(buf :+ 0.toByte) == null, s"arm $t trailing")
    }
    assert(XdrLedgerKey.decode(new OpW().w32(10L).bytes) == null, "arm 10")
    assert(XdrLedgerKey.decode(
      enc(6L)(w => { w.w32(1L).h(54); w.w32(1L); w.w32(2L) })) == null,
      "durability 2")
    assert(XdrLedgerKey.decode(
      enc(8L)(_.w32(14L))) == null, "setting id 14")
  }

  /** Independent TrustLineEntry / OfferEntry encoders. */
  private def wAsset(bb: java.io.ByteArrayOutputStream, arm: Int): Unit = {
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    arm match {
      case 0 => w32(0L)
      case 1 => w32(1L); bb.write("EUR\u0000".getBytes("UTF-8"), 0, 4)
        w32(0L); bb.write(hash(30), 0, 32)
      case 2 => w32(2L); bb.write("LONGCODE\u0000\u0000\u0000\u0000".getBytes("UTF-8"), 0, 12)
        w32(0L); bb.write(hash(30), 0, 32)
      case 3 => w32(3L); bb.write(hash(31), 0, 32) // pool share (PoolID)
    }
  }

  private def encodeTrustLine(assetArm: Int, ext: Int,
                              useCount: Long = 4L): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    w32(0L); bb.write(hash(32), 0, 32) // accountID
    wAsset(bb, assetArm)
    w64(5000L); w64(9999L); w32(1L) // balance, limit, flags
    ext match {
      case 0 => w32(0L)
      case 1 => w32(1L); w64(70L); w64(80L); w32(0L)
      case 2 => w32(1L); w64(70L); w64(80L); w32(2L); w32(useCount); w32(0L)
    }
    bb.toByteArray
  }

  private def encodeOffer(selling: Int, buying: Int, priceD: Long = 7L,
                          priceN: Long = 3L): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    w32(0L); bb.write(hash(33), 0, 32) // sellerID
    w64(12345L) // offerID
    wAsset(bb, selling); wAsset(bb, buying)
    w64(600L); w32(priceN); w32(priceD); w32(2L); w32(0L)
    bb.toByteArray
  }

  test("TrustLineEntry decode: all four asset arms (incl. pool share) " +
      "and the v0/v1/v2 ext chain invert the independent encoder; " +
      "prefixes and bad arms reject") {
    for (arm <- 0 to 3; ext <- 0 to 2) {
      val r = XdrTrustLineEntry.decode(encodeTrustLine(arm, ext))
      assert(r != null, s"arm=$arm ext=$ext")
      assert(StrkeyCodec.decodePayload(r.getUTF8String(0)).toSeq == hash(32).toSeq)
      assert(r.getLong(1) == arm.toLong)
      arm match {
        case 0 => assert(r.isNullAt(2) && r.isNullAt(3))
        case 1 => assert(r.getUTF8String(2).toString == "EUR")
          assert(StrkeyCodec.decodePayload(r.getUTF8String(3)).toSeq == hash(30).toSeq)
        case 2 => assert(r.getUTF8String(2).toString == "LONGCODE")
        case 3 => // the PoolID surfaces as 64 hex chars, no issuer
          assert(r.getUTF8String(2).toString ==
            hash(31).map("%02x".format(_)).mkString)
          assert(r.isNullAt(3))
      }
      assert(r.getLong(4) == 5000L && r.getLong(5) == 9999L && r.getLong(6) == 1L)
      assert(r.getLong(7) == (if (ext >= 1) 70L else 0L))
      assert(r.getLong(8) == (if (ext >= 1) 80L else 0L))
      assert(r.getLong(9) == (if (ext == 2) 4L else 0L))
    }
    val full = encodeTrustLine(1, 2)
    (0 until full.length).foreach { n =>
      assert(XdrTrustLineEntry.decode(full.take(n)) == null, s"prefix $n")
    }
    assert(XdrTrustLineEntry.decode(full :+ 0.toByte) == null)
  }

  test("OfferEntry decode: asset pairs + price fraction invert the " +
      "independent encoder; a zero price denominator, the pool-share arm, " +
      "and prefixes reject") {
    for (selling <- 0 to 2; buying <- 0 to 2) {
      val r = XdrOfferEntry.decode(encodeOffer(selling, buying))
      assert(r != null, s"$selling/$buying")
      assert(StrkeyCodec.decodePayload(r.getUTF8String(0)).toSeq == hash(33).toSeq)
      assert(r.getLong(1) == 12345L)
      assert(r.getLong(2) == selling.toLong && r.getLong(5) == buying.toLong)
      assert(r.getLong(8) == 600L)
      assert((r.getLong(9), r.getLong(10), r.getLong(11)) == ((3L, 7L, 2L)))
    }
    assert(XdrOfferEntry.decode(encodeOffer(0, 0, priceD = 0L)) == null,
      "price denominator 0 is not a fraction")
    assert(XdrOfferEntry.decode(encodeOffer(3, 0)) == null,
      "the pool-share arm is TrustLineAsset-only")
    val full = encodeOffer(1, 2)
    (0 until full.length).foreach { n =>
      assert(XdrOfferEntry.decode(full.take(n)) == null, s"prefix $n")
    }
    assert(XdrOfferEntry.decode(full :+ 0.toByte) == null)
  }

  test("int32 fields sign-extend: negative Price n/d, liquidity-pool fee, " +
      "and trust-line pool use count decode as negative longs, not large " +
      "positives; the swapped ClaimableBalance ext order rejects") {
    def u(v: Int): Long = v.toLong & 0xffffffffL
    // Offer Price { int32 n; int32 d } — protocol-invalid but encodable
    val o = XdrOfferEntry.decode(encodeOffer(0, 0, priceD = u(-7), priceN = u(-3)))
    assert(o != null && o.getLong(9) == -3L && o.getLong(10) == -7L)
    // TrustLineEntryExtensionV2 int32 liquidityPoolUseCount
    val tl = XdrTrustLineEntry.decode(encodeTrustLine(0, 2, useCount = u(-4)))
    assert(tl != null && tl.getLong(9) == -4L)
    // LiquidityPoolEntry int32 fee
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    bb.write(hash(60), 0, 32); w32(0L) // PoolID + constant-product arm
    w32(0L); w32(0L)                   // two native assets
    w32(u(-30))                        // int32 fee
    w64(1L); w64(2L); w64(3L); w64(4L)
    val lp = XdrLiquidityPoolEntry.decode(bb.toByteArray)
    assert(lp != null && lp.getLong(7) == -30L)
    // the PRE-fix ClaimableBalance ext layout (flags before the inner ext
    // union) must quarantine: the inner-ext discriminant reads the flags
    val ok = encodeClaimable(Seq(Uncond), nativeAsset = true, Some(5L))
    assert(XdrClaimableBalanceEntry.decode(ok) != null)
    val swapped = ok.dropRight(8) ++
      Array[Byte](0, 0, 0, 5, 0, 0, 0, 0) // flags=5 first, then ext=0
    assert(XdrClaimableBalanceEntry.decode(swapped) == null,
      "nonzero flags in the swapped order must reject")
  }

  /** Independent predicate-tree encoder: a tiny ADT mirrored to wire. */
  private sealed trait Pred
  private case object Uncond extends Pred
  private case class And(ps: Seq[Pred]) extends Pred
  private case class Or(ps: Seq[Pred]) extends Pred
  private case class Not(p: Option[Pred]) extends Pred
  private case class AbsBefore(t: Long) extends Pred
  private case class RelBefore(t: Long) extends Pred

  private def encodeClaimable(preds: Seq[Pred], nativeAsset: Boolean,
                              flagsExt: Option[Long]): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    def wPred(p: Pred): Unit = p match {
      case Uncond       => w32(0L)
      case And(ps)      => w32(1L); w32(ps.length.toLong); ps.foreach(wPred)
      case Or(ps)       => w32(2L); w32(ps.length.toLong); ps.foreach(wPred)
      case Not(None)    => w32(3L); w32(0L)
      case Not(Some(q)) => w32(3L); w32(1L); wPred(q)
      case AbsBefore(t) => w32(4L); w64(t)
      case RelBefore(t) => w32(5L); w64(t)
    }
    w32(0L); bb.write(hash(40), 0, 32) // balance id v0
    w32(preds.length.toLong)
    preds.zipWithIndex.foreach { case (p, i) =>
      w32(0L); w32(0L); bb.write(hash(41 + i), 0, 32) // claimant + dest
      wPred(p)
    }
    if (nativeAsset) w32(0L)
    else { w32(1L); bb.write("USD\u0000".getBytes("UTF-8"), 0, 4)
      w32(0L); bb.write(hash(50), 0, 32) }
    w64(987654L)
    flagsExt match {
      // ClaimableBalanceEntryExtensionV1: inner ext union FIRST, then flags
      case Some(fl) => w32(1L); w32(0L); w32(fl)
      case None     => w32(0L)
    }
    bb.toByteArray
  }

  test("LiquidityPoolEntry decode inverts an independent encoder over " +
      "asset-pair shapes; prefixes and a non-constant-product body reject") {
    def enc(a: Int, b: Int, body: Long = 0L): Array[Byte] = {
      val bb = new java.io.ByteArrayOutputStream()
      def w32(v: Long): Unit = {
        bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
        bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
      }
      def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
      bb.write(hash(35), 0, 32) // pool id
      w32(body)
      wAsset(bb, a); wAsset(bb, b)
      w32(30L); w64(11L); w64(22L); w64(33L); w64(4L)
      bb.toByteArray
    }
    for (a <- 0 to 2; b <- 0 to 2) {
      val r = XdrLiquidityPoolEntry.decode(enc(a, b))
      assert(r != null, s"$a/$b")
      assert(r.getUTF8String(0).toString == hash(35).map("%02x".format(_)).mkString)
      assert(r.getLong(1) == a.toLong && r.getLong(4) == b.toLong)
      assert((r.getLong(7), r.getLong(8), r.getLong(9), r.getLong(10),
        r.getLong(11)) == ((30L, 11L, 22L, 33L, 4L)))
    }
    assert(XdrLiquidityPoolEntry.decode(enc(0, 0, body = 1L)) == null,
      "only the constant-product arm exists")
    val full = enc(1, 2)
    (0 until full.length).foreach { n =>
      assert(XdrLiquidityPoolEntry.decode(full.take(n)) == null, s"prefix $n")
    }
    assert(XdrLiquidityPoolEntry.decode(full :+ 0.toByte) == null)
  }

  test("ClaimableBalanceEntry decode: recursive predicate trees " +
      "summarize to (type, nodes, depth, min abs) exactly; claimant and " +
      "recursion bounds reject") {
    // hand-computed summaries for a shape battery
    val cases: Seq[(Pred, (Long, Long, Long, Any))] = Seq(
      Uncond -> ((0L, 1L, 1L, null)),
      AbsBefore(1700L) -> ((4L, 1L, 1L, 1700L)),
      RelBefore(60L) -> ((5L, 1L, 1L, null)),
      Not(None) -> ((3L, 1L, 1L, null)),
      Not(Some(RelBefore(9L))) -> ((3L, 2L, 2L, null)),
      And(Seq(AbsBefore(50L), Uncond)) -> ((1L, 3L, 2L, 50L)),
      Or(Seq(AbsBefore(80L), AbsBefore(20L))) -> ((2L, 3L, 2L, 20L)),
      // nested: AND(OR(ABS(70), NOT(REL(1))), ABS(90)) — 6 nodes, depth 4
      // via the NOT chain, min abs 70
      And(Seq(Or(Seq(AbsBefore(70L), Not(Some(RelBefore(1L))))),
        AbsBefore(90L))) -> ((1L, 6L, 4L, 70L)))
    cases.foreach { case (p, (t, n, d, a)) =>
      val r = XdrClaimableBalanceEntry.decode(
        encodeClaimable(Seq(p), nativeAsset = true, None))
      assert(r != null, s"$p")
      val cl = r.getArray(7).getStruct(0, 5)
      assert(StrkeyCodec.decodePayload(cl.getUTF8String(0)).toSeq == hash(41).toSeq)
      assert(cl.getLong(1) == t, s"$p type")
      assert(cl.getLong(2) == n, s"$p nodes")
      assert(cl.getLong(3) == d, s"$p depth")
      if (a == null) assert(cl.isNullAt(4), s"$p abs")
      else assert(cl.getLong(4) == a.asInstanceOf[Long], s"$p abs")
    }
    // record scalars + multi-claimant + flags ext
    val r2 = XdrClaimableBalanceEntry.decode(
      encodeClaimable(Seq(Uncond, AbsBefore(5L)), nativeAsset = false, Some(2L)))
    assert(r2.getUTF8String(0).toString == hash(40).map("%02x".format(_)).mkString)
    assert(r2.getLong(1) == 1L && r2.getUTF8String(2).toString == "USD")
    assert(r2.getLong(4) == 987654L && r2.getLong(5) == 2L && r2.getLong(6) == 2L)
    // bounds: zero claimants, 11 claimants, AND vector of 3, recursion
    // past the depth guard, bad predicate discriminant
    assert(XdrClaimableBalanceEntry.decode(
      encodeClaimable(Nil, nativeAsset = true, None)) == null)
    assert(XdrClaimableBalanceEntry.decode(
      encodeClaimable(Seq.fill(11)(Uncond), nativeAsset = true, None)) == null)
    assert(XdrClaimableBalanceEntry.decode(
      encodeClaimable(Seq(And(Seq(Uncond, Uncond, Uncond))),
        nativeAsset = true, None)) == null, "AND carries a vector<2>")
    val deep = (1 to 20).foldLeft(Uncond: Pred)((p, _) => Not(Some(p)))
    assert(XdrClaimableBalanceEntry.decode(
      encodeClaimable(Seq(deep), nativeAsset = true, None)) == null,
      "recursion bound")
    val okDepth = (1 to 10).foldLeft(Uncond: Pred)((p, _) => Not(Some(p)))
    assert(XdrClaimableBalanceEntry.decode(
      encodeClaimable(Seq(okDepth), nativeAsset = true, None)) != null,
      "deep-but-bounded trees decode")
    // prefix sweep on a representative shape
    val full = encodeClaimable(
      Seq(And(Seq(AbsBefore(1L), Uncond)), Or(Seq(Uncond, RelBefore(2L)))),
      nativeAsset = false, Some(1L))
    (0 until full.length).foreach { n =>
      assert(XdrClaimableBalanceEntry.decode(full.take(n)) == null, s"prefix $n")
    }
    assert(XdrClaimableBalanceEntry.decode(full :+ 0.toByte) == null)
  }

  /** Independent SCVal/ContractData encoder. */
  private sealed trait Sv
  private case class SvBool(v: Boolean) extends Sv
  private case object SvVoid extends Sv
  private case class SvU32(v: Long) extends Sv
  private case class SvI64(v: Long) extends Sv
  private case class SvStr(s: String) extends Sv
  private case class SvSym(s: String) extends Sv
  private case class SvBytes(bs: Array[Byte]) extends Sv
  private case class SvVec(vs: Option[Seq[Sv]]) extends Sv
  private case class SvMap(kvs: Option[Seq[(Sv, Sv)]]) extends Sv
  private case class SvU128(hi: Long, lo: Long) extends Sv
  private case class SvI128(hi: Long, lo: Long) extends Sv
  private case class SvAddr(account: Boolean) extends Sv
  private case class SvErr(errType: Long, code: Long) extends Sv
  private case class Sv256(signed: Boolean, parts: (Long, Long, Long, Long)) extends Sv
  private case class SvInstance(wasmSeed: Option[Int],
                                storage: Option[Seq[(Sv, Sv)]]) extends Sv
  private case object SvInstKey extends Sv
  private case class SvNonce(n: Long) extends Sv
  private case class SvRaw(arm: Long) extends Sv // truncated-arm probe

  private def encodeContractData(contractAccount: Boolean, key: Sv,
                                 durability: Long, value: Sv): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
      bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32((v >>> 32) & 0xffffffffL); w32(v & 0xffffffffL) }
    def wVar(bytes: Array[Byte]): Unit = {
      w32(bytes.length.toLong); bb.write(bytes, 0, bytes.length)
      var pad = (4 - bytes.length % 4) % 4
      while (pad > 0) { bb.write(0); pad -= 1 }
    }
    def wVal(v: Sv): Unit = v match {
      case SvBool(x)   => w32(0L); w32(if (x) 1L else 0L)
      case SvVoid      => w32(1L)
      case SvU32(x)    => w32(3L); w32(x)
      case SvI64(x)    => w32(6L); w64(x)
      case SvStr(s)    => w32(14L); wVar(s.getBytes("UTF-8"))
      case SvSym(s)    => w32(15L); wVar(s.getBytes("UTF-8"))
      case SvBytes(bs) => w32(13L); wVar(bs)
      case SvVec(None)     => w32(16L); w32(0L)
      case SvVec(Some(vs)) => w32(16L); w32(1L); w32(vs.length.toLong)
        vs.foreach(wVal)
      case SvMap(None)     => w32(17L); w32(0L)
      case SvMap(Some(kv)) => w32(17L); w32(1L); w32(kv.length.toLong)
        kv.foreach { case (a, b) => wVal(a); wVal(b) }
      case SvU128(hi, lo) => w32(9L); w64(hi); w64(lo)
      case SvI128(hi, lo) => w32(10L); w64(hi); w64(lo)
      case SvAddr(true)   => w32(18L); w32(0L); w32(0L); bb.write(hash(62), 0, 32)
      case SvAddr(false)  => w32(18L); w32(1L); bb.write(hash(63), 0, 32)
      case SvErr(et, code) => w32(2L); w32(et); w32(code)
      case Sv256(signed, (a, b2, c2, d)) =>
        w32(if (signed) 12L else 11L); w64(a); w64(b2); w64(c2); w64(d)
      case SvInstance(wasm, storage) =>
        w32(19L)
        wasm match {
          case Some(seed) => w32(0L); bb.write(hash(seed), 0, 32)
          case None       => w32(1L)
        }
        storage match {
          case None => w32(0L)
          case Some(kvs) => w32(1L); w32(kvs.length.toLong)
            kvs.foreach { case (a, b2) => wVal(a); wVal(b2) }
        }
      case SvInstKey  => w32(20L)
      case SvNonce(n) => w32(21L); w64(n)
      case SvRaw(arm) => w32(arm)
    }
    w32(0L) // ExtensionPoint
    if (contractAccount) { w32(0L); w32(0L); bb.write(hash(60), 0, 32) }
    else { w32(1L); bb.write(hash(61), 0, 32) }
    wVal(key)
    w32(durability)
    wVal(value)
    bb.toByteArray
  }

  test("ContractDataEntry decode: address union, SCVal scalar/container " +
      "shapes, and tree summaries invert the independent encoder") {
    // (value, expected (type, nodes, depth, text, num, dec-as-string))
    val cases: Seq[(Sv, (Long, Long, Long, Any, Any, Any))] = Seq(
      SvBool(true) -> ((0L, 1L, 1L, null, 1L, null)),
      SvVoid -> ((1L, 1L, 1L, null, null, null)),
      SvU32(77L) -> ((3L, 1L, 1L, null, 77L, null)),
      SvI64(-5L) -> ((6L, 1L, 1L, null, -5L, null)),
      SvStr("hello") -> ((14L, 1L, 1L, "hello", null, null)),
      SvBytes(Array[Byte](1, 2, 0xff.toByte)) -> ((13L, 1L, 1L, "0102ff", null, null)),
      SvVec(None) -> ((16L, 1L, 1L, null, null, null)),
      SvVec(Some(Seq(SvU32(1L), SvStr("x")))) -> ((16L, 3L, 2L, null, null, null)),
      SvMap(Some(Seq(SvSym("a") -> SvI64(9L)))) -> ((17L, 3L, 2L, null, null, null)),
      // nested: VEC(MAP(sym -> VEC(u32)), void) — 6 nodes, depth 4
      SvVec(Some(Seq(SvMap(Some(Seq(SvSym("k") -> SvVec(Some(Seq(SvU32(2L))))))),
        SvVoid))) -> ((16L, 6L, 4L, null, null, null)),
      // 128-bit parts → Decimal(38,0): 2*2^64+123, the max uint64 via
      // lo alone, and a negative int128 from the sign-extended hi
      SvU128(2L, 123L) -> ((9L, 1L, 1L, null, null, "36893488147419103355")),
      SvU128(0L, -1L) -> ((9L, 1L, 1L, null, null, "18446744073709551615")),
      SvI128(-1L, -5000L) -> ((10L, 1L, 1L, null, null, "-5000")),
      // the completion arms: error, 256-bit (digit string in TEXT),
      // contract instance (wasm hash in text; storage counts as nodes),
      // and both ledger-key arms
      SvErr(5L, 42L) -> ((2L, 1L, 1L, null, 42L, null)),
      Sv256(false, (1L, 2L, 3L, 4L)) -> ((11L, 1L, 1L,
        new java.math.BigInteger("1").shiftLeft(64).add(
          java.math.BigInteger.valueOf(2L)).shiftLeft(64).add(
          java.math.BigInteger.valueOf(3L)).shiftLeft(64).add(
          java.math.BigInteger.valueOf(4L)).toString, null, null)),
      Sv256(true, (-1L, -1L, -1L, -6L)) -> ((12L, 1L, 1L, "-6", null, null)),
      SvInstance(Some(64), None) -> ((19L, 1L, 1L,
        hash(64).map("%02x".format(_)).mkString, null, null)),
      SvInstance(None, Some(Seq(SvSym("s") -> SvU32(1L)))) ->
        ((19L, 3L, 2L, null, null, null)),
      SvInstKey -> ((20L, 1L, 1L, null, null, null)),
      SvNonce(987L) -> ((21L, 1L, 1L, null, 987L, null)))
    cases.foreach { case (v, (t, n, d, text, num, dec)) =>
      val r = XdrContractDataEntry.decode(
        encodeContractData(contractAccount = true, SvSym("key1"), 1L, v))
      assert(r != null, s"$v")
      assert(StrkeyCodec.decodePayload(r.getUTF8String(0)).toSeq == hash(60).toSeq)
      assert(r.getUTF8String(0).toString.head == 'G' && r.getLong(1) == 0L)
      assert(r.getLong(2) == 1L)
      assert(r.getLong(3) == 15L && r.getUTF8String(4).toString == "key1")
      assert(r.getLong(7) == t, s"$v type")
      if (text == null) assert(r.isNullAt(8), s"$v text")
      else assert(r.getUTF8String(8).toString == text, s"$v text")
      if (num == null) assert(r.isNullAt(9), s"$v num")
      else assert(r.getLong(9) == num.asInstanceOf[Long], s"$v num")
      if (dec == null) assert(r.isNullAt(10), s"$v dec")
      else assert(r.getDecimal(10, 38, 0).toJavaBigDecimal ==
        new java.math.BigDecimal(dec.asInstanceOf[String]), s"$v dec")
      assert(r.getLong(11) == n && r.getLong(12) == d, s"$v nodes/depth")
    }
    // SCV_ADDRESS: the strkey spelling lands in the text slot
    for (acct <- Seq(true, false)) {
      val r = XdrContractDataEntry.decode(
        encodeContractData(contractAccount = true, SvSym("k"), 1L, SvAddr(acct)))
      assert(r != null && r.getLong(7) == 18L)
      val addr = r.getUTF8String(8)
      assert(addr.toString.head == (if (acct) 'G' else 'C'))
      assert(StrkeyCodec.decodePayload(addr).toSeq ==
        hash(if (acct) 62 else 63).toSeq)
    }
    // a 128-bit value at or past 10^38 quarantines (Decimal(38,0) bound)
    assert(XdrContractDataEntry.decode(encodeContractData(
      contractAccount = true, SvSym("k"), 1L,
      SvU128(0x8000000000000000L, 0L))) == null, "1.7e38 over the bound")
    assert(XdrContractDataEntry.decode(encodeContractData(
      contractAccount = true, SvSym("k"), 1L,
      SvU128(0x4000000000000000L, 7L))) != null, "8.5e37 inside the bound")
    // contract-kind address: C-prefix strkey of the raw hash
    val rc = XdrContractDataEntry.decode(
      encodeContractData(contractAccount = false, SvSym("k"), 0L, SvVoid))
    assert(rc.getUTF8String(0).toString.head == 'C' && rc.getLong(1) == 1L)
    assert(StrkeyCodec.decodePayload(rc.getUTF8String(0)).toSeq == hash(61).toSeq)
    // the key_decoded/val_decoded JSON rendering: scalars as literals,
    // quotes escaped, bytes as 0x-hex, 128-bit as quoted digits, maps
    // as [key, value] pairs, nested trees rendered whole
    def json(v: Sv): String = {
      val r = XdrContractDataEntry.decode(
        encodeContractData(contractAccount = true, SvSym("key1"), 1L, v))
      assert(r.getUTF8String(13).toString == "\"key1\"")
      r.getUTF8String(14).toString
    }
    assert(json(SvBool(true)) == "true")
    assert(json(SvVoid) == "null")
    assert(json(SvI64(-5L)) == "-5")
    assert(json(SvStr("he\"llo\\")) == "\"he\\\"llo\\\\\"")
    assert(json(SvBytes(Array[Byte](1, 2, 0xff.toByte))) == "\"0x0102ff\"")
    assert(json(SvI128(-1L, -5000L)) == "\"-5000\"")
    assert(json(SvVec(Some(Seq(SvU32(1L), SvStr("x"))))) == "[1,\"x\"]")
    assert(json(SvMap(Some(Seq(SvSym("a") -> SvI64(9L))))) == "[[\"a\",9]]")
    assert(json(SvVec(Some(Seq(
      SvMap(Some(Seq(SvSym("k") -> SvVec(Some(Seq(SvU32(2L))))))),
      SvVoid)))) == "[[[\"k\",[2]]],null]")
    val ja = json(SvAddr(account = true))
    assert(ja.startsWith("\"G") && ja.endsWith("\"") && ja.length == 58)
    assert(json(SvErr(5L, 42L)) == "[\"error\",5,42]")
    assert(json(Sv256(true, (-1L, -1L, -1L, -6L))) == "\"-6\"")
    assert(json(SvNonce(987L)) == "[\"nonce\",987]")
    assert(json(SvInstKey) == "\"instance_key\"")
    assert(json(SvInstance(None, Some(Seq(SvSym("s") -> SvU32(1L))))) ==
      "[\"instance\",null,[[\"s\",1]]]")
    assert(json(SvInstance(Some(64), None)) ==
      "[\"instance\",\"0x" + hash(64).map("%02x".format(_)).mkString +
        "\",null]")
  }

  test("ContractDataEntry quarantine: unsupported SCVal arms, bad " +
      "durability, container blow-ups, depth bound, and prefixes reject") {
    def enc(v: Sv, dur: Long = 0L) =
      encodeContractData(contractAccount = true, SvSym("k"), dur, v)
    assert(XdrContractDataEntry.decode(enc(SvRaw(22L))) == null,
      "beyond the SCVal union")
    assert(XdrContractDataEntry.decode(enc(SvRaw(11L))) == null,
      "truncated U256 body")
    assert(XdrContractDataEntry.decode(enc(SvRaw(19L))) == null,
      "truncated contract-instance body")
    assert(XdrContractDataEntry.decode(enc(SvVoid, dur = 2L)) == null)
    assert(XdrContractDataEntry.decode(
      enc(SvVec(Some(Seq.fill(257)(SvVoid))))) == null, "container bound")
    val deep = (1 to 20).foldLeft(SvVoid: Sv)((v, _) => SvVec(Some(Seq(v))))
    assert(XdrContractDataEntry.decode(enc(deep)) == null, "depth bound")
    val ok = (1 to 10).foldLeft(SvVoid: Sv)((v, _) => SvVec(Some(Seq(v))))
    assert(XdrContractDataEntry.decode(enc(ok)) != null, "bounded depth decodes")
    val full = enc(SvMap(Some(Seq(SvSym("a") -> SvStr("bb")))))
    (0 until full.length).foreach { n =>
      assert(XdrContractDataEntry.decode(full.take(n)) == null, s"prefix $n")
    }
    assert(XdrContractDataEntry.decode(full :+ 0.toByte) == null)
  }

  test("TTLEntry and ContractCodeEntry: minimal-record inversion, the " +
      "sha256 fingerprint, and prefix/extension rejection") {
    // TTL: exactly 36 bytes
    val ttl = new java.io.ByteArrayOutputStream()
    ttl.write(hash(70), 0, 32)
    ttl.write(Array[Byte](0, 0x3d, 9, 0), 0, 4) // 0x003d0900 = 4000000
    val tr = XdrTtlEntry.decode(ttl.toByteArray)
    assert(tr.getUTF8String(0).toString == hash(70).map("%02x".format(_)).mkString)
    assert(tr.getLong(1) == 4000000L)
    (0 until 36).foreach { n =>
      assert(XdrTtlEntry.decode(ttl.toByteArray.take(n)) == null, s"prefix $n")
    }
    assert(XdrTtlEntry.decode(ttl.toByteArray :+ 0.toByte) == null)
    // ContractCode: code bytes never surface — size + sha256 do
    val code = Array.tabulate[Byte](37)(i => (i * 3 + 1).toByte)
    val cc = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      cc.write(((v >> 24) & 0xff).toInt); cc.write(((v >> 16) & 0xff).toInt)
      cc.write(((v >> 8) & 0xff).toInt); cc.write((v & 0xff).toInt)
    }
    w32(0L); cc.write(hash(71), 0, 32)
    w32(code.length.toLong); cc.write(code, 0, code.length)
    cc.write(Array[Byte](0, 0, 0), 0, (4 - code.length % 4) % 4)
    val cr = XdrContractCodeEntry.decode(cc.toByteArray)
    assert(cr.getUTF8String(0).toString == hash(71).map("%02x".format(_)).mkString)
    assert(cr.getLong(1) == 37L)
    val expectSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(code).map("%02x".format(_)).mkString
    assert(cr.getUTF8String(2).toString == expectSha)
    // v1 cost-inputs ext is outside the boundary
    val v1 = cc.toByteArray.clone(); v1(3) = 1
    assert(XdrContractCodeEntry.decode(v1) == null)
    (0 until cc.size()).foreach { n =>
      assert(XdrContractCodeEntry.decode(cc.toByteArray.take(n)) == null,
        s"prefix $n")
    }
    assert(XdrContractCodeEntry.decode(cc.toByteArray :+ 0.toByte) == null)
  }

  test("LedgerEntry wire record: the data union dispatches to all ten " +
      "per-type parsers, the v1 ext carries the sponsor, and strict " +
      "prefixes/unknown types reject") {
    val LE = XdrLedgerEntry.schema
    def ix(n: String) = LE.fieldIndex(n)
    def wrap(t: Long, entry: Array[Byte], ext: Int): Array[Byte] = {
      val w = new OpW().w32(777L).w32(t)
      w.bb.write(entry, 0, entry.length)
      ext match {
        case 0 => w.w32(0L)
        case 1 => w.w32(1L).w32(0L).w32(0L)          // v1, no descriptor
        case _ => w.w32(1L).w32(1L).acct(90).w32(0L) // v1 + sponsor
      }
      w.bytes
    }
    val acctBytes =
      encodeAccount(999L, 1L << 40, inflation = false, "", Nil, None)
    val r0 = XdrLedgerEntry.decode(wrap(0L, acctBytes, 2))
    assert(r0 != null && r0.getLong(0) == 777L && r0.getLong(1) == 0L)
    assert(StrkeyCodec.decodePayload(
      r0.getUTF8String(ix("sponsor"))).toSeq == hash(90).toSeq)
    assert(r0.getStruct(ix("account"),
      XdrAccountEntry.schema.length).getLong(1) == 999L)
    assert(r0.isNullAt(ix("offer")) && r0.isNullAt(ix("ttl")))
    val tl = XdrLedgerEntry.decode(wrap(1L, encodeTrustLine(0, 0), 0))
    assert(tl.getStruct(ix("trust_line"),
      XdrTrustLineEntry.schema.length).getLong(4) == 5000L)
    assert(tl.isNullAt(ix("sponsor")))
    val off = XdrLedgerEntry.decode(wrap(2L, encodeOffer(0, 0), 1))
    assert(off.getStruct(ix("offer"),
      XdrOfferEntry.schema.length).getLong(1) == 12345L)
    assert(off.isNullAt(ix("sponsor")))
    val dW = new OpW().acct(91).w32(2L)
    dW.bb.write("ab".getBytes("UTF-8"), 0, 2); dW.bb.write(0); dW.bb.write(0)
    dW.w32(3L); dW.bb.write(Array[Byte](1, 2, 3, 0), 0, 4)
    dW.w32(0L)
    val dr = XdrLedgerEntry.decode(wrap(3L, dW.bytes, 0))
    val ds = dr.getStruct(ix("data"), XdrLedgerEntry.dataEntryType.length)
    assert(StrkeyCodec.decodePayload(ds.getUTF8String(0)).toSeq == hash(91).toSeq)
    assert(ds.getUTF8String(1).toString == "ab" && ds.getLong(2) == 3L)
    val cb = XdrLedgerEntry.decode(
      wrap(4L, encodeClaimable(Seq(Uncond), nativeAsset = true, None), 0))
    assert(cb.getStruct(ix("claimable_balance"),
      XdrClaimableBalanceEntry.schema.length).getLong(4) == 987654L)
    val lpW = new OpW().h(93).w32(0L).w32(0L).w32(0L).w32(30L)
      .w64(1L).w64(2L).w64(3L).w64(4L)
    val lp = XdrLedgerEntry.decode(wrap(5L, lpW.bytes, 0))
    assert(lp.getStruct(ix("liquidity_pool"),
      XdrLiquidityPoolEntry.schema.length).getLong(7) == 30L)
    val cd = XdrLedgerEntry.decode(
      wrap(6L, encodeContractData(contractAccount = true, SvSym("k"), 1L,
        SvVoid), 0))
    assert(cd.getStruct(ix("contract_data"),
      XdrContractDataEntry.schema.length).getLong(3) == 15L)
    val ccW = new OpW().w32(0L).h(94).w32(3L)
    ccW.bb.write(Array[Byte](7, 8, 9, 0), 0, 4)
    val cc = XdrLedgerEntry.decode(wrap(7L, ccW.bytes, 0))
    assert(cc.getStruct(ix("contract_code"),
      XdrContractCodeEntry.schema.length).getLong(1) == 3L)
    val cs = XdrLedgerEntry.decode(wrap(8L, new OpW().w32(0L).w32(5L).bytes, 0))
    assert(cs.getStruct(ix("config_setting"),
      XdrConfigSettingEntry.schema.length).getLong(0) == 0L)
    val tr = XdrLedgerEntry.decode(wrap(9L, new OpW().h(92).w32(123L).bytes, 0))
    assert(tr.getStruct(ix("ttl"),
      XdrTtlEntry.schema.length).getLong(1) == 123L)
    assert(XdrLedgerEntry.decode(
      wrap(10L, Array.empty[Byte], 0)) == null, "unknown entry type")
    val full = wrap(0L, acctBytes, 2)
    (0 until full.length).foreach { n =>
      assert(XdrLedgerEntry.decode(full.take(n)) == null, s"prefix $n")
    }
    assert(XdrLedgerEntry.decode(full :+ 0.toByte) == null)
  }

  test("LedgerEntryChanges: every change kind dispatches (entries for " +
      "created/updated/state/restored, keys for removed); unknown kinds, " +
      "over-limit vectors, and prefixes reject") {
    val CT = XdrLedgerEntryChanges.changeType
    def cix(n: String) = CT.fieldIndex(n)
    def ttlEntry(w: OpW): Unit = {
      w.w32(777L).w32(9L).h(92).w32(123L).w32(0L) // lastMod, TTL, ext 0
    }
    val w = new OpW().w32(6L) // five kinds + one more entry
    Seq(0L, 1L, 3L, 4L).foreach { kind => w.w32(kind); ttlEntry(w) }
    w.w32(2L).w32(9L).h(92)   // removed: a TTL key
    w.w32(2L).w32(0L).acct(93) // removed: an ACCOUNT key
    val r = XdrLedgerEntryChanges.decode(w.bytes)
    assert(r != null && r.getLong(0) == 6L)
    val arr = r.getArray(1)
    Seq(0, 1, 2, 3).foreach { i =>
      val ch = arr.getStruct(i, CT.length)
      assert(ch.getLong(cix("change_kind")) == Seq(0L, 1L, 3L, 4L)(i))
      assert(ch.isNullAt(cix("key")))
      val e = ch.getStruct(cix("entry"), XdrLedgerEntry.schema.length)
      assert(e.getLong(1) == 9L) // TTL arm
    }
    val rm = arr.getStruct(4, CT.length)
    assert(rm.getLong(cix("change_kind")) == 2L && rm.isNullAt(cix("entry")))
    assert(rm.getStruct(cix("key"), XdrLedgerKey.schema.length)
      .getLong(0) == 9L)
    val rm2 = arr.getStruct(5, CT.length)
    assert(StrkeyCodec.decodePayload(
      rm2.getStruct(cix("key"), XdrLedgerKey.schema.length)
        .getUTF8String(1)).toSeq == hash(93).toSeq)
    // empty vector is a valid record
    assert(XdrLedgerEntryChanges.decode(new OpW().w32(0L).bytes)
      .getLong(0) == 0L)
    // unknown change kind rejects
    assert(XdrLedgerEntryChanges.decode({
      val b = new OpW().w32(1L).w32(5L); ttlEntry(b); b.bytes
    }) == null)
    val full = w.bytes
    (0 until full.length).foreach { n =>
      assert(XdrLedgerEntryChanges.decode(full.take(n)) == null, s"prefix $n")
    }
    assert(XdrLedgerEntryChanges.decode(full :+ 0.toByte) == null)
  }

  test("TransactionResult: the code union, the fee-bump inner pair, and " +
      "every per-op payload arm (claims, offer effects, merge balance, " +
      "inflation payouts, created balance id, host-fn return hash, " +
      "path-payment tail) invert an independent encoder; bad codes, " +
      "bad atoms, and prefixes reject") {
    val TR = XdrTxResult.schema
    val OR = XdrTxResult.opResultType
    def tix(n: String) = TR.fieldIndex(n)
    def oix(n: String) = OR.fieldIndex(n)
    def atomOrderBook(w: OpW, sold: Long, bought: Long): Unit = {
      w.w32(1L).acct(70).w64(11L) // ORDER_BOOK: seller + offer id
      w.w32(0L).w64(sold)         // assetSold native + amount
      w.w32(0L).w64(bought)
    }
    def atomLp(w: OpW, sold: Long, bought: Long): Unit = {
      w.w32(2L).h(71)             // LIQUIDITY_POOL: pool id
      w.w32(0L).w64(sold).w32(0L).w64(bought)
    }
    // txSUCCESS with the payload-carrying arms
    val okW = new OpW()
    okW.w64(600L).w32(0L) // feeCharged + txSUCCESS
    okW.w32(7L)           // seven op results
    okW.w32(0L).w32(1L).w32(0L) // opINNER, PAYMENT, success (void)
    okW.w32(0L).w32(2L).w32(0L) // PATH_PAYMENT_STRICT_RECEIVE success
    okW.w32(2L); atomOrderBook(okW, 10L, 20L); atomLp(okW, 30L, 40L)
    okW.acct(72).w32(0L).w64(99L) // SimplePaymentResult tail
    okW.w32(0L).w32(3L).w32(0L) // MANAGE_SELL_OFFER success
    okW.w32(1L); atomOrderBook(okW, 5L, 6L)
    okW.w32(0L)                 // effect CREATED
    okW.bb.write(encodeOffer(0, 0), 0, encodeOffer(0, 0).length)
    okW.w32(0L).w32(8L).w32(0L).w64(31337L) // ACCOUNT_MERGE success
    okW.w32(0L).w32(9L).w32(0L) // INFLATION success, two payouts
    okW.w32(2L).acct(73).w64(100L).acct(74).w64(200L)
    okW.w32(0L).w32(14L).w32(0L).w32(0L).h(75) // CREATE_CB success
    okW.w32(0L).w32(24L).w32(0L).h(76) // INVOKE success: return hash
    okW.w32(0L) // ext
    val ok = XdrTxResult.decode(okW.bytes)
    assert(ok != null)
    assert(ok.getLong(tix("fee_charged")) == 600L)
    assert(ok.getLong(tix("code")) == 0L)
    assert(ok.isNullAt(tix("inner_hash")))
    assert(ok.getLong(tix("n_op_results")) == 7L)
    val ops = ok.getArray(tix("op_results"))
    def op(i: Int) = ops.getStruct(i, OR.length)
    assert(op(0).getLong(oix("op_type")) == 1L &&
      op(0).getLong(oix("result_code")) == 0L &&
      op(0).isNullAt(oix("n_claims")))
    assert(op(1).getLong(oix("n_claims")) == 2L &&
      op(1).getLong(oix("claims_sold")) == 40L &&
      op(1).getLong(oix("claims_bought")) == 60L &&
      op(1).getLong(oix("last_amount")) == 99L)
    assert(StrkeyCodec.decodePayload(
      op(1).getUTF8String(oix("last_dest"))).toSeq == hash(72).toSeq)
    assert(op(2).getLong(oix("offer_effect")) == 0L &&
      op(2).getLong(oix("offer_id")) == 12345L &&
      op(2).getLong(oix("n_claims")) == 1L)
    assert(op(3).getLong(oix("merge_balance")) == 31337L)
    assert(op(4).getLong(oix("n_payouts")) == 2L &&
      op(4).getLong(oix("payout_total")) == 300L)
    assert(op(5).getUTF8String(oix("created_balance_id")).toString ==
      hash(75).map("%02x".format(_)).mkString)
    assert(op(6).getUTF8String(oix("invoke_return_hash")).toString ==
      hash(76).map("%02x".format(_)).mkString)
    // txFAILED with a failed op and an op-level code
    val failW = new OpW().w64(100L).w32(-1L & 0xffffffffL).w32(2L)
    failW.w32(0L).w32(1L).w32(-2L & 0xffffffffL) // PAYMENT underfunded
    failW.w32(-1L & 0xffffffffL)                 // opBAD_AUTH (void)
    failW.w32(0L)
    val fl = XdrTxResult.decode(failW.bytes)
    assert(fl.getLong(tix("code")) == -1L)
    val fops = fl.getArray(tix("op_results"))
    assert(fops.getStruct(0, OR.length).getLong(oix("result_code")) == -2L)
    assert(fops.getStruct(1, OR.length).getLong(oix("op_code")) == -1L &&
      fops.getStruct(1, OR.length).isNullAt(oix("op_type")))
    // a void top-level failure code: no vector at all
    val late = XdrTxResult.decode(
      new OpW().w64(100L).w32(-3L & 0xffffffffL).w32(0L).bytes)
    assert(late.getLong(tix("code")) == -3L && late.isNullAt(tix("n_op_results")))
    // fee bump: outer fee + inner pair, the inner op vector fills the row
    val fbW = new OpW().w64(1000L).w32(1L).h(77) // outer + inner hash
    fbW.w64(600L).w32(0L).w32(1L)                // inner: success, one op
    fbW.w32(0L).w32(8L).w32(0L).w64(42L)         // ACCOUNT_MERGE success
    fbW.w32(0L)                                  // inner ext
    fbW.w32(0L)                                  // outer ext
    val fb = XdrTxResult.decode(fbW.bytes)
    assert(fb.getLong(tix("fee_charged")) == 1000L &&
      fb.getLong(tix("code")) == 1L)
    assert(fb.getUTF8String(tix("inner_hash")).toString ==
      hash(77).map("%02x".format(_)).mkString)
    assert(fb.getLong(tix("inner_fee_charged")) == 600L &&
      fb.getLong(tix("inner_code")) == 0L)
    assert(fb.getLong(tix("n_op_results")) == 1L)
    assert(fb.getArray(tix("op_results")).getStruct(0, OR.length)
      .getLong(oix("merge_balance")) == 42L)
    // NO_ISSUER carries an asset and still parses
    val noIss = new OpW().w64(1L).w32(-1L & 0xffffffffL).w32(1L)
    noIss.w32(0L).w32(2L).w32(-9L & 0xffffffffL).w32(0L) // native asset
    noIss.w32(0L)
    assert(XdrTxResult.decode(noIss.bytes) != null)
    // rejects: positive non-fee-bump code, op code past the floor,
    // unknown atom kind, unknown offer effect, prefixes, trailing byte
    assert(XdrTxResult.decode(
      new OpW().w64(1L).w32(2L).w32(0L).bytes) == null)
    assert(XdrTxResult.decode(new OpW().w64(1L).w32(0L).w32(1L)
      .w32(-7L & 0xffffffffL).w32(0L).bytes) == null)
    assert(XdrTxResult.decode({
      val w = new OpW().w64(1L).w32(0L).w32(1L)
      w.w32(0L).w32(3L).w32(0L).w32(1L).w32(3L)
      w.bytes
    }) == null, "atom kind 3")
    assert(XdrTxResult.decode({
      val w = new OpW().w64(1L).w32(0L).w32(1L)
      w.w32(0L).w32(3L).w32(0L).w32(0L).w32(3L).w32(0L)
      w.bytes
    }) == null, "offer effect 3")
    // a POSITIVE per-type result code names a union arm no result enum
    // defines (every family is SUCCESS=0 / negative failures) — it must
    // quarantine, not decode to a 'valid' void row
    assert(XdrTxResult.decode(new OpW().w64(1L).w32(0L).w32(1L)
      .w32(0L).w32(1L).w32(7L).w32(0L).bytes) == null, "payment rc 7")
    assert(XdrTxResult.decode(new OpW().w64(1L).w32(0L).w32(1L)
      .w32(0L).w32(6L).w32(1L).w32(0L).bytes) == null, "change_trust rc 1")
    val full = okW.bytes
    (0 until full.length).foreach { n =>
      assert(XdrTxResult.decode(full.take(n)) == null, s"prefix $n")
    }
    assert(XdrTxResult.decode(full :+ 0.toByte) == null)
  }

  test("codegen path: the registered function decodes inside a real " +
      "plan and agrees with the interpreted parser on every row") {
    val rows = shapes.zipWithIndex.map { case (b, i) => (i.toLong, b) }
    val df = rows.toDF("i", "bin")
      .withColumn("h", call_function("graft_xdr_ledger_header", col("bin")))
      .select(col("i"), col("h.ledger_seq"), col("h.upgrade_count"),
        col("h.signed"), col("h.flags"),
        lower(hex(col("h.previous_ledger_hash"))).as("ph"))
    val got = df.collect().sortBy(_.getLong(0))
    assert(got.length == shapes.length)
    got.foreach { r =>
      val interp = XdrLedgerHeader.decode(shapes(r.getLong(0).toInt))
      assert(r.getLong(1) == interp.getLong(8))
      assert(r.getLong(2) == interp.getLong(4))
      assert(r.getBoolean(3) == interp.getBoolean(5))
      assert(r.getLong(4) == interp.getLong(16))
      assert(r.getString(5) ==
        interp.getBinary(1).map("%02x".format(_)).mkString)
    }
  }
}
