package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** Fuzz battery for the quarantine contract: every whole-record decoder
  * must return a row or NULL on ARBITRARY bytes — never throw, never
  * over-read — because at ingest these run inside codegen'd projections
  * where any escape (a NegativeArraySizeException from a hostile length
  * claim, an index past the buffer, an arithmetic surprise) kills the
  * task instead of routing the record. Deterministic seeds: failures
  * replay.
  */
class XdrFuzzSpec extends AnyFunSuite {

  // the registered record list itself, so a record added later cannot
  // skip this battery
  private val decoders: Seq[(String, Array[Byte] => AnyRef)] =
    XdrRecords.all.map(r => r.sqlName -> (r.decode(_)))

  test("random bytes never throw: every decoder returns row-or-null on " +
      "arbitrary buffers of every small size and on larger random blobs") {
    val rnd = new scala.util.Random(0x5eed)
    decoders.foreach { case (name, decode) =>
      // every length 0..96 with random content
      (0 to 96).foreach { n =>
        val b = new Array[Byte](n)
        rnd.nextBytes(b)
        try decode(b)
        catch {
          case e: Throwable =>
            fail(s"$name threw ${e.getClass.getName} on random len $n")
        }
      }
      // larger blobs
      (1 to 200).foreach { i =>
        val b = new Array[Byte](97 + rnd.nextInt(1500))
        rnd.nextBytes(b)
        try decode(b)
        catch {
          case e: Throwable =>
            fail(s"$name threw ${e.getClass.getName} on blob #$i (${b.length} bytes)")
        }
      }
      // hostile length claims: a buffer that is all 0xFF (every u32 read
      // as a count/length is ~4.29e9; toInt wraps negative) and all 0x7F
      Seq(0xff, 0x7f, 0x80, 0x00).foreach { fill =>
        (4 to 64 by 4).foreach { n =>
          val b = Array.fill[Byte](n)(fill.toByte)
          try decode(b)
          catch {
            case e: Throwable =>
              fail(s"$name threw ${e.getClass.getName} on fill=0x${fill.toHexString} len $n")
          }
        }
      }
    }
  }

  test("single-byte mutations of a VALID record never throw and never " +
      "accept trailing garbage") {
    // one representative valid buffer per decoder family, built with the
    // public-law fixtures' shapes (minimal arms)
    def w(parts: Seq[Long]): Array[Byte] = {
      val bb = new java.io.ByteArrayOutputStream()
      parts.foreach { v =>
        bb.write(((v >> 24) & 0xff).toInt); bb.write(((v >> 16) & 0xff).toInt)
        bb.write(((v >> 8) & 0xff).toInt); bb.write((v & 0xff).toInt)
      }
      bb.toByteArray
    }
    val key = Seq.fill(8)(0x01010101L) // 32 bytes
    val valid: Seq[(String, Array[Byte], Array[Byte] => AnyRef)] = Seq(
      ("ttl", w(key :+ 123L), XdrTtlEntry.decode(_)),
      ("ledger_key offer", w(Seq(2L, 0L) ++ key ++ Seq(0L, 99L)),
        XdrLedgerKey.decode(_)),
      ("config max-size", w(Seq(0L, 7L)), XdrConfigSettingEntry.decode(_)),
      ("trust_line native v0", w(Seq(0L) ++ key ++
        Seq(0L, 0L, 5000L, 0L, 9999L, 1L, 0L)), XdrTrustLineEntry.decode(_)))
    val rnd = new scala.util.Random(0xf00d)
    valid.foreach { case (name, buf, decode) =>
      assert(decode(buf) != null, s"$name fixture self-check")
      assert(decode(buf :+ 0.toByte) == null, s"$name trailing byte")
      // flip every byte through several values
      buf.indices.foreach { i =>
        (1 to 4).foreach { _ =>
          val m = buf.clone()
          m(i) = (rnd.nextInt(256)).toByte
          try decode(m)
          catch {
            case e: Throwable =>
              fail(s"$name threw ${e.getClass.getName} flipping byte $i")
          }
        }
      }
    }
  }
}
