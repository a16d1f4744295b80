package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal plumbing — frame sampling, REAL javax.imageio decode /
  * resample / dHash — and the sort-free oldest-per-key aggregate.
  */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  /** REAL resize: decode the payload, area-average resample to
    * `targetW`x`targetH` (the same exact integer arithmetic as
    * `decodeGrid` — a resized image IS the decode grid re-encoded), and
    * re-encode as grayscale PNG. Undecodable payloads keep their row with
    * ok = false and a null payload. */
  private def resizeImage(media: DataFrame, idCol: String, payloadCol: String,
                          targetW: Int, targetH: Int): DataFrame = {
    val grids = Multimodal.decodeGrid(media, idCol, payloadCol, targetW, targetH)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ok", BooleanType),
      StructField("orig_w", LongType),
      StructField("orig_h", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    grids.mapPartitions { rows =>
      rows.map { r =>
        if (!r.getBoolean(1)) Row(r.getLong(0), false, 0L, 0L, null)
        else {
          // the array column surfaces as a primitive long[] here
          val grid: Array[Long] = r.get(4) match {
            case a: Array[Long] => a
            case s: scala.collection.Seq[_] =>
              s.asInstanceOf[scala.collection.Seq[Long]].toArray
          }
          Row(r.getLong(0), true, r.getLong(2), r.getLong(3),
            Multimodal.pngBytes(targetW, targetH)((x, y) => grid(y * targetW + x).toInt))
        }
      }
    }(enc)
  }

  /** Encode one MJPEG AVI: each frame law is JPEG-encoded by
    * javax.imageio and wrapped in '00dc' chunks — the REAL lossy-codec
    * fixture (checked by Hamming tolerance, not an exact oracle). */
  private def aviMjpegBytes(w: Int, h: Int, nFrames: Int, fps: Int)
                           (f: (Int, Int, Int) => Int): Array[Byte] =
    Multimodal.aviContainer(w, h, fps, Multimodal.FOURCC_MJPG, (0 until nFrames).map { t =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) raster.setSample(x, y, 0, f(t, x, y) & 0xff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    })

  test("sampleFrames: strided frames, empty payload keeps one empty frame") {
    val docs = Seq(
      (1L, "a" * 600), // frames at 0, 256, 512
      (2L, ""),        // one empty frame
      (3L, "xyz")      // one short frame
    ).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(docs, "doc_id", "text", stride = 256, frameLen = 64)
      .orderBy("doc_id", "frame_idx").collect()
    assert(frames.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq ==
      Seq((1L, 0L, 64L), (1L, 1L, 64L), (1L, 2L, 64L), (2L, 0L, 0L), (3L, 0L, 3L)))
    // empty frame hashes like md5("")
    assert(frames(3).getString(2) == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("decodeGrid: real PNG decode reproduces the pixel law exactly — " +
      "cells are the truncating block means; bad payloads keep an " +
      "ok=false row") {
    val media = Multimodal.synthPngTable(spark, n = 3, w = 32, h = 32)
      .unionByName(Seq((99L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload"))
    val out = Multimodal.decodeGrid(media, "doc_id", "payload", gw = 8, gh = 8)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    out.take(3).foreach { r =>
      val d = r.getLong(0)
      assert(r.getBoolean(1) && r.getLong(2) == 32L && r.getLong(3) == 32L)
      val grid = r.getSeq[Long](4)
      // replay the derivation from the law: decode∘encode must be the
      // identity on the pixels (PNG is lossless), so each cell is the
      // block mean of (d*31 + x*7 + y*13) % 256 over its 4x4 block
      val expect = for (cy <- 0 until 8; cx <- 0 until 8) yield {
        val s = (for (y <- cy * 4 until cy * 4 + 4; x <- cx * 4 until cx * 4 + 4)
          yield (d * 31 + x * 7 + y * 13) % 256).sum
        s / 16
      }
      assert(grid == expect, s"doc $d grid mismatch")
    }
    assert(!out(3).getBoolean(1) && out(3).getSeq[Long](4).isEmpty,
      "undecodable payload must surface as ok=false, not vanish")
  }

  test("dhash64 over real pixels: a recompressed copy hashes identically, " +
      "a one-pixel shift stays within a small Hamming budget, different " +
      "content flips many bits, and the exact md5 is blind to both") {
    // a smooth-ish deterministic scene: coarse blocks + gentle ramp (real
    // dHash tolerance comes from resampling smoothness, so the fixture
    // must not be pixel-noise)
    def scene(x: Int, y: Int): Int =
      ((x / 4) * 23 + (y / 4) * 31 + x * 2 + y) % 256
    val a = Multimodal.pngBytes(36, 32)(scene)
    // shifted: the same scene sampled one pixel to the right (cyclic)
    val shifted = Multimodal.pngBytes(36, 32)((x, y) => scene((x + 1) % 36, y))
    // rescaled copy: decode a and re-encode at HALF size through the
    // real resize path — different bytes AND different dimensions, the
    // transform every exact hash is blind to. (Re-encoding at the SAME
    // size is byte-identical here: one deterministic PNG writer on
    // identical pixels reproduces the file, which is itself a roundtrip
    // exactness proof but not a dedup fixture.)
    val recompressed = resizeImage(
      Seq((1L, a)).toDF("doc_id", "payload"), "doc_id", "payload",
      targetW = 18, targetH = 16).collect()(0).getAs[Array[Byte]]("payload")
    val other = Multimodal.pngBytes(36, 32)((x, y) => ((x * x + 3 * y * y) % 251))
    val media = Seq((1L, a), (2L, shifted), (3L, recompressed), (4L, other))
      .toDF("doc_id", "payload")
    val hs = Multimodal.decodeGrid(media, "doc_id", "payload", gw = 9, gh = 8)
      .withColumn("ph", Multimodal.dhash64("grid"))
      .orderBy("doc_id").collect().map(_.getAs[Long]("ph"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(hs(0), hs(2)) <= 12,
      s"half-size rescale must stay near: hamming ${ham(hs(0), hs(2))}")
    assert(ham(hs(0), hs(1)) <= 12,
      s"one-pixel shift must stay near: hamming ${ham(hs(0), hs(1))}")
    assert(ham(hs(0), hs(3)) >= 20,
      s"different content must be far: hamming ${ham(hs(0), hs(3))}")
    // the byte hashes all differ — exact identity sees four distinct blobs
    assert(Seq(a, shifted, recompressed, other)
      .map(b => java.util.Arrays.hashCode(b)).distinct.length == 4)
  }

  test("imageDupPairs: planted shifted copies pair within the Hamming " +
      "budget across distinct byte payloads; hot monochrome bands are skipped") {
    val base = Multimodal.synthPngTable(spark, n = 6, w = 32, h = 32)
    val copies = Multimodal.synthPngTable(spark, n = 6, w = 32, h = 32,
      idOffset = 100L, xShift = 1)
    val media = base.unionByName(copies)
    val pairs = Multimodal.imageDupPairs(
        media, "doc_id", "payload", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spark.sharedState.cacheManager.clearCache()
    // perceptual closeness holds for EVERY planted pair (direct hash,
    // no banding): a one-pixel shift stays within 16 of 64 bits
    val hs = Multimodal.decodeGrid(media, "doc_id", "payload", 9, 8)
      .withColumn("ph", Multimodal.dhash64("grid"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("ph")).toMap
    (0L until 6L).foreach { d =>
      val ham = java.lang.Long.bitCount(hs(d) ^ hs(d + 100L))
      assert(ham <= 16, s"planted pair ($d,${d + 100}) too far: $ham")
    }
    // the banded candidate generator is an LSH: recall is guaranteed
    // only at Hamming <= 3 (pigeonhole over 4 x 16-bit bands) and
    // probabilistic beyond — most planted pairs must surface, and every
    // surfaced pair must be within budget
    val planted = pairs.count(p => p._2 == p._1 + 100L)
    assert(planted >= 3, s"banded recall collapsed: ${pairs.toSeq}")
    assert(pairs.forall(_._3 <= 8L))
    // pigeonhole: any pair at Hamming <= 3 MUST surface
    val within3 = (0L until 6L).filter(d =>
      java.lang.Long.bitCount(hs(d) ^ hs(d + 100L)) <= 3)
    within3.foreach { d =>
      assert(pairs.exists(p => p._1 == d && p._2 == d + 100L),
        s"Hamming<=3 pair ($d,${d + 100}) must be guaranteed by pigeonhole")
    }
    // hot-band guard: many monochrome images share every band (dhash 0)
    // — with maxBucket below the group size they must produce NO pairs
    val mono = Multimodal.synthPngTable(spark, n = 12, w = 32, h = 32)
      .select(col("doc_id"),
        lit(Multimodal.pngBytes(32, 32)((_, _) => 128)).as("payload"))
    val monoPairs = Multimodal.imageDupPairs(mono, "doc_id", "payload",
      maxHamming = 8, maxBucket = 5L)
    assert(monoPairs.count() == 0,
      "boilerplate monochrome buckets must be skipped, not enumerated")
    spark.sharedState.cacheManager.clearCache()
  }

  test("resizeImage: real decode + area-average resample + PNG re-encode; " +
      "the resized payload decodes back to exactly the decodeGrid cells") {
    val media = Multimodal.synthPngTable(spark, n = 2, w = 32, h = 32)
    val resized = resizeImage(media, "doc_id", "payload",
      targetW = 8, targetH = 8)
    val rows = resized.orderBy("doc_id").collect()
    assert(rows.forall(r => r.getBoolean(1) && r.getLong(2) == 32L))
    // decode the RESIZED payloads at identity grid: must equal the
    // direct 8x8 decode grid of the originals (resize IS the grid)
    val back = Multimodal.decodeGrid(resized, "doc_id", "payload", 8, 8)
      .orderBy("doc_id").collect().map(_.getSeq[Long](4))
    val direct = Multimodal.decodeGrid(media, "doc_id", "payload", 8, 8)
      .orderBy("doc_id").collect().map(_.getSeq[Long](4))
    assert(back.toSeq == direct.toSeq)
    // undecodable input keeps an ok=false row with a null payload
    val bad = resizeImage(
      Seq((7L, Array[Byte](9, 9))).toDF("doc_id", "payload"),
      "doc_id", "payload", 8, 8).collect()(0)
    assert(!bad.getBoolean(1) && bad.get(4) == null)
  }

  test("frameDupPairs: identical payloads share every frame (containment " +
      "1.0); a shifted copy misses all strided frames; threshold filters") {
    val base = (1 to 600).map(i => s"w$i").mkString(" ") // > 2 frames
    val d = Seq(
      (1L, base), (2L, base),          // exact duplicate pair
      (3L, "zz " + base),              // shifted: strided slices all differ
      (4L, (1 to 600).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Multimodal.frameDupPairs(d, "doc_id", "text", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    spark.sharedState.cacheManager.clearCache()
    assert(out.length == 1, s"only the exact pair qualifies: ${out.toSeq}")
    val (a, b, shared, cont) = out.head
    assert((a, b) == (1L, 2L) && cont == 1.0 && shared >= 2L)
  }

  test("phash: identical payloads at Hamming 0; the shifted copy exact " +
      "hashing is blind to pairs via phashDupPairs; different content does not") {
    val base = (1 to 600).map(i => s"w$i").mkString(" ")
    // "different content" for a distribution-based perceptual hash means a
    // different intensity distribution — uppercase + punctuation vs the
    // base's lowercase + digits. (A q-for-w swap alone keeps ~the same
    // histogram and SHOULD pair perceptually, like two photos of the same
    // scene: that near-miss is frameDupPairs' exact-md5 job to separate.)
    val other = (1 to 600).map(i =>
      s"Q${('A' + i % 26).toChar}${('A' + (i / 26) % 26).toChar}!").mkString("; ")
    val d = Seq(
      (1L, base),
      (3L, "zz " + base),   // shifted copy
      (4L, other))          // different content
      .toDF("doc_id", "text")
    // the exact-md5 path misses the shifted copy entirely (the r4 spec's
    // documented blind spot)
    assert(Multimodal.frameDupPairs(d, "doc_id", "text", minShared = 2)
      .collect().isEmpty)
    // identical payloads: every frame pair at Hamming 0
    val same = Multimodal.phashDupPairs(
        Seq((1L, base), (2L, base)).toDF("doc_id", "text"),
        "doc_id", "text", maxHamming = 0, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    spark.sharedState.cacheManager.clearCache()
    assert(same.toSeq == Seq((1L, 2L, 0L)), s"identical: ${same.toSeq}")
    // the shifted copy lands within the Hamming budget with MANY
    // corroborating frames; unrelated content can produce the odd
    // accidental frame collision (the LSH-family tail), which the
    // minShared corroboration threshold screens out at the doc level
    val pairs = Multimodal.phashDupPairs(d, "doc_id", "text",
        maxHamming = 8, minShared = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    spark.sharedState.cacheManager.clearCache()
    assert(pairs.contains((1L, 3L)),
      s"shifted copy must pair perceptually: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated content must not pair: $pairs")
  }

  test("frameDupPairs degenerate-bucket guards: empty payloads never pair " +
      "via the shared md5('') frame; hot buckets over maxBucket are skipped") {
    val base = (1 to 600).map(i => s"w$i").mkString(" ")
    // two empty docs + an exact-dup pair: without the zero-length guard
    // the empties would share one frame hash (md5 of the empty slice)
    val withEmpties = Seq((1L, ""), (2L, ""), (3L, base), (4L, base))
      .toDF("doc_id", "text")
    val out = Multimodal.frameDupPairs(withEmpties, "doc_id", "text",
        minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    spark.sharedState.cacheManager.clearCache()
    assert(out == Set((3L, 4L)), s"empty docs must never pair: $out")
    // hot-bucket skip: many docs sharing one boilerplate prefix frame —
    // with maxBucket below the group size the shared frame contributes
    // no pairs, and the genuinely-duplicated pair still surfaces via its
    // OTHER frames
    val boiler = (1 to 300).map(i => s"b$i").mkString(" ") // shared frame 0
    val hot = ((1L to 20L).map(id => (id, boiler + " " + s"x$id-" * 150)) :+
      (98L, boiler + " " + base) :+ (99L, boiler + " " + base))
      .toDF("doc_id", "text")
    val hotOut = Multimodal.frameDupPairs(hot, "doc_id", "text",
        minShared = 1, maxBucket = 10L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    spark.sharedState.cacheManager.clearCache()
    assert(hotOut.contains((98L, 99L)),
      s"the real duplicate must survive the hot-bucket skip: $hotOut")
    assert(hotOut.forall { case (a, b) => a == 98L && b == 99L },
      s"boilerplate-only pairs must be suppressed: $hotOut")
  }

  test("decodeAudio: real javax.sound.sampled decode reproduces the " +
      "sample law exactly; malformed and too-short payloads keep ok=false") {
    val media = Multimodal.synthWavTable(spark, n = 2, nSamples = 640,
        sampleRate = 8000)
      .unionByName(Seq(
        (90L, Array[Byte](1, 2, 3, 4)),                        // not a WAV
        (91L, Multimodal.wavBytes(16, 8000)(i => i)))          // < windows
        .toDF("doc_id", "payload"))
    val out = Multimodal.decodeAudio(media, "doc_id", "payload", windows = 64)
      .orderBy("doc_id").collect()
    out.take(2).foreach { r =>
      val d = r.getLong(0)
      def law(i: Int): Long = ((d * 31 + i.toLong * 7) % 65536) - 32768
      assert(r.getBoolean(1) && r.getLong(2) == 8000L && r.getLong(3) == 640L)
      assert(r.getLong(4) == 80L, "640 samples at 8 kHz = 80 ms")
      val (peak, energy) = ((0 until 640).map(i => math.abs(law(i))).max,
        (0 until 640).map(i => law(i) * law(i)).sum)
      assert(r.getLong(5) == peak && r.getLong(6) == energy,
        s"doc $d stats mismatch: ${r.toSeq}")
      val we = new Array[Long](64)
      (0 until 640).foreach(i => we(i * 64 / 640) += law(i) * law(i))
      val afp = (0 until 63).map(k =>
        if (we(k) > we(k + 1)) 1L << k else 0L).sum
      assert(r.getLong(7) == afp, s"doc $d fingerprint mismatch")
    }
    assert(!out(2).getBoolean(1) && !out(3).getBoolean(1),
      "bad payloads must surface as ok=false, not vanish")
  }

  test("audio fingerprint: a slightly time-shifted copy stays within a " +
      "small Hamming budget while a different envelope is far — and the " +
      "dedup machinery is the SAME hashDupPairs the image path uses") {
    // a bumpy but smooth envelope: per-window level steps with gentle
    // in-window ramps (windows = 3200/64 = 50 samples)
    def scene(i: Int): Int =
      (((i / 50) * 37) % 97) * 300 + (i % 50) * 4 - 16000
    val a = Multimodal.wavBytes(3200, 16000)(scene)
    val shifted = Multimodal.wavBytes(3200, 16000)(i => scene((i + 7) % 3200))
    val other = Multimodal.wavBytes(3200, 16000)(i =>
      (((i / 50) * 61) % 89) * 350 - 14000)
    val media = Seq((1L, a), (2L, shifted), (3L, other)).toDF("doc_id", "payload")
    val hs = Multimodal.decodeAudio(media, "doc_id", "payload", windows = 64)
      .orderBy("doc_id").collect().map(_.getLong(7))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(hs(0), hs(1)) <= 12,
      s"time-shifted copy must stay near: ${ham(hs(0), hs(1))}")
    assert(ham(hs(0), hs(2)) >= 16,
      s"different envelope must be far: ${ham(hs(0), hs(2))}")
    // the image dedup's banded candidate/verify runs unchanged on audio
    // fingerprints — one dedup engine for every modality's 64-bit hash
    val pairs = Multimodal.hashDupPairs(
        Multimodal.decodeAudio(media, "doc_id", "payload", windows = 64)
          .select(col("doc_id"), col("afp").as("phash")),
        maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.sharedState.cacheManager.clearCache()
    assert(pairs.contains((1L, 2L)), s"shifted pair must surface: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated audio must not pair: ${pairs.toSeq}")
  }

  test("audioDupPairs: the end-to-end modality operator finds exactly " +
      "the planted time-shifted copies on the mixed-amplitude fixture") {
    val media = Multimodal.synthAmWavTable(spark, n = 12, blocks = 64,
        blockLen = 200, sampleRate = 16000)
      .unionByName(Multimodal.synthAmWavTable(spark, n = 4, blocks = 64,
        blockLen = 200, sampleRate = 16000, idOffset = 100L, shift = 3))
    val pairs = Multimodal.audioDupPairs(media, "doc_id", "payload",
        windows = 64, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sharedState.cacheManager.clearCache()
    assert(pairs == Set((0L, 100L), (1L, 101L), (2L, 102L), (3L, 103L)),
      s"exactly the planted copies: $pairs")
  }

  test("firstByKeyAgg == firstByKey window on a unique order tuple") {
    val ev = Tables.load(spark, sfDir, "events")
    val byWindow = CurrentState.firstByKey(ev, Seq("user_id"), Seq("ts", "event_id"))
    val byAgg = CurrentState.firstByKeyAgg(ev, Seq("user_id"), Seq("ts", "event_id"))
    assert(byAgg.columns.toSeq == byWindow.columns.toSeq)
    assert(byAgg.except(byWindow).isEmpty && byWindow.except(byAgg).isEmpty)
  }

  test("firstByKeyAgg aggregates partially before the shuffle") {
    // min_by(struct) runs as SortAggregate (struct buffers aren't
    // hash-aggregable), but the scale property is the partial aggregate
    // below the exchange: each map partition reduces to ONE candidate row
    // per key before any data moves — the window form ships every row.
    val ev = Tables.load(spark, sfDir, "events")
    val plan = CurrentState.firstByKeyAgg(ev, Seq("user_id"), Seq("ts", "event_id"))
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val partialIdx = plan.indexOf("partial_min_by")
    val exchangeIdx = plan.indexOf("Exchange")
    assert(partialIdx > 0 && exchangeIdx > 0 && partialIdx > exchangeIdx,
      s"expected partial_min_by below the Exchange in:\n$plan")
  }

  // ---- real video decode (RIFF/AVI)

  /** The video fixture law, evaluated host-side for expectations. */
  private def vLaw(scene: Long, xShift: Int, w: Int)(t: Int, x: Int, y: Int): Long =
    (scene * 31 + ((x + xShift) % w) * 7 + y * 13 + t * 17) % 256

  /** Truncating block-mean grid of one law frame — decodeGrid's exact
    * arithmetic, replayed host-side. */
  private def lawGrid(scene: Long, xShift: Int, w: Int, h: Int, t: Int,
                      gw: Int, gh: Int): Array[Long] = {
    val g = new Array[Long](gh * gw)
    for (cy <- 0 until gh; cx <- 0 until gw) {
      val (y0, y1) = (cy * h / gh, (cy + 1) * h / gh)
      val (x0, x1) = (cx * w / gw, (cx + 1) * w / gw)
      val s = (for (y <- y0 until y1; x <- x0 until x1)
        yield vLaw(scene, xShift, w)(t, x, y)).sum
      g(cy * gw + cx) = s / ((x1 - x0).toLong * (y1 - y0))
    }
    g
  }

  private def lawDhash(grid: Array[Long]): Long =
    (0 until 64).foldLeft(0L) { (acc, k) =>
      if (grid((k / 8) * 9 + k % 8) > grid((k / 8) * 9 + k % 8 + 1))
        acc | (1L << k) else acc
    }

  test("decodeVideo: real RIFF/AVI parse + uncompressed-DIB decode " +
      "reproduces the frame law exactly; malformed payloads keep one " +
      "ok=false row") {
    val media = Multimodal.synthAviTable(spark, n = 2, w = 24, h = 16,
        nFrames = 3, fps = 10)
      .unionByName(Seq((99L, Array[Byte](82, 73, 70, 70, 0, 0))) // truncated RIFF
        .toDF("doc_id", "payload"))
    val out = Multimodal.decodeVideo(media, "doc_id", "payload", gw = 9, gh = 8)
      .orderBy("doc_id", "frame_idx").collect()
    assert(out.length == 2 * 3 + 1)
    out.take(6).foreach { r =>
      val (d, t) = (r.getLong(0), r.getLong(1))
      assert(r.getBoolean(2), s"doc $d frame $t should decode")
      assert(r.getLong(3) == 24L && r.getLong(4) == 16L)
      assert(r.getLong(5) == 3L && r.getLong(6) == 10L && r.getLong(7) == 300L)
      assert(r.getSeq[Long](8).toArray.sameElements(
        lawGrid(d, 0, 24, 16, t.toInt, 9, 8)),
        s"doc $d frame $t grid mismatch")
    }
    val bad = out.last
    assert(bad.getLong(0) == 99L && !bad.getBoolean(2) &&
      bad.getSeq[Long](8).isEmpty)
  }

  test("decodeVideo: MJPEG frames decode through the REAL javax.imageio " +
      "JPEG codec — right shape, and each frame's dHash lands near the " +
      "lossless DIB hash of the same scene") {
    val (w, h, nF) = (64, 48, 3)
    val media = Seq((7L, aviMjpegBytes(w, h, nF, 5)(
      (t, x, y) => vLaw(7L, 0, w)(t, x, y).toInt))).toDF("doc_id", "payload")
    val out = Multimodal.decodeVideo(media, "doc_id", "payload", gw = 9, gh = 8)
      .orderBy("frame_idx").collect()
    assert(out.length == nF)
    out.foreach { r =>
      assert(r.getBoolean(2) && r.getLong(3) == w && r.getLong(4) == h &&
        r.getLong(6) == 5L)
      val jp = lawDhash(r.getSeq[Long](8).toArray)
      val exact = lawDhash(lawGrid(7L, 0, w, h, r.getLong(1).toInt, 9, 8))
      val ham = java.lang.Long.bitCount(jp ^ exact)
      assert(ham <= 16, s"frame ${r.getLong(1)}: JPEG dHash $ham bits off")
    }
  }

  test("videoDupPairs: per-frame-shifted copies pair with their " +
      "originals across distinct payload bytes; frames never pair " +
      "within one video") {
    val media = Multimodal.synthAviTable(spark, n = 6, w = 24, h = 16,
        nFrames = 4, fps = 10)
      .unionByName(Multimodal.synthAviTable(spark, n = 2, w = 24, h = 16,
        nFrames = 4, fps = 10, idOffset = 100L, xShift = 1))
    val pairs = Multimodal.videoDupPairs(media, "doc_id", "payload",
      maxHamming = 8, minShared = 2).collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((0L, 100L)) && keys.contains((1L, 101L)),
      s"planted copies missing from $keys")
    assert(pairs.forall(r => r.getLong(0) != r.getLong(1)))
    // the planted pairs share (nearly) every frame
    pairs.filter(r => Set((0L, 100L), (1L, 101L))((r.getLong(0), r.getLong(1))))
      .foreach(r => assert(r.getLong(2) >= 3L, s"shared only ${r.getLong(2)}"))
  }
}
