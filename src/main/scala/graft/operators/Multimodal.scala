package graft.operators

import graft.core.Pins
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns plus typed metadata; decode /
  * feature-extraction runs per partition so codec/model initialization
  * amortizes across a batch of rows (the same batching shape `mapInPandas`
  * gives Python). IMAGE decode is REAL — JDK `javax.imageio`, headless
  * ([[decodeGrid]], [[dhash64]], [[imageStats]]) — and so
  * are AUDIO — JDK `javax.sound.sampled` WAV/PCM ([[decodeAudio]], exact
  * stats + the windowed-energy fingerprint) — and VIDEO: [[decodeVideo]]
  * parses the RIFF/AVI container with pure byte arithmetic and decodes
  * uncompressed BGR24 DIB frames directly and MJPEG frames through
  * `javax.imageio`'s real JPEG codec, one exact intensity grid per frame.
  * [[sampleFrames]] remains as the codec-free substring fallback at the
  * same (doc, frame) granularity. All three modalities share one
  * downstream fingerprint/dedup engine ([[hashDupPairs]] runs unchanged
  * on image dHashes, audio fingerprints, and per-frame video dHashes —
  * [[videoDupPairs]]).
  */
object Multimodal {

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("content_hash", StringType),
    StructField("feature", ArrayType(DoubleType))))

  /** Wrap a text/binary source as a media table: (id, media_type, payload). */
  def asMediaTable(docs: DataFrame, idCol: String, payloadCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      (element_at(split(lit("image,audio,video"), ","),
        (col(idCol) % 3 + 1).cast("int"))).as("media_type"),
      col(payloadCol).cast("binary").as("payload"))

  /** Frame sampling: one output row per sampled frame — the distributed
    * shape for video/audio frame extraction (explode to frames, then
    * decode/fingerprint each frame independently downstream). Sampling is
    * strided (`stride` payload units between frame starts, `frameLen`
    * units per frame) and relational (sequence + explode + substring), so
    * it stays inside whole-stage codegen and scales by adding rows, not
    * per-row work; an empty payload yields one empty frame so every doc
    * survives. Each frame carries BOTH fingerprints: the exact md5 (byte
    * identity) and the 64-bit perceptual [[phashExpr]] (near-identity —
    * robust to the small edits/shifts that break every strided md5). A
    * real build swaps the substring "decoder" for the codec's frame
    * reader at the same (doc, frame_idx) granularity.
    */
  def sampleFrames(docs: DataFrame, idCol: String, payloadCol: String,
                   stride: Int = 256, frameLen: Int = 64): DataFrame = {
    require(stride >= 1 && frameLen >= 1)
    val lastFrame = floor((greatest(length(col(payloadCol)), lit(1)) - 1) / stride)
    // Spread BEFORE the per-frame fingerprint work: the grid/phash lambda
    // is the expensive leg, and on a few-split source it would run inside
    // one task (measured 3.5 s single-task cache fill on the sf0.1 corpus
    // vs ~0.2 s spread). Same scan-estimate rule as the text dedup spread
    // — a no-op repartition decision on a many-split production table.
    Dedup.spread(docs).select(
      col(idCol).cast("long").as("doc_id"),
      col(payloadCol).as("__p"),
      explode(sequence(lit(0), lastFrame.cast("int"))).as("frame_idx"))
      .select(
        col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        expr(s"substring(__p, frame_idx * $stride + 1, $frameLen)").as("__f"))
      .withColumn("__g", gridExpr("__f"))
      .select(
        col("doc_id"), col("frame_idx"),
        md5(col("__f")).as("frame_hash"),
        length(col("__f")).cast("long").as("frame_len"),
        phashFromGrid("__f", "__g").as("phash"))
  }

  /** The 8-cell stub intensity grid of a frame: a histogram of character
    * codes (code mod 8) — see [[phashFromGrid]]. Built ONCE per frame
    * (one pass to codes, 8 bucket counts), then the 64-bit fold only
    * reads cells. Eight buckets keep per-cell counts high (~len/8), so
    * comparison margins are wide and a small edit moves few of them.
    */
  private def gridExpr(frameCol: String): org.apache.spark.sql.Column =
    expr(
      s"""transform(sequence(0, 7), b ->
         |  size(filter(
         |    transform(sequence(1, length($frameCol)), p ->
         |      ascii(substring($frameCol, p, 1)) % 8),
         |    c -> c = b)))""".stripMargin)

  /** 64-bit perceptual frame fingerprint over the stub byte grid, from
    * the pairwise-comparison family dHash belongs to (dHash's gradient
    * bits are the adjacent-pair special case): the frame's INTENSITY
    * DISTRIBUTION — the [[gridExpr]] 8-bucket histogram — read out as
    * the full 8x8 comparison tournament, bit j = (g[j div 8] > g[j mod
    * 8]). The histogram is position-free and the cells are dense
    * (~len/8 each), so a few-unit shift or edit moves a few counts by
    * ±1 and flips only the comparisons already within that margin —
    * the tolerance real dHash gets from resampling a smooth image —
    * while different content reshapes the distribution and many bits.
    * Fused sequence/transform/aggregate expressions, no UDF; empty
    * frames hash to 0. A real build swaps the histogram for the decoded
    * luma grid at the same granularity.
    */
  private def phashFromGrid(frameCol: String,
                            gridCol: String): org.apache.spark.sql.Column =
    expr(
      s"""CASE WHEN length($frameCol) = 0 THEN CAST(0 AS BIGINT) ELSE
         |  aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, j) ->
         |    acc + IF(
         |      element_at($gridCol, CAST((j div 8) + 1 AS INT)) >
         |      element_at($gridCol, CAST((j % 8) + 1 AS INT)),
         |      shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)),
         |      CAST(0 AS BIGINT)))
         |END""".stripMargin)

  /** Perceptual frame-level near-duplicate pairs — [[frameDupPairs]]'
    * companion for NEAR-identical (not byte-identical) frames: media
    * pairs with >= minShared frame pairs whose 64-bit perceptual hashes
    * are within `maxHamming` bits. Candidates come from SimHash-style
    * banding (4 x 16-bit bands of the phash — Hamming <= 3 GUARANTEES a
    * shared band by pigeonhole; higher budgets trade recall like any
    * LSH), so only (band, value) keys shuffle and the Hamming verify is
    * candidate-confined: the MinHash-LSH cost envelope at frame-hash
    * granularity. Hot bands (> 1000 frames) are skipped like any
    * boilerplate bucket; empty frames never hash-pair.
    */
  def phashDupPairs(docs: DataFrame, idCol: String, payloadCol: String,
                    stride: Int = 256, frameLen: Int = 64,
                    maxHamming: Int = 8, minShared: Int = 1): DataFrame = {
    require(maxHamming >= 0 && minShared >= 1)
    val fr = Pins.keep(sampleFrames(docs, idCol, payloadCol, stride, frameLen)
      .filter(col("frame_len") > 0)
      .select(col("doc_id"), col("phash")).distinct())
    val banded = fr.select(col("doc_id"), col("phash"),
      explode(sequence(lit(0), lit(3))).as("b"))
      .select(col("doc_id"), col("phash"), col("b"),
        expr("(phash >> (b * 16)) & 65535").as("v"))
    val hot = banded.groupBy("b", "v").agg(count(lit(1)).as("nh"))
      .filter(col("nh") > 1000L).select("b", "v")
    val cool = banded.join(broadcast(hot), Seq("b", "v"), "left_anti")
    val cand = cool.as("x").join(cool.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.phash").as("ha"), col("y.phash").as("hb"))
      // Hamming filter BEFORE the pair distinct (filter ∘ distinct ≡
      // distinct ∘ filter for a deterministic predicate): bit_count is a
      // cheap map-side expression, the distinct is a shuffle of every
      // band collision — filtering first shuffles only the close pairs
      // instead of the whole candidate relation.
      .filter(expr("bit_count(ha ^ hb)").cast("long") <= maxHamming)
      .distinct()
    cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_close"), min(col("hamming")).as("min_hamming"))
      .filter(col("n_close") >= minShared)
  }

  /** Frame-level near-duplicate pairs — the video/image dedup shape
    * production pipelines run (shared keyframes / perceptual-hash
    * collisions): media items whose sampled frame fingerprints coincide
    * in >= minShared frames, scored by containment over the smaller
    * item's distinct frame set. Scale shape is exactly the MinHash-LSH
    * envelope with frame hashes as the buckets: only 32-char digests
    * shuffle (payloads never move), the pair join is digest-keyed, and
    * candidate volume is bounded by per-hash collision groups. A real
    * build swaps [[sampleFrames]]' substring fingerprint for a
    * perceptual hash at the same (doc, frame) granularity.
    */
  def frameDupPairs(docs: DataFrame, idCol: String, payloadCol: String,
                    stride: Int = 256, frameLen: Int = 64,
                    minShared: Int = 2, maxBucket: Long = 1000L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // persisted: the sizes aggregate and both pair-join legs scan the
    // distinct (doc, frame_hash) relation (pinned until the caller's
    // scope ends). Degenerate buckets are guarded like any
    // LSH bucket join: zero-length frames are dropped (every empty
    // payload hashes to the SAME md5(""), an all-pairs bucket), and
    // hash groups larger than maxBucket are skipped — a fingerprint
    // shared by thousands of items is boilerplate, not a duplicate
    // signal, and would cost |group|^2 pairs to say so.
    val fr = Pins.keep(sampleFrames(docs, idCol, payloadCol, stride, frameLen)
      .filter(col("frame_len") > 0)
      .select(col("doc_id"), col("frame_hash")).distinct())
    val sizes = fr.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val hot = fr.groupBy("frame_hash").agg(count(lit(1)).as("nh"))
      .filter(col("nh") > maxBucket).select("frame_hash")
    val cool = fr.join(broadcast(hot), Seq("frame_hash"), "left_anti")
    val pairs = cool.as("x").join(cool.as("y"),
        col("x.frame_hash") === col("y.frame_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("nf_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("nf_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("nf_a"), col("nf_b")).cast("double")).as("containment"))
  }

  // ---- real image decode (JDK javax.imageio — headless, no external
  // codec): PNG encode for deterministic fixtures, decode -> exact
  // integer area-average intensity grid, resample+re-encode, and a real
  // dHash over the decoded pixels. All per-partition batched (codec
  // state initialized once per task), binary-in/binary-or-grid-out.

  /** Encode one grayscale PNG from a pixel law — the deterministic
    * fixture generator (PNG is lossless, so decode∘encode is the
    * identity on the law's values, which is what lets a SQL oracle
    * replay a real binary decode). */
  def pngBytes(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, f(x, y) & 0xff); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic synthetic image table: `n` grayscale `w`x`h` PNGs,
    * pixel(x, y) of doc (idOffset + i) = (i*31 +
    * ((x + xShift) mod w)*7 + y*13) mod 256 — a REAL encoded binary
    * payload whose decoded values an oracle can derive from the law.
    * `xShift` produces cyclically-shifted COPIES of the same scene
    * under a different doc id (the perceptual-dedup fixture: new bytes,
    * near-identical content). Distributed via range + per-partition
    * encode (the fixture analog of a production decode scan's shape). */
  def synthPngTable(spark: SparkSession, n: Int, w: Int, h: Int,
                    idOffset: Long = 0L, xShift: Int = 0): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    spark.range(n).toDF("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val i = r.getLong(0)
        Row(i + idOffset, pngBytes(w, h)((x, y) =>
          ((i * 31 + ((x + xShift) % w) * 7 + y * 13) % 256).toInt))
      }
    }(enc)
  }

  /** Image-level perceptual near-duplicate pairs over REAL decoded
    * pixels — [[phashDupPairs]]' whole-image companion: each payload is
    * decoded ([[decodeGrid]]) to the 9x8 intensity grid, dHashed
    * ([[dhash64]]), and images whose 64-bit hashes are within
    * `maxHamming` bits pair up. Candidates come from SimHash-style
    * banding (4 x 16-bit bands — Hamming <= 3 guarantees a shared band
    * by pigeonhole), so only (band, value) keys shuffle, the Hamming
    * verify is candidate-confined, and hot bands (> maxBucket images —
    * monochrome boilerplate) are skipped like any LSH bucket. Pixels
    * never leave the decode task; everything after it is 8-byte hashes.
    */
  def imageDupPairs(media: DataFrame, idCol: String, payloadCol: String,
                    maxHamming: Int = 8, maxBucket: Long = 1000L): DataFrame =
    hashDupPairs(imageHashes(media, idCol, payloadCol), maxHamming, maxBucket)

  /** The decode half of [[imageDupPairs]]: (doc_id, 64-bit dHash) per
    * decodable image — the per-item fingerprint an INCREMENTAL image
    * pipeline folds into its index (hashes are tiny and mergeable; the
    * pair join runs over the accumulated index, not the payload log).
    */
  def imageHashes(media: DataFrame, idCol: String, payloadCol: String): DataFrame =
    decodeGrid(media, idCol, payloadCol, gw = 9, gh = 8)
      .filter(col("ok"))
      .withColumn("phash", dhash64("grid"))
      .select(col("doc_id"), col("phash"))

  /** The candidate/verify half of [[imageDupPairs]] over a prepared
    * (doc_id, phash) relation. */
  def hashDupPairs(hashedIn: DataFrame, maxHamming: Int = 8,
                   maxBucket: Long = 1000L): DataFrame = {
    require(maxHamming >= 0 && maxBucket >= 2)
    // filled eagerly: the hot-bucket aggregate and BOTH self-join legs
    // read this pin from concurrent subplans of one action, and each
    // lazy reference could recompute the expensive upstream (real
    // image/video decode). Pinned until the caller's scope ends, like the
    // other lazy-returning dedup relations.
    val hashed = Pins.fill(hashedIn.select(col("doc_id"), col("phash")))
    val banded = hashed.select(col("doc_id"), col("phash"),
      explode(sequence(lit(0), lit(3))).as("b"))
      .select(col("doc_id"), col("phash"), col("b"),
        expr("(phash >> (b * 16)) & 65535").as("v"))
    val hot = banded.groupBy("b", "v").agg(count(lit(1)).as("nh"))
      .filter(col("nh") > maxBucket).select("b", "v")
    val cool = banded.join(broadcast(hot), Seq("b", "v"), "left_anti")
    cool.as("x").join(cool.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.phash").as("ha"), col("y.phash").as("hb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** REAL image decode -> exact integer area-average intensity grid:
    * javax.imageio decodes the payload (PNG/JPEG/BMP/GIF — whatever the
    * JDK readers handle, headless), per-pixel intensity is the raw
    * sample for single-band images and the integer luma
    * (299r+587g+114b) div 1000 otherwise, and the `gw`x`gh` grid cell
    * (cy, cx) is the TRUNCATING mean of the pixel block
    * [floor(cx*w/gw), floor((cx+1)*w/gw)) x [floor(cy*h/gh),
    * floor((cy+1)*h/gh)) — every step integer, so the derivation is
    * bit-replayable by any engine from the same pixels. Output one row
    * per media item: (doc_id, ok, w, h, grid[gh*gw] row-major); an
    * undecodable or too-small payload keeps its row with ok = false and
    * an empty grid (observable, never silently dropped). Decode runs
    * per-partition (reader state amortized across the batch — the
    * mapInPandas batching shape); only the grid leaves the task, so
    * shuffles never carry pixels.
    */
  def decodeGrid(media: DataFrame, idCol: String, payloadCol: String,
                 gw: Int, gh: Int): DataFrame = {
    require(gw >= 1 && gh >= 1, s"grid dims must be >= 1, got ${gw}x$gh")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ok", BooleanType),
      StructField("w", LongType),
      StructField("h", LongType),
      StructField("grid", ArrayType(LongType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val (idIdx, payIdx) = (idCol, payloadCol)
    media.select(col(idIdx).cast("long").as("doc_id"),
        col(payIdx).cast("binary").as("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val img =
            if (bytes == null || bytes.isEmpty) null
            else
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              catch { case _: java.io.IOException => null }
          if (img == null || img.getWidth < gw || img.getHeight < gh)
            Row(d, false, 0L, 0L, Array.empty[Long])
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            Row(d, true, w.toLong, h.toLong, boxMeanGrid(w, h, gw, gh, imageLuma(img)))
          }
        }
      }(enc)
  }

  /** Real dHash (difference hash) over a decoded 8x9 intensity grid
    * column — THE standard perceptual image fingerprint: bit k
    * (k = row*8 + col, rows 0..7, cols 0..7) is grid[row*9+col] >
    * grid[row*9+col+1], the sign of the horizontal luminance gradient.
    * Resampling smooths small shifts/recompression into few sign flips
    * (low Hamming distance) while different content flips many bits.
    * Fused sequence/aggregate expression — codegen, no UDF; an empty
    * grid (failed decode) hashes to 0.
    */
  def dhash64(gridCol: String): org.apache.spark.sql.Column =
    expr(
      s"""CASE WHEN size($gridCol) < 72 THEN CAST(0 AS BIGINT) ELSE
         |  aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, k) ->
         |    acc + IF(
         |      element_at($gridCol, CAST((k div 8) * 9 + (k % 8) + 1 AS INT)) >
         |      element_at($gridCol, CAST((k div 8) * 9 + (k % 8) + 2 AS INT)),
         |      shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)),
         |      CAST(0 AS BIGINT)))
         |END""".stripMargin)

  /** Image quality stats over REAL decoded pixels — the blank/low-
    * contrast filter leg an image-corpus curation pass runs before
    * training: per image the decoded dimensions, the grid's min/max/sum
    * intensity (integers — exactly replayable), the integer mean, and
    * the `is_flat` verdict (max-min spread under 8 — blank
    * frames, solid fills, footer slates). Computed on the [[decodeGrid]]
    * cells, so the scan stays one decode pass and the stats are fused
    * array folds (codegen, no UDF past the decode).
    */
  def imageStats(media: DataFrame, idCol: String, payloadCol: String,
                 gw: Int = 8, gh: Int = 8): DataFrame =
    decodeGrid(media, idCol, payloadCol, gw, gh)
      .filter(col("ok"))
      .select(col("doc_id"), col("w"), col("h"),
        expr("array_min(grid)").as("cell_min"),
        expr("array_max(grid)").as("cell_max"),
        expr("aggregate(grid, CAST(0 AS BIGINT), (a, x) -> a + x)").as("cell_sum"))
      .withColumn("cell_mean", expr(s"cell_sum div ${gw * gh}L"))
      .withColumn("is_flat", col("cell_max") - col("cell_min") < 8)

  // ---- real audio decode (JDK javax.sound.sampled — WAV/PCM needs no
  // external codec): WAV encode for deterministic fixtures, decode ->
  // exact integer sample stats + a windowed-energy fingerprint (the
  // audio analog of dHash).

  /** Encode one 16-bit signed little-endian mono PCM WAV from a sample
    * law — the audio fixture generator (PCM is raw: decode∘encode is the
    * identity on the samples, so a SQL oracle can replay a real binary
    * audio decode exactly like the PNG path). */
  def wavBytes(nSamples: Int, sampleRate: Int)(f: Int => Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(1)                       // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)            // byte rate
      .putShort(2)                       // block align
      .putShort(16)                      // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nSamples) {
      // two's-complement truncation: in-range values are exact, the
      // 16-bit wrap is the natural PCM semantics for anything else
      bb.putShort(f(i).toShort)
      i += 1
    }
    bb.array()
  }

  /** Deterministic synthetic audio table: `n` mono 16-bit WAVs, sample i
    * of doc d = ((d*31 + i*7) mod 65536) - 32768. */
  def synthWavTable(spark: SparkSession, n: Int, nSamples: Int,
                    sampleRate: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    spark.range(n).toDF("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(0)
        Row(d, wavBytes(nSamples, sampleRate)(i =>
          (((d * 31 + i.toLong * 7) % 65536) - 32768).toInt))
      }
    }(enc)
  }

  /** Amplitude-modulated audio fixture for PERCEPTUAL dedup: sample i of
    * doc d is `(((i+shift) % blockLen) - blockLen/2) * amp(d, w)` with
    * `w = (i+shift)/blockLen` and `amp = (d*31 + w*7 + d*w*13 +
    * d*w*w*5) % 64` — a triangle-ish carrier modulated per
    * `blockLen`-sample block by a doc-AND-block mixed amplitude (the
    * d·w cross terms decorrelate docs: a linear law makes every doc's
    * envelope a phase shift of one cyclic sequence and floods the
    * Hamming neighborhood), so [[decodeAudio]]'s fingerprint bits are a
    * per-doc pseudo-random pattern instead of the monotone ramp
    * [[synthWavTable]] produces. `shift` advances the whole signal in
    * time: new bytes (exact hashing sees a distinct blob), near-equal
    * block energies (a small shift perturbs ≤shift/blockLen of each
    * window), so the fingerprint survives — the audio analog of the
    * one-pixel-shifted PNG. */
  def synthAmWavTable(spark: SparkSession, n: Int, blocks: Int,
                      blockLen: Int, sampleRate: Int, idOffset: Long = 0L,
                      shift: Int = 0): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val nSamples = blocks * blockLen
    spark.range(n).toDF("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(0)
        Row(d + idOffset, wavBytes(nSamples, sampleRate) { i =>
          val j = (i + shift).toLong
          val w = j / blockLen
          (((j % blockLen) - blockLen / 2) *
            ((d * 31 + w * 7 + d * w * 13 + d * w * w * 5) % 64)).toInt
        })
      }
    }(enc)
  }

  /** Audio-level perceptual dedup: decode ([[decodeAudio]]) to the
    * 63-bit windowed-energy fingerprint, then the shared banded-Hamming
    * candidate/verify kernel ([[hashDupPairs]]) — time-shifted or
    * re-encoded copies (invisible to exact byte hashing) pair up at
    * small Hamming distance. Samples never leave the decode task;
    * everything after it is 8-byte fingerprints. */
  def audioDupPairs(media: DataFrame, idCol: String, payloadCol: String,
                    windows: Int = 64, maxHamming: Int = 8,
                    maxBucket: Long = 1000L): DataFrame =
    hashDupPairs(audioFingerprints(media, idCol, payloadCol, windows),
      maxHamming, maxBucket)

  /** The decode half of [[audioDupPairs]]: (doc_id, fingerprint) per
    * decodable clip — the per-item fingerprint an incremental audio
    * pipeline folds into its index. */
  def audioFingerprints(media: DataFrame, idCol: String,
                        payloadCol: String, windows: Int = 64): DataFrame =
    decodeAudio(media, idCol, payloadCol, windows)
      .filter(col("ok"))
      .select(col("doc_id"), col("afp").as("phash"))

  /** REAL audio decode via JDK javax.sound.sampled: parse the container
    * with `AudioSystem.getAudioInputStream` (format, rate, channels from
    * the actual header — a malformed payload keeps its row with
    * ok = false), read the PCM frames, and emit exact integer stats plus
    * a 63-bit WINDOWED-ENERGY fingerprint — the audio analog of dHash:
    * the stream splits into `windows` equal windows, each window's
    * energy is the exact Σ sample² (BIGINT), and bit k is
    * energy[k] > energy[k+1] — the sign of the energy envelope's
    * gradient, robust to small time shifts and level-preserving
    * re-encodes the way dHash is to pixel shifts. Only 16-bit mono PCM
    * is accepted (the declared fixture contract); everything else is an
    * observable ok = false. Per-partition batched; samples never leave
    * the decode task.
    */
  def decodeAudio(media: DataFrame, idCol: String, payloadCol: String,
                  windows: Int = 64): DataFrame = {
    require(windows >= 2 && windows <= 64, s"windows in [2,64], got $windows")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ok", BooleanType),
      StructField("sample_rate", LongType),
      StructField("n_samples", LongType),
      StructField("duration_ms", LongType),
      StructField("peak", LongType),
      StructField("energy", LongType),
      StructField("afp", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).cast("binary").as("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val parsed =
            try {
              if (bytes == null || bytes.isEmpty) None
              else {
                val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
                  new java.io.ByteArrayInputStream(bytes))
                val fmt = in.getFormat
                if (fmt.getChannels != 1 || fmt.getSampleSizeInBits != 16 ||
                  fmt.getEncoding !=
                    javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
                else {
                  val raw = in.readAllBytes()
                  val n = raw.length / 2
                  val samples = new Array[Int](n)
                  var i = 0
                  while (i < n) {
                    val lo = raw(2 * i) & 0xff
                    val hi = raw(2 * i + 1).toInt
                    samples(i) =
                      if (fmt.isBigEndian) ((raw(2 * i).toInt << 8) | (raw(2 * i + 1) & 0xff))
                      else ((hi << 8) | lo)
                    i += 1
                  }
                  Some((fmt.getSampleRate.toLong, samples))
                }
              }
            } catch { case _: Exception => None }
          parsed match {
            case None => Row(d, false, 0L, 0L, 0L, 0L, 0L, 0L)
            case Some((rate, samples)) if samples.length < windows =>
              Row(d, false, rate, samples.length.toLong, 0L, 0L, 0L, 0L)
            case Some((rate, samples)) =>
              val n = samples.length
              var peak = 0L
              var energy = 0L
              val wEnergy = new Array[Long](windows)
              var i = 0
              while (i < n) {
                val s = samples(i).toLong
                val a = math.abs(s)
                if (a > peak) peak = a
                energy += s * s
                // exact window index: floor(i * windows / n)
                wEnergy((i.toLong * windows / n).toInt) += s * s
                i += 1
              }
              var afp = 0L
              var k = 0
              while (k < windows - 1) {
                if (wEnergy(k) > wEnergy(k + 1)) afp |= 1L << k
                k += 1
              }
              Row(d, true, rate, n.toLong, n.toLong * 1000L / rate,
                peak, energy, afp)
          }
        }
      }(enc)
  }

  // ---- real video decode (pure JDK: RIFF/AVI container parsing is byte
  // arithmetic, uncompressed DIB frames are raw pixels, MJPEG frames are
  // JPEGs javax.imageio decodes): AVI encode for deterministic fixtures,
  // decode -> one exact intensity grid per FRAME, dHash per frame, and
  // video-level perceptual dedup over shared near-identical frames. The
  // DIB path is lossless (decode∘encode is the identity on the pixel
  // law), so a SQL oracle replays a real binary VIDEO decode the same way
  // the PNG/PCM tricks made images and audio checkable.

  private[operators] val FOURCC_MJPG = 0x47504a4d // 'MJPG' little-endian

  /** Encode one AVI container (RIFF -> hdrl(avih, strl(strh,strf)) ->
    * movi) around pre-built frame payloads. `biCompression` 0 writes
    * '00db' uncompressed-DIB chunks; [[FOURCC_MJPG]] writes '00dc' JPEG
    * chunks. Little-endian throughout; odd chunks pad to RIFF word
    * alignment. */
  private[operators] def aviContainer(w: Int, h: Int, fps: Int, biCompression: Int,
                                      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(fps >= 1 && fps <= 1000000)
    val chunkId = if (biCompression == 0) "00db" else "00dc"
    val moviBody = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val hdrlBody = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val riffBody = 4 + (8 + hdrlBody) + (8 + moviBody)
    val bb = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    cc("RIFF"); bb.putInt(riffBody); cc("AVI ")
    cc("LIST"); bb.putInt(hdrlBody); cc("hdrl")
    cc("avih"); bb.putInt(56)
    bb.putInt(1000000 / fps)            // dwMicroSecPerFrame
      .putInt(0).putInt(0).putInt(0)    // maxBytesPerSec, padding, flags
      .putInt(frames.length)            // dwTotalFrames
      .putInt(0).putInt(1).putInt(0)    // initialFrames, streams, bufSize
      .putInt(w).putInt(h)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    cc("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); cc("strl")
    cc("strh"); bb.putInt(56)
    cc("vids"); bb.putInt(biCompression)  // fccType, fccHandler
    bb.putInt(0).putShort(0).putShort(0)  // flags, priority, language
      .putInt(0)                          // initialFrames
      .putInt(1).putInt(fps)              // dwScale, dwRate -> fps
      .putInt(0).putInt(frames.length)    // dwStart, dwLength
      .putInt(0).putInt(-1).putInt(0)     // bufSize, quality, sampleSize
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
    cc("strf"); bb.putInt(40)
    bb.putInt(40).putInt(w).putInt(h)     // biSize, biWidth, biHeight (bottom-up)
      .putShort(1).putShort(24)           // biPlanes, biBitCount
      .putInt(biCompression)
      .putInt(frames.headOption.map(_.length).getOrElse(0))
      .putInt(0).putInt(0).putInt(0).putInt(0)
    cc("LIST"); bb.putInt(moviBody); cc("movi")
    frames.foreach { f =>
      cc(chunkId); bb.putInt(f.length); bb.put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
    }
    bb.array()
  }

  /** One bottom-up BGR24 DIB frame (rows padded to 4 bytes) from a pixel
    * law; gray is written r = g = b = v, so the decoder's integer luma
    * (299r+587g+114b)/1000 returns v exactly — lossless end to end. */
  private def dibFrame(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (f(x, y) & 0xff).toByte
        val o = (h - 1 - y) * stride + x * 3
        out(o) = v; out(o + 1) = v; out(o + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** Encode one uncompressed-DIB AVI from a frame law — the deterministic
    * video fixture generator. */
  def aviBytes(w: Int, h: Int, nFrames: Int, fps: Int)
              (f: (Int, Int, Int) => Int): Array[Byte] =
    aviContainer(w, h, fps, 0,
      (0 until nFrames).map(t => dibFrame(w, h)(f(t, _, _))))

  /** Deterministic synthetic video table: `n` AVIs of `nFrames`
    * `w`x`h` frames, pixel (x, y) of frame t in doc (idOffset + i) =
    * (i*31 + ((x + xShift) mod w)*7 + y*13 + t*17) mod
    * 256. `xShift` produces per-frame-shifted COPIES of the same scene
    * under fresh doc ids (the video perceptual-dedup fixture). */
  def synthAviTable(spark: SparkSession, n: Int, w: Int, h: Int,
                    nFrames: Int, fps: Int = 10, idOffset: Long = 0L,
                    xShift: Int = 0): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    spark.range(n).toDF("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val i = r.getLong(0)
        Row(i + idOffset, aviBytes(w, h, nFrames, fps)((t, x, y) =>
          ((i * 31 + ((x + xShift) % w) * 7 + y * 13 + t * 17) % 256).toInt))
      }
    }(enc)
  }

  /** REAL video decode, pure JDK: parse the RIFF/AVI container (header
    * sizes, stream format, movi chunk walk — byte arithmetic), decode
    * each video frame — uncompressed BGR24 DIB bottom-up with 4-byte row
    * padding, or MJPEG via javax.imageio — to per-pixel integer luma
    * ((299r+587g+114b)/1000), and reduce every frame to the `gw`x`gh`
    * truncating area-average intensity grid ([[decodeGrid]]'s exact
    * arithmetic at frame granularity). Output one row per FRAME:
    * (doc_id, frame_idx, ok, w, h, n_frames, fps, duration_ms,
    * grid[gh*gw] row-major); a malformed container or unsupported codec
    * keeps ONE row with ok = false (observable, never silently dropped),
    * and an undecodable single frame keeps its row with ok = false.
    * Decode runs per-partition; only grids leave the task, so shuffles
    * never carry pixels. */
  def decodeVideo(media: DataFrame, idCol: String, payloadCol: String,
                  gw: Int, gh: Int): DataFrame = {
    require(gw >= 1 && gh >= 1, s"grid dims must be >= 1, got ${gw}x$gh")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", LongType),
      StructField("ok", BooleanType),
      StructField("w", LongType),
      StructField("h", LongType),
      StructField("n_frames", LongType),
      StructField("fps", LongType),
      StructField("duration_ms", LongType),
      StructField("grid", ArrayType(LongType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).cast("binary").as("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val d = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          decodeAviFrames(bytes, gw, gh) match {
            case None =>
              Iterator.single(Row(d, 0L, false, 0L, 0L, 0L, 0L, 0L,
                Array.empty[Long]))
            case Some((w, h, fps, frames)) =>
              val nF = frames.length.toLong
              val durMs = if (fps > 0) nF * 1000L / fps else 0L
              frames.iterator.zipWithIndex.map { case (g, i) =>
                Row(d, i.toLong, g != null, w.toLong, h.toLong, nF,
                  fps.toLong, durMs,
                  if (g == null) Array.empty[Long] else g)
              }
          }
        }
      }(enc)
  }

  /** Integer luma of an 8-bit RGB pixel: (299R + 587G + 114B) / 1000. */
  private def rgbLuma(r: Int, g: Int, b: Int): Long =
    (299L * r + 587L * g + 114L * b) / 1000L

  /** Luma at (x, y) of a decoded image: the sample of a one-band (gray)
    * raster, else [[rgbLuma]] of the packed RGB. */
  private def imageLuma(img: java.awt.image.BufferedImage): (Int, Int) => Long = {
    val raster = img.getRaster
    if (raster.getNumBands == 1) (x, y) => raster.getSample(x, y, 0).toLong
    else (x, y) => {
      val rgb = img.getRGB(x, y)
      rgbLuma((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
    }
  }

  /** The `gw` x `gh` grid of truncating box means of `luma` over a `w` x
    * `h` frame, row-major: cell (cx, cy) averages x in
    * [cx*w/gw, (cx+1)*w/gw) and y in [cy*h/gh, (cy+1)*h/gh). */
  private def boxMeanGrid(w: Int, h: Int, gw: Int, gh: Int,
                          luma: (Int, Int) => Long): Array[Long] = {
    val grid = new Array[Long](gh * gw)
    var cy = 0
    while (cy < gh) {
      val y0 = cy * h / gh; val y1 = (cy + 1) * h / gh
      var cx = 0
      while (cx < gw) {
        val x0 = cx * w / gw; val x1 = (cx + 1) * w / gw
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += luma(x, y); x += 1 }
          y += 1
        }
        grid(cy * gw + cx) = s / ((x1 - x0).toLong * (y1 - y0))
        cx += 1
      }
      cy += 1
    }
    grid
  }

  /** The container/codec half of [[decodeVideo]]: parse one AVI payload
    * to (width, height, fps, per-frame `gw`x`gh` grid or null). None =
    * the container itself is malformed/unsupported. Exposed for specs. */
  def decodeAviFrames(bytes: Array[Byte], gw: Int, gh: Int)
      : Option[(Int, Int, Int, Array[Array[Long]])] = {
    if (bytes == null || bytes.length < 24) return None
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(off: Int): String =
      if (off + 4 > bytes.length) ""
      else new String(bytes, off, 4, "US-ASCII")
    if (cc(0) != "RIFF" || cc(8) != "AVI ") return None
    val riffEnd = math.min(bytes.length.toLong, 8L + bb.getInt(4)).toInt
    var w = 0; var h = 0; var fps = 0
    var bitCount = 0; var compression = 0; var topDown = false
    var haveFmt = false
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    // walk a LIST body [off, end): chunks are fourcc(4) size(4) data pad
    def walk(off0: Int, end: Int, depth: Int): Unit = {
      var off = off0
      while (off + 8 <= end && depth < 8) {
        val id = cc(off)
        val size = bb.getInt(off + 4)
        if (size < 0 || off + 8 + size > end) return
        if (id == "LIST") {
          val listType = cc(off + 8)
          if (listType == "hdrl" || listType == "strl" || listType == "movi")
            walk(off + 12, off + 8 + size, depth + 1)
        } else if (id == "avih" && size >= 40) {
          val usPerFrame = bb.getInt(off + 8)
          if (fps == 0 && usPerFrame > 0) fps = 1000000 / usPerFrame
        } else if (id == "strh" && size >= 48 && cc(off + 8) == "vids") {
          val scale = bb.getInt(off + 8 + 20)
          val rate = bb.getInt(off + 8 + 24)
          if (scale > 0 && rate > 0) fps = rate / scale
        } else if (id == "strf" && size >= 40 && !haveFmt) {
          w = bb.getInt(off + 8 + 4)
          val bih = bb.getInt(off + 8 + 8)
          topDown = bih < 0
          h = math.abs(bih)
          bitCount = bb.getShort(off + 8 + 14).toInt
          compression = bb.getInt(off + 8 + 16)
          haveFmt = true
        } else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
          (id.substring(2) == "db" || id.substring(2) == "dc")) {
          frames += java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + size)
        }
        off += 8 + size + (size & 1)
      }
    }
    walk(12, riffEnd, 0)
    if (!haveFmt || w < gw || h < gh || frames.isEmpty) return None
    val dib = compression == 0 && bitCount == 24
    val mjpg = compression == FOURCC_MJPG
    if (!dib && !mjpg) return None
    val stride = ((w * 3 + 3) / 4) * 4
    val grids = frames.map { fb =>
      val luma: (Int, Int) => Long =
        if (dib) {
          if (fb.length < stride * h) null
          else (x, y) => {
            val o = (if (topDown) y else h - 1 - y) * stride + x * 3
            rgbLuma(fb(o + 2) & 0xff, fb(o + 1) & 0xff, fb(o) & 0xff)
          }
        } else {
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
            catch { case _: java.io.IOException => null }
          if (img == null || img.getWidth != w || img.getHeight != h) null
          else imageLuma(img)
        }
      if (luma == null) null else boxMeanGrid(w, h, gw, gh, luma)
    }
    Some((w, h, fps, grids.toArray))
  }

  /** The decode half of video dedup: (doc_id, frame_idx, 64-bit dHash)
    * per decodable frame — tiny mergeable fingerprints; the pair join
    * downstream runs over these, never the payload log. */
  def videoFrameHashes(media: DataFrame, idCol: String,
                       payloadCol: String): DataFrame =
    decodeVideo(media, idCol, payloadCol, gw = 9, gh = 8)
      .filter(col("ok"))
      .withColumn("phash", dhash64("grid"))
      .select(col("doc_id"), col("frame_idx"), col("phash"))

  /** Video-level perceptual near-duplicate pairs over REAL decoded
    * frames: every frame is dHashed ([[videoFrameHashes]]), frame pairs
    * across videos within `maxHamming` bits surface through the SAME
    * SimHash-banded candidate/verify engine images use
    * ([[hashDupPairs]], frames keyed as doc*1024+idx), and video pairs
    * sharing >= `minShared` near-identical frame pairs survive with
    * their closest-frame distance. Scale shape: pixels never leave the
    * decode task, shuffles carry 8-byte hashes, the verify is
    * candidate-confined, and the final rollup is frame-pair-sized. */
  def videoDupPairs(media: DataFrame, idCol: String, payloadCol: String,
                    maxHamming: Int = 8, minShared: Int = 2): DataFrame =
    videoPairsFromFrameHashes(videoFrameHashes(media, idCol, payloadCol),
      maxHamming, minShared)

  /** The candidate/verify/rollup half of [[videoDupPairs]] over a
    * prepared (doc_id, frame_idx, phash) relation — the form an
    * INCREMENTAL video pipeline runs over its accumulated frame-hash
    * index ([[graft.streaming.StreamingGate]]'s video drain).
    *
    * Frame keys pack as doc·1024 + idx, so the contract is < 1024
    * hashed frames per video (strided sampling keeps any video inside
    * it; a sampler that doesn't must widen the packing). A violating
    * row raises rather than silently corrupting pair identity —
    * observable, never wrong. */
  def videoPairsFromFrameHashes(fhIn: DataFrame, maxHamming: Int = 8,
                                minShared: Int = 2): DataFrame = {
    val fh = fhIn
      .select((col("doc_id") * 1024 +
        when(col("frame_idx").between(0, 1023), col("frame_idx"))
          .otherwise(raise_error(concat(
            lit("frame_idx outside the [0,1024) packing bound: "),
            coalesce(col("frame_idx").cast("string"), lit("null")))))
        ).as("doc_id"),
        col("phash"))
    hashDupPairs(fh, maxHamming)
      .select(expr("doc_a div 1024").as("video_a"),
        expr("doc_b div 1024").as("video_b"), col("hamming"))
      .filter(col("video_a") =!= col("video_b"))
      .groupBy("video_a", "video_b")
      .agg(count(lit(1)).as("n_shared"), min("hamming").as("min_hamming"))
      .filter(col("n_shared") >= minShared)
  }

  /** STUB decoder: a real build would decode the codec here (per-partition
    * init, then per-row decode). The deterministic fake derives an 8-dim
    * "feature" from byte histograms so tests have stable expectations.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(featureSchema)
    media.mapPartitions { rows =>
      // per-partition "codec init" happens once, here.
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val id = r.getLong(r.fieldIndex("doc_id"))
        val mt = r.getString(r.fieldIndex("media_type"))
        val bytes = r.getAs[Array[Byte]]("payload")
        digest.reset()
        val hash = digest.digest(bytes).map("%02x".format(_)).mkString
        val feature = (0 until 8).map { b =>
          bytes.count(x => ((x & 0xff) % 8) == b).toDouble / math.max(bytes.length, 1)
        }.toArray
        Row(id, mt, bytes.length.toLong, hash, feature)
      }
    }(enc)
  }
}
