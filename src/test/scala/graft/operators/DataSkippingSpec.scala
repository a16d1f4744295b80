package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DataSkippingSpec extends SparkSpec {

  private lazy val ev = graft.sources.Tables.load(spark, sfDir, "events")
    .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  private def scratch(tag: String) =
    graft.core.Scratch.dir(tag, "dataskipspec")

  /** The surviving files of a pruned manifest, collected for assertions. */
  private def files(rows: org.apache.spark.sql.DataFrame): Seq[String] =
    rows.select("file").collect().map(_.getString(0)).toSeq

  test("zValue interleaves bits like the reference Morton code") {
    def morton(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).sum
    import spark.implicits._
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (1023L, 511L))
    val got = cases.toDF("a", "b")
      .select(DataSkipping.zValue(col("a"), col("b"), 10).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map { case (a, b) => morton(a, b, 10) })
    // z-order locality: adjacent (a,b) cells share high bits
    assert(morton(2L, 2L, 10) < morton(0L, 4L, 10))
  }

  test("manifest-pruned read equals the full-scan filter exactly") {
    val dir = scratch("lin")
    DataSkipping.writeClustered(ev, dir, col("user_id"), 12)
    val mf = DataSkipping.manifest(spark, dir, Seq("user_id", "value"))
    // range partitions with no rows write no file, so <= nFiles
    val nFiles = mf.count()
    assert(nFiles >= 8 && nFiles <= 12)
    val boxes = Seq[(String, Any, Any)](("user_id", 20L, 60L), ("value", 5.0, 200.0))
    val pruned = DataSkipping.prunedRead(spark, mf, boxes, scratch("linmf"))
    val full = ev.filter(col("user_id").between(20L, 60L) &&
      col("value").between(5.0, 200.0))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // and it actually skipped files
    assert(files(DataSkipping.prunedManifestRows(mf, boxes)).size < nFiles)
  }

  test("an empty candidate set still returns a correctly-typed empty result") {
    val dir = scratch("empty")
    DataSkipping.writeClustered(ev, dir, col("user_id"), 6)
    val mf = DataSkipping.manifest(spark, dir, Seq("user_id"))
    val out = DataSkipping.prunedRead(spark, mf,
      Seq(("user_id", -100L, -1L)), scratch("emptymf"))
    assert(out.count() == 0)
    assert(out.columns.contains("event_type"))
  }

  test("z-order prunes on BOTH dimensions where a linear sort prunes on one") {
    val linDir = scratch("lin2")
    val zDir = scratch("z2")
    DataSkipping.writeClustered(ev, linDir, col("user_id"), 16)
    val z = DataSkipping.zValue(col("user_id"), floor(col("value")).cast("long"), 20)
    DataSkipping.writeClustered(ev, zDir, z, 16)
    val linMf = DataSkipping.manifest(spark, linDir, Seq("user_id", "value"))
    val zMf = DataSkipping.manifest(spark, zDir, Seq("user_id", "value"))
    // a value-only predicate: the user_id-sorted layout cannot prune at
    // all (every file spans the full value range), z-order can
    val valueBox = Seq[(String, Any, Any)](("value", 0.0, 30.0))
    val linHit = files(DataSkipping.prunedManifestRows(linMf, valueBox)).size
    val zHit = files(DataSkipping.prunedManifestRows(zMf, valueBox)).size
    assert(zHit < linHit,
      s"z-order should prune a value-only box: z=$zHit vs linear=$linHit")
    // both layouts return identical rows for the same 2-d box
    val box = Seq[(String, Any, Any)](("user_id", 0L, 80L), ("value", 0.0, 50.0))
    val a = DataSkipping.prunedRead(spark, linMf, box, scratch("lin2mf"))
    val b = DataSkipping.prunedRead(spark, zMf, box, scratch("z2mf"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("hilbertValue walks the canonical curve and is CONTINUOUS " +
      "(every step moves one cell); Z-order jumps") {
    import spark.implicits._
    def hmap(bits: Int): Map[(Long, Long), Long] = {
      val n = 1L << bits
      val cells = for (x <- 0L until n; y <- 0L until n) yield (x, y)
      cells.toDF("x", "y")
        .select(col("x"), col("y"),
          DataSkipping.hilbertValue(col("x"), col("y"), bits).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    // canonical 2x2: (0,0)->0, (0,1)->1, (1,1)->2, (1,0)->3
    assert(hmap(1) == Map((0L, 0L) -> 0L, (0L, 1L) -> 1L,
      (1L, 1L) -> 2L, (1L, 0L) -> 3L))
    // canonical 4x4 first quadrant spot checks (Moon et al. figure)
    val h2 = hmap(2)
    assert(h2((0L, 0L)) == 0L && h2((1L, 0L)) == 1L && h2((1L, 1L)) == 2L &&
      h2((0L, 1L)) == 3L && h2((0L, 2L)) == 4L && h2((3L, 0L)) == 15L)
    // continuity at 8x8: consecutive curve positions are manhattan-1 apart
    val byD = hmap(3).map(_.swap)
    assert(byD.size == 64 && byD.keys.min == 0L && byD.keys.max == 63L)
    (0L until 63L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"hilbert jump at d=$d: ($x1,$y1)->($x2,$y2)")
    }
    // Z-order at 8x8 does jump (that's the locality gap Hilbert closes)
    val zByD = (for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        DataSkipping.zValue(col("x"), col("y"), 3).as("z"))
      .collect().map(r => r.getLong(2) -> ((r.getLong(0), r.getLong(1)))).toMap
    val zJumps = (0L until 63L).count { d =>
      val (x1, y1) = zByD(d); val (x2, y2) = zByD(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(zJumps > 0, "z-order should have discontinuities at 8x8")
  }

  test("hilbert beats z-order on the Moon-et-al clustering metric " +
      "(fewer contiguous curve runs per query box) and pruned reads stay exact") {
    import spark.implicits._
    // every 4x4 box on the 32x32 grid: how many CONTIGUOUS curve-index
    // runs does the box decompose into? Each run is a separate file/range
    // touch after clustering — the metric file counts approximate, free
    // of file-boundary noise. (Driver-side loop over 841 boxes reads two
    // 1024-entry maps collected once.)
    val cells = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        DataSkipping.hilbertValue(col("x"), col("y"), 5).as("h"),
        DataSkipping.zValue(col("x"), col("y"), 5).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    def runsTotal(pick: ((Long, Long)) => Long): Long =
      (for (x0 <- 0L to 28L; y0 <- 0L to 28L) yield {
        val ds = (for (x <- x0 until x0 + 4; y <- y0 until y0 + 4)
          yield pick(cells((x, y)))).sorted
        1L + ds.zip(ds.tail).count { case (a, b) => b != a + 1 }
      }).sum
    val hRuns = runsTotal(_._1)
    val zRuns = runsTotal(_._2)
    info(s"curve runs over all 4x4 boxes: hilbert=$hRuns z-order=$zRuns")
    assert(hRuns < zRuns,
      s"hilbert must need fewer contiguous runs: $hRuns vs $zRuns")

    // and on real files: pruned reads from a hilbert-clustered layout
    // stay exactly correct for 2-d boxes
    val hDir = scratch("h3")
    val h = DataSkipping.hilbertValue(col("user_id"), floor(col("value")), 10)
    DataSkipping.writeClustered(ev, hDir, h, 16)
    val hMf = DataSkipping.manifest(spark, hDir, Seq("user_id", "value"))
    val box = Seq[(String, Any, Any)](("user_id", 0L, 80L), ("value", 0.0, 50.0))
    val got = DataSkipping.prunedRead(spark, hMf, box, scratch("h3mf"))
    val want = spark.read.parquet(hDir)
      .filter(col("user_id").between(0L, 80L) && col("value").between(0.0, 50.0))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("many-file fixture: the read path goes through a written pruned-" +
      "manifest artifact (no query collect of file lists) and stays exact") {
    val dir = scratch("many")
    // 64 small files (clustered on the high-cardinality event_id so the
    // range partitioner can actually cut 64 ways) — the file-count
    // regime where a driver-side collect-per-query is the anti-pattern
    // the artifact flow replaces
    DataSkipping.writeClustered(ev, dir, col("event_id"), 64)
    val mf = DataSkipping.manifest(spark, dir, Seq("event_id"))
    val nFiles = mf.count()
    assert(nFiles >= 32, s"fixture should be many files, got $nFiles")
    val boxes = Seq[(String, Any, Any)](("event_id", 100L, 300L))
    val mfOut = scratch("manymf")
    val pruned = DataSkipping.prunedRead(spark, mf, boxes, mfOut)
    val full = spark.read.parquet(dir).filter(col("event_id").between(100L, 300L))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // the artifact exists, lists a strict subset of the files, and
    // re-reading VIA it alone (no manifest relation in sight) still
    // yields the exact candidate superset of the box
    val listed = spark.read.text(mfOut).count()
    assert(listed > 0 && listed < nFiles,
      s"pruned manifest should list a strict subset: $listed of $nFiles")
    val viaArtifact = DataSkipping
      .readViaPrunedManifest(spark, mfOut, schemaFrom = spark.read.parquet(dir))
      .filter(col("event_id").between(100L, 300L))
    assert(viaArtifact.exceptAll(full).isEmpty && full.exceptAll(viaArtifact).isEmpty)
  }

  test("bloom manifest prunes point lookups zone maps cannot") {
    val dir = scratch("bloom")
    val (m, k) = (65536, 3)
    // layout clustered by user_id; probe column is event_id
    DataSkipping.writeClustered(ev, dir, col("user_id"), 16)
    val zoneMf = DataSkipping.manifest(spark, dir, Seq("event_id"))
    val bloomMf = DataSkipping.bloomManifest(spark, dir, "event_id", m, k)
    val nFiles = bloomMf.count()

    // driver-side and Spark-side bit rules are byte-identical
    import spark.implicits._
    val sparkBits = Seq("42").toDF("v")
      .select(DataSkipping.bloomBits(col("v"), m, k))
      .head.getSeq[Int](0).toSeq
    assert(sparkBits == DataSkipping.bloomBitsOf("42", m, k))

    // an existing event_id lives in exactly one clustered file: the zone
    // manifest keeps every file (each spans the whole event_id domain),
    // bloom narrows to (almost) just the containing file
    val probe = Seq("17")
    val zoneHit = files(DataSkipping.prunedManifestRows(zoneMf,
      Seq(("event_id", 17L, 17L)))).size
    val bloomHit = files(DataSkipping.bloomPrunedManifestRows(bloomMf, probe, m, k)).size
    assert(bloomHit < zoneHit,
      s"bloom ($bloomHit) should out-prune event_id zone maps ($zoneHit)")
    assert(bloomHit <= 1 + nFiles / 4,
      s"bloom should prune to near the one containing file: $bloomHit of $nFiles")

    // no false negatives: pruned read == full-scan IN filter, including a
    // value that exists nowhere
    val vals = Seq("17", "423", "999999")
    val got = DataSkipping.bloomPrunedRead(spark, bloomMf, "event_id", vals, m, k,
      scratch("bloommf"))
    val want = spark.read.parquet(dir)
      .filter(col("event_id").cast("string").isin(vals: _*))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == 2)
  }
}
