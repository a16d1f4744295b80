package graft.sinks

import graft.SparkSpec
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro container-file sink/source on avro-core: full type-fidelity
  * round-trip, nulls, empty exports, and shard layout.
  */
class AvroIOSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("b", BooleanType),
    StructField("bin", BinaryType),
    StructField("ts", TimestampType),
    StructField("nts", TimestampNTZType),
    StructField("day", DateType),
    StructField("dec", DecimalType(18, 2)),
    StructField("arr", ArrayType(LongType, containsNull = true))))

  private def fixture = {
    val rows = Seq(
      Row(1L, 42, 3.5, "alpha", true, Array[Byte](1, 2, 3),
        java.sql.Timestamp.valueOf("2024-01-15 10:30:00.123456"),
        java.time.LocalDateTime.parse("2024-01-15T10:30:00.123456"),
        java.sql.Date.valueOf("2024-01-15"),
        new java.math.BigDecimal("12345.67"), Seq(1L, null, 3L)),
      Row(2L, null, null, null, null, null, null, null, null, null, null),
      Row(3L, -7, -0.25, "", false, Array.empty[Byte],
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.999999"),
        java.time.LocalDateTime.parse("1999-12-31T23:59:59.999999"),
        java.sql.Date.valueOf("1970-01-01"),
        new java.math.BigDecimal("-0.01"), Seq.empty[Any]),
      // pre-epoch with sub-second: negative micros exercise the
      // floorDiv/floorMod read path (truncating division crashed here)
      Row(4L, 0, 0.0, "pre-epoch", true, Array[Byte](9),
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5"),
        java.time.LocalDateTime.parse("1969-12-31T23:59:59.5"),
        java.sql.Date.valueOf("1969-06-15"),
        new java.math.BigDecimal("0.00"), Seq(0L)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row), 2), schema)
  }

  test("round-trip preserves every value bit-exactly across all mapped types") {
    val dir = java.nio.file.Files.createTempDirectory("avro_rt").toString
    val df = fixture
    AvroIO.write(df, dir)
    val back = AvroIO.read(spark, dir, schema)
    assert(back.schema == schema)
    // byte arrays stringify by identity — compare them separately below
    val a = df.drop("bin").collect().map(_.toString).sorted
    val b = back.drop("bin").collect().map(_.toString).sorted
    assert(a.sameElements(b), s"\n${a.mkString("\n")}\nvs\n${b.mkString("\n")}")
    // binary content (toString hides bytes)
    val binA = df.orderBy("id").collect().map(r => Option(r.getAs[Array[Byte]]("bin")).map(_.toSeq))
    val binB = back.orderBy("id").collect().map(r => Option(r.getAs[Array[Byte]]("bin")).map(_.toSeq))
    assert(binA.sameElements(binB))
  }

  test("one shard file per non-empty partition; empty export reads back empty") {
    val dir = java.nio.file.Files.createTempDirectory("avro_shards").toString
    AvroIO.write(fixture.repartition(4), dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty && files.length <= 4,
      s"expected <=4 non-empty shards, got ${files.length}")
    val empty = java.nio.file.Files.createTempDirectory("avro_empty").toString
    AvroIO.write(fixture.filter(lit(false)), empty)
    assert(AvroIO.read(spark, empty, schema).count() == 0)
  }

  test("rewrite replaces the export (no stale shards from a wider previous run)") {
    val dir = java.nio.file.Files.createTempDirectory("avro_rw").toString
    AvroIO.write(fixture.repartition(4), dir)
    AvroIO.write(fixture.filter(col("id") === 1L).repartition(1), dir)
    assert(AvroIO.read(spark, dir, schema).count() == 1)
  }

  private def codec(shard: java.io.File): String = {
    val in = new DataFileStream[GenericRecord](
      new java.io.FileInputStream(shard), new GenericDatumReader[GenericRecord]())
    // an absent entry is the spec's "null" codec
    try Option(in.getMetaString("avro.codec")).getOrElse("null") finally in.close()
  }

  test("every shard header names deflate") {
    val dir = java.nio.file.Files.createTempDirectory("avro_codec").toString
    AvroIO.write(fixture.repartition(4), dir)
    val shards = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(shards.length > 1)
    shards.foreach(f => assert(codec(f) == "deflate", s"${f.getName}: ${codec(f)}"))
  }

  test("a shard written without a codec, as lakes were before, still reads back") {
    val legacy = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("s", StringType), StructField("ts", TimestampType)))
    val avro = AvroIO.avroSchemaFor(legacy)
    val dir = java.nio.file.Files.createTempDirectory("avro_null_codec").toFile
    val shard = new java.io.File(dir, "part-00000.avro")
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
    writer.create(avro, shard)
    val at = java.time.Instant.parse("2024-01-15T10:30:00.123456Z")
    Seq[(Long, String, Any)]((1L, "alpha", at.getEpochSecond * 1000000L + at.getNano / 1000),
      (2L, null, null)).foreach { case (id, s, ts) =>
      val rec = new GenericData.Record(avro)
      rec.put("id", id); rec.put("s", s); rec.put("ts", ts)
      writer.append(rec)
    }
    writer.close()
    new java.io.File(dir, "_SUCCESS").createNewFile()
    assert(codec(shard) == "null")
    val back = AvroIO.read(spark, dir.toString, legacy).orderBy("id").collect().toSeq
    assert(back == Seq(Row(1L, "alpha", java.sql.Timestamp.from(at)), Row(2L, null, null)))
  }
}
