package graft.sources

import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** The engine's one parquet reader: every parquet table `src/main` reads
  * opens through [[read]].
  *
  * `spark.read.parquet` infers its schema with a one-task Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`), even with `mergeSchema`
  * off, where that job reads a single footer: the first data file in
  * path order. The job costs ~35 ms of scheduling per read, and every
  * table load, del-ins read and scratch read-back paid it. [[read]] reads
  * the same footer on the driver instead, converts it with Spark's own
  * rule (`ParquetFileFormat.readSchemaFromFooter`: the Spark row-metadata
  * key when the file has one, else the parquet schema through a
  * `ParquetToSparkSchemaConverter` over the session conf, so INT96,
  * `nanosAsLong` and NTZ inference come out as Spark's), and declares it
  * on the reader. Same schema, no job.
  *
  * Where the driver-side read might not give Spark's answer it leaves the
  * schema to Spark, so errors and merges stay Spark's own: a missing path,
  * a glob, no data file, a summary file, an unreadable footer, a data file
  * that also holds a partition column, an option other than
  * `recursiveFileLookup`, or a read that asks for `mergeSchema`.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    read(spark, Map.empty[String, String], paths: _*)

  /** [[read]] with reader options (`recursiveFileLookup`, `mergeSchema`). */
  def read(spark: SparkSession, options: Map[String, String], paths: String*): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, options, paths).fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The schema Spark would infer without merging, or None where that is
    * left to Spark. */
  private def footerSchema(spark: SparkSession, options: Map[String, String],
                           paths: Seq[String]): Option[StructType] = {
    val opts = options.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v.toLowerCase(Locale.ROOT) }
    val conf = spark.sessionState.conf
    val merge = opts.get("mergeschema").fold(conf.isParquetSchemaMergingEnabled)(_ == "true")
    val recursive = opts.get("recursivefilelookup").contains("true")
    if (paths.isEmpty || merge || !opts.keySet.subsetOf(Set("mergeschema", "recursivefilelookup")) ||
        paths.exists(p => p.exists("{}[]*?\\".contains(_)))) None
    else try {
      val hadoop = spark.sessionState.newHadoopConfWithOptions(options)
      val found = paths.flatMap(p => firstDataFile(hadoop, new Path(p), recursive))
      found.minByOption(_._1.getPath.toString).flatMap { case (file, partCols) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoop), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(conf))
        // a partition column the file also holds: a declared schema moves
        // it last, where inference keeps its place with the partition type
        if (schema.fieldNames.exists(f => partCols.exists(conf.resolver(_, f)))) None
        else Some(schema)
      }
    } catch { case NonFatal(_) => None }
  }

  private final class LeaveToSpark extends Exception

  /** The smallest-path data file under `root` as Spark's file index lists
    * it (hidden names skipped), with the partition column names on the way
    * down to it. Children are visited in the order of their full path
    * strings (a directory sorts as `name/`), so the first file found is
    * the one Spark's inference picks. */
  private def firstDataFile(hadoop: Configuration, root: Path, recursive: Boolean)
  : Option[(FileStatus, Seq[String])] = {
    val fs = root.getFileSystem(hadoop)
    // Spark's file-index rule (HadoopFSUtils.shouldFilterOutPathName),
    // less the summary files it keeps, which inference would read first
    def visible(s: FileStatus): Boolean = {
      val name = s.getPath.getName
      if (name.startsWith("_metadata") || name.startsWith("_common_metadata")) throw new LeaveToSpark
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_"))
    }
    def down(dir: FileStatus, parts: Seq[String]): Option[(FileStatus, Seq[String])] =
      fs.listStatus(dir.getPath).toSeq.filter(visible)
        .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)
        .iterator.map { s =>
          if (!s.isDirectory) Some((s, parts))
          else {
            val name = s.getPath.getName
            val i = name.indexOf('=')
            down(s, if (recursive || i < 0) parts
                    else parts :+ ExternalCatalogUtils.unescapePathName(name.take(i)))
          }
        }.collectFirst { case Some(hit) => hit }
    val top = fs.getFileStatus(root)
    if (top.isDirectory) down(top, Nil)
    else if (visible(top)) Some((top, Nil))
    else throw new LeaveToSpark
  }
}
