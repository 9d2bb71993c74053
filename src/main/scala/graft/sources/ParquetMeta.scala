package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Footer cache for parquet sources: each file's row count and schema, read
 * on the driver from its footer.
 *
 * The reference's control loop never scans a table to size it: it reads the
 * O(1) catalog estimate (`/root/reference/postgres.go:144-149`,
 * `pg_class.reltuples`), and it introspects a table's columns once, not per
 * window (`postgres.go:201-269`). The parquet analog of both is the file
 * footer: an exact per-row-group row count and the file's schema, a few KB
 * of metadata per file instead of the data. [[rowCount]] sums the counts;
 * [[read]] hands Spark the merged schema, so a read starts no
 * schema-inference job — the rule of Structured Streaming's file sources,
 * which declare a schema once instead of re-inferring it per batch.
 *
 * One entry per data file, valid while the file's (length, mtime) hold, so
 * a directory that gains a file opens only that file's footer. Entries
 * hold footer facts only — the row count, and the Spark row-metadata JSON
 * Spark writes into its own files or else the parquet `MessageType` —
 * never a converted `StructType`, a DataFrame, a file index or data: the
 * conversion depends on the caller's session conf (`nanosAsLong`,
 * `inferTimestampNTZ`), so it runs on every call.
 */
object ParquetMeta {

  /** One data file's footer facts; `schema` is the Spark row-metadata JSON
    * when the file carries a parseable one, else the parquet schema. */
  private final case class Footer(len: Long, mtime: Long, rows: Long,
                                  schema: Either[MessageType, String])

  /** root path -> (file path -> footer) as of the root's last listing.
    * Replacing a root's map on every listing drops the files that left
    * it; [[forget]] drops a deleted root. */
  private val cache = new ConcurrentHashMap[String, Map[String, Footer]]()

  /** Footers opened (observability: an unchanged directory opens none;
    * one new file opens one). */
  val footerReads = new AtomicLong(0L)

  /** Exact row count of a parquet file or directory, from footers only
    * (zero Spark jobs, zero data pages read). Only files new or changed
    * since the last listing of `path` open their footer. */
  def rowCount(spark: SparkSession, path: String): Long =
    footers(spark, path).iterator.map(_.rows).sum

  /** Read parquet `paths` with the schema resolved from their footers —
    * the schema `mergeSchema` inference would give (the footers' schemas
    * in file-path order, merged with Spark's `StructType.merge`;
    * hive-style partition columns are still discovered by Spark and
    * appended), with no Spark job. Files whose schemas disagree merge to
    * the superset, or fail loudly on incompatible types. An empty listing
    * (no data files, or no existing path) defers to `spark.read.parquet`,
    * which raises Spark's usual error; a missing path beside existing
    * ones fails in Spark's path check. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val found = paths.flatMap { p =>
      try footers(spark, p)
      catch {
        case _: java.io.FileNotFoundException if !exists(spark, p) => forget(p); Nil
      }
    }
    if (found.isEmpty) spark.read.parquet(paths: _*)
    else spark.read.schema(mergedSchema(spark, found)).parquet(paths: _*)
  }

  /** Drop the entries of a root that was deleted (a vacuumed version
    * directory) and will not be listed again. */
  def forget(path: String): Unit = { cache.remove(path); () }

  private def exists(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Convert each distinct footer schema under the caller's conf, exactly
    * as `ParquetFileFormat.mergeSchemasInParallel` configures its
    * converter, and merge in order. Identical schemas merge to themselves,
    * so each is converted once. */
  private def mergedSchema(spark: SparkSession, found: Seq[Footer]): StructType = {
    val conf = spark.sessionState.conf
    lazy val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    found.map(_.schema).distinct.map {
      case Right(json) => DataType.fromJson(json).asInstanceOf[StructType]
      case Left(message) => converter.convert(message)
    }.reduceLeft(SchemaBridge.merge(_, _, conf.caseSensitiveAnalysis))
  }

  /** The footers of `root`'s data files, in path order, reading only the
    * files the cached listing does not already hold unchanged. */
  private def footers(spark: SparkSession, root: String): Seq[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(root)
    val known = cache.getOrDefault(root, Map.empty)
    val listed = dataFiles(p.getFileSystem(conf), p).sortBy(_.getPath.toString).map { f =>
      val key = f.getPath.toString
      key -> known.get(key)
        .filter(e => e.len == f.getLen && e.mtime == f.getModificationTime)
        .getOrElse(readFooter(f, conf))
    }
    cache.put(root, listed.toMap)
    listed.map(_._2)
  }

  private def readFooter(f: FileStatus, conf: Configuration): Footer = {
    footerReads.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try {
      val meta = reader.getFooter.getFileMetaData
      // Spark's own files carry their Spark schema; an unparseable one
      // falls back to the parquet schema, as Spark's inference does
      val json = Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .filter(j => Try(DataType.fromJson(j)).toOption.exists(_.isInstanceOf[StructType]))
      Footer(f.getLen, f.getModificationTime, reader.getRecordCount,
        json.toRight(meta.getSchema))
    } finally reader.close()
  }

  /** Data files under `p`, recursing into partition dirs, with the name
    * filter of Spark's file index: names starting with `_` (unless they
    * hold `=`) or `.`, and in-flight `._COPYING_` files, are skipped — so
    * `_SUCCESS`, checksums and summary files never count as data. */
  private def dataFiles(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(st)
    else
      fs.listStatus(p).toSeq.flatMap { c =>
        val n = c.getPath.getName
        if ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
            n.endsWith("._COPYING_")) Nil
        else if (c.isDirectory) dataFiles(fs, c.getPath)
        else Seq(c)
      }
  }
}
