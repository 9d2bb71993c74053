package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Central loader for the harness parquet tables (and, by extension, any
 * parquet-backed source table).
 *
 * The reference discovers source tables from the PostgreSQL catalog
 * (`/root/reference/postgres.go:201-269`); in the file-backed harness the
 * "catalog" is a directory of parquet files, and the reference's
 * introspect-once becomes the footer cache: every load reads through
 * [[ParquetMeta.read]], which resolves the schema from the files' footers
 * on the driver, so a load (or a windowed capture load) starts no
 * schema-inference job. Where a table's files agree — every harness table,
 * and every source `perfbench`'s generator lands file by file — that
 * schema is exactly the one `spark.read.parquet` infers. Where they
 * disagree, Spark would take one arbitrary file's schema; the footer read
 * merges all of them instead, a superset of any one file's, or a loud
 * error on incompatible types.
 *
 * This loader also normalizes physical quirks so the rest of the engine
 * sees clean Spark types:
 *
 *  - the `events.ts` NMS column has shipped under THREE physical encodings
 *    across harness generations — parquet `TIMESTAMP(NANOS)` (which Spark
 *    refuses by default, PARQUET_TYPE_ILLEGAL; read via
 *    `spark.sql.legacy.parquet.nanosAsLong`), naive microsecond
 *    `timestamp[us]` (read as `TIMESTAMP_NTZ`), and instant-adjusted
 *    micros. All three are normalized to microsecond `TimestampType`
 *    (session tz UTC), matching what every other engine (incl. the DuckDB
 *    oracle) sees, so the engine never branches on the on-disk flavor.
 */
object Tables {

  /** All harness tables (TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** NMS columns whose physical encoding varies by harness generation —
    * normalized to TimestampType however they arrive. */
  private val tsColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"))

  /** Normalize one column to microsecond TimestampType whatever the
    * on-disk encoding. Long nanos use integer `div`, not `/`: float
    * division would round the sub-µs part up, where every other reader
    * (incl. the oracle) truncates. NTZ casts are exact — session tz is
    * UTC, so the naive rendering IS the UTC instant. */
  private def normalize(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = ParquetMeta.read(spark, s"$dir/$name.parquet")
    tsColumns.getOrElse(name, Nil).foldLeft(raw)(normalize)
  }

  /** Register every table as a temp view so `spark.sql` works against it. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /**
   * Load with a half-open time window `(lo, hi]` on `tsCol` pushed down to
   * the parquet scan.
   *
   * Needed because the plain `load` converts the NMS column via a
   * projection (`timestamp_micros(ts div 1000)` or an NTZ cast), and a
   * filter on that DERIVED column cannot be pushed below the projection —
   * `.explain` shows only `IsNotNull` reaching the scan, so at scale no
   * row groups are pruned. Filtering the RAW physical column first (the
   * equivalent predicate in the column's own type) restores min/max
   * pruning — the same pushdown-by-construction the reference gets by
   * inlining the window in generated source SQL
   * (`/root/reference/postgres.go:52-53`).
   */
  def loadWindowed(spark: SparkSession, dir: String, name: String,
                   tsCol: String, lo: java.sql.Timestamp,
                   hi: java.sql.Timestamp): DataFrame = {
    if (!tsColumns.getOrElse(name, Nil).contains(tsCol)) {
      val df = load(spark, dir, name)
      // Type the bounds to the column: naive (NTZ) columns compare against
      // naive literals (the UTC rendering of the instant; session tz is UTC).
      def bound(t: java.sql.Timestamp) = df.schema(tsCol).dataType match {
        case TimestampNTZType =>
          lit(t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime)
        case _ => lit(t)
      }
      df.filter(col(tsCol) > bound(lo) && col(tsCol) <= bound(hi))
    } else {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = ParquetMeta.read(spark, s"$dir/$name.parquet")
      // Window the RAW column in its own physical type — this filter sits
      // below the normalizing projection, so it reaches the scan.
      val pruned: DataFrame = raw.schema(tsCol).dataType match {
        case LongType =>
          def ns(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000000L + t.getNanos.toLong
          // Pushdown SUPERSET on the raw nanos (wider by the sub-µs
          // remainder at the upper bound) — the exact µs-precision
          // predicate runs again after conversion.
          raw.filter(col(tsCol) > lit(ns(lo)) && col(tsCol) <= lit(ns(hi) + 999L))
        case TimestampNTZType =>
          // µs column, µs bounds: the naive-literal window is already exact.
          def ntz(t: java.sql.Timestamp): Column =
            lit(t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime)
          raw.filter(col(tsCol) > ntz(lo) && col(tsCol) <= ntz(hi))
        case _ =>
          raw.filter(col(tsCol) > lit(lo) && col(tsCol) <= lit(hi))
      }
      val converted = tsColumns(name).foldLeft(pruned)(normalize)
      // Exact window on the normalized column: tightens the nanos
      // superset; a no-op (collapsed by Catalyst) on the exact paths.
      converted.filter(col(tsCol) > lit(lo) && col(tsCol) <= lit(hi))
    }
  }
}
