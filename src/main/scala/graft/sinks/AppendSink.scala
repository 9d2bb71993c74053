package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Append-only snapshot-log sinks, replacing the reference's Benthos
 * `gcp_bigquery` output (`/root/reference/benthos.go:110-144`: WRITE_APPEND,
 * strict schema, `max_bad_records: 0`) and `file` JSON-lines output
 * (`benthos.go:95-104`).
 *
 * The log table for source table `t` is `<t>_cdc`
 * (`/root/reference/benthos.go:141`, `bigquery.go:71`), partitioned by
 * capture date: at 100 TB the current-state view and retention both prune on
 * `snapshot_dt`, so per-window appends touch only new partitions and reads
 * of recent state skip the historical bulk.
 */
object AppendSink {

  def cdcTableName(table: String): String = s"${table}_cdc"

  /**
   * O1 — strict-schema append. `ignore_unknown_values: false` +
   * `max_bad_records: 0` semantics: any shape mismatch is an error, never a
   * silent drop.
   */
  def appendSnapshot(df: DataFrame, basePath: String, table: String,
                     expected: Option[StructType] = None,
                     maxFileBytes: Option[Long] = None): String = {
    expected.foreach { want =>
      require(df.schema == want,
        s"strict append schema mismatch for $table:\n got  ${df.schema.treeString}\n want ${want.treeString}")
    }
    val path = s"$basePath/${cdcTableName(table)}"
    val writer = df.withColumn("snapshot_dt", to_date(col("snapshot_tm")))
      .write.mode(SaveMode.Append)
      .partitionBy("snapshot_dt")
    // T8 BQ_BATCH_BYTES (`/root/reference/benthos.go:117-120`): cap output
    // batch (here: file) size. Parquet writers roll on record count, so the
    // byte budget maps to records via the schema's per-row size estimate.
    val tuned = maxFileBytes.fold(writer) { bytes =>
      val rowBytes = math.max(1, df.schema.defaultSize)
      writer.option("maxRecordsPerFile", math.max(1L, bytes / rowBytes))
    }
    tuned.parquet(path)
    path
  }

  /** Microsecond-precision timestamp rendering: the default JSON formats
    * keep only milliseconds, silently truncating µs-grained NMS columns.
    * TimestampNTZ columns use the separate (offset-free) NTZ option. */
  private val JsonTsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  private val JsonTsNtzFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  /** O2 — JSON-lines file sink (`OUTPUT_TYPE=FILE` path). */
  def appendJsonLines(df: DataFrame, basePath: String, table: String): String = {
    val path = s"$basePath/${cdcTableName(table)}_json"
    df.write.mode(SaveMode.Append)
      .option("timestampFormat", JsonTsFmt)
      .option("timestampNTZFormat", JsonTsNtzFmt)
      .json(path)
    path
  }

  /** S9 — JSON-lines load (the reference's GCS-JSON-into-BQ sample path,
    * `/root/reference/bigquery.go` load-job analog): schema-FIRST read so
    * types survive the text roundtrip exactly (schema inference would
    * widen and reorder — the strict-schema discipline of O1 applies to
    * loads too). */
  def readJsonLines(spark: org.apache.spark.sql.SparkSession, basePath: String,
                    table: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", JsonTsFmt)
      .option("timestampNTZFormat", JsonTsNtzFmt)
      .json(s"$basePath/${cdcTableName(table)}_json")

  /**
   * O6 — schema evolution (the reference left this as a stub,
   * `/root/reference/bigquery.go:366-389`, "to do: add new fields"):
   * additive evolution falls out of the parquet log — batches may append
   * with added columns, and `readLog` reconciles per-file schemas,
   * null-filling the columns a batch predates. Use `graft.schema
   * .TypeMapper.drift` to detect (and reject non-additive) changes first.
   */
  def appendEvolved(df: DataFrame, basePath: String, table: String): String =
    appendSnapshot(df, basePath, table, expected = None)

  /** Read the snapshot log with per-file schema reconciliation: the
    * footer cache merges every batch file's schema (the `mergeSchema`
    * result, `snapshot_dt` partition column included) with no
    * schema-inference job. */
  def readLog(spark: org.apache.spark.sql.SparkSession, basePath: String,
              table: String): DataFrame =
    graft.sources.ParquetMeta.read(spark, s"$basePath/${cdcTableName(table)}")
}
