package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.CompactedState
import graft.sinks.AppendSink

/** The footer reader must give exactly the schema and rows Spark's own
  * inference gives (`spark.read.parquet`, or `mergeSchema` where graft
  * used it), and its cache must open only new or changed footers. */
class ParquetMetaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSame(what: String, inferred: DataFrame, footer: DataFrame): Unit = {
    assert(footer.schema == inferred.schema,
      s"$what:\n footer   ${footer.schema.treeString}\n inferred ${inferred.schema.treeString}")
    assert(rows(footer) == rows(inferred), s"$what: rows differ")
  }

  private def parquetParts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  test("harness tables: schema and rows equal spark.read.parquet's") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // as Tables sets it
    for (t <- Tables.all) {
      val p = s"${TestSpark.Sf0001}/$t.parquet"
      assertSame(t, spark.read.parquet(p), ParquetMeta.read(spark, p))
    }
    // pyarrow files carry no Spark row metadata: `events.ts` (naive micros)
    // converts under the session's inferTimestampNTZ, as inference does
    val ts = ParquetMeta.read(spark, s"${TestSpark.Sf0001}/events.parquet").schema("ts")
    assert(ts.dataType == TimestampNTZType, ts)
  }

  test("conversion follows the calling session's conf, not the cached footer's first reader") {
    val p = s"${TestSpark.Sf0001}/events.parquet"
    ParquetMeta.read(spark, p) // cache the footer under the default conf
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val footer = ParquetMeta.read(other, p)
    assert(footer.schema("ts").dataType == TimestampType)
    assert(footer.schema == other.read.parquet(p).schema)
    assert(ParquetMeta.read(spark, p).schema("ts").dataType == TimestampNTZType)
  }

  test("Spark-written directory of several files") {
    val dir = TestSpark.tmpDir("graft-pm-multi") + "/orders"
    Tables.load(spark, TestSpark.Sf0001, "orders").repartition(4).write.parquet(dir)
    assert(parquetParts(dir).size == 4)
    assertSame("orders x4", spark.read.parquet(dir), ParquetMeta.read(spark, dir))
  }

  test("additive-evolution compacted state equals its mergeSchema read") {
    val dir = TestSpark.tmpDir("graft-pm-compact")
    val conf = CompactedState.Config(Seq("event_id"), "ts", numBuckets = 4)
    val base = Tables.load(spark, TestSpark.Sf0001, "events")
      .select("event_id", "user_id", "ts")
    CompactedState.upsert(spark, dir, base.filter(col("event_id") < 500), conf)
    CompactedState.upsert(spark, dir,
      base.filter(col("event_id") >= 500).withColumn("extra", lit("v2")), conf)
    // the newest version of every bucket, as CompactedState.read resolves it
    val latest = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("bucket=")).map { b =>
        b.listFiles().filter(_.getName.startsWith("v="))
          .maxBy(_.getName.stripPrefix("v=").toLong).getPath
      }
    assert(latest.size == 4)
    val inferred = spark.read.option("mergeSchema", "true").parquet(latest: _*)
    val footer = CompactedState.read(spark, dir).get
    assert(footer.columns.contains("extra"))
    assertSame("compacted state", inferred, footer)
  }

  test("partitioned <t>_cdc log equals its mergeSchema read, snapshot_dt included") {
    val base = TestSpark.tmpDir("graft-pm-log")
    val events = Tables.load(spark, TestSpark.Sf0001, "events").select("event_id", "ts")
    def stamped(df: DataFrame, at: String) =
      df.withColumn("snapshot_tm", lit(graft.util.Util.utcTs(at)))
    AppendSink.appendSnapshot(
      stamped(events.filter(col("event_id") < 300), "2024-02-01 00:00:00"), base, "events")
    AppendSink.appendEvolved(
      stamped(events.filter(col("event_id") >= 300), "2024-02-02 00:00:00")
        .withColumn("extra", lit(7L)), base, "events")
    val path = s"$base/${AppendSink.cdcTableName("events")}"
    val inferred = spark.read.option("mergeSchema", "true").parquet(path)
    val footer = AppendSink.readLog(spark, base, "events")
    assert(footer.schema("snapshot_dt").dataType == DateType)
    assert(footer.columns.contains("extra"))
    assertSame("cdc log", inferred, footer)
  }

  test("an empty listing or a missing path raises Spark's own error") {
    val base = TestSpark.tmpDir("graft-pm-empty")
    def condition(paths: String*): String =
      intercept[org.apache.spark.sql.AnalysisException](ParquetMeta.read(spark, paths: _*))
        .getCondition
    assert(condition(base) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(s"$base/missing") == "PATH_NOT_FOUND")
    assert(condition(s"${TestSpark.Sf0001}/region.parquet", s"$base/missing") == "PATH_NOT_FOUND")
  }

  test("footer cache: a new file opens one footer; a rewritten file is read again") {
    val dir = TestSpark.tmpDir("graft-pm-cache") + "/t"
    val orders = Tables.load(spark, TestSpark.Sf0001, "orders")
    orders.repartition(4).write.parquet(dir)
    assert(parquetParts(dir).size == 4)
    def exact(): Long = spark.read.parquet(dir).count()

    assert(ParquetMeta.rowCount(spark, dir) == exact())
    val r0 = ParquetMeta.footerReads.get()
    assert(ParquetMeta.rowCount(spark, dir) == exact())
    ParquetMeta.read(spark, dir)
    assert(ParquetMeta.footerReads.get() == r0, "an unchanged listing opens no footer")

    orders.limit(7).coalesce(1).write.mode(SaveMode.Append).parquet(dir)
    assert(parquetParts(dir).size == 5)
    val r1 = ParquetMeta.footerReads.get()
    assert(ParquetMeta.rowCount(spark, dir) == exact())
    assert(ParquetMeta.footerReads.get() - r1 == 1, "only the new file's footer is read")

    // rewrite one file in place with different content (and a later mtime)
    val other = TestSpark.tmpDir("graft-pm-src") + "/x"
    orders.limit(3).coalesce(1).write.parquet(other)
    val target = parquetParts(dir).head
    Files.copy(Paths.get(parquetParts(other).head.getPath), target.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    target.setLastModified(target.lastModified() + 5000L)
    Files.deleteIfExists(Paths.get(target.getParent, s".${target.getName}.crc"))
    val r2 = ParquetMeta.footerReads.get()
    assert(ParquetMeta.rowCount(spark, dir) == exact())
    assert(ParquetMeta.footerReads.get() - r2 == 1, "the rewritten file is read again")
  }
}
