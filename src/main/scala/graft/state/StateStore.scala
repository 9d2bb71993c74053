package graft.state

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils

import graft.util.SmallFile

/**
 * Per-table CDC state, mirroring the reference's SQLite `nmstables` row
 * (`/root/reference/nmsdb.go:54-66`: id, name, schema, table_schema,
 * bq_schema, nmsColumn, pkeyColumn, nms, last_row_count, dsn,
 * last_shoved_on). The two cached engine-specific schema blobs collapse to
 * one Spark `StructType` JSON (SURVEY §1.2).
 */
final case class TableState(
    name: String,
    schemaName: String,
    nmsColumn: String,
    pKeyColumn: Option[String],
    schemaJson: Option[String],
    nms: Timestamp,                // committed watermark
    lastRowCount: Long,
    dsn: Int,
    lastShovedOn: Option[Timestamp])

object StateStore {
  /** One table's watermark commit (T3), applied by [[StateStore.commitAll]]. */
  final case class Commit(dsn: Int, name: String, newNms: Timestamp,
                          rowCount: Long, shovedOn: Timestamp)

  /** One lock object per catalog path, JVM-wide: multiple engines (the
    * multi-DSN deployment) each build their OWN StateStore over the SAME
    * stateDir, so an instance-level `synchronized` would let their
    * read-modify-rewrite cycles interleave and silently clobber each
    * other's watermark commits. Cross-PROCESS exclusion is out of scope
    * here, as in the reference: its SQLite state plus the singleton guard
    * (SURVEY §2.9 T9) also assume one process, and cluster managers own
    * single-instance scheduling. */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(qualifiedPath: String): Object =
    pathLocks.computeIfAbsent(qualifiedPath, _ => new Object)

  private val mapper = new ObjectMapper()

  /** The catalog file: a JSON array, one object per row, timestamps as
    * epoch microseconds (the precision Spark's encoder keeps, so a
    * watermark round-trips bit for bit). */
  private[state] def encode(rows: Seq[TableState]): Array[Byte] = {
    val arr = mapper.createArrayNode()
    rows.foreach { s =>
      val o = arr.addObject()
      o.put("name", s.name)
      o.put("schemaName", s.schemaName)
      o.put("nmsColumn", s.nmsColumn)
      s.pKeyColumn.foreach(v => o.put("pKeyColumn", v))
      s.schemaJson.foreach(v => o.put("schemaJson", v))
      o.put("nms", DateTimeUtils.fromJavaTimestamp(s.nms))
      o.put("lastRowCount", s.lastRowCount)
      o.put("dsn", s.dsn)
      s.lastShovedOn.foreach(t => o.put("lastShovedOn", DateTimeUtils.fromJavaTimestamp(t)))
    }
    mapper.writeValueAsBytes(arr)
  }

  private[state] def decode(bytes: Array[Byte]): IndexedSeq[TableState] =
    mapper.readTree(bytes).elements().asScala.map { o =>
      def opt(k: String): Option[JsonNode] = Option(o.get(k)).filterNot(_.isNull)
      def ts(n: JsonNode) = DateTimeUtils.toJavaTimestamp(n.asLong())
      TableState(o.get("name").asText(), o.get("schemaName").asText(),
        o.get("nmsColumn").asText(), opt("pKeyColumn").map(_.asText()),
        opt("schemaJson").map(_.asText()), ts(o.get("nms")),
        o.get("lastRowCount").asLong(), o.get("dsn").asInt(),
        opt("lastShovedOn").map(ts))
    }.toIndexedSeq
}

/**
 * File-backed state catalog, replacing the reference's SQLite table
 * (`nmsdb.go:33-212`): one JSON file, `<stateDir>/nmstables.json`, one row
 * per (dsn, table). It is metadata, not data, so every read parses the
 * file on the driver (no Spark job) and every commit rewrites it through
 * [[graft.util.SmallFile.replace]], so a crash at any point leaves the
 * previous catalog or the new one. Commits batch to ONE catalog rewrite
 * per engine tick ([[commitAll]]).
 *
 * A state dir an earlier build wrote holds the catalog as a parquet
 * directory (`nmstables/`) instead; the first read finds no JSON file,
 * reads that directory once and publishes it as JSON.
 *
 * Not reproduced from the reference: the 8-column / 7-placeholder INSERT
 * bug (`nmsdb.go:148-151`).
 */
final class StateStore(spark: SparkSession, dir: String) {
  import spark.implicits._

  private val file = new Path(dir, "nmstables.json")
  private val fs = file.getFileSystem(spark.sessionState.newHadoopConf())
  private val lock = StateStore.lockFor(fs.makeQualified(file).toString)

  /** Catalog rewrites performed by this store (observability for the
    * one-write-per-tick contract; a per-table regression shows up here). */
  val catalogWrites = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Reads of an earlier build's parquet catalog: one per migrated state
    * dir, zero in steady state. */
  val catalogScans = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Parses of the catalog file (every read, upsert and commit parses it
    * once), so a caller that reads it more often than it needs shows up. */
  val catalogReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A local relation over the parsed rows: its `collect()` is a local
    * scan, not a Spark job. */
  def read(): Dataset[TableState] = spark.createDataset(rows())

  private def rows(): IndexedSeq[TableState] = lock.synchronized {
    catalogReads.incrementAndGet()
    SmallFile.read(fs, file) match {
      case Some(bytes) =>
        try StateStore.decode(bytes)
        catch { case e: Exception =>
          throw new IllegalStateException(s"corrupt state catalog $file: ${e.getMessage}", e) }
      case None => migrate()
    }
  }

  /** The parquet catalog an earlier build kept, read schema-first and
    * published as JSON; its rename-aside copy (`nmstables.old`) stands in
    * when a crash left only that. */
  private def migrate(): IndexedSeq[TableState] =
    Seq("nmstables", "nmstables.old").map(new Path(dir, _)).find(fs.exists) match {
      case None => IndexedSeq.empty
      case Some(legacy) =>
        catalogScans.incrementAndGet()
        val migrated = spark.read.schema(implicitly[Encoder[TableState]].schema)
          .parquet(legacy.toString).as[TableState].collect().toIndexedSeq
        write(migrated)
        migrated
    }

  /** The rows one DSN owns, filtered before the Dataset is built, so the
    * engine's per-tick `readForDsn(dsn).collect()` starts no job. */
  def readForDsn(dsn: Int): Dataset[TableState] =
    // F4 — DSN ownership filter (`/root/reference/cdc.go:51-59`)
    spark.createDataset(rows().filter(_.dsn == dsn))

  /** T4 — upsert by (dsn, name), replacing manual SELECT-then-INSERT/UPDATE
    * (`/root/reference/nmsdb.go:126-158`). */
  def upsert(states: Seq[TableState]): Unit = lock.synchronized {
    val keys = states.map(s => (s.dsn, s.name)).toSet
    val kept = rows().filterNot(s => keys.contains((s.dsn, s.name)))
    write(kept ++ states)
  }

  /** T3 — watermark commit for ONE table, called only after the sink
    * append succeeded (`/root/reference/cdc.go:127-137`,
    * `nmsdb.go:198-212`). Batch-capture callers should accumulate and use
    * [[commitAll]]: one catalog rewrite per tick, not per table. */
  def commit(dsn: Int, name: String, newNms: Timestamp, rowCount: Long,
             shovedOn: Timestamp): Unit =
    commitAll(Seq(StateStore.Commit(dsn, name, newNms, rowCount, shovedOn)))

  /** T3, batched: apply every commit in ONE read-modify-rewrite of the
    * catalog. Synchronized on the JVM-wide per-path lock — concurrent
    * capture threads AND concurrent engines sharing the stateDir
    * (multi-DSN) serialize here, so no commit cycle can clobber
    * another's rows. */
  def commitAll(commits: Seq[StateStore.Commit]): Unit = {
    if (commits.isEmpty) return
    lock.synchronized {
      val byKey = commits.map(c => (c.dsn, c.name) -> c).toMap
      val updated = rows().map { s =>
        byKey.get((s.dsn, s.name)) match {
          case Some(c) => s.copy(nms = c.newNms, lastRowCount = c.rowCount,
            lastShovedOn = Some(c.shovedOn))
          case None => s
        }
      }
      write(updated)
    }
  }

  /** O8 — JSONL state backup (`/root/reference/nmsdb.go:160-177`). */
  def exportJsonl(outPath: String): Unit =
    read().toDF().coalesce(1).write.mode(SaveMode.Overwrite).json(outPath)

  private def write(states: Seq[TableState]): Unit = {
    catalogWrites.incrementAndGet()
    SmallFile.replace(fs, file, StateStore.encode(states))
  }
}
