package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, SaveMode, SparkSession}

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
  private[state] def lockFor(path: String): Object =
    pathLocks.computeIfAbsent(new java.io.File(path).getAbsolutePath,
      _ => new Object)

  /** JVM-wide materialized-catalog memo, keyed like [[lockFor]]: every
    * writer in scope (cross-process writers are out of scope, same as the
    * lock) refreshes it on publish, so reads between writes cost zero
    * Spark jobs — a tick's 4-5 catalog reads were each a parquet
    * list+scan+collect job, pure driver latency at 10k tables × many
    * ticks. The dir mtime rides along as a staleness guard for external
    * mutation (a test wiping the dir): mismatch → fall through to a real
    * scan. */
  private final case class CachedCatalog(mtime: Long, rows: IndexedSeq[TableState])
  private val catalogMemo =
    new java.util.concurrent.ConcurrentHashMap[String, CachedCatalog]()

  /** Staleness token for the memo: dir mtime alone has millisecond (or
    * coarser) granularity, so a delete-and-rewrite inside one tick of
    * the filesystem clock would alias; folding in the child listing
    * (names, lengths, mtimes — parquet part names carry UUIDs, so any
    * rewrite changes them) closes that hole without reading any data.
    * Child names hash through xxhash64 (not 32-bit String.hashCode):
    * the guard exists precisely for out-of-band rewrites, so a
    * same-mtime same-length replacement must not be able to alias on a
    * 32-bit name collision. */
  private[state] def catalogToken(f: java.io.File): Long = {
    val children = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
    children.sortBy(_.getName).foldLeft(f.lastModified()) { (acc, c) =>
      val nameHash = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(c.getName),
          org.apache.spark.sql.types.StringType, 42L)
      ((acc * 31 + nameHash) * 31 + c.length()) * 31 + c.lastModified()
    }
  }

  /** Drop a retired store path's memo entry — the hook [[StateStore.close]]
    * uses so a long-lived multi-DSN service does not accumulate one cached
    * catalog per deleted/retired state dir for the life of the JVM. The
    * per-path LOCK entry deliberately stays: it is one bare Object, and
    * evicting it while a sibling store on the same path is still live
    * would hand the next store a DIFFERENT lock object — two "mutually
    * excluded" writers interleaving. */
  private[state] def evictMemo(absPath: String): Unit = {
    catalogMemo.remove(absPath); ()
  }
}

/**
 * Parquet-backed state catalog, replacing SQLite (`/root/reference/
 * nmsdb.go:33-212`). One row per (dsn, table); tiny — it is metadata, not
 * data — so read-modify-overwrite is fine at any scale (the 100 TB lives
 * in the captured tables, not here). Commits batch to ONE catalog rewrite
 * per engine tick ([[commitAll]]): the per-table rewrite this replaces was
 * O(catalog) per table per tick — the tick bottleneck at 10k+ tracked
 * tables.
 *
 * Not reproduced from the reference: the 8-column / 7-placeholder INSERT
 * bug (`nmsdb.go:148-151`).
 */
final class StateStore(spark: SparkSession, dir: String) {
  import spark.implicits._

  private val path = s"$dir/nmstables"
  private val absPath = new java.io.File(path).getAbsolutePath
  private val lock = StateStore.lockFor(path)

  /** Catalog rewrites performed by this store (observability for the
    * one-write-per-tick contract; a per-table regression shows up here). */
  val catalogWrites = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Parquet scans the memo could not serve (observability for the
    * zero-jobs-between-writes contract: a no-write tick must not grow
    * this). */
  val catalogScans = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Reads materialize EAGERLY under the catalog lock: a lazy Dataset
    * would list/scan the parquet at action time, racing `write`'s
    * rename swap and observing a mid-swap catalog. Served from the
    * JVM-wide memo when the last publish's copy is still current; the
    * returned Dataset is a local relation over the memo rows, so its
    * `collect()` is a local scan, not a Spark job. On a memo miss the
    * catalog parquet is read with the `TableState` encoder's schema (no
    * schema-inference job) and collected, O(tables). */
  def read(): Dataset[TableState] = spark.createDataset(rows())

  private def rows(): IndexedSeq[TableState] = lock.synchronized {
    recoverAside()
    val f = new java.io.File(path)
    if (!f.exists()) IndexedSeq.empty
    else {
      val token = StateStore.catalogToken(f)
      val hit = StateStore.catalogMemo.get(absPath)
      if (hit != null && hit.mtime == token) hit.rows
      else {
        catalogScans.incrementAndGet()
        val scanned = spark.read.schema(implicitly[Encoder[TableState]].schema)
          .parquet(path).as[TableState].collect().toIndexedSeq
        StateStore.catalogMemo.put(absPath,
          StateStore.CachedCatalog(token, scanned))
        scanned
      }
    }
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

  /** Release this store's JVM-wide memo entry. Call when the state dir
    * is retired (engine shutdown, test teardown) — the memo holds the
    * full cached catalog rows, a slow leak across many short-lived
    * state dirs in one long-lived process. Safe to keep using the store
    * afterwards: the next read just falls through to a real scan. */
  def close(): Unit = StateStore.evictMemo(absPath)

  /** O8 — JSONL state backup (`/root/reference/nmsdb.go:160-177`). */
  def exportJsonl(outPath: String): Unit =
    read().toDF().coalesce(1).write.mode(SaveMode.Overwrite).json(outPath)

  /** Rename-aside publish: stage the new catalog in `.tmp`, move the live
    * catalog ASIDE (`.old`) rather than deleting it, publish `.tmp`, then
    * drop the aside. At every crash point a complete catalog exists on
    * disk — either `path` (before the aside move, or after publish) or
    * `path.old` (between the two renames; [[recoverAside]] restores it on
    * the next read). The delete-then-rename this replaces had a window
    * where a crash left NO live catalog. */
  private def write(states: Seq[TableState]): Unit = {
    catalogWrites.incrementAndGet()
    val tmp = s"$path.tmp"
    states.toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    recoverAside() // a crash-orphaned aside is the live catalog; restore first
    val target = new java.io.File(path)
    val aside = new java.io.File(s"$path.old")
    deleteRecursively(aside) // stale aside from a crash after a past publish
    if (target.exists() && !target.renameTo(aside))
      throw new java.io.IOException(s"state swap failed: $path -> $path.old")
    if (!new java.io.File(tmp).renameTo(target)) {
      aside.renameTo(target) // restore the previous catalog before failing
      throw new java.io.IOException(s"state swap failed: $tmp -> $path")
    }
    deleteRecursively(aside)
    StateStore.catalogMemo.put(absPath,
      StateStore.CachedCatalog(StateStore.catalogToken(target),
        states.toIndexedSeq))
  }

  /** Crash recovery for the rename-aside window: no live catalog but an
    * aside present means the crash hit between `path -> path.old` and
    * `tmp -> path` — the aside IS the last durable catalog; restore it.
    * Both present (crash after publish, before aside cleanup): `path` is
    * newer and wins; the stale aside is swept by the next write. */
  private def recoverAside(): Unit = {
    val target = new java.io.File(path)
    val aside = new java.io.File(s"$path.old")
    if (!target.exists() && aside.exists() && !aside.renameTo(target))
      throw new java.io.IOException(
        s"state recovery failed: $path.old -> $path")
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.util.Util.deleteRecursively(f)
}
