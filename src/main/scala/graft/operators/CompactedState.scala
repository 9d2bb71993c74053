package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.ParquetMeta
import graft.util.SmallFile

/**
 * Incrementally-materialized current state (SURVEY §7.4's 100 TB posture):
 * instead of re-running the full-log `latestByKey` recompute at read time
 * (`CurrentState`), maintain a compacted table that is MERGE-upserted per
 * captured batch — the reference's BigQuery view made physical
 * (`/root/reference/bigquery.go:187-207` is recomputed by the warehouse on
 * every read; this pays the collapse once, at write time).
 *
 * Plain-parquet MERGE via bucketed copy-on-write (no lakehouse table
 * format in this harness):
 *
 *   - state lives under `dir/bucket=<b>/v=<n>/` — the key space is hashed
 *     into `numBuckets` buckets, each holding its own version history;
 *   - an upsert knows the batch's touched buckets (<= numBuckets values):
 *     the engine observes them on its log append (`touchedBuckets`, no
 *     extra job), other callers pay one probe; it merges batch + those
 *     buckets' current state in ONE exchange on the bucket column (the
 *     per-key `max_by` groups by bucket and key, so the exchange's
 *     partitioning already satisfies it) and writes ONLY the touched
 *     buckets as a new version — untouched buckets are never read or
 *     rewritten. AQE coalesces the tiny reducers into one write task, and
 *     since coalescing never splits a reducer, each touched bucket is
 *     written as exactly one file;
 *   - readers take the max version per bucket, so a crashed upsert (a
 *     partly-written new version is never `v=max` for all its buckets —
 *     the rename is per-bucket last) is superseded by the re-run, and
 *     re-upserting the same batch is idempotent (`max_by` of the same
 *     rows picks the same winners).
 *
 * At 100 TB: per-batch cost is O(touched state + batch), not O(full
 * state); `numBuckets` sizes the rewrite granularity the way partition
 * clauses size a MERGE.
 */
object CompactedState {

  final case class Config(
      keyCols: Seq[String],
      orderCol: String,
      tiebreakCols: Seq[String] = Nil,
      numBuckets: Int = 16)

  private def bucketExpr(conf: Config) =
    pmod(xxhash64(conf.keyCols.map(col): _*), lit(conf.numBuckets.toLong))

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** bucket -> (maxVersion, path of that version) */
  private def latestVersions(spark: SparkSession, dir: String): Map[Long, (Long, String)] = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) Map.empty
    else
      f.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .flatMap { b =>
          val bucket = b.getPath.getName.stripPrefix("bucket=").toLong
          val versions = f.listStatus(b.getPath).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
            .map(s => (s.getPath.getName.stripPrefix("v=").toLong, s.getPath.toString))
          if (versions.isEmpty) None
          else Some(bucket -> versions.maxBy(_._1))
        }.toMap
  }

  /** The current compacted state (None before the first upsert). Read
    * through the footer cache ([[graft.sources.ParquetMeta.read]]): the
    * schema is every current version file's footer schema merged, so a
    * column added by a later batch (O6 additive evolution, which `upsert`
    * accepts) survives the read — the `mergeSchema` result, with no
    * schema-inference job. A single sampled footer could silently drop
    * columns absent from whichever file it sampled. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    val paths = latestVersions(spark, dir).values.map(_._2).toSeq
    if (paths.isEmpty) None
    else Some(ParquetMeta.read(spark, paths: _*))
  }

  private def metaPath(dir: String): Path = new Path(s"$dir/_meta")

  /** The `numBuckets` a layout's `_meta` records. A present-but-
    * unparseable `_meta` gets its OWN error, distinct from a genuine
    * bucket-count mismatch: reporting corruption as "numBuckets
    * mismatch" sends the operator chasing the wrong repair, and silently
    * ignoring it would let a lookup probe the wrong dir. */
  private def parseMeta(dir: String, bytes: Array[Byte]): Int = {
    val content = new String(bytes, "UTF-8")
    "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(content).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"corrupt _meta for compacted state at $dir (content: " +
          s"'${content.take(120)}'): cannot determine the on-disk bucket " +
          "layout; restore _meta from the layout's known numBuckets before " +
          "upserting or probing"))
  }

  /** Persisted layout contract: `numBuckets` determines which bucket dir a
    * key hashes into, so changing it between runs re-buckets keys and
    * resurrects stale rows (the old bucket's copy is no longer shadowed).
    * The first upsert publishes `dir/_meta` (of two racing first upserts,
    * one layout wins and the other is checked against it); every later
    * upsert fails fast on a mismatch instead of silently corrupting
    * state. */
  private def checkOrWriteMeta(f: FileSystem, dir: String, conf: Config): Unit = {
    val persisted = parseMeta(dir, SmallFile.readOrPublish(f, metaPath(dir),
      s"""{"numBuckets": ${conf.numBuckets}}""".getBytes("UTF-8")))
    require(persisted == conf.numBuckets,
      s"numBuckets mismatch for compacted state at $dir: on-disk layout uses " +
        s"numBuckets=$persisted, config says ${conf.numBuckets}; re-bucketing " +
        "existing state would resurrect stale rows")
  }

  /** The touched-bucket metric: the set of bucket ids a batch's keys
    * hash into. Observe it on a pass that already runs over the batch
    * (`Dataset.observe` on the log append) and hand the set to `merge`,
    * so the merge needs no probe job of its own. */
  def touchedBuckets(conf: Config): Column = collect_set(bucketExpr(conf))

  /** MERGE one batch into the compacted state. Idempotent per batch.
    *
    * The batch is read twice, by the touched-bucket probe and by the
    * merge, and is commonly a computed relation (a filtered capture
    * window, a transformed stream), so it is PERSISTED for the call's
    * duration and released in a finally-block. A caller that already
    * holds the batch persisted and has observed [[touchedBuckets]] calls
    * `merge` directly. */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame, conf: Config): Unit = {
    val stable = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = stable.select(touchedBuckets(conf)).collect()
        .head.getSeq[Long](0).toSet // <= numBuckets values by construction
      merge(spark, dir, stable, conf, touched)
    } finally { stable.unpersist(false); () }
  }

  /** MERGE one batch whose touched buckets are known. `touched` must be
    * the batch's [[touchedBuckets]] over the same rows `batch` yields (a
    * persisted or otherwise deterministic batch). Every bucket the batch's
    * rows fall in is published as a new version, so if one is missing
    * from `touched`, its current files are not unioned in and its new
    * version holds only the batch's rows: the bucket's whole prior state
    * is replaced by them. An empty set is an empty batch and writes
    * nothing, not even `_meta`. */
  private[graft] def merge(spark: SparkSession, dir: String, batch: DataFrame, conf: Config,
            touched: Set[Long]): Unit = {
    if (touched.isEmpty) return
    val f = fs(spark, dir)
    checkOrWriteMeta(f, dir, conf)

    val current = latestVersions(spark, dir)
    val existingPaths = current.filter { case (b, _) => touched(b) }.values.map(_._2).toSeq
    // additive schema evolution (O6): per-file schemas reconcile on read and
    // the union null-fills columns either side predates — a batch carrying a
    // new column must not wedge the capture loop
    val union =
      if (existingPaths.isEmpty) batch
      else batch.unionByName(
        ParquetMeta.read(spark, existingPaths: _*), allowMissingColumns = true)
    // one exchange: hash-partitioning on the bucket satisfies the per-key
    // aggregate grouped by (bucket, key), so no second exchange is planned;
    // with no partition count AQE coalesces the reducers, and a bucket is
    // never split across reducers, so each touched bucket is one file
    val merged = CurrentState.latestByKeyAgg(
      union.withColumn("__b", bucketExpr(conf)).repartition(col("__b")),
      "__b" +: conf.keyCols, conf.orderCol, conf.tiebreakCols)

    val newV = (current.values.map(_._1) ++ Seq(0L)).max + 1
    val stage = new Path(s"$dir/_stage_v$newV")
    try {
      merged.write.mode("overwrite").partitionBy("__b").parquet(stage.toString)
      // publish: move each staged bucket dir to bucket=<b>/v=<newV>
      f.listStatus(stage).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__b="))
        .foreach { s =>
          val b = s.getPath.getName.stripPrefix("__b=")
          val target = new Path(s"$dir/bucket=$b/v=$newV")
          f.mkdirs(target.getParent)
          // Hadoop rename reports most failures as `false`, not an exception;
          // a silently dropped bucket would lose the batch's updates forever
          // (the watermark commits after this returns)
          require(f.rename(s.getPath, target), s"failed to publish $target")
        }
    } finally { f.delete(stage, true); () }
  }

  /** Point lookup: the current state of ONE key, reading ONLY the bucket
    * dir the key hashes into — an O(state / numBuckets) scan instead of
    * the full-state read, the access path a "current state of key X"
    * serving query needs at 100 TB. `keyValues` must match
    * `conf.keyCols` positionally; pass `keyTypes` (the key columns'
    * stored DataTypes) to coerce each literal before hashing — xxhash64
    * hashes an Int literal differently from the Long column it probes, so
    * an uncoerced caller-side type picks the WRONG bucket and silently
    * returns no rows. Fails fast if `conf.numBuckets` disagrees with the
    * on-disk layout (same silent-miss failure mode). */
  def lookup(spark: SparkSession, dir: String, conf: Config,
             keyValues: Seq[Any],
             keyTypes: Seq[org.apache.spark.sql.types.DataType] = Nil): Option[DataFrame] = {
    require(keyValues.length == conf.keyCols.length,
      s"expected ${conf.keyCols.length} key values (${conf.keyCols.mkString(", ")}), " +
        s"got ${keyValues.length}")
    require(keyTypes.isEmpty || keyTypes.length == keyValues.length,
      s"keyTypes must be empty or match keyValues, got ${keyTypes.length}")
    SmallFile.read(fs(spark, dir), metaPath(dir)).map(parseMeta(dir, _)).foreach { persisted =>
      require(persisted == conf.numBuckets,
        s"numBuckets mismatch for compacted state at $dir: on-disk layout uses " +
          s"numBuckets=$persisted, config says ${conf.numBuckets}; probing with the " +
          "wrong bucket count would silently miss the key")
    }
    val keyLits = keyValues.zipWithIndex.map { case (v, i) =>
      keyTypes.lift(i).map(lit(v).cast).getOrElse(lit(v))
    }
    // same hash as bucketExpr, over a one-row local relation: the
    // optimizer folds it to a constant, so the probe starts no job
    val oneRow = spark.createDataFrame(
      java.util.Collections.singletonList(Row.empty), StructType(Nil))
    val bucket = oneRow
      .select(pmod(xxhash64(keyLits: _*), lit(conf.numBuckets.toLong)))
      .head().getLong(0)
    latestVersions(spark, dir).get(bucket).map { case (_, path) =>
      conf.keyCols.zip(keyLits).foldLeft(ParquetMeta.read(spark, path)) {
        case (df, (c, v)) => df.filter(col(c) === v)
      }
    }
  }

  /** Drop superseded versions, keeping the newest `retain` per bucket.
    * `retain = 1` reclaims everything but the current version — safe only
    * when no reader can hold a stale listing. `retain = 2` leaves a
    * one-version grace window so a reader that resolved its file listing
    * before the latest upsert (a held `read` DataFrame, a registered temp
    * view) still finds its files — the engine loop runs with this.
    *
    * Also reclaims every orphaned `_stage_v<N>` a crashed publish left
    * behind, for `N` strictly below the newest published version: the
    * next upsert after a crash takes a higher version, so nothing else
    * ever deletes such a dir, while a stage at the newest version may
    * belong to a publish still in flight. */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit = {
    require(retain >= 1, s"vacuum must retain at least the current version, got $retain")
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) return
    val entries = f.listStatus(root).toSeq.filter(_.isDirectory)
    def version(p: Path) = p.getName.stripPrefix("v=").toLong
    val versions = entries.filter(_.getPath.getName.startsWith("bucket=")).map { b =>
      f.listStatus(b.getPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .map(_.getPath).sortBy(-version(_))
    }
    versions.flatMap(_.drop(retain)).foreach { p =>
      f.delete(p, true)
      ParquetMeta.forget(p.toString)
    }
    versions.flatMap(_.headOption).map(version).maxOption.foreach { maxV =>
      entries.map(_.getPath).filter { p =>
        p.getName.startsWith("_stage_v") &&
          p.getName.stripPrefix("_stage_v").toLongOption.exists(_ < maxV)
      }.foreach(f.delete(_, true))
    }
  }
}
