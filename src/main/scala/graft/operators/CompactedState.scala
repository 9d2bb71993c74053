package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.ParquetMeta

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
 *   - an upsert computes the batch's touched buckets (<= numBuckets
 *     values, the one driver-side collect, by construction tiny), merges
 *     batch + those buckets' current state with one partial-aggregating
 *     `max_by` per key, and writes ONLY the touched buckets as a new
 *     version — untouched buckets are never read or rewritten;
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

  /** The persisted `numBuckets` of an existing layout (None before the
    * first upsert or for pre-_meta layouts). A present-but-unparseable
    * `_meta` gets its OWN error, distinct from a genuine bucket-count
    * mismatch: reporting corruption as "numBuckets mismatch" sends the
    * operator chasing the wrong repair, and silently ignoring it would
    * let a lookup probe the wrong dir. */
  private def readMeta(f: FileSystem, dir: String): Option[Int] = {
    val meta = new Path(s"$dir/_meta")
    if (!f.exists(meta)) None
    else {
      val in = f.open(meta)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val parsed =
        "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(content).map(_.group(1).toInt)
      if (parsed.isEmpty)
        throw new IllegalStateException(
          s"corrupt _meta for compacted state at $dir (content: " +
            s"'${content.take(120)}'): cannot determine the on-disk bucket " +
            "layout; restore _meta from the layout's known numBuckets before " +
            "upserting or probing")
      parsed
    }
  }

  /** Persisted layout contract: `numBuckets` determines which bucket dir a
    * key hashes into, so changing it between runs re-buckets keys and
    * resurrects stale rows (the old bucket's copy is no longer shadowed).
    * First upsert writes `dir/_meta`; every later upsert fails fast on a
    * mismatch instead of silently corrupting state. */
  private def checkOrWriteMeta(f: FileSystem, dir: String, conf: Config): Unit = {
    val meta = new Path(s"$dir/_meta")
    def check(): Unit = {
      val persisted = readMeta(f, dir) // throws its own error if corrupt
      require(persisted.contains(conf.numBuckets),
        s"numBuckets mismatch for compacted state at $dir: on-disk layout uses " +
          s"numBuckets=${persisted.map(_.toString).getOrElse("<absent>")}, config says " +
          s"${conf.numBuckets}; re-bucketing existing state would resurrect stale rows")
    }
    if (f.exists(meta)) check()
    else {
      // temp file + rename: FileSystem.create is not atomic, and a crash
      // mid-write would leave a truncated _meta that wedges every later
      // upsert with a corruption error until manually repaired. The tmp
      // name is per-attempt unique — a SHARED tmp path would let two
      // concurrent first upserts truncate each other mid-write and publish
      // interleaved bytes.
      f.mkdirs(new Path(dir))
      val tmp = new Path(
        s"$dir/._meta.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write(s"""{"numBuckets": ${conf.numBuckets}}""".getBytes("UTF-8"))
      finally out.close()
      if (!f.rename(tmp, meta)) f.delete(tmp, false)
      // ALWAYS validate the published content rather than trusting the
      // rename return value: on POSIX-backed filesystems rename over an
      // existing destination succeeds, so a lost race can otherwise leave
      // a winner whose bucket count disagrees with this writer's layout.
      check()
    }
  }

  /** MERGE one batch into the compacted state. Idempotent per batch.
    *
    * The batch is PERSISTED for the call's duration (r19): the upsert
    * reads it twice — the touched-bucket probe, then the merge — and
    * the batch is commonly a computed relation (a filtered capture
    * window, a transformed stream), so an unpersisted plan re-ran its
    * full derivation for the second read. MEMORY_AND_DISK, released in
    * a finally-block, so a failed write cannot leak executor storage. */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame, conf: Config): Unit = {
    val withB = batch.withColumn("__b", bucketExpr(conf))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = withB.select(col("__b")).distinct()
        .collect().map(_.getLong(0)).toSet // <= numBuckets rows by construction
      if (touched.isEmpty) return
      checkOrWriteMeta(fs(spark, dir), dir, conf)

      val current = latestVersions(spark, dir)
      val existingPaths = current.filter { case (b, _) => touched(b) }.values.map(_._2).toSeq
      // additive schema evolution (O6): per-file schemas reconcile on read and
      // the union null-fills columns either side predates — a batch carrying a
      // new column must not wedge the capture loop
      val cachedBatch = withB.drop("__b")
      val merged0 =
        if (existingPaths.isEmpty) cachedBatch
        else cachedBatch.unionByName(
          ParquetMeta.read(spark, existingPaths: _*), allowMissingColumns = true)
      val merged = CurrentState
        .latestByKeyAgg(merged0, conf.keyCols, conf.orderCol, conf.tiebreakCols)
        .withColumn("__b", bucketExpr(conf))

      val newV = (current.values.map(_._1) ++ Seq(0L)).max + 1
      val f = fs(spark, dir)
      val stage = new Path(s"$dir/_stage_v$newV")
      // cluster output by bucket before the partitioned write: one file per
      // touched bucket instead of (shuffle partitions x buckets) shards —
      // state file count stays O(numBuckets), not O(batches x partitions).
      merged.repartition(math.max(1, touched.size), col("__b"))
        .write.mode("overwrite").partitionBy("__b").parquet(stage.toString)

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
      f.delete(stage, true)
    } finally { withB.unpersist(false); () }
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
    readMeta(fs(spark, dir), dir).foreach { persisted =>
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
    * view) still finds its files — the engine loop runs with this. */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit = {
    require(retain >= 1, s"vacuum must retain at least the current version, got $retain")
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) return
    f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .foreach { b =>
        f.listStatus(b.getPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
          .sortBy(-_.getPath.getName.stripPrefix("v=").toLong)
          .drop(retain)
          .foreach { s =>
            f.delete(s.getPath, true)
            ParquetMeta.forget(s.getPath.toString)
          }
      }
  }
}
