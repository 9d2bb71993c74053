package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

import graft.extensions.IndexFamily
import graft.sinks.AppendSink

/**
 * Structured-Streaming CDC ingestion — the streaming re-expression of the
 * reference's capture loop (BASELINE.json `spark_approach`): instead of a
 * driver-side watermark policy polling the source (`/root/reference/
 * cdc.go:61-96`), the change log arrives as a stream and Spark's own
 * machinery supplies the semantics the reference builds by hand:
 *
 *  - watermark tracking          -> `withWatermark` (replaces T1/T2)
 *  - at-least-once + downstream  -> checkpointed `foreachBatch` append +
 *    dedup (T3 + W1)                `dropDuplicatesWithinWatermark`
 *  - run-once vs continuous (T6) -> `Trigger.AvailableNow` vs
 *                                   `Trigger.ProcessingTime`
 *  - batching triple (T8)        -> trigger interval + `maxFilesPerTrigger`
 *
 * At scale: the stream shuffles only for the stateful dedup (keyed by pk),
 * the append is partition-local, and state is bounded by the watermark
 * delay — this is the shape that survives 1000 executors.
 */
object CdcStream {

  /** Read a parquet-file change stream. `rawSchema` must be the ON-DISK
    * schema (use `rawFileSchema`); nanosecond timestamp columns arrive as
    * longs and are converted here, mirroring `Tables.load`. */
  def readChangeStream(
      spark: SparkSession,
      sourceDir: String,
      rawSchema: StructType,
      nanosCols: Seq[String] = Seq("ts"),
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val reader = spark.readStream.schema(rawSchema)
    val tuned = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n)).getOrElse(reader)
    val df = tuned.parquet(sourceDir)
    nanosCols.foldLeft(df) { (d, c) =>
      if (!d.schema.fieldNames.contains(c)) d
      else d.schema(c).dataType match {
        case LongType =>
          d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // naive micros (newer harness encoding): session tz is UTC, so
          // the cast to instant micros is exact — mirrors Tables.normalize
          d.withColumn(c, col(c).cast(TimestampType))
        case _ => d
      }
    }
  }

  /** The on-disk schema of a parquet table, with nanos read as longs —
    * what `readStream.schema(...)` needs. */
  def rawFileSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path).schema
  }

  /**
   * Start CDC ingestion: change stream -> watermarked pk-dedup ->
   * checkpointed append into `<table>_cdc`. Exactly-once to the sink
   * across restarts comes from the checkpoint (committed batch ids are
   * not re-appended); residual duplicates from at-least-once upstream are
   * collapsed by `dropDuplicatesWithinWatermark` and, terminally, by the
   * current-state view (W1).
   */
  def startIngest(
      spark: SparkSession,
      sourceDir: String,
      sinkDir: String,
      checkpointDir: String,
      table: String,
      nmsCol: String,
      pkCol: String,
      watermarkDelay: String = "1 hour",
      availableNow: Boolean = true,
      /** T8 BQ_BATCH_PERIOD (`benthos.go:121-124`): max time between
        * flushes -> the processing-time trigger interval. */
      batchPeriodSecs: Long = 10L,
      /** Also MERGE each micro-batch into `<table>_cdc_state` (SURVEY
        * §7.4) — same compaction as the batch engine's
        * `maintainCurrentState`, idempotent per batch id on replay. */
      maintainCurrentState: Boolean = false): StreamingQuery = {

    val raw = rawFileSchema(spark, sourceDir)
    val stream = readChangeStream(spark, sourceDir, raw)
      .withWatermark(nmsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(pkCol, nmsCol)

    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch-constant snapshot_tm (P3): a REAL capture timestamp,
        // recorded once per batch id in the checkpoint dir so a replay of
        // the same epoch stamps identically (idempotent re-runs) while
        // `snapshot_dt` partitioning/retention stays meaningful.
        val snapTm = getOrRecordBatchTime(spark, checkpointDir, batchId)
        val stamped = batch.withColumn("snapshot_tm",
          lit(snapTm).cast(TimestampType))
        if (!stamped.isEmpty) {
          AppendSink.appendSnapshot(stamped, sinkDir, table)
          if (maintainCurrentState) {
            graft.operators.CompactedState.upsert(spark,
              s"$sinkDir/${AppendSink.cdcTableName(table)}_state", stamped,
              graft.operators.CompactedState.Config(
                Seq(pkCol), "snapshot_tm", Seq(nmsCol)))
          }
        }
        ()
      }
    writer.trigger(batchTrigger(availableNow, batchPeriodSecs)).start()
  }

  /** T6 x T8: run-once drains with AvailableNow; continuous mode fires on
    * the configured batch period. */
  private[streaming] def batchTrigger(availableNow: Boolean, batchPeriodSecs: Long): Trigger =
    if (availableNow) Trigger.AvailableNow()
    else Trigger.ProcessingTime(s"$batchPeriodSecs seconds")

  // ---- restart-after-compaction mechanization (VERDICT r18 #3) --------

  /** What a maintenance ingest does when it detects — an O(1) stamp read
    * per trigger — that the SAVED tree its frozen index handle came from
    * now holds a different version: an offline compaction saved a new
    * version IN PLACE while the stream ran. Routing against the stale
    * handle misroutes (a retired id's re-insert looks "known" and lands
    * in the upsert sink with a NULL old image; an id the compaction
    * added faces the novelty gate against stale stats), and the sink
    * trees the compaction consumed are already marked, so
    * post-compaction batches written there would be orphaned. Handles
    * with NO saved tree (in-memory fits) cannot be probed — for them
    * every policy degrades to [[FrozenHandle]] and the documented
    * restart contract governs. */
  sealed trait CompactionPolicy

  /** Refuse the trigger with a named `restart required: index version
    * moved` error — the DEFAULT: the drift the r18 contract documented
    * becomes a loud, immediate, attributable stream failure at the
    * trigger boundary, instead of a NULL-image refusal at the NEXT
    * compaction, many triggers (and many misroutes) later. */
  case object FailStreamOnCompaction extends CompactionPolicy

  /** Re-resolve and keep running: reload the handle from its saved tree
    * when the stamp moves, and write every sink as
    * `<dir>/epoch=<indexVersion>/batch=<id>` so a compaction's consumed
    * (marked) trees are never written again — the fold side points at
    * ONE epoch's trees (`<dir>/epoch=N`), saves the bump in place, and
    * the stream rolls itself to `epoch=N+1` at the next trigger.
    * Residual window (documented, not closed): a compaction running
    * CONCURRENTLY with an in-flight trigger can consume an epoch tree
    * while that trigger's write to it is still in flight — fold between
    * triggers (the availableNow cadence) or quiesce the stream while
    * folding to close it. */
  case object ReresolveOnCompaction extends CompactionPolicy

  /** r18 behavior: no per-trigger probe; the operator owns the
    * drain → fold → restart-on-the-new-handle rhythm (the documented
    * operating contract on [[startCdcMaintenanceIngest]]). */
  case object FrozenHandle extends CompactionPolicy

  /** Per-trigger handle resolution: probe the saved tree's stamp (O(1)
    * metadata read, no Spark job) and apply the policy. `ref` carries
    * the current handle across triggers — foreachBatch runs serially on
    * the driver, so a plain reference cell is race-free. */
  private def resolveHandle[I](spark: SparkSession,
                               ref: java.util.concurrent.atomic.AtomicReference[I],
                               policy: CompactionPolicy)(
                               implicit fam: IndexFamily[I]): I = {
    val cur = ref.get()
    (policy, fam.savedDir(cur)) match {
      case (FrozenHandle, _) | (_, None) => cur
      case (_, Some(d)) =>
        graft.extensions.IndexMeta.read(spark, d).map(_.version) match {
          case Some(v) if v != fam.version(cur) => policy match {
            case FailStreamOnCompaction => throw new IllegalStateException(
              s"restart required: index version moved (${fam.version(cur)} -> $v) " +
                s"at $d — an offline compaction saved a new version in place " +
                "while this ingest ran; the frozen handle's membership/stats " +
                "would misroute from here on. Restart the ingest on the new " +
                "handle and fresh sink trees (or run with " +
                "ReresolveOnCompaction to roll automatically)")
            case ReresolveOnCompaction =>
              val fresh = fam.load(spark, d); ref.set(fresh); fresh
            case FrozenHandle => cur
          }
          case _ => cur
        }
    }
  }

  /** Epoch subtree suffix for [[ReresolveOnCompaction]] sink paths. */
  private def epochSuffix(policy: CompactionPolicy, version: Long): String =
    policy match {
      case ReresolveOnCompaction => s"/epoch=$version"
      case _ => ""
    }

  /**
   * The wall-clock capture time of a batch, recorded ONCE per batch id as
   * a side-file in the checkpoint dir: first execution stamps `now`, every
   * replay of the same batch id reads the recorded value back — so
   * `snapshot_tm` is both real (partition pruning and retention on
   * `snapshot_dt` work) and replay-stable (re-runs are byte-identical).
   * foreachBatch runs serially on the driver, so no write races.
   */
  private[streaming] def getOrRecordBatchTime(
      spark: SparkSession, checkpointDir: String, batchId: Long,
      now: () => Long = () => System.currentTimeMillis()): Timestamp = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(s"$checkpointDir/graft_snapshot_tm")
    val fs = dir.getFileSystem(conf)
    val f = new org.apache.hadoop.fs.Path(dir, batchId.toString)
    if (fs.exists(f)) {
      val in = new java.io.DataInputStream(fs.open(f))
      try new Timestamp(in.readLong()) finally in.close()
    } else {
      val ms = now()
      fs.mkdirs(dir)
      // write-then-rename so a crash mid-write can never leave a truncated
      // file that poisons every replay of this batch id
      val tmp = new org.apache.hadoop.fs.Path(dir, s".${batchId}.tmp")
      val out = new java.io.DataOutputStream(fs.create(tmp, true))
      try out.writeLong(ms) finally out.close()
      if (!fs.rename(tmp, f)) {
        fs.delete(tmp, false)
        require(fs.exists(f), s"could not publish batch time for batch $batchId")
        // lost a (theoretical) race: use the published value
        val in = new java.io.DataInputStream(fs.open(f))
        try return new Timestamp(in.readLong()) finally in.close()
      }
      new Timestamp(ms)
    }
  }

  /** Stream-static enrichment: join the change stream against a (small)
    * static dimension, broadcast per micro-batch — the streaming analog of
    * the J1 star join, and the standard way to attach slowly-changing
    * reference data to a CDC stream without stateful stream-stream joins.
    * The dimension is re-resolved per micro-batch, so an updated dim table
    * is picked up on the next trigger. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    joinCols: Seq[String], how: String = "left"): DataFrame =
    stream.join(broadcast(dim), joinCols, how)

  /**
   * Streaming ingest dedup against a persisted corpus index: every
   * micro-batch of arriving documents is probed with
   * [[graft.extensions.Dedup.dedupAgainstCorpus]] — O(batch) work per
   * trigger against the fit-once index — and only novel docs append to
   * the sink. `foreachBatch` hands each micro-batch over as a static
   * DataFrame, so the exact batch semantics (inverted-index candidates +
   * exact-Jaccard verify + broadcast anti-join) apply unchanged; a
   * stream-static formulation of the anti-join would pin the plan to
   * whatever join types the streaming planner supports, for no gain.
   *
   * The index is resolved per micro-batch by reference, so the caller
   * can swap in a refreshed corpus version between triggers (retire the
   * old one via `CorpusIndex.unpersist` only after the swap); the batch
   * shingles with the index's own `shingleK`, so an index built with a
   * non-default k probes correctly with no extra plumbing. Accepted
   * batches do NOT auto-join the index: growing the corpus is a
   * versioning decision (when to re-fit, how to compact), owned by the
   * pipeline, not this operator — see [[compactAccepted]] for
   * the idempotent offline bump. Quality gates / decontamination
   * compose UPSTREAM: transform `docStream` (filter, [[graft.extensions
   * .CorpusOps]] ops) before passing it in; the ingest needs no hook.
   *
   * Exactly-once to the sink: committed batch ids are not re-run
   * (checkpoint), and each batch writes by OVERWRITE into its own
   * `batch=<id>` subdirectory — so the crash window between a sink write
   * and the checkpoint commit, where a plain append would duplicate the
   * batch on replay, instead overwrites the same subdir with the same
   * rows. Readers `spark.read.parquet(sinkDir)` and see `batch` as a
   * partition column.
   */
  /** Streaming CURATION ingest — the text-funnel analog of the dedup
    * ingest legs: each micro-batch runs the langid → quality →
    * repetition → within-batch-exact-dedup battery
    * ([[graft.extensions.CorpusOps.curate]]: zero-shuffle within-row
    * kernels + ONE keep-first combining shuffle, O(batch) per trigger)
    * and only curated survivors land in the sink, carrying the
    * metadata a curated shard carries (quality, token budget,
    * fingerprint). Cross-batch dedup is deliberately NOT this leg's
    * job — chain the sink into [[startCorpusDedupIngest]] for that;
    * gating the firehose BEFORE the index probe is the production
    * composition (the gates are the cheap stage). `statsDir`
    * additionally records each batch's funnel attrition
    * ([[graft.extensions.CorpusOps.curationFunnel]]) next to the data;
    * when enabled, the kernel battery runs ONCE behind a persisted
    * metrics relation shared by both sinks. Both sinks use the
    * per-batch `batch=<id>` OVERWRITE, so replay after any crash point
    * reconciles the audit trail with the rows it describes; the gates
    * are stateless (row-local), so replay is trivially idempotent. */
  def startCurationIngest(
      docStream: DataFrame,
      idCol: String, textCol: String,
      sinkDir: String, checkpointDir: String,
      lang: String = "en", minQuality: Double = 0.5,
      maxDup2: Double = 0.05, maxTop2: Double = 0.12,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L,
      statsDir: Option[String] = None): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.extensions.CorpusOps
        statsDir match {
          case None =>
            CorpusOps.curate(batch, col(idCol), col(textCol),
              lang, minQuality, maxDup2, maxTop2)
              .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
          case Some(sd) =>
            val metrics = CorpusOps.curationMetrics(
              batch, col(idCol), col(textCol))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              CorpusOps.curateFromMetrics(metrics,
                lang, minQuality, maxDup2, maxTop2)
                .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
              CorpusOps.funnelFromMetrics(metrics,
                lang, minQuality, maxDup2, maxTop2)
                .withColumn("batch_id", lit(batchId))
                .write.mode("overwrite").parquet(s"$sd/batch=$batchId")
            } finally { metrics.unpersist(false); () }
        }
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()

  /** Streaming BOILERPLATE SCRUB ingest — the line-level complement of
    * the curation leg: each micro-batch is rebuilt against a FROZEN
    * per-source boilerplate census (fit offline with
    * [[graft.extensions.Dedup.boilerplateLines]] over the corpus the
    * pipeline already holds). O(batch) per trigger: the line explode
    * touches only the batch's rows, and the census joins as the (tiny)
    * flagged set — that a site's boilerplate is a small stable set is
    * exactly what makes it boilerplate. The census is deliberately
    * frozen between refreshes, same contract as the dedup legs' frozen
    * indexes: a census that drifted with every batch would make replay
    * non-idempotent (and let one weird batch redefine a source's
    * boilerplate); refresh offline, restart the leg. Stateless given
    * the census, so the per-batch `batch=<id>` OVERWRITE replay
    * contract is trivially idempotent. */
  def startBoilerplateScrubIngest(
      docStream: DataFrame,
      census: DataFrame,
      idCol: String, textCol: String, sourceCol: String,
      sinkDir: String, checkpointDir: String,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.extensions.Dedup.scrubBoilerplate(
          batch, idCol, textCol, sourceCol, census = Some(census))
          .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()

  def startCorpusDedupIngest(
      docStream: DataFrame,
      index: graft.extensions.Dedup.CorpusIndex,
      idCol: String, textCol: String,
      sinkDir: String, checkpointDir: String,
      threshold: Double = 0.5,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L,
      provenanceDir: Option[String] = None): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // ALWAYS write the batch subdir, even when novel is empty: a
        // replayed batch whose novel set shrank to empty (the caller
        // swapped in a refreshed index between a crashed attempt and
        // its replay) must still reconcile the subdir, or the crashed
        // attempt's now-stale rows would survive as batch=<id>. The
        // unconditional overwrite keeps replay idempotent in all cases.
        provenanceDir match {
          case None =>
            graft.extensions.Dedup.dedupAgainstCorpus(
              batch, index, idCol, textCol, threshold = threshold)
              .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
          case Some(pd) =>
            // auditing enabled: run the probe ONCE, persist the skinny
            // match relation, and derive BOTH the keep-set anti-join and
            // the provenance aggregate from it — the candidate join +
            // Jaccard verify is the per-batch cost, and rebuilding it
            // for the audit sink would double it. Both sinks share the
            // per-batch overwrite contract, so a replay reconciles the
            // audit trail with the keep-set it sits next to.
            val matches = graft.extensions.Dedup.corpusDupMatches(
              batch, index, idCol, textCol, threshold)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              graft.extensions.Dedup.keepSetFromMatches(batch, matches, idCol)
                .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
              graft.extensions.Dedup.provenanceFromMatches(matches, idCol, "jaccard")
                .write.mode("overwrite").parquet(s"$pd/batch=$batchId")
            } finally { matches.unpersist(false); () }
        }
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()

  /** The VECTOR analog of [[startCdcMaintenanceIngest]]: one
    * checkpointed pass per trigger routes an embedding change log's
    * three op classes — inserts probe the frozen sign-LSH bucket index
    * (the novelty gate, [[startEmbeddingDedupIngest]]'s leg) into
    * `acceptDir`; updates land their id + new vector in `upsertDir`
    * (no old image needed: every vector family retracts by id alone);
    * deletes land their id in `retractDir`. Downstream,
    * [[compact]] net-reduces all three trees for any vector family
    * (cross-class-safe, the [[startCdcMaintenanceIngest]] argument);
    * the per-leg folds remain correct when compaction cadence
    * guarantees class-disjoint windows. Micro-batch
    * persisted once, change log read once; the gate probe is the only
    * non-narrow work. Same OPERATING CONTRACT as
    * [[startCdcMaintenanceIngest]]: the gate and reinsert router key
    * off the handle frozen at stream start — and for a SAVED handle the
    * contract is now mechanized per trigger by `onCompaction`
    * ([[CompactionPolicy]]): the default refuses the trigger with the
    * named `restart required` error the moment the saved tree's version
    * moves; [[ReresolveOnCompaction]] reloads and rolls the sinks to
    * `epoch=<version>` subtrees instead. */
  def startVecMaintenanceIngest(
      changeStream: DataFrame,
      index: graft.extensions.Dedup.EmbeddingIndex,
      idCol: String, vecCol: String,
      opCol: String,
      acceptDir: String, upsertDir: String, retractDir: String,
      checkpointDir: String,
      insertOp: String = "insert", updateOp: String = "update",
      deleteOp: String = "delete",
      threshold: Double = 0.95,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L,
      onCompaction: CompactionPolicy = FailStreamOnCompaction): StreamingQuery = {
    val handle = new java.util.concurrent.atomic.AtomicReference(index)
    changeStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ix = resolveHandle(batch.sparkSession, handle, onCompaction)
        val ep = epochSuffix(onCompaction, ix.version)
        val b = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // reinserts (id already served) bypass the novelty gate and
          // route to the upsert sink — the delete→reinsert hole the doc
          // ingest documents; the id split is one broadcast-batch join
          // against the index's skinny id→vector relation
          val ins = b.filter(col(opCol) === insertOp).drop(opCol)
          val known = ix.vectors.select(col("doc_id").as(idCol))
          graft.extensions.Dedup.dedupEmbeddingsAgainstCorpus(
            ins.join(known, Seq(idCol), "left_anti"),
            ix, idCol, vecCol, threshold = threshold)
            .write.mode("overwrite").parquet(s"$acceptDir$ep/batch=$batchId")
          b.filter(col(opCol) === updateOp)
            .select(col(idCol), col(vecCol))
            .unionByName(ins.join(known, Seq(idCol), "left_semi")
              .select(col(idCol), col(vecCol)))
            .write.mode("overwrite").parquet(s"$upsertDir$ep/batch=$batchId")
          b.filter(col(opCol) === deleteOp)
            .select(col(idCol))
            .write.mode("overwrite").parquet(s"$retractDir$ep/batch=$batchId")
        } finally { b.unpersist(false); () }
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()
  }

  /** Streaming EMBEDDING dedup ingest — the embedding analog of
    * [[startCorpusDedupIngest]], same contract end to end: each
    * micro-batch probes the sign-LSH bucket index via
    * [[graft.extensions.Dedup.dedupEmbeddingsAgainstCorpus]] (O(batch)
    * per trigger), only novel vectors land in the sink, the index is
    * resolved by reference per trigger (hot-swappable between
    * triggers), and each batch OVERWRITES its own `batch=<id>` subdir —
    * replay after ANY crash point, including a replay whose novel set
    * shrank to empty under a swapped index, reconciles the subdir
    * instead of duplicating or stranding rows. */
  def startEmbeddingDedupIngest(
      vecStream: DataFrame,
      index: graft.extensions.Dedup.EmbeddingIndex,
      idCol: String, vecCol: String,
      sinkDir: String, checkpointDir: String,
      threshold: Double = 0.95,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L,
      provenanceDir: Option[String] = None): StreamingQuery =
    vecStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // same single-probe structure as the text ingest: with auditing
        // on, one persisted match relation feeds both sinks
        provenanceDir match {
          case None =>
            graft.extensions.Dedup.dedupEmbeddingsAgainstCorpus(
              batch, index, idCol, vecCol, threshold = threshold)
              .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
          case Some(pd) =>
            val matches = graft.extensions.Dedup.embeddingDupMatches(
              batch, index, idCol, vecCol, threshold)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              graft.extensions.Dedup.keepSetFromMatches(batch, matches, idCol)
                .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
              graft.extensions.Dedup.provenanceFromMatches(matches, idCol, "cosine")
                .write.mode("overwrite").parquet(s"$pd/batch=$batchId")
            } finally { matches.unpersist(false); () }
        }
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()

  /** Streaming SEMANTIC dedup ingest — the SemDeDup leg of the ingest
    * symmetry ([[startCorpusDedupIngest]] text / n-gram Jaccard,
    * [[startEmbeddingDedupIngest]] sign-LSH buckets, this one IVF
    * cells): each micro-batch is assigned to the FROZEN cells of the
    * corpus [[graft.extensions.Similarity.IvfIndex]] and cosine-scored
    * against co-celled corpus members only
    * ([[graft.extensions.Similarity.semanticDedupBatch]], O(batch) —
    * the corpus-sized assigned relation never reshuffles); only
    * corpus-novel vectors land in the sink. Same contract end to end:
    * the index is resolved by reference per trigger (hot-swappable
    * between triggers), each batch OVERWRITES its own `batch=<id>`
    * subdir so replay after any crash point reconciles instead of
    * duplicating, and `provenanceDir` runs the probe ONCE and derives
    * both the keep-set and the best-match drop audit from the same
    * persisted match relation. */
  def startSemanticDedupIngest(
      vecStream: DataFrame,
      index: graft.extensions.Similarity.IvfIndex,
      idCol: String, vecCol: String,
      sinkDir: String, checkpointDir: String,
      eps: Double = 0.95,
      maxCellSize: Int = 100000,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L,
      provenanceDir: Option[String] = None): StreamingQuery =
    vecStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        provenanceDir match {
          case None =>
            graft.extensions.Similarity.semanticDedupBatch(
              index, batch, idCol, vecCol, eps, maxCellSize)
              .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
          case Some(pd) =>
            // the probe's (idCol, corpus_id, cosine) matches under the
            // shared (batch_id, corpus_id, score) audit contract
            val matches = graft.extensions.Similarity.semanticDupAgainstIndex(
              index, batch, idCol, vecCol, eps, maxCellSize)
              .withColumnRenamed(idCol, "batch_id")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              graft.extensions.Dedup.keepSetFromMatches(batch, matches, idCol)
                .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
              graft.extensions.Dedup.provenanceFromMatches(matches, idCol, "cosine")
                .write.mode("overwrite").parquet(s"$pd/batch=$batchId")
            } finally { matches.unpersist(false); () }
        }
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()

  /** Streaming RETRACT ingest — the DELETE half of CDC-driven index
    * maintenance, completing the loop the accept legs opened: a change
    * stream carries deletes as well as inserts (the reference's CDC
    * domain — a row leaving the source table must leave the serving
    * indexes too), and this leg collects each micro-batch's delete ops
    * into a batch-partitioned retired-rows sink. `keepCols` names what
    * downstream retraction needs: the id alone for the anti-join
    * families (text-gram, embedding, IVF, PQ, IVF-PQ), id + text for
    * BM25 (retraction subtracts the retired doc's contributions, and a
    * CDC delete carries the full old row image by construction).
    * Retraction is deliberately NOT applied per trigger — the BM25
    * subtraction is not idempotent under replay, exactly the
    * double-count class the accept legs' offline-fold contract guards
    * against — so shrinking an index is the same idempotent compaction
    * step as growing one ([[compact]] with only `retractDir`), and the
    * per-batch `batch=<id>` OVERWRITE keeps the sink itself replay-safe.
    * AMENDED rows are not this leg's job: an update is remove-then-add —
    * in batch the refresh loop
    * ([[graft.extensions.CorpusOps.refreshIndex]]) expresses it off a
    * corpus diff, and in streaming [[startUpsertIngest]] collects both
    * row images for the upsert fold — routing an update's new image
    * through a dedup ingest would let the novelty gate eat it (it
    * matches its own stale index entry). */
  def startRetractIngest(
      changeStream: DataFrame,
      opCol: String, deleteOp: String,
      keepCols: Seq[String],
      sinkDir: String, checkpointDir: String,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L): StreamingQuery =
    changeStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // unconditional overwrite, even for a batch with no deletes —
        // the same replay-reconciliation argument as the accept legs
        batch.filter(col(opCol) === deleteOp)
          .select(keepCols.map(col): _*)
          .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()

  /** Streaming UPSERT ingest — the AMENDED-row leg of CDC-driven index
    * maintenance, the last op class after the accept (insert) and
    * retract (delete) legs: a CDC update carries BOTH row images by
    * construction, and an amended document must be remove-then-add in
    * every append-only index family. The new image deliberately does
    * NOT go through a dedup ingest's novelty gate — it would match its
    * own stale index entry and be eaten — so this leg collects each
    * micro-batch's update ops (both images: `keepCols` names the new
    * image incl. the id plus whatever old-image columns downstream
    * retraction needs, e.g. `old_text` for BM25) into a
    * batch-partitioned sink, per-batch OVERWRITE replay contract, and
    * the upsert fold ([[compact]]) applies remove-then-extend offline as
    * one idempotent compaction step. The batch partition column is the
    * ORDER the folds need: an id amended twice in one compaction window
    * must retract what the index actually holds (the EARLIEST old
    * image) and serve what the source last said (the LATEST new image)
    * — intermediate images are skipped entirely, exactly as a rebuild
    * on the final state would. Within one micro-batch the source must
    * emit at most one update per id (the standard CDC log-reader
    * contract; pre-compact per key upstream otherwise) — batch order is
    * the only ordering the sink stores. */
  def startUpsertIngest(
      changeStream: DataFrame,
      opCol: String, updateOp: String,
      keepCols: Seq[String],
      sinkDir: String, checkpointDir: String,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L): StreamingQuery =
    changeStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.filter(col(opCol) === updateOp)
          .select(keepCols.map(col): _*)
          .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()

  /** ONE stream, ALL THREE CDC op classes — the production maintenance
    * shape. The single-leg ingests ([[startCorpusDedupIngest]] /
    * [[startUpsertIngest]] / [[startRetractIngest]]) each run their own
    * query over the change log; a deployment maintaining a served
    * corpus wants ONE checkpointed pass per trigger that routes by op:
    *
    *  - INSERTS probe the frozen index (the novelty gate) and only
    *    corpus-novel rows land in `acceptDir` — the
    *    [[startCorpusDedupIngest]] leg verbatim;
    *  - UPDATES land BOTH row images in `upsertDir`, bypassing the gate
    *    (the new image would match its own stale index entry and be
    *    eaten — the [[startUpsertIngest]] rationale);
    *  - DELETES land their old row image in `retractDir`.
    *
    * The micro-batch is persisted once and feeds all three routes, so
    * the change log is read ONCE per trigger; the insert leg's index
    * probe is the only non-narrow work — the update/delete legs are
    * pure projections. All three sinks share the per-batch `batch=<id>`
    * OVERWRITE replay contract (each route writes its subdir
    * unconditionally, even when empty — the replay-reconciliation
    * argument of the accept legs), and downstream ONE net-effect
    * compaction versions the index off all three trees:
    * [[compact]], for the text-gram index and the BM25 stats alike. CDC
    * guarantees at most one event per id per TRIGGER, but a compaction
    * window spans many triggers, and an id can cross op classes
    * between them (insert then update, update then delete, delete then
    * re-insert) — the per-leg folds assume class-disjoint id sets and
    * would violate
    * extend's append-only contract on such a window; the net-effect
    * compaction reduces every id to one net operation instead. Use the
    * per-leg folds ([[compactAccepted]], [[compact]] with one tree) only
    * when compaction cadence guarantees class-disjoint windows.
    *
    * OPERATING CONTRACT — restart (or re-resolve) after every
    * compaction: the novelty gate and the reinsert router classify
    * against the `index` handle FROZEN at stream start. A compaction
    * that retires ids and swaps in version N+1 makes that membership
    * stale for a still-running stream: an insert of an id
    * deleted-and-compacted in a PRIOR window still looks "known" and
    * is misrouted to the upsert sink with a NULL old image (which the
    * BM25 folds refuse loudly on, but the refusal fires at the NEXT
    * compaction, not at the misroute); an id the compaction ADDED
    * routes through the gate against stale docStats. The compaction
    * rhythm is therefore: drain/stop the ingest → fold → restart the
    * ingest on the new index handle and FRESH sink trees — the same
    * swap-between-triggers rhythm [[compactAccepted]] documents
    * for the single-leg ingests. The versioned-fold guards protect the
    * FOLDS against a stale handle; for a SAVED handle the ROUTING side
    * is now mechanized per trigger by `onCompaction`
    * ([[CompactionPolicy]]): the default probes the saved tree's stamp
    * (O(1)) each trigger and refuses with the named `restart required`
    * error the moment the version moves, and
    * [[ReresolveOnCompaction]] reloads the handle and rolls the sinks
    * to `epoch=<version>` subtrees so the loop needs no restart at
    * all. In-memory handles keep the documented contract. Spec-pinned
    * in CdcStreamSpec ("stale frozen index", "restart required"). */
  def startCdcMaintenanceIngest(
      changeStream: DataFrame,
      index: graft.extensions.Dedup.CorpusIndex,
      idCol: String, textCol: String, oldTextCol: String,
      opCol: String,
      acceptDir: String, upsertDir: String, retractDir: String,
      checkpointDir: String,
      insertOp: String = "insert", updateOp: String = "update",
      deleteOp: String = "delete",
      threshold: Double = 0.5,
      availableNow: Boolean = true,
      batchPeriodSecs: Long = 10L,
      /** Refuse deletes carrying NEITHER row image (default). A feed
        * that emits deletes by key only is usable when the retract
        * sink feeds ONLY id-keyed retraction (the text-gram/vector
        * anti-joins — the text net fold handles NULL images by
        * construction): pass false to admit such rows. The BM25 folds
        * still refuse NULL images at compaction regardless, so the
        * opt-out cannot reopen the silent-nDocs-drift path — it only
        * moves the refusal from the trigger to the (BM25) fold.
        * (Moved to the parameter tail, ADVICE r18: new optionals
        * append, so positional `availableNow`/`batchPeriodSecs`
        * callers keep their meaning.) */
      requireDeleteImages: Boolean = true,
      onCompaction: CompactionPolicy = FailStreamOnCompaction): StreamingQuery = {
    val handle = new java.util.concurrent.atomic.AtomicReference(index)
    changeStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ix = resolveHandle(batch.sparkSession, handle, onCompaction)
        val ep = epochSuffix(onCompaction, ix.version)
        val b = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val ins = b.filter(col(opCol) === insertOp).drop(opCol, oldTextCol)
          // RE-INSERTS — inserts whose id the serving index already
          // holds (a doc deleted earlier in this window coming back, at
          // the extreme with byte-identical content) — must NOT face
          // the novelty gate: the gate would match the doc's own
          // still-frozen entry and silently eat it, permanently losing
          // the doc from the index (the delete→reinsert hole). Route
          // them to the UPSERT sink instead (remove-then-add is exactly
          // reinsert semantics; their old image is the window's earlier
          // retract event, which the BM25 net fold's earliest-old rule
          // picks up — a reinsert without a preceding delete is a
          // malformed feed). The id split is one broadcast-batch
          // semi/anti join against the index's skinny per-doc relation.
          val known = ix.docStats.select(col("doc_id").as(idCol))
          graft.extensions.Dedup.dedupAgainstCorpus(
            ins.join(known, Seq(idCol), "left_anti"),
            ix, idCol, textCol, threshold = threshold)
            .write.mode("overwrite").parquet(s"$acceptDir$ep/batch=$batchId")
          b.filter(col(opCol) === updateOp)
            .select(col(idCol), col(textCol), col(oldTextCol))
            .unionByName(ins.join(known, Seq(idCol), "left_semi")
              .select(col(idCol), col(textCol),
                lit(null).cast("string").as(oldTextCol)))
            .write.mode("overwrite").parquet(s"$upsertDir$ep/batch=$batchId")
          // a delete's old row image: some feeds carry it in the row
          // columns (textCol), before/after-image feeds (Debezium
          // shape: after = NULL on delete) carry it in oldTextCol —
          // coalesce accepts both conventions. A delete carrying
          // NEITHER image refuses loudly here (failing the stream)
          // instead of writing a NULL-image retract row: BM25
          // retraction of a NULL image decrements nDocs while
          // subtracting no terms, and by the time a compaction's own
          // guard caught it the feed would be many triggers further on.
          // One skinny limit(1) probe per trigger on the persisted
          // batch.
          val dels = b.filter(col(opCol) === deleteOp)
            .select(col(idCol),
              coalesce(col(textCol), col(oldTextCol)).as(textCol))
          if (requireDeleteImages)
            requireNonNullImages(dels, idCol, textCol,
              s"maintenance ingest delete route (micro-batch $batchId)")
          dels.write.mode("overwrite").parquet(s"$retractDir$ep/batch=$batchId")
        } finally { b.unpersist(false); () }
        ()
      }
      .trigger(batchTrigger(availableNow, batchPeriodSecs))
      .start()
  }

  /** Close the loop between the streaming ingest and index versioning:
    * read everything an accepted-novel sink (a dedup ingest's, e.g.
    * [[startCorpusDedupIngest]]) collected and fold it into the index as
    * ONE version bump via the family's `extend` (O(new rows), under the
    * family's frozen quantizer). The ingest deliberately never
    * auto-extends per batch — extension double-counts a replayed batch's
    * gram dfs, so growing the index must be an idempotent offline step,
    * and this is that step: the sink tree is read whole, deduped by id (a
    * row the source replayed across a batch boundary — outside the
    * per-batch overwrite's reach — extends the index exactly once; rows
    * of one id are identical, so which survives is immaterial), and
    * folded. The production rhythm: ingests probe version N while
    * accepted batches accumulate; a periodic compaction calls this, saves
    * version N+1, swaps it in between triggers, and `close()`s version N
    * — and because the ingest keeps probing version N until the swap,
    * replays during compaction still reconcile against the same index
    * they first ran under. After a bump, point the ingest at a FRESH sink
    * tree: compaction consumes the whole tree, and re-compacting already
    * folded batches into a later version would violate extend's
    * append-only id contract — which is why a successful fold stamps the
    * tree with the family's accept-leg marker
    * ([[graft.extensions.IndexFamily.legAcceptMarker]]) and a second
    * compaction of the same tree REFUSES loudly instead of silently
    * double-counting. One accepted-docs tree can feed both the text-gram
    * and the BM25 fold: each is tracked by its own marker. A compaction
    * that finds no committed batch rows (empty or missing tree — a
    * scheduled fold racing an idle ingest) is a natural no-op: the input
    * index is returned unchanged and no marker is written, so a later
    * real fold still runs. Pass the ingest's `provenanceDir` to stamp the
    * audit trail with the same marker at the same moment — the drop
    * provenance then versions together with the keep-set it explains.
    *
    * Marker ordering (ADVICE r16): when `saveTo` is given, the bumped
    * index is made DURABLE (saved, with the fold already in its lineage)
    * BEFORE the marker lands — a crash between extend and save then
    * leaves the sink unmarked, so the next scheduled compaction simply
    * re-runs. Without `saveTo` the caller owns persisting the returned
    * handle promptly: the marker is down but the bump lives only in
    * session memory. (BM25's extend snapshots the sink read eagerly, so
    * batches a still-running ingest appends after the fold cannot leak
    * into later evaluations of its lazy df merge.) */
  def compactAccepted[I](
      spark: SparkSession, sinkDir: String, index: I,
      idCol: String, contentCol: String,
      provenanceDir: Option[String] = None,
      saveTo: Option[String] = None)(implicit fam: IndexFamily[I]): I = {
    // refuse AND co-stamp the family's NET accept marker when it differs
    // from the leg's (ADVICE r18): per-leg and net accept folds of one
    // tree then refuse each other in BOTH directions
    val marker = fam.legAcceptMarker
    val netMarker = Seq(fam.acceptMarker).filter(_ != marker)
    fam.savedDir(index).foreach(d => graft.extensions.IndexMeta
      .requireCurrent(spark, d, fam.version(index), "compaction"))
    consumeSinkTree(spark, sinkDir, marker,
        alsoRefuse = netMarker).map { accepted =>
      // the fold runs BEFORE any marker lands (durable-then-mark: a crash
      // inside it, including the save, leaves the tree unmarked and its
      // lease held — see [[acquireFoldLease]]); a fold that THROWS (a
      // contract refusal) releases the lease, so a fixed input re-runs
      // with no manual step
      val out =
        try {
          // the fold lands in the new version's lineage, so the save
          // stamps it into the tree (IndexMeta)
          val bumped = fam.withFolded(
            fam.extend(index, accepted.dropDuplicates(idCol), idCol, contentCol),
            fam.folded(index) :+ sinkDir)
          saveTo.fold(bumped)(fam.save(bumped, _))
        } catch { case e: Throwable =>
          releaseFoldLease(spark, sinkDir, marker); throw e }
      (marker +: netMarker).foreach(markFolded(spark, sinkDir, _))
      provenanceDir.foreach(markFolded(spark, _, marker))
      releaseFoldLease(spark, sinkDir, marker)
      out
    }.getOrElse(index)
  }

  // ---- net-effect maintenance compaction ----------------------------
  //
  // The per-leg folds (accept / upsert / retract) each assume their
  // window's id set is disjoint from the other legs'. CDC guarantees at
  // most one event per id per TRIGGER, but compaction is offline and a
  // window spans many triggers — an id can cross op classes between
  // them, and then the per-leg folds break: insert@t1 + update@t2 would
  // extend an id already folded (duplicate postings, double-counted
  // dfs); update@t1 + delete@t2 would resurrect the doc if the upsert
  // fold runs after the retract fold. The net-effect compaction reads
  // ALL THREE trees and reduces each id's event sequence to one net
  // operation, so every cross-class combination lands on
  // rebuild-of-final-state:
  //
  //   served(id): the id's EARLIEST event is not an accept — the doc
  //               was in the index at window start → retire it (for
  //               BM25, with the EARLIEST old image: that is the text
  //               the stats actually hold);
  //   alive(id):  the id's LATEST event is not a retract → fold the
  //               LATEST image in.
  //
  // insert→update = add latest only; update→delete = remove only;
  // insert→delete = net nothing; delete→re-accept = remove old + add
  // new. Known gate interplay (documented, not solved here): a
  // re-insert whose content is IDENTICAL to a doc pending deletion in
  // the same window is eaten by the novelty gate at INGEST time (it
  // matches its own still-frozen index entry), so it cannot reappear at
  // compaction — compact before re-inserting unchanged content, or
  // route such rows as updates upstream.

  /** Version an index off the maintenance sink trees as ONE net-effect
    * compaction: `acceptDir` / `upsertDir` / `retractDir` are the trees
    * a maintenance ingest ([[startCdcMaintenanceIngest]],
    * [[startVecMaintenanceIngest]]) writes. Any subset may be given:
    * with all three this is the cross-class-safe net fold; with only
    * `upsertDir` it is the per-leg upsert fold (remove every amended id,
    * fold its LATEST image back in — upsert ≡ rebuild on the amended
    * rows; an amended id not in the index is simply ADDED, the fold
    * maintains a MIRROR of the source), and with only `retractDir` the
    * per-leg retract fold (remove ≡ rebuild on the survivors; the sink
    * may carry more columns than the id — a full CDC row image — and
    * only a [[graft.extensions.IndexFamily.retractsByImage]] family
    * reads its image, from `contentCol`). Use the per-leg shapes only
    * when compaction cadence guarantees class-disjoint windows.
    *
    * Version arithmetic: a retract-only call bumps once (remove); every
    * other shape bumps twice (remove, then extend). Contracts:
    * stale-handle guard; empty/missing trees contribute nothing (all
    * empty → no-op, no markers, the INPUT handle is returned — callers
    * use `eq` as the no-op signal); cross-leg (id, batch) collisions
    * refuse loudly (CDC emits one event per id per trigger); each
    * consumed tree is stamped with its OWN leg's family marker, so a
    * stray per-leg fold of a net-compacted tree refuses and several
    * families can net-fold ONE shared tree triple in any order; the
    * trees that contributed events land in the fold lineage.
    * `oldContentCol` names the upsert rows' OLD image and applies only to
    * a family that retracts by image (required there when `upsertDir` is
    * given). `saveTo` is durable-then-mark (which a multi-tree fold
    * needs MORE, not less: a crash after the markers but before the
    * caller persists the lazy bump would orphan all three trees'
    * events): the bumped index is saved BEFORE any marker lands, so a
    * crash re-runs the fold instead. */
  def compact[I](
      spark: SparkSession,
      acceptDir: Option[String], upsertDir: Option[String],
      retractDir: Option[String],
      index: I, idCol: String, contentCol: String,
      oldContentCol: Option[String] = None,
      saveTo: Option[String] = None)(implicit fam: IndexFamily[I]): I = {
    require(oldContentCol.isEmpty || fam.retractsByImage,
      s"oldContentCol applies only to a family that retracts by image; " +
        s"the ${fam.name} family retracts by id alone")
    // a retract-only window's add set is empty BY CONSTRUCTION (every
    // event's latest kind is retract): remove only, one version bump
    val shrinkOnly = acceptDir.isEmpty && upsertDir.isEmpty
    def fold(removeRows: DataFrame, addRows: DataFrame,
             contributing: Seq[String]): I = {
      val shrunk = fam.remove(index, removeRows, idCol, contentCol)
      val bumped = fam.withFolded(
        if (shrinkOnly) shrunk
        else fam.extend(shrunk, addRows, idCol, contentCol),
        fam.folded(index) ++ contributing)
      saveTo.fold(bumped)(fam.save(bumped, _))
    }
    (if (fam.retractsByImage)
      netBm25Compaction(spark, acceptDir, upsertDir, retractDir, index,
        idCol, contentCol, oldContentCol.getOrElse {
          require(upsertDir.isEmpty, s"the ${fam.name} family needs " +
            "oldContentCol to fold an upsert tree (the OLD-image column " +
            "its retraction subtracts)")
          contentCol
        })(fold)
    else
      netCompaction(spark, acceptDir, upsertDir, retractDir, index,
        idCol, contentCol)(fold)).getOrElse(index)
  }

  /** The vector net compaction of the sign-LSH gate index, under its
    * long-standing name. */
  def compactVecMaintenanceBatches(
      spark: SparkSession,
      acceptDir: String, upsertDir: String, retractDir: String,
      index: graft.extensions.Dedup.EmbeddingIndex,
      idCol: String, vecCol: String,
      saveTo: Option[String] = None): graft.extensions.Dedup.EmbeddingIndex =
    compact(spark, Some(acceptDir), Some(upsertDir), Some(retractDir),
      index, idCol, vecCol, saveTo = saveTo)

  /** The IVF net compaction, under its long-standing name. */
  def compactMaintenanceIvfBatches(
      spark: SparkSession,
      acceptDir: String, upsertDir: String, retractDir: String,
      index: graft.extensions.Similarity.IvfIndex,
      idCol: String, vecCol: String,
      saveTo: Option[String] = None): graft.extensions.Similarity.IvfIndex =
    compact(spark, Some(acceptDir), Some(upsertDir), Some(retractDir),
      index, idCol, vecCol, saveTo = saveTo)

  /** Shared skeleton of EVERY net-effect compaction except BM25 (whose
    * two-image algebra lives in [[netBm25Compaction]]) — the
    * stale-handle guard → leased tree read → cross-class net reduction →
    * family fold → markers sequence. The reduction: served (earliest
    * event ≠ accept) ids land in `removeIds`; alive (latest event ≠
    * retract) ids land in `addImgs` with their LATEST image. `fold` runs
    * BEFORE any marker (durable-then-mark: a `saveTo` write inside the
    * fold that crashes leaves all trees unmarked AND their leases held,
    * so the next attempt refuses until the operator confirms the crash
    * and breaks the lease — see [[acquireFoldLease]]); a fold that
    * THROWS (a contract refusal: NULL image, within-batch tie) releases
    * its leases on the way out, so a fixed feed re-runs with no manual
    * step. */
  private def netCompaction[I](
      spark: SparkSession,
      acceptDir: Option[String], upsertDir: Option[String],
      retractDir: Option[String], index: I,
      idCol: String, imgCol: String)(
      fold: (DataFrame, DataFrame, Seq[String]) => I)(
      implicit fam: IndexFamily[I]): Option[I] = {
    fam.savedDir(index).foreach(d => graft.extensions.IndexMeta
      .requireCurrent(spark, d, fam.version(index), "compaction"))
    maintenanceEvents(spark, idCol,
      (acceptDir, fam.acceptMarker,
        (df: DataFrame) => df.select(col(idCol), col("batch"),
          lit("accept").as("kind"), col(imgCol).as("__img"))),
      (upsertDir, fam.upsertMarker,
        (df: DataFrame) => df.select(col(idCol), col("batch"),
          lit("upsert").as("kind"), col(imgCol).as("__img"))),
      (retractDir, fam.retractMarker,
        (df: DataFrame) => df.select(col(idCol), col("batch"),
          lit("retract").as("kind"),
          lit(null).cast(fam.imageType).as("__img"))))
      .map { w =>
        try {
          val net = w.events.groupBy(col(idCol)).agg(
            min_by(col("kind"), col("batch")).as("__first_kind"),
            max_by(col("kind"), col("batch")).as("__last_kind"),
            max_by(col("__img"), col("batch")).as("__last_img"))
          val removeIds = net.filter(col("__first_kind") =!= "accept")
            .select(col(idCol))
          val addImgs = net.filter(col("__last_kind") =!= "retract")
            .select(col(idCol), col("__last_img").as(imgCol))
          val out = fold(removeIds, addImgs, w.contributing)
          w.commit()
          out
        } catch { case e: Throwable => w.abort(); throw e }
      }
  }

  /** The BM25 net skeleton — the family whose retraction needs the OLD
    * row image (earliest `__old` per id: what the stats actually hold)
    * and whose integer arithmetic makes the NULL-image guard and the
    * marker/lease discipline correctness, not audit. Shapes: accept
    * rows carry `textCol` as the new image; upsert rows both images;
    * retract rows their old image in `textCol` (the CDC delete's row
    * image — [[startRetractIngest]]'s convention). The guard fires on
    * the netted retract set BEFORE any stats arithmetic; its refusal
    * names the per-leg fold (and tree) or the net compaction it ran
    * in. */
  private def netBm25Compaction[I](
      spark: SparkSession,
      acceptDir: Option[String], upsertDir: Option[String],
      retractDir: Option[String], stats: I,
      idCol: String, textCol: String, oldTextCol: String)(
      fold: (DataFrame, DataFrame, Seq[String]) => I)(
      implicit fam: IndexFamily[I]): Option[I] = {
    val what = (acceptDir, upsertDir, retractDir) match {
      case (None, Some(d), None) => s"BM25 upsert fold of $d"
      case (None, None, Some(d)) => s"BM25 retract fold of $d"
      case _ => "BM25 net-effect compaction retract set"
    }
    fam.savedDir(stats).foreach(d => graft.extensions.IndexMeta
      .requireCurrent(spark, d, fam.version(stats), "compaction"))
    maintenanceEvents(spark, idCol,
      (acceptDir, fam.acceptMarker,
        (df: DataFrame) => df.select(col(idCol), col("batch"),
          lit("accept").as("kind"), col(textCol).as("__img"),
          lit(null).cast("string").as("__old"))),
      (upsertDir, fam.upsertMarker,
        (df: DataFrame) => df.select(col(idCol), col("batch"),
          lit("upsert").as("kind"), col(textCol).as("__img"),
          col(oldTextCol).as("__old"))),
      (retractDir, fam.retractMarker,
        (df: DataFrame) => df.select(col(idCol), col("batch"),
          lit("retract").as("kind"), lit(null).cast("string").as("__img"),
          col(textCol).as("__old"))))
      .map { w =>
        try {
          val net = w.events.groupBy(col(idCol)).agg(
            min_by(col("kind"), col("batch")).as("__first_kind"),
            max_by(col("kind"), col("batch")).as("__last_kind"),
            min_by(col("__old"), col("batch")).as("__first_old"),
            max_by(col("__img"), col("batch")).as("__last_img"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val retractDocs = net.filter(col("__first_kind") =!= "accept")
              .select(col(idCol), col("__first_old").as(textCol))
            // refuse loudly, never drift: a NULL earliest-old reaching
            // retractBm25Stats would decrement nDocs while subtracting
            // no terms — silent corruption of every later score. A NULL
            // here means a retract-side id whose old image the feed
            // never carried: most often an ingest still routing against
            // an index handle frozen BEFORE an offline compaction (see
            // the contract on [[startCdcMaintenanceIngest]]).
            requireNonNullImages(retractDocs, idCol, textCol, what)
            val extendDocs = net.filter(col("__last_kind") =!= "retract")
              .select(col(idCol), col("__last_img").as(textCol))
            val out = fold(retractDocs, extendDocs, w.contributing)
            w.commit()
            out
          } finally { net.unpersist(false); () }
        } catch { case e: Throwable => w.abort(); throw e }
      }
  }

  /** A leased maintenance window: the checkpointed event union of the
    * present legs, the contributing tree dirs, and the two terminal
    * moves — `commit` stamps each contributing tree with its leg marker
    * (exclusively) then releases the leases; `abort` only releases, so
    * a refused fold is re-runnable without a manual lease break. Both
    * are idempotent in the release step. */
  private final case class MaintWindow(
      events: DataFrame, contributing: Seq[String],
      commit: () => Unit, abort: () => Unit)

  /** Guarded, LEASED read of the maintenance trees: refuses any present
    * tree already stamped with its leg's marker, takes each present
    * tree's exclusive fold lease ([[acquireFoldLease]] — two concurrent
    * compactions of one tree must not both fold it), normalizes each to
    * the (id, batch, kind, images...) event shape via `shape`, unions
    * the non-empty ones, and refuses loudly on a cross-leg (id, batch)
    * collision — CDC emits at most one event per id per trigger, and a
    * violated precondition here would make min_by/max_by's image picks
    * nondeterministic. Absent (`None` dir) and empty/missing trees
    * contribute nothing, take no lease and stay unmarked, so a later
    * real fold still runs. Returns None when every leg is absent or
    * empty; every refusal path releases whatever leases were already
    * acquired. */
  private def maintenanceEvents(
      spark: SparkSession, idCol: String,
      legs: (Option[String], String, DataFrame => DataFrame)*)
      : Option[MaintWindow] = {
    val acquired = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def releaseAll(): Unit =
      acquired.foreach { case (d, m) => releaseFoldLease(spark, d, m) }
    try {
      val read = legs.flatMap { case (dirOpt, marker, shape) =>
        dirOpt.map { dir =>
          val t = consumeSinkTree(spark, dir, marker, keepBatch = true)
          if (t.isDefined) acquired += ((dir, marker))
          (dir, marker, t.map(shape))
        }
      }
      val present = read.flatMap(_._3)
      if (present.isEmpty) None
      else {
        // ONE eager materialization of the skinny event union: the
        // collision guard below and every downstream reference of the
        // min_by/max_by aggregation read the checkpoint, not the sink
        // parquet trees over again (removeFrom*'s multi-join plans
        // reference the net relation several times per evaluation)
        val events = present.reduce(_ unionByName _).localCheckpoint(true)
        val dup = events.groupBy(col(idCol), col("batch"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
          .limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"maintenance sinks hold ${dup.head.get(2)} events for id " +
            s"${dup.head.get(0)} in micro-batch ${dup.head.get(1)}: CDC " +
            "emits at most one event per id per trigger (the standard " +
            "log-reader contract — pre-compact per key per trigger " +
            "upstream), so a within-batch collision means the feed is " +
            "not key-compacted and the earliest/latest image picks " +
            "would be nondeterministic — fix the feed")
        Some(MaintWindow(events,
          read.collect { case (dir, _, Some(_)) => dir },
          commit = () => {
            read.foreach { case (dir, marker, t) =>
              if (t.isDefined) markFolded(spark, dir, marker) }
            releaseAll()
          },
          abort = () => releaseAll()))
      }
    } catch { case e: Throwable => releaseAll(); throw e }
  }

  /** Refuse loudly when a BM25 retract-side relation carries a NULL
    * image — [[graft.extensions.Search.retractBm25Stats]] maps NULL
    * text to dl 0 / no terms yet still decrements nDocs, leaving the
    * stats permanently one doc low per NULL row: the exact
    * silent-drift class the fold battery's other guards (within-batch
    * ties, double-fold markers) refuse on. One skinny limit(1) probe
    * over an already-materialized relation, paid before any stats
    * arithmetic. */
  private def requireNonNullImages(docs: DataFrame,
                                   idCol: String, imgCol: String,
                                   what: String): Unit = {
    val bad = docs.filter(col(imgCol).isNull).limit(1).collect()
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"$what carries a NULL $imgCol image for id ${bad.head.get(0)}: " +
        "retracting a NULL image would decrement nDocs while " +
        "subtracting no term counts — silent BM25 drift on every later " +
        "score. Either the feed dropped the old row image (fix the " +
        "feed) or a maintenance ingest kept routing against an index " +
        "handle frozen BEFORE an offline compaction retired this id — " +
        "restart the ingest after every compaction (the operating " +
        "contract on startCdcMaintenanceIngest)")
  }

  /** Guarded, LEASED read of a sink tree for compaction: refuses
    * (loudly) a tree already stamped with `marker` (or any `alsoRefuse`
    * sibling marker) — re-folding consumed batches would double-count
    * gram dfs and break extend's append-only id contract — returns None
    * for a tree with no committed batch rows (a compaction racing an
    * idle ingest is a no-op, no lease taken), and otherwise ACQUIRES
    * the tree's exclusive fold lease before handing the rows out, with
    * the marker re-checked UNDER the lease: without the re-check, a
    * fold that committed between this function's first marker probe and
    * the lease acquisition would be invisible — exactly the
    * check-then-act window (VERDICT r18 #1) the lease closes. Callers
    * own releasing the lease on every path ([[compactAccepted]] /
    * [[maintenanceEvents]]). */
  private def consumeSinkTree(spark: SparkSession, sinkDir: String,
                              marker: String,
                              /** the upsert folds order images by the
                                * batch partition column; everyone else
                                * drops it */
                              keepBatch: Boolean = false,
                              alsoRefuse: Seq[String] = Nil): Option[DataFrame] = {
    val root = new HPath(sinkDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def refuseMarked(): Unit = {
      require(!fs.exists(new HPath(root, marker)),
        s"sink tree $sinkDir was already compacted ($marker " +
          "present): re-folding consumed batches would double-count them " +
          "in the extended index — point the ingest at a fresh sink tree " +
          "for the next version")
      alsoRefuse.foreach { m =>
        require(!fs.exists(new HPath(root, m)),
          s"sink tree $sinkDir was already consumed by this family's NET " +
            s"compaction ($m present): a per-leg accept fold would re-fold " +
            "the same accepted batches into the same index (duplicate ids " +
            "through extend's append-only contract) — point the ingest at " +
            "a fresh sink tree for the next version")
      }
    }
    refuseMarked()
    val hasRows = fs.exists(root) &&
      Option(fs.globStatus(new HPath(root, "batch=*/part-*")))
        .exists(_.nonEmpty)
    if (!hasRows) None
    else {
      acquireFoldLease(fs, root, marker)
      try refuseMarked()
      catch { case e: Throwable =>
        fs.delete(leasePath(root, marker), false); throw e }
      val df = spark.read.parquet(sinkDir)
      Some(if (keepBatch) df else df.drop("batch"))
    }
  }

  private def leasePath(root: HPath, marker: String): HPath =
    new HPath(root, marker + ".lock")

  /** Take the EXCLUSIVE fold lease of (tree, leg): an `overwrite=false`
    * create of `<marker>.lock` plus a token read-back. Two concurrent
    * compactions of one tree — an orchestrator retry, a cron overlap,
    * two operators — must not both fold it: for the idempotent
    * text/vector folds that is wasted work, but BM25's integer
    * retraction is NOT idempotent, and before the lease both racers
    * passed the marker check (check-then-act) and double-subtracted.
    * The create is atomic on HDFS-like stores; on a local FS that
    * checks-then-creates, two racers can both pass — then the LAST
    * writer's token is on disk and exactly one read-back matches, so
    * exactly one caller wins either way. A crashed fold leaves its
    * lease behind DELIBERATELY: the next attempt refuses with the lock
    * path, and the operator breaks the lease (delete the file) only
    * after confirming no compaction is live — the crash-then-rerun
    * story stays available, but never silently concurrent. */
  private def acquireFoldLease(fs: org.apache.hadoop.fs.FileSystem,
                               root: HPath, marker: String): Unit = {
    val p = leasePath(root, marker)
    val token = java.util.UUID.randomUUID().toString
    def refuse(): Nothing = throw new IllegalStateException(
      s"a compaction of $root ($marker) is already IN FLIGHT: fold lease " +
        s"$p is held. Two concurrent folds of one tree would both consume " +
        "it — for BM25, double-subtracting the non-idempotent stats. If " +
        "the holder crashed (no compaction is actually running), break " +
        "the stale lease by deleting the lock file and re-run")
    try {
      val out = fs.create(p, false)
      try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => refuse()
      case _: java.nio.file.FileAlreadyExistsException => refuse()
    }
    val in = fs.open(p)
    val held =
      try {
        val buf = new Array[Byte](80)
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    if (held != token) refuse()
  }

  /** Idempotent lease release — delete-if-present, so abort paths may
    * run it after a commit already released. */
  private def releaseFoldLease(spark: SparkSession, dir: String,
                               marker: String): Unit = {
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val p = leasePath(root, marker)
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  /** Stamp a consumed tree — EXCLUSIVELY (`overwrite=false`): under the
    * fold lease a marker collision is unrepresentable, so one firing
    * means a fold ran WITHOUT the lease discipline (or an operator
    * stamped by hand) and this fold's result must be treated as a
    * duplicate — refuse loudly rather than quietly restamp. */
  private def markFolded(spark: SparkSession, dir: String,
                         marker: String): Unit = {
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) {
      try fs.create(new HPath(root, marker), false).close()
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"$marker already present at $dir: a concurrent compaction " +
              "consumed this tree while this fold ran — the fold lease " +
              "makes this unrepresentable for lease-disciplined callers, " +
              "so a collision here means a fold bypassed the lease; " +
              "DISCARD this fold's result (the winner's fold stands)")
      }
    }
  }

  /** Tumbling/sliding-window aggregation over the change stream with
    * late-data handling — the analytic windows the reference lacks
    * entirely (SURVEY §2.10). */
  def windowedCounts(
      stream: DataFrame, tsCol: String, keyCol: String,
      windowLen: String = "1 hour", slide: Option[String] = None,
      watermarkDelay: String = "2 hours"): DataFrame = {
    val w = slide match {
      case Some(s) => window(col(tsCol), windowLen, s)
      case None    => window(col(tsCol), windowLen)
    }
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(w.as("win"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"),
        col("win.end").as("window_end"), col(keyCol), col("n"), col("total_value"))
  }

  // ---- custom keyed state: per-user activity sessions -----------------

  final case class UserEvent(event_id: Long, user_id: Long, ts: Timestamp,
                             event_type: String, value: Double)
  final case class UserSession(user_id: Long, n_events: Long, total_value: Double,
                               first_ts: Timestamp, last_ts: Timestamp)

  /** Whether a (streaming) Dataset carries an event-time watermark — the
    * signal that watermark-bounded state eviction is available. */
  private[streaming] def hasEventTimeWatermark(ds: Dataset[_]): Boolean =
    ds.queryExecution.logical.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => true
      case _ => false
    }

  /** `flatMapGroupsWithState` exactly-once emission: per-key custom state
    * (the set of seen event identities) emits each row the FIRST time it
    * arrives and swallows at-least-once replays — the multi-row-output
    * custom-state surface next to `dropDuplicatesWithinWatermark` (which
    * bounds state by watermark; this form gives the pipeline full control
    * of the state and what is emitted).
    *
    * Dispatches on the stream: if `events` carries a watermark, the
    * production [[dedupStreamEvicting]] form runs (state bounded by
    * watermark + TTL — unbounded state on an unbounded stream is an
    * outage, not a default). Without a watermark it falls back to
    * NoTimeout: ProcessingTimeTimeout would schedule a batch EVERY
    * trigger to evaluate timeouts, so `Trigger.AvailableNow` never
    * drains — state is then bounded by retention of the upstream log.
    *
    * @param eventKey identity of an event WITHIN its user's stream — the
    *   primary key by default. (A timestamp is NOT an identity: two events
    *   a user emits in the same microsecond would silently collapse.)
    */
  def dedupStream(spark: SparkSession,
                  events: Dataset[UserEvent],
                  eventKey: UserEvent => Long = _.event_id): Dataset[UserEvent] = {
    import spark.implicits._
    if (hasEventTimeWatermark(events))
      return dedupStreamEvicting(spark, events, eventKey = eventKey)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Set[Long], UserEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[UserEvent], state: GroupState[Set[Long]]) =>
          var s = state.getOption.getOrElse(Set.empty[Long])
          val out = Vector.newBuilder[UserEvent]
          rows.foreach { e =>
            val id = eventKey(e)
            if (!s(id)) { s += id; out += e }
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** Production form of [[dedupStream]]: `EventTimeTimeout` evicts a
    * user's seen-set once the watermark has passed it by `stateTtlMs`, so
    * state is bounded by the watermark delay + TTL instead of growing for
    * the lifetime of the query. The dedup guarantee becomes
    * watermark-bounded — a replay arriving later than watermark + TTL
    * re-emits, the same contract as `dropDuplicatesWithinWatermark` — which
    * is the only state-bounded guarantee possible on an unbounded stream.
    *
    * `events` MUST carry a watermark (`.withWatermark` on the event-time
    * column before `.as[UserEvent]`); EventTimeTimeout requires one.
    */
  def dedupStreamEvicting(spark: SparkSession,
                          events: Dataset[UserEvent],
                          stateTtlMs: Long = 3600L * 1000L,
                          eventKey: UserEvent => Long = _.event_id): Dataset[UserEvent] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Set[Long], UserEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[UserEvent], state: GroupState[Set[Long]]) =>
          if (state.hasTimedOut) {
            // watermark passed this user's TTL with no new events: drop the
            // seen-set — the watermark already guarantees no in-order
            // deliveries this old are still in flight
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(Set.empty[Long])
            val out = Vector.newBuilder[UserEvent]
            rows.foreach { e =>
              val id = eventKey(e)
              if (!s(id)) { s += id; out += e }
            }
            state.update(s)
            // timeout fires once the watermark advances TTL past where it
            // is now (must be set anew each invocation — timeouts clear on
            // every state update)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + stateTtlMs)
            out.result().iterator
          }
      }
  }

  /** `mapGroupsWithState` per-user running session — the KeyValue state
    * surface (north-star requirement; the reference keeps comparable state
    * in SQLite, `/root/reference/nmsdb.go`). ProcessingTimeTimeout keeps
    * state bounded. */
  def userSessions(spark: SparkSession, events: Dataset[UserEvent]): Dataset[UserSession] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](
        GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserSession]) =>
          val evs = rows.toSeq
          val prev = state.getOption
          val all = prev match {
            case Some(p) => UserSession(
              userId,
              p.n_events + evs.size,
              p.total_value + evs.map(_.value).sum,
              p.first_ts,
              evs.map(_.ts).maxByOption(_.getTime).getOrElse(p.last_ts))
            case None =>
              val sorted = evs.sortBy(_.ts.getTime)
              UserSession(userId, evs.size.toLong, evs.map(_.value).sum,
                sorted.head.ts, sorted.last.ts)
          }
          state.update(all)
          all
      }
  }
}
