package graft.engine

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CompactedState, CurrentState, Snapshot}
import graft.policy.WatermarkPolicy
import graft.policy.WatermarkPolicy.{Advance, Decision, PolicyConfig, Skip}
import graft.sinks.AppendSink
import graft.state.{StateStore, TableState}
import graft.util.SmallFile

/**
 * The CDC control loop — the reference's `-seed` / `-cdc` flows
 * (`/root/reference/seed.go:10-62`, `cdc.go:16-145`) re-expressed over
 * Spark, file-backed for the harness (a JDBC-backed source needs only a
 * different `loadTable`).
 *
 * Per tick, per tracked table (`cdc.go:49-140`):
 *   live row count → watermark policy (T1/T2/T7) → windowed snapshot
 *   (S1/F1/P1/P3 + munging) → strict append to `<t>_cdc` (O1) → commit
 *   watermark (T3, only after a successful append).
 *
 * Tables run under bounded parallelism (T5, `cdc.go:115-140`): Spark's
 * scheduler multiplexes concurrent jobs across the cluster, so the cap
 * controls driver-side job submission, not executor usage.
 */
object CdcEngine {

  final case class TickResult(table: String, decision: Decision, rowsCaptured: Long)

  /** Build an engine from the reference-compatible env config. The engine
    * writes the parquet change log only, so a config asking for the
    * JSON-lines file output is refused rather than silently ignored. */
  def fromConfig(spark: SparkSession, sourceDir: String, sinkDir: String,
                 stateDir: String, conf: GraftConfig = GraftConfig.fromEnv(),
                 dsn: Int = 1): CdcEngine = {
    require(!conf.jsonLinesOutput, "OUTPUT_TYPE=FILE selects a JSON-lines " +
      "file output, which the engine does not write: it writes the parquet " +
      "change log (AppendSink.appendJsonLines writes JSON lines from a " +
      "DataFrame). Unset OUTPUT_TYPE.")
    new CdcEngine(spark, sourceDir, sinkDir, stateDir, dsn,
      policy = conf.policy, munge = conf.munge,
      concurrency = conf.concurrentStreams,
      batchBytes = Some(conf.batchBytes),
      excludedTables = conf.excludedTables)
  }
}

final class CdcEngine(
    spark: SparkSession,
    sourceDir: String,
    val sinkDir: String,
    stateDir: String,
    dsn: Int = 1,
    policy: PolicyConfig = PolicyConfig(),
    munge: Option[Snapshot.MungeConfig] = None,
    concurrency: Int = 4,
    /** Per-batch transform applied between capture and sink — the working
      * version of the reference's Benthos processor hook, which existed in
      * env (`BENTHOS_PROCESSOR_CONF_FILE`, `sample.env:26`) but was never
      * wired into the stream (`benthos.go:75-108`). */
    processor: DataFrame => DataFrame = identity,
    /** Capture source; defaults to the parquet harness layout. Pass a
      * [[graft.sources.JdbcSource]] for the reference's production mode
      * (live database over the wire). */
    source: Option[graft.sources.SnapshotSource] = None,
    /** Maintain a per-batch MERGE-compacted current-state table next to
      * each log (SURVEY §7.4): reads of latest state then touch the
      * compacted table instead of collapsing the full log. */
    maintainCurrentState: Boolean = false,
    /** T8 BQ_BATCH_BYTES: cap on output file size in the append sink. */
    batchBytes: Option[Long] = None,
    /** S8/F3: tables never seeded or captured (`postgres.go:271-296`). */
    excludedTables: Set[String] = Set.empty) {

  val state = new StateStore(spark, stateDir)

  private val src: graft.sources.SnapshotSource =
    source.getOrElse(new graft.sources.ParquetSource(spark, sourceDir))

  private def loadTable(name: String): DataFrame = src.load(name)

  /** `-seed` (`/root/reference/seed.go`): discover min-watermark, row count
    * and schema per table, upsert into the state catalog.
    *
    * Divergence (documented): the reference seeds `nms = MIN(nmsCol)`
    * (`postgres.go:193`) which, combined with the strictly-greater window
    * bound (`postgres.go:52`), silently drops rows at exactly the minimum.
    * We seed 1 ms below the minimum so the first window captures them.
    */
  def seed(tables: Seq[(String, String, Option[String])]): Unit = {
    // S8: exclusion list removes tables before any discovery/seed work
    val states = tables.filterNot(t => excludedTables(t._1)).map { case (name, nmsCol, pk) =>
      val df = loadTable(name)
      val row = df.agg(min(col(nmsCol)).as("mn"), count(lit(1)).as("cnt")).head()
      val minTs = row.get(0) match {
        case t: Timestamp => t
        case ldt: java.time.LocalDateTime => // TimestampNTZ columns
          Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
        case other => sys.error(s"unsupported NMS type: ${other.getClass}")
      }
      val seedNms = new Timestamp(minTs.getTime - 1) // 1 ms below min; see above
      TableState(
        name = name, schemaName = "main", nmsColumn = nmsCol, pKeyColumn = pk,
        schemaJson = Some(df.schema.json),
        nms = seedNms, lastRowCount = 0L, dsn = dsn, lastShovedOn = None)
    }
    state.upsert(states)
    state.exportJsonl(s"$stateDir/seed_state_json") // O8 backup
  }

  import CdcEngine.TickResult

  /** T5 capture pool, shared across ticks — a forever `-cdc` loop must not
    * allocate/tear down a thread pool per tick. Daemon threads so the pool
    * never blocks JVM exit (Shutdown handles in-flight query teardown). */
  private val captureThreadSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private lazy val capturePool = Executors.newFixedThreadPool(
    math.max(1, concurrency),
    (r: Runnable) => {
      // per-thread index: concurrent captures must be tellable apart in
      // thread dumps and logs
      val t = new Thread(r, s"graft-capture-dsn$dsn-${captureThreadSeq.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  private implicit lazy val captureEc: ExecutionContext =
    ExecutionContext.fromExecutor(capturePool)

  /** Release driver-side resources (the capture thread pool). Call once at
    * end of engine life; ticks must not run after. The pool's threads are
    * daemons, so skipping close() never blocks JVM exit — this exists for
    * long-lived services that build many engines. */
  def close(): Unit = capturePool.shutdown()

  /** The tables this engine's DSN owns, less the excluded ones: a table
    * added to the exclusion list after seeding is neither captured,
    * described nor served (F3, `seed.go:42-50` pairing). */
  private def tracked(): Seq[TableState] =
    state.readForDsn(dsn).collect().toSeq.filterNot(t => excludedTables(t.name))

  private def tableState(table: String): TableState =
    state.readForDsn(dsn).collect().find(_.name == table)
      .getOrElse(sys.error(s"unknown table $table"))

  /** One capture tick over all tracked tables (one `cdc()` pass).
    *
    * Watermark commits batch to ONE catalog rewrite at tick end
    * (`StateStore.commitAll`) — the per-table rewrite was O(catalog) per
    * table per tick, the tick bottleneck at 10k+ tracked tables. T3
    * still holds per table: only tables whose append succeeded are in the
    * batch, and the batch lands before any failure is rethrown, so a
    * sibling's failure never discards a successful capture's watermark.
    * (A driver crash between a table's append and the tick-end commit
    * re-runs that window — the same at-least-once window the per-table
    * form had between append and commit; W1 dedup absorbs it.) */
  def tick(now: Instant = Instant.now()): Seq[TickResult] = tick(now, tracked())

  private def tick(now: Instant, tables: Seq[TableState]): Seq[TickResult] = {
    val futures = tables.map { t =>
      Future(captureOne(t, now)).transform(scala.util.Success(_))
    }
    val outcomes = Await.result(Future.sequence(futures), Duration.Inf)
    state.commitAll(outcomes.collect {
      case scala.util.Success((_, Some(c))) => c
    })
    val failures = outcomes.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      // surface EVERY failed table, not just the first: sibling failures
      // ride along as suppressed exceptions (distinct root causes — say,
      // schema drift on one table, an IO outage on another — must both
      // reach the operator)
      failures.drop(1).foreach(first.addSuppressed)
      throw first
    }
    outcomes.collect { case scala.util.Success((r, _)) => r }
  }

  private def captureOne(t: TableState,
                         now: Instant): (TickResult, Option[StateStore.Commit]) = {
    // S6: cheap live count — parquet footers / database stats, never a
    // Spark-side scan. The reference reads the O(1) catalog estimate
    // (`postgres.go:144-149`); a `df.count()` here would re-scan every
    // tracked table per tick before any capture begins.
    val liveCount = src.liveRowCount(t.name)
    val decision = WatermarkPolicy.decide(
      nms = t.nms.toInstant,
      lastShovedOn = t.lastShovedOn.map(_.toInstant),
      lastRowCount = t.lastRowCount,
      liveRowCount = liveCount,
      now = now,
      conf = policy)
    decision match {
      case Skip(_) => (TickResult(t.name, decision, 0L), None)
      case Advance(w, _) =>
        val lo = Timestamp.from(w.lo)
        val hi = Timestamp.from(w.hi)
        val snapTm = Timestamp.from(now)
        // Windowed load so the bound predicate reaches the source (parquet
        // row-group pruning / database WHERE) even for nanos-encoded NMS
        // columns; snapshotWindow's own filter is then a no-op.
        val windowed = src.loadWindowed(t.name, t.nmsColumn, lo, hi)
        val snapBase = processor(
          Snapshot.snapshotWindow(windowed, t.nmsColumn, lo, hi, snapTm, munge))
        val compaction = t.pKeyColumn.filter(_ => maintainCurrentState)
          .map(pk => CompactedState.Config(Seq(pk), "snapshot_tm", Seq(t.nmsColumn)))
        // When compaction also consumes the batch, pin ONE materialization:
        // re-planning the window against a LIVE source (JDBC) between the
        // append and the merge could observe different rows, silently
        // diverging the compacted table from the log — and the merge must
        // see exactly the rows whose buckets the append observed.
        val stable =
          if (compaction.isDefined)
            snapBase.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else snapBase
        try {
          // Single pass: the row count, and for a compacting table the
          // touched buckets, are side-effects of the write (CollectMetrics),
          // never a second scan of the window or a probe job in the merge.
          val obs = org.apache.spark.sql.Observation()
          val snap = stable.observe(obs, count(lit(1)).as("rows"),
            compaction.map(CompactedState.touchedBuckets(_).as("buckets")).toSeq: _*)
          AppendSink.appendSnapshot(snap, sinkDir, t.name, maxFileBytes = batchBytes)
          val metrics = obs.get
          val captured = metrics("rows").asInstanceOf[Long]
          // MERGE the batch into the compacted current state BEFORE the
          // watermark commit: a failure re-runs the window and the merge
          // is idempotent, so the compacted table never misses a batch.
          compaction.foreach { conf =>
            CompactedState.merge(spark, compactedStateDir(t.name), stable, conf,
              metrics("buckets").asInstanceOf[scala.collection.Seq[Long]].toSet)
          }
          // T3: the commit is handed to tick() only after the append
          // succeeded; tick() applies all successful tables' commits in
          // one batched catalog write.
          (TickResult(t.name, decision, captured),
            Some(StateStore.Commit(dsn, t.name, hi, liveCount, snapTm)))
        } finally {
          if (compaction.isDefined) stable.unpersist(false)
        }
    }
  }

  /** T6: `-runonce` vs continuous loop. Dumps the per-table stream
    * configs once per run (O7). Between ticks superseded compacted-state
    * versions are vacuumed with a ONE-VERSION grace (`retain = 2`): an
    * external reader that resolved its file listing last tick — a held
    * `currentState` DataFrame, a registered current-state view — still
    * finds its files for one more tick, so the forever `-cdc` mode's
    * storage stays O(current state) without yanking files out from under
    * the advertised serving path. Views registered via
    * [[registerCurrentStateViews]] are re-registered after each tick so
    * they re-resolve onto the newest version. Each tick reads the
    * tracked tables once and hands them to the capture, the vacuum and
    * the view refresh (what they read of a table is fixed at seeding);
    * the first tick reuses the rows the config dump read, and the
    * tick-end commit re-reads the catalog under its lock. */
  def run(maxTicks: Int, now: () => Instant = () => Instant.now()): Seq[Seq[TickResult]] = {
    val first = tracked()
    dumpStreamConfigs(first)
    (1 to maxTicks).map { i =>
      val tables = if (i == 1) first else tracked()
      val r = tick(now(), tables)
      vacuumCompactedState(2, tables)
      if (viewsRegistered) registerCurrentStateViews(tables)
      r
    }
  }

  /** Drop superseded compacted-state versions for every compacting table.
    * The default one-version grace (`retain = 2`) tolerates readers whose
    * listing is one tick stale; pass `retain = 1` to reclaim everything
    * but the current version when no reader can be live. */
  def vacuumCompactedState(retain: Int = 2): Unit =
    vacuumCompactedState(retain, tracked())

  private def vacuumCompactedState(retain: Int, tables: Seq[TableState]): Unit =
    if (maintainCurrentState)
      tables.filter(_.pKeyColumn.isDefined)
        .foreach(t => CompactedState.vacuum(spark, compactedStateDir(t.name), retain))

  /**
   * O7 — per-run artifact dump: one JSON file per tracked table under
   * `<sinkDir>/stream_configs/<dsn>_<table>.json` describing the effective
   * capture pipeline (the reference writes its assembled Benthos YAML the
   * same way, `/root/reference/benthos.go:146-160`).
   */
  def dumpStreamConfigs(): Seq[String] = dumpStreamConfigs(tracked())

  private def dumpStreamConfigs(tables: Seq[TableState]): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(sinkDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    tables.map { t =>
      def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val mungeJson = munge match {
        case Some(m) =>
          s"""{"min_bound": ${js(m.minBound.toString)}, "to_null": ${m.toNull}}"""
        case None => "null"
      }
      val content =
        s"""{
           |  "table": ${js(t.name)},
           |  "dsn": $dsn,
           |  "nms_column": ${js(t.nmsColumn)},
           |  "pkey_column": ${t.pKeyColumn.map(js).getOrElse("null")},
           |  "sink": ${js(s"$sinkDir/${AppendSink.cdcTableName(t.name)}")},
           |  "batch": {"count": ${policy.batchCount}, "bytes": ${batchBytes.getOrElse(-1L)}},
           |  "replication_buffer_secs": ${policy.replicationBufferSecs},
           |  "munge": $mungeJson,
           |  "maintain_current_state": $maintainCurrentState
           |}""".stripMargin
      val path = new org.apache.hadoop.fs.Path(
        s"$sinkDir/stream_configs/${dsn}_${t.name}.json")
      SmallFile.replace(fs, path, content.getBytes("UTF-8"))
      path.toString
    }
  }

  /** Read a table's append-only snapshot log (schemas reconciled across
    * batches, so additive source evolution is transparent). */
  def cdcLog(table: String): DataFrame =
    AppendSink.readLog(spark, sinkDir, table)

  /** O5 — publish the current-state view of every tracked table with a
    * known primary key as a temp view named after the bare table, so
    * `spark.sql("SELECT ... FROM <table>")` sees latest state (the
    * reference's view-per-table convention, `bigquery.go:101-110`).
    * With `maintainCurrentState` on, the view serves from the compacted
    * table — a bounded scan of `numBuckets` bucket dirs — instead of
    * collapsing the full append log on every read, matching the
    * reference's always-latest warehouse view (`bigquery.go:187-207`)
    * without its per-read recompute cost.
    *
    * The view pins the compacted version listing AT REGISTRATION; under a
    * continuous [[run]] the engine re-registers after every tick (and
    * vacuum keeps one superseded version as grace), so SQL readers always
    * resolve. A caller driving [[tick]] manually must re-register (or
    * re-call [[currentState]]) after compaction-advancing ticks. */
  def registerCurrentStateViews(): Seq[String] =
    registerCurrentStateViews(tracked())

  private def registerCurrentStateViews(tables: Seq[TableState]): Seq[String] = {
    val names = tables.flatMap { t =>
      t.pKeyColumn.map { pk =>
        compactedIfAvailable(t.name) match {
          case Some(compacted) => compacted.createOrReplaceTempView(t.name)
          case None =>
            graft.sinks.Ddl.createCurrentStateView(
              spark, t.name, cdcLog(t.name).drop("snapshot_dt"), pk, Seq(t.nmsColumn))
        }
        t.name
      }
    }
    viewsRegistered = names.nonEmpty
    names
  }

  /** Whether the engine has published serving views it must keep fresh
    * across the run() loop (vacuum would otherwise strand them). */
  @volatile private var viewsRegistered = false

  private def compactedStateDir(table: String): String =
    s"$sinkDir/${AppendSink.cdcTableName(table)}_state"

  /** The MERGE-compacted current state (requires `maintainCurrentState`):
    * reads only the compacted buckets — never the full log. */
  def compactedCurrentState(table: String): DataFrame =
    CompactedState.read(spark, compactedStateDir(table))
      .getOrElse(sys.error(s"no compacted state for $table " +
        "(engine not built with maintainCurrentState = true, or no batch captured)"))

  /** The compacted current state iff this engine maintains one and at
    * least one batch has landed (tables without a primary key never
    * compact; before the first capture the dir is empty). */
  private def compactedIfAvailable(table: String): Option[DataFrame] =
    if (!maintainCurrentState) None
    else CompactedState.read(spark, compactedStateDir(table))

  /** W1 — latest state from the full append log, always recomputed. The
    * compacted path must agree with this by construction (fold equivalence
    * of `max_by`); kept public as the correctness oracle for it. */
  def recomputeCurrentState(table: String): DataFrame = {
    val t = tableState(table)
    val pk = t.pKeyColumn.getOrElse(sys.error(s"no pkey for $table; view requires one"))
    CurrentState.latestByKeyAgg(
      cdcLog(table).drop("snapshot_dt"), Seq(pk), "snapshot_tm", Seq(t.nmsColumn))
  }

  /** W1 — the current-state view. Served from the compacted table when the
    * engine maintains one (O(numBuckets) files read, no log collapse);
    * falls back to the full-log recompute otherwise.
    *
    * The returned DataFrame pins the compacted file listing at CALL time;
    * under a continuous [[run]] it stays readable for one more tick
    * (vacuum's grace version) — re-obtain it per tick rather than holding
    * it across many. */
  def currentState(table: String): DataFrame =
    compactedIfAvailable(table).getOrElse(recomputeCurrentState(table))

  /** Point lookup: the latest state of ONE primary-key value, reading a
    * single compacted bucket dir (requires `maintainCurrentState`) —
    * O(state / numBuckets) instead of a full view scan. The literal is
    * coerced to the pk column's stored type before bucket hashing: an Int
    * passed for a Long pk would otherwise hash to a DIFFERENT bucket and
    * silently return no rows. */
  def currentStateLookup(table: String, pkValue: Any): Option[DataFrame] = {
    require(maintainCurrentState, s"lookup requires maintainCurrentState = true")
    val t = tableState(table)
    val pk = t.pKeyColumn.getOrElse(sys.error(s"no pkey for $table; lookup requires one"))
    val pkType = t.schemaJson.flatMap { j =>
      org.apache.spark.sql.types.DataType.fromJson(j) match {
        case st: org.apache.spark.sql.types.StructType =>
          st.fields.find(_.name == pk).map(_.dataType)
        case _ => None
      }
    }
    CompactedState.lookup(spark, compactedStateDir(table),
      CompactedState.Config(Seq(pk), "snapshot_tm", Seq(t.nmsColumn)),
      Seq(pkValue), keyTypes = pkType.toSeq)
  }
}
