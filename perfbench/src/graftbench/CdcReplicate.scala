package graftbench

import java.io.File
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame

import graft.engine.CdcEngine
import graft.policy.WatermarkPolicy.{Advance, Skip}
import graft.sources.{ParquetSource, SnapshotSource}

/** A pass-through capture source that records, while tracing, the source
  * layer's spans, the jobs its DataFrame builds start, and how long each
  * table waited from tick start to its first source call (the capture
  * pool's queue). */
final class TracingSource(inner: SnapshotSource) extends SnapshotSource {
  @volatile private var tickStart = 0L
  private val seen = ConcurrentHashMap.newKeySet[String]()

  def startTick(): Unit = { seen.clear(); tickStart = System.nanoTime() }

  private def firstCall(table: String): Unit =
    if (Trace.on && seen.add(table))
      Trace.add("engine.capture_wait_s", (System.nanoTime() - tickStart) / 1e9)

  override def liveRowCount(table: String): Long = {
    firstCall(table)
    Trace.span("sources.live_count")(inner.liveRowCount(table))
  }

  override def load(table: String): DataFrame = {
    firstCall(table)
    Trace.span("sources.build")(inner.load(table))
  }

  override def loadWindowed(table: String, nmsCol: String,
                            lo: Timestamp, hi: Timestamp): DataFrame = {
    firstCall(table)
    Trace.span("sources.build")(inner.loadWindowed(table, nmsCol, lo, hi))
  }
}

/**
 * `cdc_replicate`: 3 events-shaped tables replicated by one engine with
 * compacted current state and a capture pool of 2. Each cycle the
 * generator lands one parquet file per table, the synthetic clock advances
 * ten minutes, and the client ticks the engine, then twice re-registers
 * the current-state views and runs the analyst query over them. The
 * warm-up's re-tick exercises the policy's skip; its first read compiles
 * the query, untimed.
 */
object CdcReplicate {
  val Tables = 3
  /** Capture pool size: fewer threads than tables, so tables queue. */
  val Concurrency = 2
  val BaseInitRows = 200
  val BaseInserts = 100
  val BaseUpdates = 25
  val Users = 2000
  /** The measured loop's minimum cycles, whose counts must repeat exactly
    * under one seed. */
  val CountedCycles = 1

  private val T0 = Instant.parse("2024-03-01T00:00:00Z")

  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000
  private def micros(t: Timestamp): Long = micros(t.toInstant)

  private def query(names: Seq[String]): String =
    s"""SELECT u.event_type, COUNT(*) AS n, COUNT(DISTINCT u.user_id) AS users,
       |       SUM(CAST(ROUND(u.value * 100) AS BIGINT)) AS cents
       |FROM (${names.map(t => s"SELECT user_id, event_type, value FROM $t").mkString(" UNION ALL ")}) u
       |JOIN (SELECT DISTINCT user_id FROM ${names.head} WHERE event_type = 'purchase') p
       |  ON u.user_id = p.user_id
       |GROUP BY u.event_type""".stripMargin

  def run(ctx: Ctx, res: Result, cores: Int): Unit = {
    val spark = ctx.spark
    val gen = new CdcGen(ctx.seed, Tables, BaseInitRows, BaseInserts, BaseUpdates, Users)
    val srcDir = new File(ctx.work, "src").getAbsolutePath
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

    def land(lo: Instant, hi: Instant, initial: Boolean): Unit = {
      val batches = gen.names.indices.map(i => i -> gen.batch(i, micros(lo), micros(hi), initial))
      Await.result(Future.sequence(batches.map { case (i, evs) =>
        Future(Gen.writeRows(spark, evs.map(_.row), gen.schema, s"$srcDir/${gen.names(i)}.parquet"))
      }), Duration.Inf)
    }

    def watermarks(e: CdcEngine): Map[String, Long] =
      e.state.read().collect().map(t => t.name -> micros(t.nms)).toMap

    /** Each table's captured row count equals the generator's rows inside
      * the decided window. */
    def verifyTick(rs: Seq[CdcEngine.TickResult]): Option[String] = {
      val bad = rs.flatMap { r =>
        val i = gen.names.indexOf(r.table)
        val want = r.decision match {
          case Advance(w, _) => gen.rowsIn(i, micros(w.lo), micros(w.hi))
          case Skip(_) => 0L
        }
        if (want == r.rowsCaptured) None else Some(s"${r.table}: captured ${r.rowsCaptured}, expected $want")
      }
      if (rs.size != Tables) Some(s"${rs.size} tick results for $Tables tables")
      else bad.headOption
    }

    val tracing = if (ctx.trace) Some(new TracingSource(new ParquetSource(spark, srcDir))) else None
    def build(dir: File): CdcEngine =
      new CdcEngine(spark, srcDir, new File(dir, "sink").getAbsolutePath,
        new File(dir, "state").getAbsolutePath, concurrency = Concurrency,
        source = tracing, maintainCurrentState = true)

    try {
      land(T0.minusSeconds(6 * 3600), T0, initial = true)
      res.phase("cdc.inputs_landed")
      var clock = T0.plusSeconds(600)
      var engine: CdcEngine = null
      var engineDir: File = null
      // set-up: engine build and seed; three times, the last one is used
      for (s <- 1 to 3) {
        val dir = new File(ctx.work, s"engine$s")
        val t0 = System.nanoTime()
        val e = build(dir)
        e.seed(gen.names.map(t => (t, "ts", Some("event_id"))))
        res.setup("engine", (System.nanoTime() - t0) / 1e9)
        if (engine != null) { engine.close(); Files.delete(engineDir) }
        engine = e
        engineDir = dir
      }
      val eng = engine
      res.phase("cdc.setup_done")
      // warm-up, untimed: the bootstrap tick captures the initial backlog,
      // then a re-tick one minute later, inside the replication buffer,
      // must skip every table
      val boot = eng.tick(clock)
      res.phase("cdc.boot_tick_done")
      clock = clock.plusSeconds(60)
      val retick = eng.tick(clock)
      eng.registerCurrentStateViews()
      res.phase("cdc.retick_done")
      res.check("bootstrap_capture", verifyTick(boot).isEmpty, verifyTick(boot).getOrElse(""))
      res.check("retick_skips", retick.forall(_.decision.isInstanceOf[Skip]) &&
        verifyTick(retick).isEmpty, retick.map(_.decision).mkString(", "))
      val warmDecisions = boot ++ retick
      val sinkDir = new File(engineDir, "sink")
      def logDirs = gen.names.map(t => new File(sinkDir, s"${t}_cdc"))
      def logFiles(): Long = logDirs.map(d => Files.dataFiles(d).size.toLong).sum
      def logBytes(): Long = logDirs.map(Files.bytes).sum

      /** One analyst read: re-register the current-state views, run the
        * join + aggregate, and check it against the generator's answer at
        * the engine's watermarks. Returns the expected per-table states. */
      def read(): Seq[Map[Long, Ev]] = {
        val nms = watermarks(eng)
        val states = gen.names.indices.map(i => gen.stateAt(i, nms(gen.names(i))))
        val buyers = states.head.values.filter(_.etype == "purchase").map(_.user).toSet
        val expected = states.flatMap(_.values).filter(e => buyers(e.user))
          .groupBy(_.etype).map { case (t, es) =>
            (t, es.size.toLong, es.map(_.user).distinct.size.toLong, es.map(_.cents).sum)
          }.toSet
        res.op("query") {
          Trace.span("engine.views")(eng.registerCurrentStateViews())
          Trace.span("spark.sql.query")(spark.sql(query(gen.names)).collect())
        } { rows =>
          val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
          if (got == expected) None else Some(s"query result differs: got $got, expected $expected")
        }
        states
      }
      // warm-up, untimed: the first analyst read compiles the query's code
      res.timing = false
      try read() finally res.timing = true
      res.phase("cdc.warm_read_done")

      var captured = 0L
      var tickSeconds = 0.0
      var tickCpu = 0.0
      var tickAlloc = 0.0
      var advance = 0L
      var skip = 0L
      var capturedCounted = 0L
      var digest = 17L
      var failedTables = 0L
      var visible = 0L
      var tracedWrites = 0L
      var tracedScans = 0L
      var sinkFiles = 0L
      var sinkBytes = 0L

      ctx.loop(res, CountedCycles) { k =>
        val lo = clock
        clock = clock.plusSeconds(600)
        land(lo, clock, initial = false)
        val w0 = eng.state.catalogWrites.get
        val sc0 = eng.state.catalogScans.get
        val f0 = logFiles()
        val b0 = logBytes()
        tracing.foreach(_.startTick())
        val c0 = Result.cpuSeconds()
        val m0 = Result.allocatedBytes()
        val t0 = System.nanoTime()
        val ticked = res.op("tick") {
          try Trace.span("engine.tick")(eng.tick(clock))
          catch { case e: Throwable =>
            failedTables += 1 + e.getSuppressed.length
            throw e
          }
        }(verifyTick)
        val dt = (System.nanoTime() - t0) / 1e9
        val dc = Result.cpuSeconds() - c0
        val dm = Result.allocatedBytes() - m0
        if (Trace.on) {
          tracedWrites += eng.state.catalogWrites.get - w0
          tracedScans += eng.state.catalogScans.get - sc0
          sinkFiles += logFiles() - f0
          sinkBytes += logBytes() - b0
        }
        ticked.foreach { rs =>
          val rows = rs.map(_.rowsCaptured).sum
          if (res.timing) {
            captured += rows
            tickSeconds += dt
            tickCpu += dc
            tickAlloc += dm
          }
          if (k < CountedCycles) {
            advance += rs.count(_.decision.isInstanceOf[Advance])
            skip += rs.count(_.decision.isInstanceOf[Skip])
            capturedCounted += rows
            digest = digest * 31 + rows
          }
        }
        eng.vacuumCompactedState()

        read()
        visible = read().map(_.size.toLong).sum
      }

      // output checks: served state equals the generator's latest-by-key,
      // and the compacted state equals the full-log recompute
      val nms = watermarks(eng)
      def norm(df: DataFrame): Set[(Long, Long, Long, String, Long, String)] =
        df.select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
          .map(r => (r.getLong(0), micros(r.getTimestamp(1)), r.getLong(2), r.getString(3),
            math.round(r.getDouble(4) * 100), r.getString(5))).toSet
      gen.names.zipWithIndex.foreach { case (t, i) =>
        val want = gen.stateAt(i, nms(t)).values.map { e =>
          (e.id, e.tsMicros, e.user, e.etype, e.cents, s"""{"k": ${e.k}}""")
        }.toSet
        val served = norm(eng.currentState(t))
        res.check(s"current_state_$t", served == want,
          s"${served.size} served rows vs ${want.size} expected; ${(served diff want).take(3)}")
        val recomputed = norm(eng.recomputeCurrentState(t))
        res.check(s"compacted_equals_recompute_$t", served == recomputed,
          s"${served.size} compacted rows vs ${recomputed.size} recomputed")
      }

      val stateBytes = gen.names.map(t => liveStateBytes(new File(sinkDir, s"${t}_cdc_state"))).sum
      val stateFiles = gen.names.map(t => liveStateFiles(new File(sinkDir, s"${t}_cdc_state"))).sum
      res.values("capture_rows_per_s") = captured / math.max(tickSeconds, 1e-9)
      res.values("capture_rows_per_cpu_s") = captured / math.max(tickCpu, 1e-9)
      res.values("capture_alloc_kb_per_row") = tickAlloc / 1024 / math.max(captured, 1L)
      res.values("stored_bytes_per_row") = (logBytes() + stateBytes).toDouble / gen.totalRows
      res.values("visible_frac") = visible.toDouble / gen.liveKeys
      res.counts("policy.advance") = advance + warmDecisions.count(_.decision.isInstanceOf[Advance])
      res.counts("policy.skip") = skip + warmDecisions.count(_.decision.isInstanceOf[Skip])
      res.counts("rows_captured") = capturedCounted
      res.counts("rows_captured_per_tick_digest") = digest

      if (ctx.trace) {
        val n = math.max(1, ctx.tracedCycles).toDouble
        res.layers("engine.tick_s") = Trace.spanSeconds("engine.tick") / n
        res.layers("engine.capture_wait_s") = Trace.counter("engine.capture_wait_s") / n
        res.layers("engine.failed_tables") = failedTables.toDouble
        res.layers("sources.live_count_s") = Trace.spanSeconds("sources.live_count") / n
        res.layers("sources.build_s") = Trace.spanSeconds("sources.build") / n
        res.layers("sources.build_jobs") =
          Option(ctx.listeners.exec.spanJobs.get("sources.build")).map(_.get).getOrElse(0L) / n
        res.layers("policy.advance") = res.counts("policy.advance").toDouble
        res.layers("policy.skip") = res.counts("policy.skip").toDouble
        res.layers("state.catalog_writes") = tracedWrites / n
        res.layers("state.catalog_scans") = tracedScans / n
        res.layers("state.task_s") = ctx.moduleFig("state", "task_s")
        res.layers("sinks.jobs") = ctx.moduleFig("sinks", "jobs")
        res.layers("sinks.task_s") = ctx.moduleFig("sinks", "task_s")
        res.layers("sinks.files_written") = sinkFiles / n
        res.layers("sinks.bytes_written") = sinkBytes / n
        res.layers("operators.compact_jobs") = ctx.moduleFig("operators", "jobs")
        res.layers("operators.compact_task_s") = ctx.moduleFig("operators", "task_s")
        res.layers("operators.state_files") = stateFiles.toDouble
        res.layers("operators.state_bytes") = stateBytes.toDouble
      }
      eng.close()
    } finally pool.shutdown()
  }

  /** The newest `v=<n>` version of every `bucket=<b>` dir: the state a
    * reader sees (older versions are the vacuum's grace copy). */
  private def liveVersions(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("bucket=")).flatMap { b =>
      Option(b.listFiles()).toSeq.flatten.filter(_.getName.startsWith("v="))
        .sortBy(-_.getName.stripPrefix("v=").toLong).headOption
    }

  private def liveStateBytes(dir: File): Long = liveVersions(dir).map(Files.bytes).sum
  private def liveStateFiles(dir: File): Long = liveVersions(dir).map(v => Files.dataFiles(v).size.toLong).sum
}
