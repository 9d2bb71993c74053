package graft.engine

import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.CurrentState
import graft.policy.WatermarkPolicy.PolicyConfig

/** End-to-end slice (SURVEY §7.2): seed state for `events`, run capture
  * ticks with a synthetic clock, and prove the current-state view equals a
  * direct latest-per-key recompute — including under at-least-once re-runs. */
class CdcEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkEngine() = {
    val sink = TestSpark.tmpDir("graft-sink")
    val state = TestSpark.tmpDir("graft-state")
    new CdcEngine(spark, TestSpark.Sf0001, sink, state,
      policy = PolicyConfig(batchCount = 100, replicationBufferSecs = 180),
      concurrency = 2)
  }

  test("seed -> ticks capture the whole table exactly once; view = recompute") {
    val eng = mkEngine()
    eng.seed(Seq(("events", "ts", Some("event_id"))))

    val st0 = eng.state.readForDsn(1).collect().head
    assert(st0.name == "events" && st0.lastRowCount == 0)

    // Synthetic clock: start just past the data (events end 2024-01-30), so
    // ticks march the watermark through the whole table.
    var clock = Instant.parse("2024-02-01T00:00:00Z")
    var captured = 0L
    (1 to 30).foreach { _ =>
      val res = eng.tick(clock)
      captured += res.map(_.rowsCaptured).sum
      clock = clock.plusSeconds(3600)
    }
    assert(captured == 1000L, "every event captured exactly once across windows")
    assert(eng.cdcLog("events").count() == 1000L)

    // watermark advanced monotonically and is committed
    val st1 = eng.state.readForDsn(1).collect().head
    assert(st1.nms.after(st0.nms))
    assert(st1.lastShovedOn.nonEmpty)

    // current-state view equals a direct recompute over the source
    val view = eng.currentState("events").drop("snapshot_tm")
    val direct = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
    assert(view.count() == 1000L) // event_id is unique -> identity
    assert(view.except(direct).isEmpty && direct.except(view).isEmpty)
  }

  test("at-least-once: re-appending a window leaves current state unchanged") {
    val eng = mkEngine()
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    var clock = Instant.parse("2024-02-01T00:00:00Z")
    (1 to 30).foreach { _ => eng.tick(clock); clock = clock.plusSeconds(3600) }
    val before = eng.currentState("events").drop("snapshot_tm")
    val cntLog = eng.cdcLog("events").count()

    // simulate a retry: re-capture an already-committed window (duplicates in log)
    val df = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
    val dup = graft.operators.Snapshot.snapshotWindow(df, "ts",
      graft.util.Util.utcTs("2024-01-05 00:00:00"),
      graft.util.Util.utcTs("2024-01-15 00:00:00"),
      java.sql.Timestamp.from(clock))
    graft.sinks.AppendSink.appendSnapshot(dup, eng.sinkDir, "events")

    assert(eng.cdcLog("events").count() > cntLog) // log HAS duplicates
    val after = eng.currentState("events").drop("snapshot_tm")
    // ...but the view resolves them: W1 restores exactly-once
    assert(after.except(before).isEmpty && before.except(after).isEmpty)
    assert(after.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
  }

  test("multi-table tick captures tables in parallel; DSN ownership isolates state") {
    val sink = TestSpark.tmpDir("graft-sink-multi")
    val stateDir = TestSpark.tmpDir("graft-state-multi")
    // batchCount 1000 puts both tables' first-tick growth in the
    // default-jump band (bc <= rowDiff <= 8*bc or mid-range behind).
    val eng = new CdcEngine(spark, TestSpark.Sf0001, sink, stateDir,
      policy = graft.policy.WatermarkPolicy.PolicyConfig(
        batchCount = 1000, replicationBufferSecs = 180),
      concurrency = 2)
    val seedWrites0 = eng.state.catalogWrites.get()
    eng.seed(Seq(
      ("events", "ts", Some("event_id")),
      ("orders", "o_orderdate", Some("o_orderkey"))))
    // seeding batches like committing: N tables land in ONE catalog
    // rewrite (the commitAll one-write contract, mirrored for seed —
    // seeding 10k tables must not be 10k O(catalog) rewrites)
    assert(eng.state.catalogWrites.get() == seedWrites0 + 1,
      "seed must write the state catalog exactly once")

    val writesBefore = eng.state.catalogWrites.get()
    val res = eng.tick(java.time.Instant.parse("2024-02-01T00:00:00Z"))
    assert(res.map(_.table).toSet == Set("events", "orders"))
    assert(eng.cdcLog("events").count() == 1000L)
    assert(eng.cdcLog("orders").count() == 1500L)
    assert(eng.currentState("orders").count() == 1500L)
    // watermark commits batch: BOTH tables' captures land in ONE catalog
    // rewrite per tick, not one per table
    assert(eng.state.catalogWrites.get() == writesBefore + 1,
      "a tick must write the state catalog exactly once")
    val committed = eng.state.readForDsn(1).collect()
    assert(committed.forall(_.lastShovedOn.nonEmpty), "both tables committed")

    // F4 — a second DSN sharing the state store owns none of these tables
    val other = new CdcEngine(spark, TestSpark.Sf0001, sink, stateDir, dsn = 2)
    assert(other.state.readForDsn(2).isEmpty)
    assert(other.tick(java.time.Instant.parse("2024-02-01T00:00:00Z")).isEmpty)
    // and dsn-1 state is untouched by dsn-2's (empty) tick
    assert(eng.state.readForDsn(1).count() == 2)
  }

  test("a no-write tick costs zero catalog scans (memo serves every read)") {
    val eng = mkEngine()
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    val now = Instant.parse("2024-02-01T00:00:00Z")
    // march the watermark to the replication ceiling (bounded 14-day steps
    // cover January, then the jump-to-ceiling catches up)
    (1 to 5).foreach(_ => eng.tick(now))

    // same clock again: policy case 1 (recently shoved, nearly caught up)
    // skips every table — no capture, no commit, NO catalog write...
    val writes0 = eng.state.catalogWrites.get()
    val scans0 = eng.state.catalogScans.get()
    val res = eng.tick(now)
    assert(res.forall(_.decision.isInstanceOf[graft.policy.WatermarkPolicy.Skip]))
    assert(eng.state.catalogWrites.get() == writes0, "skip tick must not write")
    // ...and the tick's catalog READS are all memo hits: the last write
    // populated the memo, so a no-write tick issues zero parquet scans
    assert(eng.state.catalogScans.get() == scans0,
      "a no-write tick must not scan the catalog parquet")
  }

  test("tick is single-pass: no count() jobs; rows come from write-side metrics") {
    val eng = mkEngine()
    eng.seed(Seq(("events", "ts", Some("event_id"))))

    val (res, jobs) = TestSpark.jobSites(eng.tick(Instant.parse("2024-02-01T00:00:00Z")))
    assert(res.map(_.rowsCaptured).sum > 0, "tick captured rows")
    assert(jobs.nonEmpty, "the capture write ran as a Spark job")
    assert(!jobs.exists(_.startsWith("count at")),
      s"tick must not run count() actions; saw: $jobs")
    // and the observed count matches what actually landed in the log
    assert(eng.cdcLog("events").count() == res.map(_.rowsCaptured).sum)
  }

  test("per-batch MERGE compaction tracks the recompute view exactly") {
    val sink = TestSpark.tmpDir("graft-sink-compact")
    val stateDir = TestSpark.tmpDir("graft-state-compact")
    val eng = new CdcEngine(spark, TestSpark.Sf0001, sink, stateDir,
      policy = PolicyConfig(batchCount = 100, replicationBufferSecs = 180),
      concurrency = 2, maintainCurrentState = true)
    eng.seed(Seq(("events", "ts", Some("event_id"))))

    var clock = Instant.parse("2024-02-01T00:00:00Z")
    (1 to 10).foreach { _ =>
      eng.tick(clock); clock = clock.plusSeconds(3600)
      // invariant holds after EVERY batch, not just at the end; compare
      // against the explicit full-log recompute (currentState itself now
      // serves from the compacted table, so it is not the oracle here)
      val compacted = eng.compactedCurrentState("events")
      val recompute = eng.recomputeCurrentState("events")
      assert(compacted.except(recompute).isEmpty && recompute.except(compacted).isEmpty)
    }
    // the compacted table holds exactly one row per key, and vacuum
    // drops superseded versions without changing the contents
    val dir = s"$sink/events_cdc_state"
    val before = eng.compactedCurrentState("events")
    assert(before.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
    graft.operators.CompactedState.vacuum(spark, dir)
    val after = eng.compactedCurrentState("events")
    assert(after.except(before).isEmpty && before.except(after).isEmpty)
    // re-upserting the same batch (at-least-once retry) changes nothing
    val win = graft.sources.Tables.loadWindowed(spark, TestSpark.Sf0001,
      "events", "ts", graft.util.Util.utcTs("2024-01-05 00:00:00"),
      graft.util.Util.utcTs("2024-01-10 00:00:00"))
    val dup = graft.operators.Snapshot.snapshotWindow(win, "ts",
      graft.util.Util.utcTs("2024-01-05 00:00:00"),
      graft.util.Util.utcTs("2024-01-10 00:00:00"),
      java.sql.Timestamp.from(Instant.parse("2024-02-01T05:00:00Z")))
    graft.operators.CompactedState.upsert(spark, dir, dup,
      graft.operators.CompactedState.Config(Seq("event_id"), "snapshot_tm", Seq("ts")))
    // the replayed rows may win the snapshot_tm tiebreak, but the DATA
    // (and cardinality) of the current state must be unchanged
    val redone = eng.compactedCurrentState("events").drop("snapshot_tm")
    val afterData = after.drop("snapshot_tm")
    assert(redone.count() == after.count())
    assert(redone.except(afterData).isEmpty && afterData.except(redone).isEmpty)
  }

  test("run() vacuums between ticks: one version per bucket; currentState/view serve the compacted table") {
    val sink = TestSpark.tmpDir("graft-sink-vacuum")
    val stateDir = TestSpark.tmpDir("graft-state-vacuum")
    val eng = new CdcEngine(spark, TestSpark.Sf0001, sink, stateDir,
      policy = PolicyConfig(batchCount = 100, replicationBufferSecs = 180),
      concurrency = 2, maintainCurrentState = true)
    eng.seed(Seq(("events", "ts", Some("event_id"))))

    var clock = Instant.parse("2024-02-01T00:00:00Z")
    val results = eng.run(10, () => { val c = clock; clock = clock.plusSeconds(3600); c })
    assert(results.flatten.map(_.rowsCaptured).sum > 0)

    // vacuum ran between ticks: every bucket dir holds at most the current
    // version plus ONE superseded grace version (for readers whose listing
    // is a tick stale) — storage is O(current state), not O(batches x state)
    val buckets = new java.io.File(s"$sink/events_cdc_state").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(buckets.nonEmpty)
    buckets.foreach { b =>
      val versions = b.listFiles().filter(f => f.isDirectory && f.getName.startsWith("v="))
      assert(versions.length <= 2,
        s"${b.getName} has ${versions.length} versions after vacuum: ${versions.map(_.getName).toSeq}")
    }

    // the serving path reads the compacted table, never the append log...
    val served = eng.currentState("events")
    val files = served.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("events_cdc_state")),
      s"currentState must serve from the compacted table; scanned: ${files.toSeq}")
    // ...and equals the full-log recompute
    val recompute = eng.recomputeCurrentState("events")
    assert(served.except(recompute).isEmpty && recompute.except(served).isEmpty)

    // the registered view serves the same compacted data
    assert(eng.registerCurrentStateViews() == Seq("events"))
    val viaSql = spark.sql("SELECT * FROM events")
    assert(viaSql.inputFiles.forall(_.contains("events_cdc_state")))
    assert(viaSql.except(recompute).isEmpty && recompute.except(viaSql).isEmpty)

    // a view registered BEFORE more run() ticks keeps serving afterwards:
    // run() re-registers it per tick and vacuum keeps a grace version, so
    // compaction never strands the advertised SQL serving path
    val more = eng.run(3, () => { val c = clock; clock = clock.plusSeconds(3600); c })
    assert(more.nonEmpty)
    val afterRun = spark.sql("SELECT * FROM events")
    assert(afterRun.count() == recompute.count())
    assert(afterRun.inputFiles.forall(_.contains("events_cdc_state")))
    spark.catalog.dropTempView("events")
  }

  test("CompactedState: additive schema evolution survives the read; numBuckets drift fails fast") {
    import graft.operators.CompactedState
    val dir = TestSpark.tmpDir("graft-compact-evolve")
    val conf = CompactedState.Config(Seq("event_id"), "ts", numBuckets = 4)
    val base = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
      .select("event_id", "user_id", "ts")
    CompactedState.upsert(spark, dir, base.filter(col("event_id") < 500), conf)
    // batch 2 carries a NEW column (additive source evolution, O6)
    CompactedState.upsert(spark, dir,
      base.filter(col("event_id") >= 500).withColumn("extra", lit("v2")), conf)

    val state = CompactedState.read(spark, dir).get
    // mergeSchema: the late column is visible no matter which file the
    // reader samples; pre-evolution rows null-fill it
    assert(state.columns.contains("extra"))
    assert(state.filter(col("extra") === "v2").count() ==
      base.filter(col("event_id") >= 500).count())
    assert(state.filter(col("extra").isNull).count() ==
      base.filter(col("event_id") < 500).count())

    // layout guard: an upsert with a different bucket count must fail fast
    // instead of re-bucketing keys and resurrecting stale rows
    val drift = intercept[IllegalArgumentException] {
      CompactedState.upsert(spark, dir, base.limit(10),
        CompactedState.Config(Seq("event_id"), "ts", numBuckets = 8))
    }
    assert(drift.getMessage.contains("numBuckets mismatch"))
  }

  test("currentStateLookup probes exactly one bucket dir and matches the view row") {
    val sink = TestSpark.tmpDir("graft-sink-lookup")
    val stateDir = TestSpark.tmpDir("graft-state-lookup")
    val eng = new CdcEngine(spark, TestSpark.Sf0001, sink, stateDir,
      policy = PolicyConfig(batchCount = 100, replicationBufferSecs = 180),
      concurrency = 2, maintainCurrentState = true)
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    var clock = Instant.parse("2024-02-01T00:00:00Z")
    (1 to 5).foreach { _ => eng.tick(clock); clock = clock.plusSeconds(3600) }

    val some = eng.currentState("events").select("event_id").head(3).map(_.getLong(0))
    some.foreach { id =>
      val hit = eng.currentStateLookup("events", id).get
      // exactly the view's row for that key...
      val expect = eng.currentState("events").filter(col("event_id") === id)
      assert(hit.count() == 1L)
      assert(hit.except(expect).isEmpty && expect.except(hit).isEmpty)
      // ...read from ONE bucket dir, not the whole state
      val dirs = hit.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct
      assert(dirs.length == 1 && dirs.head.contains("bucket="),
        s"lookup must probe a single bucket dir; scanned: ${dirs.toSeq}")
    }
    // an absent key in a present bucket -> empty result, still one bucket
    val ghost = eng.currentStateLookup("events", 999999999L)
    assert(ghost.forall(_.isEmpty))

    // caller-side type drift: an Int for the Long pk must coerce to the
    // column's stored type before bucket hashing (an uncoerced Int hashes
    // to a DIFFERENT bucket and silently returns nothing)
    val (viaInt, lookupJobs) =
      TestSpark.jobSites(eng.currentStateLookup("events", some.head.toInt))
    assert(viaInt.nonEmpty && viaInt.get.count() == 1L,
      "Int-typed key for a Long pk must still find the row")
    // hashing the key and resolving the bucket's schema are driver-local
    assert(lookupJobs.isEmpty, s"building a lookup must start no job: $lookupJobs")

    // a wrong bucket count must fail fast, not silently miss
    val bad = intercept[IllegalArgumentException] {
      graft.operators.CompactedState.lookup(spark, s"$sink/events_cdc_state",
        graft.operators.CompactedState.Config(
          Seq("event_id"), "snapshot_tm", Seq("ts"), numBuckets = 7),
        Seq(some.head))
    }
    assert(bad.getMessage.contains("numBuckets mismatch"))
  }

  test("ParquetMeta.rowCount reads footers only and is exact") {
    import graft.sources.ParquetMeta
    for (t <- Seq("events", "orders", "lineitem")) {
      val exact = graft.sources.Tables.load(spark, TestSpark.Sf0001, t).count()
      assert(ParquetMeta.rowCount(spark, s"${TestSpark.Sf0001}/$t.parquet") == exact)
    }
    // partitioned-directory layout (the sink's shape) counts correctly too
    val eng = mkEngine()
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    var clock = Instant.parse("2024-02-01T00:00:00Z")
    (1 to 5).foreach { _ => eng.tick(clock); clock = clock.plusSeconds(3600) }
    val logPath = s"${eng.sinkDir}/events_cdc"
    assert(ParquetMeta.rowCount(spark, logPath) == eng.cdcLog("events").count())
  }

  test("S8/F3 exclusion list: excluded tables are neither seeded nor captured") {
    val sink = TestSpark.tmpDir("graft-sink-excl")
    val stateDir = TestSpark.tmpDir("graft-state-excl")
    val eng = new CdcEngine(spark, TestSpark.Sf0001, sink, stateDir,
      policy = PolicyConfig(batchCount = 1000, replicationBufferSecs = 180),
      concurrency = 2, excludedTables = Set("orders"))
    eng.seed(Seq(
      ("events", "ts", Some("event_id")),
      ("orders", "o_orderdate", Some("o_orderkey"))))
    // S8: orders never entered the state catalog
    assert(eng.state.readForDsn(1).collect().map(_.name).toSeq == Seq("events"))

    val res = eng.tick(Instant.parse("2024-02-01T00:00:00Z"))
    assert(res.map(_.table) == Seq("events"))
    assert(!new java.io.File(s"$sink/orders_cdc").exists())

    // F3: exclusion guards capture even for already-seeded tables
    val eng2 = new CdcEngine(spark, TestSpark.Sf0001, sink, stateDir,
      policy = PolicyConfig(batchCount = 1000, replicationBufferSecs = 180),
      concurrency = 2, excludedTables = Set("events"))
    assert(eng2.tick(Instant.parse("2024-02-01T01:00:00Z")).isEmpty)
  }

  test("T3 under failure: a failed capture leaves the watermark uncommitted; retry loses nothing") {
    val sink = TestSpark.tmpDir("graft-sink-fail")
    val stateDir = TestSpark.tmpDir("graft-state-fail")
    val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
    val eng = new CdcEngine(spark, TestSpark.Sf0001, sink, stateDir,
      policy = PolicyConfig(batchCount = 1000, replicationBufferSecs = 180),
      concurrency = 1,
      // processor that fails the FIRST capture attempt (sink outage analog)
      processor = df => {
        if (boom.getAndSet(false)) throw new RuntimeException("sink outage")
        df
      })
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    val nms0 = eng.state.readForDsn(1).collect().head.nms

    val failed = intercept[Exception] {
      eng.tick(Instant.parse("2024-02-01T00:00:00Z"))
    }
    assert(failed.getMessage != null)
    // watermark did NOT advance; nothing was committed for the failed window
    val nms1 = eng.state.readForDsn(1).collect().head.nms
    assert(nms1 == nms0, "failed capture must not commit the watermark")

    // retry: the SAME window re-runs and the capture completes
    val res = eng.tick(Instant.parse("2024-02-01T00:00:00Z"))
    assert(res.head.rowsCaptured > 0)
    assert(eng.state.readForDsn(1).collect().head.nms.after(nms0))
    assert(eng.cdcLog("events").count() == res.head.rowsCaptured)
    // exactly-once downstream: no duplicate pks in the current state
    assert(eng.currentState("events")
      .groupBy("event_id").count().filter(col("count") > 1).isEmpty)
  }

  test("O7: run dumps one parseable stream-config artifact per tracked table") {
    val eng = mkEngine()
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    val paths = eng.dumpStreamConfigs()
    assert(paths.size == 1 && paths.head.endsWith("stream_configs/1_events.json"))
    val conf = spark.read.option("multiLine", true).json(paths.head)
    val row = conf.head()
    assert(row.getAs[String]("table") == "events")
    assert(row.getAs[String]("nms_column") == "ts")
    assert(row.getAs[String]("pkey_column") == "event_id")
    assert(row.getAs[Long]("dsn") == 1L)
    // run() refreshes the artifacts as part of the loop
    val res = eng.run(1, () => Instant.parse("2024-02-01T00:00:00Z"))
    assert(res.nonEmpty)
    assert(new java.io.File(paths.head.stripPrefix("file:")).exists())
  }

  test("T10: shutdown stops active streaming queries without killing the session") {
    import graft.streaming.CdcStream
    val src = TestSpark.tmpDir("graft-shutdown-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events_000.parquet"))
    val raw = CdcStream.rawFileSchema(spark, src)
    val q = CdcStream.readChangeStream(spark, src, raw)
      .writeStream.format("memory").queryName(s"shutdown_q_${System.nanoTime()}")
      .option("checkpointLocation", TestSpark.tmpDir("graft-shutdown-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    assert(spark.streams.active.nonEmpty)

    val hook = Shutdown.install(spark)
    assert(hook != null)
    hook.remove() // don't let it fire at test-JVM exit

    Shutdown.shutdown(spark, stopSession = false)
    assert(spark.streams.active.isEmpty)
    assert(!q.isActive)
    // the session survived and still executes work
    assert(spark.range(5).count() == 5L)
  }

  test("DDL surface: database, external cdc table, current-state view via SQL") {
    val eng = mkEngine()
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    var clock = java.time.Instant.parse("2024-02-01T00:00:00Z")
    (1 to 30).foreach { _ => eng.tick(clock); clock = clock.plusSeconds(3600) }

    graft.sinks.Ddl.ensureDatabase(spark, "graft_test")
    graft.sinks.Ddl.registerCdcTable(spark, "graft_test", "events", eng.sinkDir)
    assert(spark.sql("SELECT count(*) FROM graft_test.events_cdc")
      .head().getLong(0) == 1000L)

    val views = eng.registerCurrentStateViews()
    assert(views == Seq("events"))
    assert(spark.sql("SELECT count(*) FROM events").head().getLong(0) == 1000L)
    assert(spark.sql(
      "SELECT count(*) FROM (SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1) d")
      .head().getLong(0) == 0L)
    spark.sql("DROP TABLE graft_test.events_cdc")
    spark.catalog.dropTempView("events")
  }
}
