package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CurrentState, Snapshot}
import graft.sources.Tables
import graft.util.Util.utcTs

/**
 * Oracle-checked queries exercising the CDC operator surface (SURVEY §2.1,
 * §2.3, §2.4, §2.5, §2.7) over the `events` table — `ts` plays the
 * not-modified-since column, `event_id` the primary key (FIXTURES.md §1).
 *
 * All window bounds are fixed literals so results are deterministic and
 * reproducible by the DuckDB oracle; `snapshot_tm` is a batch constant
 * (never per-row `now()`), per SURVEY §7.4 / FIXTURES.md §3.
 */
object CdcQueries {

  private val Lo = "2024-01-05 00:00:00"
  private val Mid = "2024-01-10 00:00:00"
  private val Hi = "2024-01-15 00:00:00"
  private val SnapTm = "2024-02-01 00:00:00"

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** One fully-built CDC engine per sf dir for the `cdc_state_lookup` row:
    * seed + synthetic-clock ticks with compaction maintained, built ONCE
    * per session (the fit/probe split again) — so the bench row measures
    * build+lookup cold and the bucket-pruned point lookup itself warm.
    * Five ticks traverse the whole fixture: the policy's bounded 14-day
    * steps cover January in two, then a jump-to-ceiling catches up. */
  private def lookupEngine(s: SparkSession, dir: String): graft.engine.CdcEngine =
    Fixtures.memo(Fixtures.Cdc, s, dir, "lookupEngine") {
      val sink = Fixtures.tempDir(Fixtures.Cdc, "graft-lookup-sink")
      val state = Fixtures.tempDir(Fixtures.Cdc, "graft-lookup-state")
      val eng = new graft.engine.CdcEngine(s, dir, sink, state,
        policy = graft.policy.WatermarkPolicy.PolicyConfig(
          batchCount = 100, replicationBufferSecs = 180),
        concurrency = 2, maintainCurrentState = true)
      eng.seed(Seq(("events", "ts", Some("event_id"))))
      var clock = java.time.Instant.parse("2024-02-01T00:00:00Z")
      (1 to 5).foreach { _ => eng.tick(clock); clock = clock.plusSeconds(3600) }
      eng
    }(_.close())

  /** Fold the four fixed window slices of `events` into a compacted state
    * under `stateDir` (the `cdc_current_state_compacted` build). Shared by
    * the from-scratch build row (fresh temp dir every call — it measures
    * the build) and the session-cached fixture the read row serves from. */
  private def buildCompacted(s: SparkSession, dir: String, stateDir: String)
      : graft.operators.CompactedState.Config = {
    val ev = events(s, dir)
    val conf = graft.operators.CompactedState.Config(
      Seq("user_id"), "ts", Seq("event_id"), numBuckets = 8)
    val bounds = Seq(Lo, Mid, Hi).map(utcTs)
    val slices = Seq(
      ev.filter(col("ts") <= lit(bounds(0))),
      ev.filter(col("ts") > lit(bounds(0)) && col("ts") <= lit(bounds(1))),
      ev.filter(col("ts") > lit(bounds(1)) && col("ts") <= lit(bounds(2))),
      ev.filter(col("ts") > lit(bounds(2))))
    slices.foreach(b =>
      graft.operators.CompactedState.upsert(s, stateDir, b, conf))
    conf
  }

  /** One pre-built compacted state per sf dir for the read row — the
    * fit/probe split again: the build row keeps paying the full fold, the
    * read row measures ONLY the compacted read path (a bounded scan of
    * `numBuckets` bucket dirs). */
  private def compactedFixture(s: SparkSession, dir: String): String =
    Fixtures.tree(Fixtures.Cdc, s, dir, "compactedFixture",
      "graft-compacted-fixture")(buildCompacted(s, dir, _))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/F1/P1/P3: windowed snapshot scan with half-open (lo, hi] bounds.
    // loadWindowed pushes the window to the parquet scan (row-group
    // pruning); snapshotWindow re-applies the exact boundary predicate.
    "cdc_snapshot_window" -> ((s, dir) =>
      Snapshot.snapshotWindow(
        Tables.loadWindowed(s, dir, "events", "ts", utcTs(Lo), utcTs(Hi)),
        "ts", utcTs(Lo), utcTs(Hi), utcTs(SnapTm))),

    // Window-partition property: two consecutive windows (lo,mid] + (mid,hi]
    // must reproduce (lo,hi] exactly — no dup, no loss (SURVEY §5.2a).
    "cdc_window_union" -> ((s, dir) => {
      Snapshot.snapshotWindow(
        Tables.loadWindowed(s, dir, "events", "ts", utcTs(Lo), utcTs(Mid)),
        "ts", utcTs(Lo), utcTs(Mid), utcTs(SnapTm))
        .union(Snapshot.snapshotWindow(
          Tables.loadWindowed(s, dir, "events", "ts", utcTs(Mid), utcTs(Hi)),
          "ts", utcTs(Mid), utcTs(Hi), utcTs(SnapTm)))
    }),

    // W1: current-state — latest event per user, deterministic tiebreak.
    "cdc_current_state" -> ((s, dir) =>
      CurrentState.latestByKey(events(s, dir), Seq("user_id"), "ts", Seq("event_id"))),

    // W1 via the aggregate (map-side combining) formulation; same result.
    "cdc_current_state_agg" -> ((s, dir) =>
      CurrentState.latestByKeyAgg(events(s, dir), Seq("user_id"), "ts", Seq("event_id"))),

    // W1 via incremental MERGE compaction (SURVEY §7.4): fold four window
    // slices of the table through CompactedState.upsert and read the
    // materialized result — must equal the full recompute exactly. This is
    // the BUILD row (fresh state dir every call, the whole fold is the
    // cost); the steady-state read path is measured by the `_read` sibling.
    "cdc_current_state_compacted" -> ((s, dir) => {
      val ev = events(s, dir)
      // a fresh tree per call (the row must not reuse one — it measures
      // the build), deleted when the cdc phase is released
      val stateDir = Fixtures.tempDir(Fixtures.Cdc, "graft-compacted-q")
      buildCompacted(s, dir, stateDir)
      graft.operators.CompactedState.read(s, stateDir)
        .getOrElse(sys.error("compacted state empty"))
        .select(ev.columns.map(col).toIndexedSeq: _*)
    }),

    // ...and the READ row: the same oracle served from a session-cached
    // pre-built compacted state — measures ONLY the bounded
    // numBuckets-dir scan a warehouse reader pays per query, not the
    // build (the `cdc_state_lookup` fit/probe split applied to the full
    // current-state read).
    "cdc_current_state_compacted_read" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.operators.CompactedState.read(s, compactedFixture(s, dir))
        .getOrElse(sys.error("compacted fixture empty"))
        .select(ev.columns.map(col).toIndexedSeq: _*)
    }),

    // W1 point lookup through the ENGINE serving path: capture `events`
    // end-to-end (seed -> ticks -> append -> MERGE compaction), then read
    // ONE key back via the bucket-pruned compacted lookup. The oracle is
    // the latest-row answer for that key — event_id is the pk and unique,
    // so that is the source row itself. snapshot_tm is capture metadata
    // (clock-dependent) and is projected away.
    "cdc_state_lookup" -> ((s, dir) =>
      lookupEngine(s, dir).currentStateLookup("events", 42L)
        .getOrElse(sys.error("no compacted bucket holds event_id 42"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))),

    // M1: invalid-timestamp → NULL munging.
    "cdc_munge_null" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"),
        Snapshot.mungeTimestamp(col("ts"),
          Snapshot.MungeConfig(utcTs(Mid), toNull = true)).as("ts_munged"))),

    // M2: invalid-timestamp → clamp-to-min munging.
    "cdc_munge_clamp" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"),
        Snapshot.mungeTimestamp(col("ts"),
          Snapshot.MungeConfig(utcTs(Mid), toNull = false)).as("ts_munged"))),

    // A1/S7: seed-watermark aggregate (min) + stats per event type.
    "cdc_seed_watermark" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type")).agg(
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("n"))),

    // S6/A5: row-count estimation analog (exact count by group here).
    "cdc_rowcount" -> ((s, dir) =>
      events(s, dir).agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_ids"))),

    // JSON scalar extraction — the `jsonb`-column surface (SURVEY §1.3):
    // events.props is JSON text, exactly how the reference ships jsonb.
    "cdc_json_extract" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"),
        from_json(col("props"), lit("k BIGINT")).getField("k").as("k_typed"))),

    // AS-OF JOIN (operator Spark lacks natively): attribute every event to
    // the same user's latest purchase at or before it — union+window
    // merge-join shape, no inequality-join row explosion.
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin.asOfJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases.withColumnRenamed("event_id", "purchase_id"),
        keyCols = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
        rightValCols = Seq("purchase_id"), rightTiebreak = Seq("purchase_id"))
        .select(col("event_id"), col("user_id"), col("asof_purchase_id"))
    }),

    // Sessionization: split each user's event stream into sessions at
    // >30-minute gaps (lag + running sum of session-start flags — the
    // standard one-shuffle formulation; no stateful loop).
    "q_sessionize" -> ((s, dir) => {
      // NULLS LAST pinned explicitly: Spark's bare .asc is NULLS FIRST while
      // DuckDB's default is NULLS LAST — latent divergence if ts ever nulls.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
      val gapUs = lit(30L * 60 * 1000000)
      val newSession =
        when(lag(col("ts"), 1).over(w).isNull, 1L)
          .when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gapUs, 1L)
          .otherwise(0L)
      events(s, dir)
        .withColumn("__new", newSession)
        .withColumn("session_seq", sum(col("__new")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"), col("session_seq"))
    }),

    // Pivot: per-user event counts spread across event-type columns.
    "q_pivot" -> ((s, dir) =>
      events(s, dir).groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        // fill only the pivoted counts — an unscoped fill would also
        // rewrite a NULL group key to 0
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))),

    // RANGE JOIN via binning (the inequality join Spark would otherwise
    // plan as a nested loop): events within 6 hours after the same user's
    // purchase, half-open [purchase, purchase + 6h).
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val intervals = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("hi"))
      graft.operators.RangeJoin.pointInIntervalJoin(
        ev.select(col("user_id"), col("event_id"), col("ts")), intervals,
        keyCols = Seq("user_id"), pointTimeCol = "ts",
        loCol = "lo", hiCol = "hi", binMicros = 6L * 3600 * 1000000)
        .select(col("purchase_id"), col("event_id"), col("user_id"))
    }))

  val oracles: Map[String, String] = Map(
    "cdc_snapshot_window" ->
      s"""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props,
         | TIMESTAMP '$SnapTm' AS snapshot_tm
         | FROM events
         | WHERE ts > TIMESTAMP '$Lo' AND ts <= TIMESTAMP '$Hi'""".stripMargin,
    "cdc_window_union" ->
      s"""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props,
         | TIMESTAMP '$SnapTm' AS snapshot_tm
         | FROM events
         | WHERE ts > TIMESTAMP '$Lo' AND ts <= TIMESTAMP '$Hi'""".stripMargin,
    "cdc_current_state" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        | FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |       FROM events) t
        | WHERE rn = 1""".stripMargin,
    "cdc_current_state_agg" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        | FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |       FROM events) t
        | WHERE rn = 1""".stripMargin,
    "cdc_current_state_compacted" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        | FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |       FROM events) t
        | WHERE rn = 1""".stripMargin,
    "cdc_current_state_compacted_read" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        | FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |       FROM events) t
        | WHERE rn = 1""".stripMargin,
    "cdc_state_lookup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        | FROM events WHERE event_id = 42""".stripMargin,
    "cdc_munge_null" ->
      s"""SELECT event_id,
         | CASE WHEN ts < TIMESTAMP '$Mid' THEN NULL ELSE CAST(ts AS TIMESTAMP) END AS ts_munged
         | FROM events""".stripMargin,
    "cdc_munge_clamp" ->
      s"""SELECT event_id,
         | CASE WHEN ts < TIMESTAMP '$Mid' THEN TIMESTAMP '$Mid' ELSE CAST(ts AS TIMESTAMP) END AS ts_munged
         | FROM events""".stripMargin,
    "cdc_seed_watermark" ->
      """SELECT event_type, CAST(min(ts) AS TIMESTAMP) AS first_ts,
        | CAST(max(ts) AS TIMESTAMP) AS last_ts, count(*) AS n
        | FROM events GROUP BY event_type""".stripMargin,
    "cdc_rowcount" ->
      "SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_ids FROM events",
    "cdc_json_extract" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed
        | FROM events""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST))
        |SELECT event_id, user_id,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM flagged""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'view') AS view,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'error') AS error
        | FROM events GROUP BY user_id""".stripMargin,
    // deterministic AS-OF formulation (greatest (ts, purchase_id) at or
    // before each event) — ties broken identically to the Spark operator
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase'),
        |ranked AS (
        |  SELECT e.event_id, p.purchase_id,
        |         row_number() OVER (PARTITION BY e.event_id
        |           ORDER BY p.ts DESC, p.purchase_id DESC) AS rn
        |  FROM e JOIN p ON p.user_id = e.user_id AND p.ts <= e.ts)
        |SELECT e.event_id, e.user_id, r.purchase_id AS asof_purchase_id
        |FROM e LEFT JOIN (SELECT event_id, purchase_id FROM ranked WHERE rn = 1) r
        |  ON r.event_id = e.event_id""".stripMargin,
    "q_range_join" ->
      """SELECT p.event_id AS purchase_id, e.event_id, e.user_id
        |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
        |  ON e.user_id = p.user_id
        | AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 6 HOUR""".stripMargin)
}
