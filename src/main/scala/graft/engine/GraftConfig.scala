package graft.engine

import java.sql.Timestamp

import graft.operators.Snapshot
import graft.policy.WatermarkPolicy.PolicyConfig
import graft.util.Util.utcTs

/**
 * Engine configuration with the reference's environment-variable surface
 * (`/root/reference/sample.env`, `cdc.go:18-47`, `postgres.go:72-101`),
 * so an operator of the reference can carry their env file over:
 *
 *   BQ_BATCH_COUNT / BQ_BATCH_BYTES / BQ_BATCH_PERIOD   (benthos.go:113-124)
 *   PG_REPLICATION_BUFFER_SECS                          (cdc.go:47)
 *   BENTHOS_CONCURRENT_STREAMS                          (cdc.go:115-118)
 *   MUNGE_TIMESTAMPS_BEFORE_MIN / _BEFORE_EPOCH         (postgres.go:72-101)
 *   MUNGE_INVALID_TIMESTAMPS_TO_NULL / _TO_MIN
 *   MUNGE_TIMESTAMPS_MIN   (the minimum-timestamp bound, 'yyyy-MM-dd HH:mm:ss')
 *   OUTPUT_TYPE            (FILE, the JSON-lines file output, is refused by
 *                          `CdcEngine.fromConfig`: the engine writes a parquet log)
 */
final case class GraftConfig(
    batchCount: Long = 4096L,
    batchBytes: Long = 40000000L,
    batchPeriodSecs: Long = 20L,
    replicationBufferSecs: Long = 180L,
    concurrentStreams: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1),
    mungeBeforeMin: Boolean = false,
    mungeBeforeEpoch: Boolean = false,
    mungeToNull: Boolean = false,
    mungeToMin: Boolean = false,
    mungeMin: Timestamp = Snapshot.Epoch,
    jsonLinesOutput: Boolean = false,
    /** S8/F3 — tables never seeded or captured (the reference's exclusion
      * list, `postgres.go:271-296` / `seed.go:42-50`, there read from
      * config and disabled; here env `EXCLUDED_TABLES`, comma-separated). */
    excludedTables: Set[String] = Set.empty) {

  def policy: PolicyConfig =
    PolicyConfig(batchCount = batchCount, replicationBufferSecs = replicationBufferSecs)

  /** M1-M3 munging derived exactly as the generator gates it: BEFORE_MIN
    * uses the configured bound; BEFORE_EPOCH uses 1970-01-01 (the MIN
    * variant only if the configured min is itself pre-epoch,
    * `postgres.go:87-101`). */
  def munge: Option[Snapshot.MungeConfig] =
    if (mungeBeforeMin && (mungeToNull || mungeToMin))
      Some(Snapshot.MungeConfig(mungeMin, toNull = mungeToNull))
    else if (mungeBeforeEpoch && mungeToNull)
      Some(Snapshot.MungeConfig(Snapshot.Epoch, toNull = true))
    else if (mungeBeforeEpoch && mungeToMin && mungeMin.before(Snapshot.Epoch))
      Some(Snapshot.MungeConfig(Snapshot.Epoch, toNull = false))
    else None
}

object GraftConfig {

  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = {
    def bool(k: String) = env.get(k).exists(v =>
      v.equalsIgnoreCase("true") || v == "1" || v.equalsIgnoreCase("yes"))
    def long(k: String, d: Long) = env.get(k).flatMap(_.toLongOption).getOrElse(d)
    val d = GraftConfig()
    GraftConfig(
      batchCount = long("BQ_BATCH_COUNT", d.batchCount),
      batchBytes = long("BQ_BATCH_BYTES", d.batchBytes),
      batchPeriodSecs = long("BQ_BATCH_PERIOD", d.batchPeriodSecs),
      replicationBufferSecs = long("PG_REPLICATION_BUFFER_SECS", d.replicationBufferSecs),
      concurrentStreams =
        long("BENTHOS_CONCURRENT_STREAMS", d.concurrentStreams.toLong).toInt
          .min(math.max(1, Runtime.getRuntime.availableProcessors() - 1)),
      mungeBeforeMin = bool("MUNGE_TIMESTAMPS_BEFORE_MIN"),
      mungeBeforeEpoch = bool("MUNGE_TIMESTAMPS_BEFORE_EPOCH"),
      mungeToNull = bool("MUNGE_INVALID_TIMESTAMPS_TO_NULL"),
      mungeToMin = bool("MUNGE_INVALID_TIMESTAMPS_TO_MIN"),
      mungeMin = env.get("MUNGE_TIMESTAMPS_MIN").map(utcTs).getOrElse(d.mungeMin),
      jsonLinesOutput = env.get("OUTPUT_TYPE").exists(_.equalsIgnoreCase("FILE")),
      excludedTables = env.get("EXCLUDED_TABLES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty))
  }
}
