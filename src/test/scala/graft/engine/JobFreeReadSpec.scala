package graft.engine

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.CompactedState
import graft.policy.WatermarkPolicy.PolicyConfig
import graft.sources.Tables
import graft.util.Util.utcTs

/** Building a CDC read is metadata work on the driver: parquet schemas come
  * from footers and the state catalog from its memo, so none of these
  * starts a Spark job. A tick's jobs are its captures, merges and writes —
  * never a schema inference or a catalog collect. */
class JobFreeReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def engine(compacting: Boolean) =
    new CdcEngine(spark, TestSpark.Sf0001, TestSpark.tmpDir("graft-sink-jobfree"),
      TestSpark.tmpDir("graft-state-jobfree"),
      policy = PolicyConfig(batchCount = 100, replicationBufferSecs = 180),
      concurrency = 2, maintainCurrentState = compacting)

  private def assertNoJobs(what: String)(body: => Any): Unit = {
    val (_, sites) = TestSpark.jobSites(body)
    assert(sites.isEmpty, s"$what started ${sites.size} job(s): $sites")
  }

  test("loads, compacted reads, view registration and catalog reads start no job") {
    val eng = engine(compacting = true)
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    var clock = Instant.parse("2024-02-01T00:00:00Z")
    (1 to 3).foreach { _ => eng.tick(clock); clock = clock.plusSeconds(3600) }

    assertNoJobs("Tables.load")(Tables.load(spark, TestSpark.Sf0001, "events"))
    assertNoJobs("Tables.loadWindowed")(Tables.loadWindowed(spark, TestSpark.Sf0001,
      "events", "ts", utcTs("2024-01-05 00:00:00"), utcTs("2024-01-10 00:00:00")))
    assertNoJobs("CompactedState.read")(
      CompactedState.read(spark, s"${eng.sinkDir}/events_cdc_state").get)
    assertNoJobs("registerCurrentStateViews")(eng.registerCurrentStateViews())
    assertNoJobs("readForDsn.collect")(eng.state.readForDsn(1).collect())
    spark.catalog.dropTempView("events")

    // the log-backed view (no compacted state) reads the partitioned log
    val logged = engine(compacting = false)
    logged.seed(Seq(("events", "ts", Some("event_id"))))
    logged.tick(Instant.parse("2024-02-01T00:00:00Z"))
    assertNoJobs("registerCurrentStateViews over the log")(logged.registerCurrentStateViews())
    spark.catalog.dropTempView("events")
  }

  test("a tick runs no schema-inference job and no catalog collect") {
    val eng = engine(compacting = true)
    eng.seed(Seq(("events", "ts", Some("event_id"))))
    val t0 = Instant.parse("2024-02-01T00:00:00Z")
    eng.tick(t0) // the first batch creates the compacted state
    val (res, sites) = TestSpark.jobSites(eng.tick(t0.plusSeconds(3600)))
    assert(res.map(_.rowsCaptured).sum > 0, "the measured tick captured rows and merged them")
    // the only parquet jobs are the two writes: the log append and the
    // catalog commit (the compacted-state publish runs under AQE's sites)
    val parquetFiles = sites.filter(_.startsWith("parquet at "))
      .map(_.stripPrefix("parquet at ").takeWhile(_ != ':')).sorted
    assert(parquetFiles == Seq("AppendSink.scala", "StateStore.scala"),
      s"a tick's parquet jobs must be its two writes, no schema inference: $sites")
    assert(!sites.exists(_.startsWith("collect at CdcEngine")),
      s"a tick must not collect the state catalog as a job: $sites")
  }
}
