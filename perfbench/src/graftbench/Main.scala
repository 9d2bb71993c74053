package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One run's context: the session, the seed, the time budget and, for a
  * traced run, the listeners attached during the measured loop. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val work: File, val trace: Boolean, graftSrc: File) {

  lazy val listeners = new Listeners(spark, graftSrc)
  if (trace) Trace.sc = Some(spark.sparkContext)
  var tracedCycles = 0
  private var loops = 0

  /** Run the measured loop: at least `minCycles` cycles and, when
    * `timed`, at least the run's seconds. In a traced run every cycle runs
    * with the listeners attached and spans on; set-up and warm-up stay
    * untraced. */
  def loop(res: Result, minCycles: Int, timed: Boolean = true)(cycle: Int => Unit): Unit = {
    loops += 1
    res.phase(s"loop$loops.start")
    if (trace) { listeners.attach(); Trace.on = true }
    val t0 = System.nanoTime()
    var k = 0
    try {
      while (k < minCycles || (timed && (System.nanoTime() - t0) / 1e9 < seconds)) {
        cycle(k)
        k += 1
      }
    } finally if (trace) { listeners.detach(); Trace.on = false }
    res.cycles = k
    if (trace) tracedCycles = k
    res.sampleHeap()
    res.phase(s"loop$loops.end")
  }

  /** The common per-layer figures of a traced run, per traced cycle. */
  def commonLayers(res: Result): Unit = if (trace) {
    val n = math.max(1, tracedCycles).toDouble
    val ex = listeners.exec.figures
    def tot(k: String) = ex.collect { case ((_, kk), v) if kk == k => v }.sum
    Seq("jobs", "tasks", "task_s", "task_wait_s", "gc_s", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "failed_tasks").foreach { k =>
      res.layers(s"spark.exec.$k") = tot(k) / n
    }
    res.layers("spark.exec.unattributed_jobs") = ex.getOrElse(("other", "jobs"), 0.0) / n
    val pl = listeners.plan
    res.layers("spark.plan.analysis_s") = pl.analysisS.sum / n
    res.layers("spark.plan.optimization_s") = pl.optimizationS.sum / n
    res.layers("spark.plan.planning_s") = pl.planningS.sum / n
    val st = listeners.stream
    res.layers("streaming.trigger_s") = st.dur("triggerExecution") / n
    res.layers("streaming.add_batch_s") = st.dur("addBatch") / n
    res.layers("streaming.plan_s") = st.dur("queryPlanning") / n
    res.layers("streaming.wal_s") = st.dur("walCommit") / n
    res.layers("streaming.input_rows") = st.inputRows.get / n
    res.layers("streaming.failed_triggers") = st.failedTriggers.get.toDouble
    Trace.selfTimes().foreach { case (layer, s) =>
      if (layer != "op") res.layers(s"$layer.self_s") = s / n
    }
    // the harness's own time inside ops: op spans minus their children
    res.layers("bench.self_s") = Trace.selfTimes().getOrElse("op", 0.0) / n
    res.layers("trace.cycles") = n
    listeners.exec.sites.asScala.foreach { case ((site, module), (jobs, secs)) =>
      res.sites(s"$module | $site") = (module, jobs / n, secs / n)
    }
  }

  /** Per-module exec figure per traced cycle. */
  def moduleFig(module: String, fig: String): Double =
    listeners.exec.figures.getOrElse((module, fig), 0.0) / math.max(1, tracedCycles)
}

object Main {
  private def usage(): Nothing = {
    System.err.println("usage: graftbench.Main --workload <name> --seed <n> " +
      "--seconds <s> --trace <0|1> --work <dir> --graft-src <dir> [--spans <file>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, usage())
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val graftSrc = new File(opt("graft-src"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val master = s"local[$cores]"
    work.mkdirs()

    // graft's own session settings (AQE on, UTC, shuffle partitions = cores)
    val spark = graft.GraftSession.builder(s"graft-perfbench-$workload", master, cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val res = new Result(workload)
    res.phase("spark_started")
    val ctx = new Ctx(spark, seed, seconds, work, trace, graftSrc)
    try {
      workload match {
        case "cdc_replicate" => CdcReplicate.run(ctx, res, cores)
        case "curation_batch" => CurationBatch.run(ctx, res)
        case "vector_maintain" => VectorMaintain.run(ctx, res)
        case "corpus_maintain" =>
          CurationBatch.run(ctx, res, once = true)
          VectorMaintain.run(ctx, res)
        case other =>
          System.err.println(s"unknown workload $other")
          sys.exit(2)
      }
      res.phase("workload_done")
      ctx.commonLayers(res)
      if (trace) opts.get("spans").foreach(Trace.writeSpans)
      val env = mutable.LinkedHashMap[String, Any](
        "spark_master" -> master,
        "spark_version" -> spark.version,
        "heap_limit_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "jvm_cpus" -> Runtime.getRuntime.availableProcessors)
      println("@@RAW " + res.toJson(env.toMap))
    } finally spark.stop()
  }
}
