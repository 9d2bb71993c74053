package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * In-memory spans and counters for the traced run. Spans are recorded only
 * from the harness, around the calls it makes into each graft module; a
 * span's name is `<layer>.<what>`, so its layer is everything before the
 * last dot. With tracing off every method is a pass-through.
 */
object Trace {
  @volatile var on = false
  /** Spark local property naming the harness span a job was started under. */
  val SpanTag = "graftbench.span"
  /** The context spans tag their Spark jobs on; set for a traced run. */
  @volatile var sc: Option[org.apache.spark.SparkContext] = None

  final case class Span(id: Int, name: String, parent: Int, op: Long,
                        startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()

  /** The op in flight and its root span: spans opened on threads the
    * harness does not own (the engine's capture pool) hang off it. */
  @volatile private var curOp: Long = 0L
  @volatile private var curRoot: Int = -1
  private val opSeq = new AtomicLong(0L)

  def add(name: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  /** Root span of one benchmark op; opens a fresh op id. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = opSeq.incrementAndGet()
      curOp = id
      try span(s"op.$name", root = true)(body) finally { curRoot = -1 }
    }

  def span[T](name: String, root: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val st = stack.get()
      val parent = st.headOption.getOrElse(if (root) -1 else curRoot)
      if (root) curRoot = id
      val op = curOp
      stack.set(id :: st)
      val prevTag = sc.map(_.getLocalProperty(SpanTag))
      sc.foreach(_.setLocalProperty(SpanTag, name))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, op, t0, System.nanoTime()))
        stack.set(st)
        sc.foreach(_.setLocalProperty(SpanTag, prevTag.orNull))
      }
    }

  def layerOf(spanName: String): String =
    spanName.lastIndexOf('.') match {
      case -1 => spanName
      case i => spanName.substring(0, i)
    }

  /** Self time per layer in seconds: each span's duration minus the part of
    * its interval that its children cover (children can overlap when they
    * run on the capture pool, so the union of their intervals counts). */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      out(layerOf(s.name)) += (s.endNs - s.startNs - covered) / 1e9
    }
    out.toMap
  }

  def spanSeconds(name: String): Double =
    spans.asScala.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(Json.render(mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/**
 * Maps a Spark call site (`parquet at AppendSink.scala:77`) to the graft
 * module whose source file made the call: the directory under
 * `src/main/scala/graft`, with each file of `extensions` its own module
 * (`extensions.dedup`). The harness's own files map to `bench`.
 */
final class ModuleMap(graftSrc: java.io.File) {
  private val byFile: Map[String, String] = {
    val root = graftSrc.listFiles().toSeq
    val top = root.filter(f => f.isFile && f.getName.endsWith(".scala"))
      .map(f => f.getName -> "graft")
    val nested = root.filter(_.isDirectory).flatMap { d =>
      Option(d.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".scala")).map { f =>
          val m =
            if (d.getName == "extensions")
              s"extensions.${f.getName.stripSuffix(".scala").toLowerCase}"
            else d.getName
          f.getName -> m
        }
    }
    (top ++ nested).toMap
  }
  private val benchFiles = Set("CdcReplicate.scala", "CurationBatch.scala",
    "VectorMaintain.scala", "Main.scala", "Gen.scala", "Trace.scala", "Harness.scala")
  private val site = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r

  def apply(callSite: String): String =
    site.findFirstMatchIn(callSite).map(_.group(1)) match {
      case Some(f) if benchFiles(f) => "bench"
      case Some(f) => byFile.getOrElse(f, "other")
      case None => "other"
    }
}

/** Job, stage and task numbers per module, from one SparkListener. */
final class ExecListener(modules: ModuleMap) extends SparkListener {
  private final class Acc {
    val jobs = new AtomicLong; val tasks = new AtomicLong; val failedTasks = new AtomicLong
    val taskS = new DoubleAdder; val waitS = new DoubleAdder; val gcS = new DoubleAdder
    val shufR = new AtomicLong; val shufW = new AtomicLong; val spill = new AtomicLong
  }
  private val acc = new ConcurrentHashMap[String, Acc]()
  private def a(m: String) = acc.computeIfAbsent(m, _ => new Acc)
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  /** SQL execution id -> module of the action's call site. */
  private val execModule = new ConcurrentHashMap[Long, String]()
  /** Jobs started under each harness span. */
  val spanJobs = new ConcurrentHashMap[String, AtomicLong]()
  /** Jobs and job wall seconds per (call site, module), for the
    * attribution audit. */
  val sites = new ConcurrentHashMap[(String, String), (Long, Double)]()
  private val jobSite = new ConcurrentHashMap[Int, ((String, String), Long)]()

  private def graftModule(m: String) = m != "bench" && m != "other"

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execModule.put(s.executionId, modules(s.description))
    case _ => ()
  }

  /** A job belongs to the graft module whose file is its call site; jobs
    * Spark starts from its own threads (adaptive stages, broadcasts) take
    * the module of their SQL execution's call site; jobs the harness starts
    * on a graft-built DataFrame take the layer of the enclosing span. */
  private def jobModule(e: SparkListenerJobStart, site: String): String = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val bySite = modules(site)
    lazy val byExec = prop("spark.sql.execution.id")
      .flatMap(id => Option(execModule.get(id.toLong))).filter(graftModule)
    // the root `op.*` span is the harness's own work
    lazy val bySpan = prop(Trace.SpanTag).map(Trace.layerOf).map(l => if (l == "op") "bench" else l)
    if (graftModule(bySite)) bySite
    else byExec.orElse(bySpan).getOrElse(bySite)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val module = jobModule(e, site)
    e.stageInfos.foreach(si => stageModule.put(si.stageId, module))
    jobSite.put(e.jobId, ((site, module), e.time))
    a(module).jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanTag)))
      .foreach(l => spanJobs.computeIfAbsent(l, _ => new AtomicLong).incrementAndGet())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSite.remove(e.jobId)).foreach { case (name, t0) =>
      sites.merge(name, (1L, (e.time - t0) / 1e3), (x, y) => (x._1 + y._1, x._2 + y._2))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    si.submissionTime.foreach(t => stageSubmit.put(si.stageId, t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = a(stageModule.getOrDefault(e.stageId, "other"))
    m.tasks.incrementAndGet()
    if (!e.taskInfo.successful) m.failedTasks.incrementAndGet()
    Option(stageSubmit.get(e.stageId)).foreach { st =>
      m.waitS.add(math.max(0L, e.taskInfo.launchTime - st) / 1e3)
    }
    val tm = e.taskMetrics
    if (tm != null) {
      m.taskS.add(tm.executorRunTime / 1e3)
      m.gcS.add(tm.jvmGCTime / 1e3)
      m.shufR.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
      m.shufW.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
      m.spill.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
    }
  }

  /** Per-module figures: `jobs`, `tasks`, `task_s`, ... keyed `(module, name)`. */
  def figures: Map[(String, String), Double] =
    acc.asScala.toSeq.flatMap { case (mod, x) =>
      Seq("jobs" -> x.jobs.get.toDouble,
        "tasks" -> x.tasks.get.toDouble, "failed_tasks" -> x.failedTasks.get.toDouble,
        "task_s" -> x.taskS.sum, "task_wait_s" -> x.waitS.sum, "gc_s" -> x.gcS.sum,
        "shuffle_read_bytes" -> x.shufR.get.toDouble,
        "shuffle_write_bytes" -> x.shufW.get.toDouble,
        "spill_bytes" -> x.spill.get.toDouble).map { case (k, v) => (mod, k) -> v }
    }.toMap
}

/** Catalyst phase times from each query's `QueryPlanningTracker`. */
final class PlanListener extends QueryExecutionListener {
  val analysisS = new DoubleAdder
  val optimizationS = new DoubleAdder
  val planningS = new DoubleAdder
  val queries = new AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    queries.incrementAndGet()
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisS.add(p.durationMs / 1e3))
    ph.get("optimization").foreach(p => optimizationS.add(p.durationMs / 1e3))
    ph.get("planning").foreach(p => planningS.add(p.durationMs / 1e3))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Per-trigger numbers from `StreamingQueryProgress`. */
final class StreamListener extends StreamingQueryListener {
  val failedTriggers = new AtomicLong
  val inputRows = new AtomicLong
  val durS = new ConcurrentHashMap[String, DoubleAdder]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    inputRows.addAndGet(p.numInputRows)
    p.durationMs.asScala.foreach { case (k, v) =>
      durS.computeIfAbsent(k, _ => new DoubleAdder).add(v.longValue / 1e3)
    }
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.exception.isDefined) failedTriggers.incrementAndGet()
  def dur(k: String): Double = Option(durS.get(k)).map(_.sum).getOrElse(0.0)
}

/** Everything attached to the session on a traced cycle. The accumulators
  * live across cycles; only the registration comes and goes. */
final class Listeners(spark: SparkSession, graftSrc: java.io.File) {
  val modules = new ModuleMap(graftSrc)
  val exec = new ExecListener(modules)
  val plan = new PlanListener
  val stream = new StreamListener

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    spark.streams.addListener(stream)
  }

  /** Wait until every posted event has reached the listeners, then remove
    * them. */
  def detach(): Unit = {
    org.apache.spark.GraftBenchAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plan)
    spark.streams.removeListener(stream)
  }
}

