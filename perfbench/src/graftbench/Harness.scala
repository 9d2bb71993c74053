package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Latencies of one op kind. Only ops that returned and passed their
  * output check have a latency; a failed op is counted, never timed. */
final class OpStats {
  val lat = mutable.ArrayBuffer[Double]()
  /** CPU seconds the whole process spent during each timed op (all
    * threads: driver, task threads, JIT and GC). */
  val cpu = mutable.ArrayBuffer[Double]()
  val alloc = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  /** Ops that threw or returned a wrong output. */
  var failed = 0L
  /** Of those, the ops whose output failed its check. */
  var wrong = 0L
}

/** What one run measured, before run.py turns it into metrics. */
final class Result(val workload: String) {
  /** Set-up seconds per part: a workload's set-up time is the sum of its
    * parts' medians. */
  val setupS = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def setup(part: String, seconds: Double): Unit =
    setupS.getOrElseUpdate(part, mutable.ArrayBuffer[Double]()) += seconds
  val ops = mutable.LinkedHashMap[String, OpStats]()
  /** Workload scalars, e.g. rows captured per second of tick time. */
  val values = mutable.LinkedHashMap[String, Double]()
  /** Counts that must repeat exactly under one seed (first `countedCycles`). */
  val counts = mutable.LinkedHashMap[String, Long]()
  /** Per-layer metrics of the traced run. */
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Traced run: call site -> (module, jobs, job seconds) per traced cycle. */
  val sites = mutable.LinkedHashMap[String, (String, Double, Double)]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  var cycles = 0
  var heapMb = 0.0
  /** False during warm-up: ops still run and are checked, but record no
    * latency, CPU or allocation. */
  var timing = true

  /** JVM uptime at each named phase of the run, in seconds: where a run's
    * wall time goes (start-up, set-up, warm-up, measured loop, checks). */
  val phases = mutable.LinkedHashMap[String, Double]()
  def phase(name: String): Unit =
    phases(name) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
  }

  /** Run one timed op, recording its latency, the process CPU it used and
    * the heap bytes the JVM's threads allocated meanwhile.
    * `verify` inspects the op's output and returns an error message when it
    * is wrong; a throw or a wrong output counts the op as failed and records
    * no latency. */
  def op[T](name: String)(body: => T)(verify: T => Option[String]): Option[T] = {
    val st = ops.getOrElseUpdate(name, new OpStats)
    st.attempted += 1
    val c0 = Result.cpuSeconds()
    val m0 = Result.allocatedBytes()
    val t0 = System.nanoTime()
    val out =
      try Right(Trace.op(name)(body))
      catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val dc = Result.cpuSeconds() - c0
    val dm = (Result.allocatedBytes() - m0).toDouble
    out match {
      case Left(e) =>
        st.failed += 1
        System.err.println(s"OP FAILED $name: $e")
        None
      case Right(v) =>
        verify(v) match {
          case Some(err) =>
            st.failed += 1
            st.wrong += 1
            System.err.println(s"OP WRONG $name: $err")
            None
          case None =>
            if (timing) { st.lat += dt; st.cpu += dc; st.alloc += dm }
            Some(v)
        }
    }
  }

  /** Live heap after a measured loop, when the workload's state is at
    * its largest (the highest, when a workload runs two loops). Collections repeat until the heap stops shrinking: each
    * one lets Spark's context cleaner drop the broadcasts and shuffles the
    * previous one found unreachable. */
  def sampleHeap(): Unit = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(100)
      prev = cur
      cur = used()
      rounds += 1
    } while (prev - cur > 1.0 && rounds < 8)
    heapMb = math.max(heapMb, cur)
  }

  def toJson(env: Map[String, Any]): String = Json.render(mutable.LinkedHashMap(
    "workload" -> workload,
    "env" -> env,
    "setup_s" -> setupS,
    "ops" -> ops.map { case (k, s) => k -> mutable.LinkedHashMap(
      "lat" -> s.lat, "cpu" -> s.cpu, "alloc" -> s.alloc, "attempted" -> s.attempted, "failed" -> s.failed, "wrong" -> s.wrong) },
    "values" -> values,
    "counts" -> counts,
    "layers" -> layers,
    "checks" -> checks.map { case (n, ok, d) =>
      mutable.LinkedHashMap("name" -> n, "ok" -> ok, "detail" -> d) },
    "sites" -> sites.map { case (k, (m, j, t)) =>
      k -> mutable.LinkedHashMap("module" -> m, "jobs" -> j, "job_s" -> t) },
    "cycles" -> cycles,
    "phases" -> phases,
    "peak_heap_mb" -> heapMb))
}

object Result {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the JVM process has used so far, over all its threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap bytes all Java threads have allocated so far. */
  def allocatedBytes(): Long = threads.getTotalThreadAllocatedBytes
}

object Files {
  def bytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(bytes).sum

  /** Data files only (parquet parts), not checksums or markers. */
  def dataFiles(f: java.io.File): Seq[java.io.File] =
    if (!f.exists()) Nil
    else if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
    else Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)

  def delete(f: java.io.File): Unit = graft.util.Util.deleteRecursively(f)
}
