package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the production extension-injection path — SqlSurfaceSpec
      // asserts the graft_* functions arrived through THIS, not a
      // post-hoc registration
      .config("spark.sql.extensions", "graft.GraftSqlExtensions")
      // the production CALL-procedure path (maintenance from pure SQL)
      .config("spark.sql.catalog.graft", "graft.GraftProcedureCatalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Parquet data files under `dir`, counted per directory (its path
    * relative to `dir`; `""` for `dir` itself). */
  def parquetFiles(dir: String): Map[String, Int] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(p => root.relativize(p.getParent).toString).map { case (d, fs) => d -> fs.size }
    finally walk.close()
  }

  /** Run `body` with `listener` attached, draining the bus before and
    * after, so the listener sees exactly the events `body` posted. */
  private def listening[T](listener: org.apache.spark.scheduler.SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusAccess.drain(sc)
      out
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body`; return its result and the call site (`collect at
    * CdcEngine.scala:153`, the name of the job's final stage) of every
    * Spark job it started. */
  def jobSites[T](body: => T): (T, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = listening(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    })(body)
    (out, sites.toArray(Array.empty[String]).toSeq)
  }

  /** Run `body`; return its result and, per SQL execution it started, the
    * characters of physical-plan text posted: the formatted explain Spark
    * builds at every execution start and every AQE plan update, UI or not. */
  def planTextPosted[T](body: => T): (T, Map[Long, Long]) = {
    import org.apache.spark.sql.execution.ui._
    val chars = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    def add(id: Long, plan: String): Unit = chars.merge(id, plan.length.toLong, _ + _)
    val out = listening(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart => add(s.executionId, s.physicalPlanDescription)
          case u: SparkListenerSQLAdaptiveExecutionUpdate =>
            add(u.executionId, u.physicalPlanDescription)
          case _ =>
        }
    })(body)
    (out, chars.asScala.toMap)
  }

  /** Ids of the RDDs the context holds persisted right now. */
  def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Entries in the session's `CacheManager` (Spark keeps the list private). */
  def cacheEntries: Int = {
    val f = classOf[org.apache.spark.sql.execution.CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[Seq[_]].size
  }
}
