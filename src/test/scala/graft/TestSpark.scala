package graft

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

  /** Run `body`; return its result and the call site (`collect at
    * CdcEngine.scala:153`, the name of the job's final stage) of every
    * Spark job it started. */
  def jobSites[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusAccess.drain(sc)
      (out, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
