package graft.util

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Small shared helpers. */
object Util {

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Parse `yyyy-MM-dd HH:mm:ss` as a UTC instant — independent of the JVM
    * default timezone, so query literals line up with the UTC session tz and
    * the DuckDB oracle's naive timestamps. */
  def utcTs(s: String): Timestamp =
    Timestamp.from(LocalDateTime.parse(s, Fmt).toInstant(ZoneOffset.UTC))

  /** Recursive local-file delete (null-safe on unreadable dirs). The one
    * shared copy — the per-call-site variants this replaces had drifting
    * null-handling. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Free the blocks of every checkpoint `df` reads: the RDDs under its
    * `LogicalRDD` leaves. A checkpoint is no `CacheManager` entry, so
    * `unpersist` on the frame does not reach them. */
  def releaseCheckpoints(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
