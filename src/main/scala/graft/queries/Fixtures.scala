package graft.queries

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The query suites' shared fixtures — persisted relations, fitted
 * indexes, a live CDC engine and the temp trees they write — in one
 * registry. Each fixture is built at most once per (session, sf dir), so
 * a new session never receives a DataFrame or engine another session
 * built, and each belongs to one release [[Phase]]: a phased consumer
 * (Bench) frees a family's fixtures the moment its last row finishes
 * instead of letting them pressure every later query's heap — round 7
 * measured untouched relational rows 3-6x slower under the
 * always-pinned regime. Every fixture temp tree comes from [[tempDir]],
 * so a phase release and the one JVM shutdown hook reach all of them.
 */
private[graft] object Fixtures {

  sealed trait Phase
  case object Cdc extends Phase
  case object Text extends Phase
  case object Dedup extends Phase
  case object Sim extends Phase
  val phases: Seq[Phase] = Seq(Cdc, Text, Dedup, Sim)

  final case class Key(session: SparkSession, dir: String, name: String)

  /** One fixture: built on first [[value]], at most once. The build runs
    * under the cell's lock, not inside the store's `computeIfAbsent` — a
    * nested fixture build would otherwise update the store from inside
    * its own mapping function ("Recursive update" on JDK 9+). A failed
    * build is kept as the cell's result, so callers already waiting on
    * it see the same failure rather than building into an entry that
    * [[memo]] has dropped. */
  private final class Cell(val phase: Phase, build: () => Any, release: Any => Unit) {
    private var result: Option[Try[Any]] = None

    def value: Any = synchronized {
      if (result.isEmpty) result = Some(Try(build()))
      result.get.get
    }

    def built: Option[Any] = synchronized(result).flatMap(_.toOption)

    def free(): Unit = built.foreach(release)
  }

  private val store = new ConcurrentHashMap[Key, Cell]()
  private val trees = new ConcurrentHashMap[String, Phase]()

  // a bench/verify JVM that dies mid-run would otherwise leak every
  // temp tree a phase release has not reached yet
  java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
    trees.keySet.forEach(d => graft.util.Util.deleteRecursively(new java.io.File(d)))))

  /** The fixture `name` of (`s`, `dir`): `build` runs on the first call
    * only, and `release` frees its value when `phase` is released. A
    * build that throws leaves no entry behind. */
  def memo[T](phase: Phase, s: SparkSession, dir: String, name: String)(build: => T)(
      release: T => Unit): T = {
    val key = Key(s, dir, name)
    val cell = store.computeIfAbsent(key,
      _ => new Cell(phase, () => build, v => release(v.asInstanceOf[T])))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => store.remove(key, cell); throw e }
  }

  /** [[memo]] for a persisted or checkpointed relation, freed on release:
    * unpersisted, and every checkpoint it reads released. A frame fixture
    * owns the checkpoints its build made (`Dedup.resolveDupGroups`
    * returns one). */
  def frame(phase: Phase, s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    memo(phase, s, dir, name)(build) { df =>
      df.unpersist(false)
      graft.util.Util.releaseCheckpoints(df)
    }

  /** [[memo]] for an on-disk tree: `write` fills a fresh [[tempDir]]
    * once, and the tree is deleted when `phase` is released. */
  def tree(phase: Phase, s: SparkSession, dir: String, name: String, prefix: String)(
      write: String => Unit): String =
    memo(phase, s, dir, name) { val d = tempDir(phase, prefix); write(d); d }(_ => ())

  /** A fresh temp directory, deleted when `phase` is released (or at JVM
    * exit, whichever comes first). */
  def tempDir(phase: Phase, prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    trees.put(d, phase)
    d
  }

  /** Free every fixture of `phase`, in every session, then delete the
    * phase's temp trees. A fixture whose session has stopped is dropped
    * without complaint: its cluster-side state went with the context,
    * and its temp trees are deleted all the same. */
  def release(phase: Phase): Unit =
    try store.asScala.foreach { case (key, cell) =>
      if (cell.phase == phase && store.remove(key, cell))
        try cell.free()
        catch { case NonFatal(_) if key.session.sparkContext.isStopped => () }
    } finally trees.asScala.foreach { case (d, p) =>
      if (p == phase && trees.remove(d, p))
        graft.util.Util.deleteRecursively(new java.io.File(d))
    }

  /** The built fixtures of `phase`, by key. */
  def entries(phase: Phase): Map[Key, Any] =
    store.asScala.collect { case (k, c) if c.phase == phase => c.built.map(k -> _) }
      .flatten.toMap

  /** The live temp trees of `phase`. */
  def tempDirs(phase: Phase): Set[String] =
    trees.asScala.collect { case (d, p) if p == phase => d }.toSet
}
