package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.extensions.Dedup.CorpusIndex

/** The query suites' fixture registry: fixtures are per (session, dir),
  * built once, and freed by phase. */
class FixturesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a new session never receives another session's fixture") {
    val fresh = spark.newSession()
    Seq("dedup_minhash_pairs", "cdc_state_lookup").foreach { name =>
      val q = SparkEntry.queries(name)
      val first = q(spark, TestSpark.Sf0001)
      val second = q(fresh, TestSpark.Sf0001)
      assert(first.sparkSession eq spark, name)
      assert(second.sparkSession eq fresh, name)
      assert(rows(second) === rows(first), name)
    }
  }

  test("a nested fixture builds once, and its phase release frees only that phase") {
    // a dir key no other spec uses, so every entry under it is this test's
    val dir = TestSpark.tmpDir("graft-fixtures-sf")
    Files.list(Paths.get(TestSpark.Sf0001)).forEach(f =>
      Files.copy(f, Paths.get(dir).resolve(f.getFileName)))
    def run(name: String): Unit = { SparkEntry.queries(name)(spark, dir).count(); () }
    def mine(phase: Fixtures.Phase): Map[String, Any] =
      Fixtures.entries(phase).collect { case (k, v) if k.dir == dir => k.name -> v }
    try {
      // dupGroups builds exactPairs inside its own build; savedIndexDir
      // builds corpusIndex and writes a temp tree; windowCensus (text
      // phase) builds windowRowsShared
      val rowsRun = Seq("dedup_near_groups", "dedup_incremental_saved",
        "text_window_dupes")
      rowsRun.foreach(run)
      val dedup = mine(Fixtures.Dedup)
      assert(dedup.keySet === Set("dupGroups", "exactPairs", "corpusIndex",
        "savedIndexDir"))
      val text = mine(Fixtures.Text)
      assert(text.keySet === Set("windowCensus", "windowRowsShared"))
      val trees = Fixtures.tempDirs(Fixtures.Dedup)
      val savedTree = dedup("savedIndexDir").asInstanceOf[String]
      assert(trees.contains(savedTree) && new java.io.File(savedTree).isDirectory)

      // a second round builds nothing new: same entries, same values
      rowsRun.foreach(run)
      val again = mine(Fixtures.Dedup)
      assert(again.keySet === dedup.keySet)
      assert(dedup.forall { case (k, v) =>
        again(k).asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef] })
      assert(Fixtures.tempDirs(Fixtures.Dedup) === trees)

      // pinned: a CacheManager entry for the relation's plan (its
      // storageLevel), or, for a checkpoint such as dupGroups, the
      // persisted RDD under its LogicalRDD leaf
      def pinned(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE ||
        df.queryExecution.logical.collectLeaves().exists {
          case r: LogicalRDD => r.rdd.getStorageLevel != StorageLevel.NONE
          case _ => false
        }
      val relations = Seq(dedup("dupGroups"), dedup("exactPairs"))
        .map(_.asInstanceOf[DataFrame]) :+
        dedup("corpusIndex").asInstanceOf[CorpusIndex].postings
      assert(relations.forall(pinned))

      Fixtures.release(Fixtures.Dedup)
      assert(Fixtures.entries(Fixtures.Dedup).isEmpty)
      assert(!relations.exists(pinned))
      assert(Fixtures.tempDirs(Fixtures.Dedup).isEmpty)
      assert(trees.forall(d => !new java.io.File(d).exists))
      // the text phase's fixtures are untouched
      assert(mine(Fixtures.Text) === text)
      assert(text("windowCensus").asInstanceOf[DataFrame].storageLevel != StorageLevel.NONE)
    } finally {
      Fixtures.release(Fixtures.Text)
      graft.util.Util.deleteRecursively(new java.io.File(dir))
    }
  }
}
