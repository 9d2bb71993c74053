package graft.streaming

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** A fold that throws after its trees are leased — here because the
  * trees' id column is misnamed, which only the fold itself reads —
  * releases every lease and stamps nothing, for every compaction entry
  * point shape, so the corrected trees then fold with no manual step. One
  * vector family and BM25, the family whose folds carry the old image. */
class FoldRefusalSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** Marker and lease files at a tree root (as in [[MarkerLayoutSpec]]). */
  private def rootNames(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith("_"))

  /** The trees each shape reads. */
  private val reads = Map(
    "accept" -> Set("accept"), "upsert" -> Set("upsert"),
    "retract" -> Set("retract"), "net" -> Set("accept", "upsert", "retract"))

  for (family <- Seq("ivf", "bm25"); leg <- Seq("accept", "upsert", "retract", "net"))
    test(s"a refused $family $leg fold leaves every tree bare; " +
      "the corrected trees then fold") {
      val trees = MarkerLayoutFolds.writeTrees(spark, family)
      MarkerLayoutFolds.fillTrees(spark, family, trees, idAs = Some("misnamed_id"))
      intercept[AnalysisException] {
        MarkerLayoutFolds.fold(spark, family, leg, trees)
      }
      for ((t, dir) <- trees)
        assert(rootNames(dir).isEmpty, s"$family $leg refusal: root of the $t tree")

      MarkerLayoutFolds.fillTrees(spark, family, trees)
      MarkerLayoutFolds.fold(spark, family, leg, trees)
      for ((t, dir) <- trees) {
        val names = rootNames(dir)
        assert(names.nonEmpty === reads(leg)(t), s"$family $leg fold: root of the $t tree")
        assert(!names.exists(_.endsWith(".lock")), s"$family $leg fold: lease of the $t tree")
      }
    }
}
