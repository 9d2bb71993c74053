package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The ON-DISK marker layout of every (family, leg) compaction, pinned by
  * literal file name. A sink tree a fold consumed is recognised by these
  * names alone, on disk, long after the process that wrote them is gone:
  * renaming one would silently orphan every tree already stamped with
  * the old name (the next fold would re-consume it). So the expectations
  * here are string literals, never the constants the code reads. The
  * folds themselves run through [[MarkerLayoutFolds]], which names the
  * entry point each (family, leg) maps to. */
class MarkerLayoutSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** (family, leg, the `_`-prefixed names each tree root holds after the
    * fold). A tree the leg does not read stays bare. */
  private val layout: Seq[(String, String, Map[String, Set[String]])] = Seq(
    ("text", "accept", Map("accept" -> Set("_FOLDED"))),
    ("embedding", "accept", Map("accept" -> Set("_FOLDED"))),
    ("ivf", "accept", Map("accept" -> Set("_FOLDED", "_FOLDED_IVF"))),
    ("ivfpq", "accept", Map("accept" -> Set("_FOLDED", "_FOLDED_IVFPQ"))),
    ("bm25", "accept", Map("accept" -> Set("_FOLDED_BM25"))),
    ("text", "upsert", Map("upsert" -> Set("_FOLDED_UPSERT"))),
    ("embedding", "upsert", Map("upsert" -> Set("_FOLDED_UPSERT_EMB"))),
    ("ivf", "upsert", Map("upsert" -> Set("_FOLDED_UPSERT_IVF"))),
    ("ivfpq", "upsert", Map("upsert" -> Set("_FOLDED_UPSERT_IVFPQ"))),
    ("lsh", "upsert", Map("upsert" -> Set("_FOLDED_UPSERT_LSH"))),
    ("pq", "upsert", Map("upsert" -> Set("_FOLDED_UPSERT_PQ"))),
    ("bm25", "upsert", Map("upsert" -> Set("_FOLDED_UPSERT_BM25"))),
    ("text", "retract", Map("retract" -> Set("_FOLDED_RETRACT"))),
    ("embedding", "retract", Map("retract" -> Set("_FOLDED_RETRACT_EMB"))),
    ("ivf", "retract", Map("retract" -> Set("_FOLDED_RETRACT_IVF"))),
    ("ivfpq", "retract", Map("retract" -> Set("_FOLDED_RETRACT_IVFPQ"))),
    ("lsh", "retract", Map("retract" -> Set("_FOLDED_RETRACT_LSH"))),
    ("pq", "retract", Map("retract" -> Set("_FOLDED_RETRACT_PQ"))),
    ("bm25", "retract", Map("retract" -> Set("_FOLDED_RETRACT_BM25"))),
    ("text", "net", Map("accept" -> Set("_FOLDED"),
      "upsert" -> Set("_FOLDED_UPSERT"), "retract" -> Set("_FOLDED_RETRACT"))),
    ("embedding", "net", Map("accept" -> Set("_FOLDED"),
      "upsert" -> Set("_FOLDED_UPSERT_EMB"),
      "retract" -> Set("_FOLDED_RETRACT_EMB"))),
    ("ivf", "net", Map("accept" -> Set("_FOLDED_IVF"),
      "upsert" -> Set("_FOLDED_UPSERT_IVF"),
      "retract" -> Set("_FOLDED_RETRACT_IVF"))),
    ("ivfpq", "net", Map("accept" -> Set("_FOLDED_IVFPQ"),
      "upsert" -> Set("_FOLDED_UPSERT_IVFPQ"),
      "retract" -> Set("_FOLDED_RETRACT_IVFPQ"))),
    ("lsh", "net", Map("accept" -> Set("_FOLDED_LSH"),
      "upsert" -> Set("_FOLDED_UPSERT_LSH"),
      "retract" -> Set("_FOLDED_RETRACT_LSH"))),
    ("pq", "net", Map("accept" -> Set("_FOLDED_PQ"),
      "upsert" -> Set("_FOLDED_UPSERT_PQ"),
      "retract" -> Set("_FOLDED_RETRACT_PQ"))),
    ("bm25", "net", Map("accept" -> Set("_FOLDED_BM25"),
      "upsert" -> Set("_FOLDED_UPSERT_BM25"),
      "retract" -> Set("_FOLDED_RETRACT_BM25"))))

  /** Marker and lease files at a tree root (`batch=*` partitions and
    * the local FS's `.crc` side files are not part of the layout). */
  private def rootNames(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith("_"))

  for ((family, leg, expected) <- layout)
    test(s"marker layout: the $family $leg fold writes " +
      expected.toSeq.sortBy(_._1).map { case (t, ms) =>
        s"$t:${ms.toSeq.sorted.mkString("+")}" }.mkString(" ") +
      " and a second fold of the same trees refuses") {
      val trees = MarkerLayoutFolds.writeTrees(spark, family)
      MarkerLayoutFolds.fold(spark, family, leg, trees)
      def assertLayout(): Unit = for ((t, dir) <- trees)
        assert(rootNames(dir) === expected.getOrElse(t, Set.empty[String]),
          s"$family $leg fold: root of the $t tree")
      assertLayout()
      val err = intercept[IllegalArgumentException] {
        MarkerLayoutFolds.fold(spark, family, leg, trees)
      }
      assert(err.getMessage.contains("already compacted"))
      // the refused fold left no marker and no lease behind
      assertLayout()
    }
}
