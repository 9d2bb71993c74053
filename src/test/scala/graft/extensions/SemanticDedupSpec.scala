package graft.extensions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SemDeDup-style semantic dedup (cluster-pruned within-cell cosine
  * pairs + greedy keep rules) over the shared IvfIndex structure.
  *
  * The nlist=1 tests make clustering trivial (one cell) so the pair
  * plumbing and both keep rules are checked against hand-computable
  * truth; the fixture-scale cell-pruning behavior (pairs == brute force
  * because planted pairs co-cell at nlist=8) is measured in PLANS.md
  * "SemDeDup" and hash-checked by the dedup_semantic_* oracles.
  */
class SemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Fillers all point along e1; one near-dup pair (cos = 0.99) whose
  // member `w` leans measurably away from the centroid direction.
  private val wY = math.sqrt(1.0 - 0.99 * 0.99).toFloat
  private def corpus = (
    (1L to 20L).map(i => (i, Array(1f, 0f, 0f, 0f))) ++
      Seq((100L, Array(1f, 0f, 0f, 0f)),
          (101L, Array(0.99f, wY, 0f, 0f)))
    ).toDF("vec_id", "embedding")

  /** A hand-built single-cell index (a one-cell index makes the pair
    * plumbing + keep rules hand-checkable:
    * pairs == brute force by construction). Centroid = e1, so
    * ctr_cos = 1.0 for every filler and 0.99 for the leaning vector. */
  private def fit(nlist: Int): Similarity.IvfIndex = {
    require(nlist == 1, "spec helper only builds the trivial index")
    Similarity.IvfIndex(
      centers = Seq((0, Array(1f, 0f, 0f, 0f))).toDF("cell", "center"),
      assigned = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"), lit(0).as("cell")))
  }

  test("nlist=1: within-cell pairs equal brute-force pairs exactly") {
    val idx = fit(1)
    val sem = Similarity.semanticDupPairs(idx, eps = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute truth: all filler/filler pairs are identical vectors
    // (cos = 1), filler-100 pairs likewise, and (100, 101) at 0.99;
    // 101-filler pairs are also 0.99. Everything >= 0.98.
    val all = ((1L to 20L) ++ Seq(100L, 101L)).toSeq
    val brute = (for {
      a <- all; b <- all if a < b
    } yield (a, b)).toSet
    assert(sem === brute)
  }

  test("eps prunes: only the sub-0.995 pairs drop at a tighter eps") {
    val idx = fit(1)
    val sem = Similarity.semanticDupPairs(idx, eps = 0.995)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 101 leans cos 0.99 from every e1 vector -> all its pairs prune
    assert(!sem.exists(p => p._1 == 101L || p._2 == 101L))
    assert(sem.contains((1L, 100L)) && sem.contains((1L, 2L)))
  }

  test("min_id keep rule: lowest id of every duplicate chain survives") {
    val idx = fit(1)
    val keep = Similarity.semanticDedup(idx, eps = 0.98)
      .select("neighbor_id").as[Long].collect().toSet
    // every vector pairs with id 1 at >= 0.98, so only id 1 survives
    assert(keep === Set(1L))
  }

  test("far_from_centroid keep rule retains the outlier of a dup pair") {
    val idx = fit(1)
    val keep = Similarity.semanticDedup(idx, eps = 0.98,
      keepRule = "far_from_centroid")
      .select("neighbor_id").as[Long].collect().toSet
    // the centroid is e1: every filler has ctr_cos = 1.0 and 101 has
    // 0.99 — the unique farthest-from-centroid vector — so the paper's
    // rule keeps IT and drops the redundant core (ties among identical
    // fillers fall back to the id order), the opposite member of what
    // min_id keeps.
    assert(keep === Set(101L))
  }

  test("keep + dropped partition the corpus (no vector lost or doubled)") {
    val idx = fit(1)
    val keep = Similarity.semanticDedup(idx, eps = 0.98)
    val total = idx.assigned.count()
    val losers = Similarity.semanticDupPairs(idx, eps = 0.98)
      .select(col("id_b").as("neighbor_id")).distinct()
    assert(keep.count() + losers.count() === total)
    assert(keep.join(losers, Seq("neighbor_id")).count() === 0)
  }

  test("maxCellSize cap skips degenerate cells instead of exploding") {
    val idx = fit(1)
    assert(Similarity.semanticDupPairs(idx, eps = 0.98,
      maxCellSize = 10).count() === 0)
    // ...and the keep-set then trivially keeps everything
    assert(Similarity.semanticDedup(idx, eps = 0.98,
      maxCellSize = 10).count() === idx.assigned.count())
  }

  test("unknown keep rule is refused") {
    val idx = fit(1)
    intercept[IllegalArgumentException] {
      Similarity.semanticDedup(idx, eps = 0.98, keepRule = "random")
    }
  }

  test("incremental probe: copies match their originals, novel vectors survive") {
    val idx = fit(1)
    // 200 duplicates the filler direction (must match every e1 corpus
    // vector); 201 is orthogonal to the whole corpus (must survive)
    val batch = Seq(
      (200L, Array(1f, 0f, 0f, 0f)),
      (201L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val matches = Similarity.semanticDupAgainstIndex(idx, batch,
      "vec_id", "embedding", eps = 0.98)
    assert(matches.filter(col("vec_id") === 201L).count() === 0)
    // 200 matches the 21 e1-identical corpus vectors (101 sits at 0.99
    // > 0.98, so it matches too => 22)
    assert(matches.filter(col("vec_id") === 200L).count() === 22)
    val kept = Similarity.semanticDedupBatch(idx, batch,
      "vec_id", "embedding", eps = 0.98)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(201L))
  }

  test("extend-then-pair equals pairing the index built on the union (explicit centers)") {
    // the accept->bump lifecycle: survivors of the batch probe extend
    // the index O(new); with a fixed quantizer the extended index must
    // be indistinguishable from one assigned over the union directly
    val idx = fit(1)
    val novel = Seq((201L, Array(0f, 0f, 1f, 0f)),
      (202L, Array(0f, 0f, 1f, 0.01f))).toDF("vec_id", "embedding")
    val extended = IndexFamily.Ivf.extend(idx, novel, "vec_id", "embedding")
    val direct = Similarity.IvfIndex(idx.centers,
      Similarity.assignToCells(corpus.unionByName(novel),
        idx.centers, "vec_id", "embedding"))
    val pe = Similarity.semanticDupPairs(extended, eps = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pd = Similarity.semanticDupPairs(direct, eps = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pe === pd)
    // ...and the new near-dup pair (201, 202) is now visible in-index
    assert(pe.contains((201L, 202L)))
  }
}
