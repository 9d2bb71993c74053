package graft.extensions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The quantizer trainer behind `ivfFit`, `pqFit` and `ivfPqFit`: one
  * capped, partitioning-independent training sample collected in one Spark
  * job, and a seeded driver-side k-means over it. */
class QuantizerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def embs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")

  private def centers(idx: Similarity.IvfIndex): Seq[(Int, Seq[Float])] =
    idx.centers.select("cell", "center").as[(Int, Seq[Float])]
      .collect().toSeq.sortBy(_._1)

  test("a fit starts one Spark job: ivfFit and pqFit at most one, ivfPqFit at most two") {
    val e = embs
    def jobs(what: String)(fit: => Any): Int = {
      val (_, sites) = TestSpark.jobSites(fit)
      info(s"$what: ${sites.size} job(s) $sites")
      sites.size
    }
    assert(jobs("ivfFit")(Similarity.ivfFit(e, "vec_id", "embedding", nlist = 16)) <= 1)
    assert(jobs("pqFit")(Similarity.pqFit(e, "vec_id", "embedding", m = 8, ksub = 16)) <= 1)
    assert(jobs("ivfPqFit")(Similarity.ivfPqFit(e, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16)) <= 2)
    assert(jobs("ivfPqFit residual")(Similarity.ivfPqFit(e, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, residual = true)) <= 2)
  }

  test("centres and codebooks do not depend on the input's partitioning") {
    val e = embs
    val shuffled = e.repartition(7)
    assert(centers(Similarity.ivfFit(e, "vec_id", "embedding", nlist = 16)) ==
      centers(Similarity.ivfFit(shuffled, "vec_id", "embedding", nlist = 16)))
    assert(Similarity.pqFit(e, "vec_id", "embedding", m = 8, ksub = 16).codebooks ==
      Similarity.pqFit(shuffled, "vec_id", "embedding", m = 8, ksub = 16).codebooks)
    def ivfPq(df: DataFrame) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, residual = true)
    val (a, b) = (ivfPq(e), ivfPq(shuffled))
    assert(a.codebooks == b.codebooks)
    assert(a.centers.select("cell", "center").as[(Int, Seq[Float])].collect().toSeq ==
      b.centers.select("cell", "center").as[(Int, Seq[Float])].collect().toSeq)
  }

  test("the training sample is min(n, 256·k) rows, the same rows on every call") {
    val e = embs
    val n = e.count()
    assert(n == 500L, s"the sf0.001 embeddings fixture has 500 rows, got $n")
    def sample(df: DataFrame, k: Int, seed: Long = 42L): Seq[Seq[Double]] =
      Similarity.trainingSample(df, "vec_id", "embedding",
        Similarity.SamplePerCenter * k, seed).map(_.toSeq).toSeq
    val one = sample(e, 1)
    assert(one.size == 256)
    assert(one.distinct.size == 256, "the sample draws distinct rows")
    assert(sample(e, 1) == one, "a second call draws the same rows in the same order")
    assert(sample(e.repartition(7), 1) == one, "partitioning does not move the sample")
    val all = sample(e, 2)
    assert(all.size == 500, "k = 2 asks for 512 rows of 500: all of them")
    assert(all.take(256) == one, "a smaller sample is a prefix of a larger one")
    assert(all.toSet ==
      e.select("embedding").as[Seq[Float]].collect().map(_.map(_.toDouble)).toSet)
    assert(sample(e, 1, seed = 7L) != one, "the seed picks the rows")
  }

  test("k-means: distinct random init, the mean at k = 1, two clear clusters from any start") {
    val pts = Array(Array(0.0, 0.0), Array(0.0, 0.0), Array(2.0, 0.0), Array(4.0, 6.0))
    val one = Similarity.kmeans(pts, k = 1, iters = 5, seed = 1L)
    assert(one.map(_.toSeq).toSeq == Seq(Seq(1.5, 1.5)))
    // three distinct points can seed at most three centres
    val few = Similarity.kmeans(pts, k = 8, iters = 5, seed = 1L)
    assert(few.map(_.toSeq).toSet == Set(Seq(0.0, 0.0), Seq(2.0, 0.0), Seq(4.0, 6.0)))
    val line = Array(0.0, 0.1, 0.2, 10.0, 10.1, 10.2).map(Array(_))
    (1L to 8L).foreach { seed =>
      val c = Similarity.kmeans(line, k = 2, iters = 5, seed = seed).map(_(0)).sorted
      assert(math.abs(c(0) - 0.1) < 1e-9 && math.abs(c(1) - 10.1) < 1e-9,
        s"seed $seed: ${c.toSeq}")
    }
    val same = (1 to 3).map(_ =>
      Similarity.kmeans(pts, k = 2, iters = 5, seed = 9L).map(_.toSeq).toSeq)
    assert(same.distinct.size == 1, "a fixed seed gives fixed centres")
  }
}
