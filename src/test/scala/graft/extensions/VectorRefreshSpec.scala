package graft.extensions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The vector-index legs of the refresh→index loop
  * ([[IndexFamily.refresh]] for the embedding, LSH, IVF, PQ and
  * IVF-PQ families, all off one
  * [[CorpusOps.vectorDiff]]): refresh ≡ rebuild-under-the-frozen-
  * quantizer for every family, plus the O(changed) sentinel — unchanged
  * vectors are never re-banded/re-assigned/re-encoded. */
class VectorRefreshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def vecs = graft.sources.Tables
    .load(spark, TestSpark.Sf0001, "embeddings")
    .filter(col("vec_id") < 300)
    .select(col("vec_id"), col("embedding"))

  // the two-crawl fixture of the corpus_vector_diff row, shrunk: the
  // NEW crawl is the corpus itself; the OLD crawl is missing every 13th
  // vector (added), carries every 11th NEGATED (changed), plus junk
  // rows at +40M ids (removed)
  private def newCrawl = vecs
  private def oldCrawl = vecs.filter(col("vec_id") % 13 =!= 0)
    .select(col("vec_id"),
      when(col("vec_id") % 11 === 0, transform(col("embedding"), x => -x))
        .otherwise(col("embedding")).as("embedding"))
    .unionByName(vecs.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 40000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding")))
  private def diff =
    CorpusOps.vectorDiff(oldCrawl, newCrawl, "vec_id", "embedding")

  /** Poison every UNCHANGED row of the new crawl with an all-NaN vector:
    * a refresh leg that re-processed an unchanged vector would either
    * crash or plant NaNs into the index — its absence from the result
    * proves the heavy kernel input is diff-selected, structurally. */
  private def poisonedNew = {
    val sameIds = diff.filter(col("status") === "same").select("vec_id")
    newCrawl.join(sameIds.withColumn("__same", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("__same").isNotNull,
          transform(col("embedding"), _ => lit(Float.NaN)))
          .otherwise(col("embedding")).as("embedding"))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toSeq
      case x => x
    }).toSet

  test("vectorDiff classifies the two-crawl vector fixture per id") {
    val st = diff.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val newIds = vecs.select("vec_id").collect().map(_.getLong(0)).toSet
    newIds.foreach { id =>
      val want =
        if (id % 13 == 0) "added"
        else if (id % 11 == 0) "changed"
        else "same"
      assert(st(id) === want, s"vec $id")
    }
    newIds.filter(_ % 7 == 0).foreach { id =>
      assert(st(id + 40000000L) === "removed", s"junk ${id + 40000000L}")
    }
    assert(st.size === newIds.size + newIds.count(_ % 7 == 0))
  }

  test("refreshEmbeddingIndex(build(old), new, diff) == " +
    "buildEmbeddingIndex(new): deterministic hyperplanes, exact") {
    val refreshed = IndexFamily.Embedding.refresh(
      Dedup.buildEmbeddingIndex(oldCrawl, "vec_id", "embedding",
        planes = 12, bands = 8),
      oldCrawl, newCrawl, "vec_id", "embedding", diff)
    val scratch = Dedup.buildEmbeddingIndex(newCrawl, "vec_id", "embedding",
      planes = 12, bands = 8)
    assert(rows(refreshed.buckets) === rows(scratch.buckets))
    assert(rows(refreshed.vectors) === rows(scratch.vectors))
    // remove bumped once, extend bumped once
    assert(refreshed.version === 3L)
  }

  test("refreshLshIndex(fit(old), new, diff) == lshFit(new)") {
    val refreshed = IndexFamily.Lsh.refresh(
      Similarity.lshFit(oldCrawl, "vec_id", "embedding",
        planes = 12, bands = 4),
      oldCrawl, newCrawl, "vec_id", "embedding", diff)
    val scratch = Similarity.lshFit(newCrawl, "vec_id", "embedding",
      planes = 12, bands = 4)
    assert(rows(refreshed.banded) === rows(scratch.banded))
  }

  test("refreshIvfIndex: assigned == assignToCells(new, frozen centers)") {
    val old = Similarity.ivfFit(oldCrawl, "vec_id", "embedding", nlist = 8)
    val refreshed = IndexFamily.Ivf.refresh(old, oldCrawl, newCrawl,
      "vec_id", "embedding", diff)
    val expected = Similarity.assignToCells(newCrawl, old.centers,
      "vec_id", "embedding")
    assert(rows(refreshed.assigned) === rows(expected))
    // the quantizer is FROZEN: centers untouched by the refresh
    assert(rows(refreshed.centers) === rows(old.centers))
  }

  test("refreshPqIndex: codes == re-encoding new under the frozen " +
    "codebooks") {
    val old = Similarity.pqFit(oldCrawl, "vec_id", "embedding",
      m = 8, ksub = 16)
    val refreshed = IndexFamily.Pq.refresh(old, oldCrawl, newCrawl,
      "vec_id", "embedding", diff)
    // rebuild-under-frozen-quantizer: extend an emptied copy with the
    // whole new crawl — the same frozen codebooks encode everything
    val rebuilt = IndexFamily.Pq.extend(
      old.copy(codes = old.codes.limit(0)), newCrawl, "vec_id", "embedding")
    assert(rows(refreshed.codes) === rows(rebuilt.codes))
  }

  test("refreshIvfPqIndex (residual): codes and rerank vectors stay in " +
    "lockstep and equal a frozen-quantizer re-encode of new") {
    val old = Similarity.ivfPqFit(oldCrawl, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16, residual = true)
    val refreshed = IndexFamily.IvfPq.refresh(old, oldCrawl, newCrawl,
      "vec_id", "embedding", diff)
    val rebuilt = IndexFamily.IvfPq.extend(
      old.copy(codes = old.codes.limit(0), vectors = old.vectors.limit(0)),
      newCrawl, "vec_id", "embedding")
    assert(rows(refreshed.codes) === rows(rebuilt.codes))
    assert(rows(refreshed.vectors) === rows(rebuilt.vectors))
    // lockstep: the same id set on both relations
    val cIds = refreshed.codes.select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    val vIds = refreshed.vectors.select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    assert(cIds === vIds)
  }

  test("O(changed) structurally: NaN-poisoned unchanged vectors never " +
    "reach any refresh leg's kernels") {
    // embedding leg: the result under a poisoned new crawl equals the
    // clean from-scratch build — a re-banded unchanged vector would
    // plant NaN buckets (sign(NaN) comparisons) or NaN vectors
    val refreshedEmb = IndexFamily.Embedding.refresh(
      Dedup.buildEmbeddingIndex(oldCrawl, "vec_id", "embedding",
        planes = 12, bands = 8),
      oldCrawl, poisonedNew, "vec_id", "embedding", diff)
    val scratchEmb = Dedup.buildEmbeddingIndex(newCrawl, "vec_id",
      "embedding", planes = 12, bands = 8)
    assert(rows(refreshedEmb.buckets) === rows(scratchEmb.buckets))
    assert(rows(refreshedEmb.vectors) === rows(scratchEmb.vectors))

    // IVF leg: a re-assigned unchanged vector would carry its NaN
    // c_vec into the assigned relation
    val old = Similarity.ivfFit(oldCrawl, "vec_id", "embedding", nlist = 8)
    val refreshedIvf = IndexFamily.Ivf.refresh(old, oldCrawl, poisonedNew,
      "vec_id", "embedding", diff)
    val expected = Similarity.assignToCells(newCrawl, old.centers,
      "vec_id", "embedding")
    assert(rows(refreshedIvf.assigned) === rows(expected))
  }
}
