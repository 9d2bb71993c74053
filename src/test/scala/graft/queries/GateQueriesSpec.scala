package graft.queries

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Regression gates for the derived soundness/recall/accuracy queries and
  * the de-zeroed relational queries: each must return real signal at
  * sf0.001 (the driver's oracle compare then hash-checks the same rows at
  * sf0.01). A broken kernel, bucket join, or sketch drops these booleans
  * to false / the row counts to zero. */
class GateQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, sf).collect()

  test("dedup_minhash_sound: zero unsound pairs, recall >= 0.9 of exact set") {
    val Array(r) = run("dedup_minhash_sound")
    assert(r.getAs[Long]("n_true") > 0)
    assert(r.getAs[Long]("n_unsound") == 0L)
    assert(r.getAs[Boolean]("recall_ge_090"))
  }

  test("dedup_simhash_recall: recall >= 0.85 of exact pair set") {
    val Array(r) = run("dedup_simhash_recall")
    assert(r.getAs[Long]("n_true") > 0)
    assert(r.getAs[Boolean]("recall_ge_085"))
  }

  test("dedup_embedding_sound: LSH pair set equals exact planted set") {
    val rows = run("dedup_embedding_sound")
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("cosine") >= 0.9))
  }

  test("sim_lsh_recall and sim_ivf_recall clear their floors") {
    val Array(l) = run("sim_lsh_recall")
    assert(l.getAs[Long]("n_true") > 0 && l.getAs[Boolean]("recall_ge_090"))
    val Array(i) = run("sim_ivf_recall")
    assert(i.getAs[Long]("n_true") > 0 && i.getAs[Boolean]("recall_ge_075"))
  }

  test("sim_topk_ivf equals brute force row-for-row on the clustered fixture") {
    // the premise of the round-13 oracle graduation: on the planted
    // 19-cluster fixture, probing 4 of 19 cells (~23% of candidates
    // scored) loses NOTHING — every query's true top-10 lives in its
    // own cluster. A quantizer/assignment/probe bug breaks equality.
    import org.apache.spark.sql.functions._
    import graft.extensions.Similarity
    val ivf = run("sim_topk_ivf").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val probe = run("sim_topk_ivf_probe").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf.nonEmpty && ivf == probe,
      "fresh-fit and cached-index rows must agree (fixed seed)")
    // rebuild the SAME deterministic fixture (mirrors the private
    // clusteredEmbeddings helper) and take brute force as truth
    val ce = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)), d =>
          ((pmod(pmod(col("vec_id"), lit(19)) * 31 + d * 17, lit(5)) - 2) * 8 +
            when(d === pmod(col("vec_id"), lit(19)) + 1,
              pmod(col("vec_id"), lit(11))).otherwise(lit(0)))
            .cast("float")).as("embedding"))
    val brute = Similarity.bruteForceTopK(ce,
      ce.filter(col("vec_id") % 20 === 0), "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == brute,
      s"IVF at nprobe=4/nlist=19 must equal brute force; " +
        s"missing=${(brute -- ivf).size} extra=${(ivf -- brute).size}")
  }

  test("sim_topk_ivfpq equals brute-force top-1 on the planted fixture while pruning AND compressing") {
    // the premise of the round-14 oracle graduation: nprobe=1 over the
    // nudge-orthogonal explicit 4-cell quantizer scans ~25% of the
    // corpus (measured, PLANS.md "IVF-PQ composition") in 32x-compressed codes,
    // and each query's 0.9988-cosine planted copy co-cells with it
    // STRUCTURALLY (assignment ignores the nudged component) — so the
    // true top-1 survives the ADC cut and wins the exact re-rank. A
    // cell-join, codebook, or ADC-stride bug breaks equality.
    import org.apache.spark.sql.functions._
    import graft.extensions.Similarity
    val ivfpq = run("sim_topk_ivfpq").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val probe = run("sim_topk_ivfpq_probe").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfpq.nonEmpty && ivfpq == probe,
      "fresh-fit and cached-index rows must agree (fixed seed)")
    // rebuild the SAME planted fixture (mirrors plantedEmbeddings) and
    // take brute-force top-1 as truth
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
    val planted = e.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 10000000L).as("vec_id"),
      concat(array(col("embedding").getItem(0) + lit(0.05f)),
        slice(col("embedding"), 2, 1000000)).as("embedding"))
    val pe = e.select(col("vec_id"), col("embedding")).union(planted)
    val brute = Similarity.bruteForceTopK(pe,
      pe.filter(col("vec_id") % 20 === 0 && col("vec_id") < 10000000L),
      "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfpq == brute,
      s"IVF-PQ at nprobe=1/4 cells + rerank=50 must equal brute top-1; " +
        s"missing=${(brute -- ivfpq).size} extra=${(ivfpq -- brute).size}")
  }

  test("sim_ivfpq_recall: the full-KMeans IVF-PQ composition clears its floor") {
    val Array(r) = run("sim_ivfpq_recall")
    assert(r.getAs[Long]("n_true") > 0 && r.getAs[Boolean]("recall_ge_070"))
  }

  test("sim_ivf_extend_recall: the half-fit + extend index clears the floor") {
    val Array(r) = run("sim_ivf_extend_recall")
    assert(r.getAs[Long]("n_true") > 0 && r.getAs[Boolean]("recall_ge_075"))
  }

  test("version-bump rows discriminate: batch 2's planted twins drop ONLY via the bump") {
    // dedup_emb_version_bump's teeth, pinned in CI rather than measured
    // once: the +30M batch-2 vectors are near-copies of batch 1's
    // survivors, so (a) the bumped probe drops every one of them, and
    // (b) a probe against the UNBUMPED index keeps every one — an
    // extension that is not probe-visible flips the whole set.
    import org.apache.spark.sql.functions._
    import graft.extensions.Dedup
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
    val idx = Dedup.buildEmbeddingIndex(e, "vec_id", "embedding",
      planes = 12, bands = 8)
    val b2twins = e.filter(col("vec_id") % 7 === 0).select(
      (col("vec_id") + 30000000L).as("vec_id"),
      concat(array(-col("embedding").getItem(0) + lit(0.05f)),
        transform(slice(col("embedding"), 2, 1000000), x => -x))
        .as("embedding"))
    val n = b2twins.count()
    assert(n > 0)
    val keptUnbumped = Dedup.dedupEmbeddingsAgainstCorpus(
      b2twins, idx, "vec_id", "embedding", threshold = 0.9).count()
    assert(keptUnbumped == n,
      "the twins must be novel vs version N — else the row can't isolate the bump")
    val bumpedKeep = run("dedup_emb_version_bump").map(_.getAs[Long]("vec_id")).toSet
    assert(b2twins.select("vec_id").collect().map(_.getLong(0))
      .forall(id => !bumpedKeep.contains(id)),
      "every planted twin must drop against version N+1")
  }

  test("q_sketch_accuracy: HLL and quantile estimates inside documented envelopes") {
    val Array(r) = run("q_sketch_accuracy")
    assert(r.getAs[Long]("n_exact") > 0)
    assert(r.getAs[Boolean]("hll_within_5pct"))
    assert(r.getAs[Boolean]("p50_within_2pct"))
  }

  test("q_approx_sketch: grouped sketch-merge envelopes hold per group") {
    val rows = run("q_approx_sketch")
    assert(rows.length >= 3, "one row per return flag")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_parts_exact") > 0)
      assert(r.getAs[Boolean]("hll_within_10pct"),
        s"grouped HLL out of envelope for ${r.get(0)}")
      assert(r.getAs[Boolean]("p50_within_2pct"))
      assert(r.getAs[Boolean]("p99_within_5pct"),
        s"p99 sketch out of envelope for ${r.get(0)}")
    }
  }

  test("de-zeroed queries return non-degenerate results") {
    for (name <- Seq("q_except", "q_join_anti", "q_like_filter"))
      assert(run(name).nonEmpty, s"$name must return rows")
  }

  test("planted-fixture guard trips on real id ALIASING, passes sparse far ranges") {
    // the +10_000_000 planted-copy offsets are literals in BOTH engines'
    // fixtures; a corpus where id + offset lands on another REAL id
    // silently aliases planted copies. The guard must be the collision
    // predicate, not a max(id) ceiling — the gensf sf1 bench fixture
    // key-shifts copies by 1e8 (max ~9e8, zero collisions) and must
    // still pass.
    import org.apache.spark.sql.functions.{col, lit}
    val d = graft.sources.Tables.load(spark, sf, "documents")

    // genuinely colliding fixture: ids {x} ∪ {x + 10M} — planting +10M
    // on x collides with the real id x + 10M
    val clashDir = graft.TestSpark.tmpDir("graft-headroom-clash")
    d.union(d.withColumn("doc_id", col("doc_id") + lit(10000000L)))
      .write.mode("overwrite").parquet(s"$clashDir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("dedup_simhash_pairs")(spark, clashDir).collect()
    }
    assert(e.getMessage.contains("headroom"),
      s"expected the aliasing guard, got: ${e.getMessage}")

    // sparse far range (the gensf shape): ids shifted to ~1e8, far past
    // every offset but collision-free — the fixture must run
    val sparseDir = graft.TestSpark.tmpDir("graft-headroom-sparse")
    d.withColumn("doc_id", col("doc_id") + lit(100000000L))
      .write.mode("overwrite").parquet(s"$sparseDir/documents.parquet")
    assert(SparkEntry.queries("dedup_simhash_pairs")(spark, sparseDir)
      .count() >= 0L, "collision-free sparse ids must not trip the guard")
  }

  test("pipeline_funnel: every stage strictly fires (no no-op gate)") {
    // the oracle hash-matches WHATEVER the counts are — this gate pins
    // that each stage actually removes documents at the fixture SF
    // (equal neighbors == a gate wired to a constant), and that the
    // dedup stage's attrition is exactly the planted duplicates that
    // survived the text gates (n_rep > n_kept)
    val Array(r) = run("pipeline_funnel")
    val seq = Seq("n_docs", "n_lang", "n_quality", "n_rep", "n_kept")
      .map(r.getAs[Long])
    assert(seq.last > 0, "the funnel must keep something")
    seq.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      assert(a > b, s"stage ${i + 1} dropped nothing ($a -> $b): $seq")
    }
  }

  test("corpus_profile: approx mode tracks exact cardinalities without the Expand") {
    import graft.extensions.CorpusOps
    val d = graft.sources.Tables.load(spark, sf, "documents")
    def dist(exact: Boolean) = CorpusOps.profile(d, exact).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val exact = dist(exact = true)
    val approx = dist(exact = false)
    exact.foreach { case (c, n) =>
      assert(math.abs(approx(c) - n) <= math.max(2L, (n * 0.05).toLong),
        s"$c: approx ${approx(c)} vs exact $n")
    }
    // the scale posture: the sketch path must not pay the Expand data copy
    val approxPlan = CorpusOps.profile(d, exact = false)
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand"),
      s"approx profile must plan without Expand:\n${approxPlan.take(1500)}")
  }

  test("q_sessionize emits BIGINT session_seq with deterministic ordering") {
    val df = SparkEntry.queries("q_sessionize")(spark, sf)
    assert(df.schema("session_seq").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(df.count() > 0)
  }
}
