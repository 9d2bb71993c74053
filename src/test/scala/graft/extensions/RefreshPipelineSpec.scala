package graft.extensions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The end-to-end incremental corpus refresh (corpusDiff → carry/fresh
  * artifacts → decontaminate → curate → leakage-safe split → shard):
  * refresh ≡ rebuild equivalence, the O(changed) carried-row proof, and
  * stage attrition. */
class RefreshPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = graft.sources.Tables
    .load(spark, TestSpark.Sf0001, "documents")
    .filter(col("doc_id") < 200)
    .select(col("doc_id"), col("text"))

  // the fixture shape of the corpus_refresh_e2e row, shrunk: drop %13,
  // amend %11, add fresh docs for %17, plus a verbatim copy of every
  // 7th new-crawl doc (the exact-dup attrition)
  private def oldCrawl = docs
  private def newCrawl = {
    val base = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" amended")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 1000L).as("doc_id"),
          concat(lit("fresh crawl doc "), col("doc_id").cast("string"))
            .as("text")))
    base.unionByName(base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text")))
  }
  private def evalSet = docs.filter(col("doc_id") % 19 === 0)
    .select(col("text"))

  private def artKey(a: CorpusOps.CrawlArtifacts) = (
    a.metrics.select("doc_id", "lang_pred", "quality", "n_tokens_bpe",
      "fingerprint")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getString(4))).toSet,
    a.contaminated.collect().map(_.getLong(0)).toSet)

  test("refreshArtifacts == crawlArtifacts from scratch (refresh ≡ rebuild)") {
    val diff = CorpusOps.corpusDiff(oldCrawl, newCrawl, "doc_id", "text")
    val prior = CorpusOps.crawlArtifacts(oldCrawl, "doc_id", "text", evalSet)
    val refreshed = CorpusOps.refreshArtifacts(prior, newCrawl,
      "doc_id", "text", evalSet, diff)
    val scratch = CorpusOps.crawlArtifacts(newCrawl, "doc_id", "text", evalSet)
    assert(artKey(refreshed) === artKey(scratch))
    // ...and the exports they feed agree row-for-row
    val eRef = CorpusOps.curatedShardExport(refreshed).collect()
      .map(_.toSeq).toSet
    val eScr = CorpusOps.curatedShardExport(scratch).collect()
      .map(_.toSeq).toSet
    assert(eRef === eScr)
  }

  test("carried rows are REUSED, not recomputed: a poisoned prior row " +
    "for an unchanged doc survives into the refreshed artifacts") {
    // doc 1 is unchanged (1 % 13, % 11, % 17 all nonzero). Poison its
    // prior quality to a sentinel no kernel can produce: if the refresh
    // path re-ran the metric battery over unchanged docs, the sentinel
    // would be overwritten — its survival proves the heavy work is
    // O(changed), structurally.
    val diff = CorpusOps.corpusDiff(oldCrawl, newCrawl, "doc_id", "text")
    val prior = CorpusOps.crawlArtifacts(oldCrawl, "doc_id", "text", evalSet)
    val poisoned = prior.copy(metrics = prior.metrics
      .withColumn("quality",
        when(col("doc_id") === 1L, lit(99.0)).otherwise(col("quality"))))
    val refreshed = CorpusOps.refreshArtifacts(poisoned, newCrawl,
      "doc_id", "text", evalSet, diff)
    val q1 = refreshed.metrics.filter(col("doc_id") === 1L)
      .select("quality").collect().map(_.getDouble(0)).toSeq
    assert(q1 === Seq(99.0),
      "an unchanged doc's artifact must be CARRIED from the prior run")
    // while a CHANGED doc (11 % 11 == 0 -> amended) is recomputed fresh:
    // its quality must equal the from-scratch value even under a
    // poisoned prior
    val poisonedAll = prior.copy(metrics = prior.metrics
      .withColumn("quality", lit(99.0)))
    val refreshed2 = CorpusOps.refreshArtifacts(poisonedAll, newCrawl,
      "doc_id", "text", evalSet, diff)
    val scratch = CorpusOps.crawlArtifacts(newCrawl, "doc_id", "text", evalSet)
    val qChangedRef = refreshed2.metrics.filter(col("doc_id") === 11L)
      .select("quality").collect().map(_.getDouble(0)).toSeq
    val qChangedScr = scratch.metrics.filter(col("doc_id") === 11L)
      .select("quality").collect().map(_.getDouble(0)).toSeq
    assert(qChangedRef === qChangedScr && qChangedRef != Seq(99.0),
      "a changed doc must be recomputed from the new crawl's text")
  }

  test("refreshCorpusIndex(build(old), new, diff) == buildCorpusIndex(new): " +
    "the serving index versions off the same diff") {
    import spark.implicits._
    val diff = CorpusOps.corpusDiff(oldCrawl, newCrawl, "doc_id", "text")
    val refreshed = IndexFamily.Text.refresh(
      Dedup.buildCorpusIndex(oldCrawl, "doc_id", "text"),
      oldCrawl, newCrawl, "doc_id", "text", diff)
    val scratch = Dedup.buildCorpusIndex(newCrawl, "doc_id", "text")
    def postingSet(ix: Dedup.CorpusIndex) =
      ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
    def dfMap(ix: Dedup.CorpusIndex) =
      ix.dfCounts.select("gram", "df").as[(Long, Long)].collect().toMap
    assert(postingSet(refreshed) == postingSet(scratch))
    assert(dfMap(refreshed) == dfMap(scratch))
    // remove bumped once, extend bumped once
    assert(refreshed.version === 3L)
    // ...and a probe against the refreshed index equals the from-scratch
    // probe (the oracle row's contract)
    val batch = oldCrawl.filter(col("doc_id") % 5 === 0)
    def kept(ix: Dedup.CorpusIndex) =
      Dedup.dedupAgainstCorpus(batch, ix, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
    assert(kept(refreshed) == kept(scratch))
  }

  test("refreshBm25Stats(fit(old), diff) == bm25Fit(new); unchanged docs " +
    "are never re-tokenized on either index leg (poisoned text)") {
    val diff = CorpusOps.corpusDiff(oldCrawl, newCrawl, "doc_id", "text")
    val refreshed = IndexFamily.Bm25.refresh(
      Search.bm25Fit(oldCrawl, "doc_id", "text"),
      oldCrawl, newCrawl, "doc_id", "text", diff)
    val scratch = Search.bm25Fit(newCrawl, "doc_id", "text")
    def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(refreshed.nDocs === scratch.nDocs &&
      refreshed.sumDl === scratch.sumDl)
    assert(dfMap(refreshed) === dfMap(scratch))

    // O(changed) structurally: poison every UNCHANGED doc's text on both
    // crawls with a token no real doc contains. The retract half only
    // reads removed/changed old text and the extend half only
    // added/changed new text, so the poison must never reach the stats —
    // if any leg touched an unchanged doc, the sentinel term would
    // surface in the vocabulary (or the scalars would drift).
    val sameIds = diff.filter(col("status") === "same").select("doc_id")
    def poison(crawl: org.apache.spark.sql.DataFrame) = crawl
      .join(sameIds.withColumn("__same", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__same").isNotNull, lit("zzpoisonzz")).otherwise(col("text"))
          .as("text"))
    val refreshedPoisoned = IndexFamily.Bm25.refresh(
      Search.bm25Fit(oldCrawl, "doc_id", "text"),
      poison(oldCrawl), poison(newCrawl), "doc_id", "text", diff)
    assert(refreshedPoisoned.nDocs === scratch.nDocs &&
      refreshedPoisoned.sumDl === scratch.sumDl)
    val pDf = dfMap(refreshedPoisoned)
    assert(!pDf.contains("zzpoisonzz"),
      "an unchanged doc's text must never be re-tokenized by the refresh")
    assert(pDf === dfMap(scratch))

    // the text-gram leg under the same poison: remove needs no text at
    // all and extend semi-joins added/changed first, so the refreshed
    // index still equals a from-scratch build of the TRUE new crawl
    import spark.implicits._
    val refreshedIdx = IndexFamily.Text.refresh(
      Dedup.buildCorpusIndex(oldCrawl, "doc_id", "text"),
      oldCrawl, poison(newCrawl), "doc_id", "text", diff)
    val scratchIdx = Dedup.buildCorpusIndex(newCrawl, "doc_id", "text")
    def postingSet(ix: Dedup.CorpusIndex) =
      ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
    assert(postingSet(refreshedIdx) == postingSet(scratchIdx),
      "the index refresh must never shingle an unchanged doc's text")
  }

  test("refreshFunnel approx mode: HLL n_kept within 5% of exact, no " +
    "Expand in the plan; every other column identical") {
    val diff = CorpusOps.corpusDiff(oldCrawl, newCrawl, "doc_id", "text")
    val art = CorpusOps.refreshArtifacts(
      CorpusOps.crawlArtifacts(oldCrawl, "doc_id", "text", evalSet),
      newCrawl, "doc_id", "text", evalSet, diff)
    val exact = CorpusOps.refreshFunnel(diff, art, "doc_id").head()
    val approxDf = CorpusOps.refreshFunnel(diff, art, "doc_id", exact = false)
    val approx = approxDf.head()
    val cols = Seq("n_added", "n_changed", "n_removed", "n_same",
      "n_docs", "n_contaminated", "n_gated")
    cols.foreach { c =>
      assert(exact.getAs[Long](c) === approx.getAs[Long](c),
        s"$c must not depend on the distinct mode")
    }
    val (e, a) = (exact.getAs[Long]("n_kept"), approx.getAs[Long]("n_kept"))
    assert(math.abs(a - e) <= e * 0.05,
      s"HLL n_kept $a must sit within 5% of exact $e")
    // the point of the flag: the approx plan carries NO Expand
    assert(!approxDf.queryExecution.executedPlan.toString.contains("Expand"),
      "approx mode must not plan the multi-distinct Expand")
  }

  test("stage attrition: removed, contaminated and duplicate docs are " +
    "absent from the export; copies never straddle the keep decision") {
    val diff = CorpusOps.corpusDiff(oldCrawl, newCrawl, "doc_id", "text")
    val prior = CorpusOps.crawlArtifacts(oldCrawl, "doc_id", "text", evalSet)
    val art = CorpusOps.refreshArtifacts(prior, newCrawl,
      "doc_id", "text", evalSet, diff)
    val export = CorpusOps.curatedShardExport(art)
    val keptIds = export.select("doc_id").collect().map(_.getLong(0)).toSet
    // removed docs (%13) are gone
    assert(keptIds.forall(id => id % 13 != 0 || id >= 1000L))
    // contaminated docs: every unchanged doc quoted in the eval battery
    // (%19, not removed, not amended) must be dropped
    val contaminated = (0L until 200L)
      .filter(id => id % 19 == 0 && id % 13 != 0 && id % 11 != 0)
    assert(contaminated.forall(id => !keptIds.contains(id)),
      s"eval-quoted docs must drop, kept: ${contaminated.filter(keptIds)}")
    // planted copies (+5000) never survive next to their original: the
    // keep-first dedup keeps the min id, which is always the original
    assert(keptIds.forall(_ < 5000L),
      "a verbatim copy must lose keep-first dedup to its original")
    // shards are in range and the split column is the 3-way partition
    val shards = export.select("shard").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(shards.subsetOf((0L until 8L).toSet))
    val splits = export.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
  }
}
