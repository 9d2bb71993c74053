package graft.extensions

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Keyword retrieval: BM25 scoring/top-k and exact phrase search. */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 4 docs, dl = 4 each (avgdl exactly 4.0 -> norm arithmetic is easy):
  // 'cat' in docs 1 (tf 2) and 2 (tf 1); 'dog' in doc 3 only; doc 4
  // matches nothing
  private lazy val corpus = Seq(
    (1L, "cat cat mouse bird"),
    (2L, "cat fish fish fish"),
    (3L, "dog fish bird mouse"),
    (4L, "bird bird mouse fish")
  ).toDF("doc_id", "text")

  private def idf(n: Long, df: Long): Double =
    math.log(1.0 + (n.toDouble - df + 0.5) / (df.toDouble + 0.5))

  private def contrib(tf: Long, dl: Long, avgdl: Double, idf: Double,
                      k1: Double = 1.2, b: Double = 0.75): Double =
    idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))

  test("bm25Scores matches the hand-computed formula; non-matching docs absent") {
    val out = Search.bm25Scores(corpus, "doc_id", "text", Seq("cat", "dog"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("score"), r.getAs[Long]("dl"))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out.values.forall(_._2 === 4L))
    val (iCat, iDog) = (idf(4, 2), idf(4, 1))
    assert(out(1L)._1 === contrib(2, 4, 4.0, iCat))
    assert(out(2L)._1 === contrib(1, 4, 4.0, iCat))
    assert(out(3L)._1 === contrib(1, 4, 4.0, iDog))
  }

  test("top-k orders by score desc with doc_id tiebreak; OOV terms contribute 0") {
    // doc 3's rarer 'dog' (df 1) outscores the tf-2 'cat' (df 2): at
    // dl = avgdl the contribution is monotone in idf faster than tf
    val top = Search.bm25TopK(corpus, "doc_id", "text",
      Seq("cat", "dog", "zzz_absent"), k = 2)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(top === Seq(3L, 1L))
    // docs 1 and 2 tie on nothing; with an all-OOV query nothing matches
    assert(Search.bm25TopK(corpus, "doc_id", "text",
      Seq("zzz_absent"), k = 2).count() === 0L)
  }

  test("bm25 guards: empty and oversized queries refused") {
    intercept[IllegalArgumentException] {
      Search.bm25Scores(corpus, "doc_id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Search.bm25Scores(corpus, "doc_id", "text",
        (1 to 65).map(i => s"t$i"))
    }
  }

  test("fit/probe BM25 is bit-identical to the one-shot kernel") {
    val stats = Search.bm25Fit(corpus, "doc_id", "text")
    // fitted scalars: 4 docs, 16 tokens
    assert(stats.nDocs === 4L && stats.sumDl === 16L)
    val terms = Seq("cat", "dog", "zzz_absent")
    val oneShot = Search.bm25TopK(corpus, "doc_id", "text", terms, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val probed = Search.bm25TopKFitted(corpus, stats, "doc_id", "text",
      terms, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(probed.toSeq === oneShot.toSeq,
      "fit/probe must reproduce the one-shot scores bit-for-bit")
  }

  test("batch retrieval equals the single-query kernel per query") {
    val stats = Search.bm25Fit(corpus, "doc_id", "text")
    val queries = Seq((10L, "cat"), (10L, "dog"), (20L, "dog"),
      (30L, "zzz_absent")).toDF("query_id", "term")
    val out = Search.bm25BatchTopK(corpus, stats, "doc_id", "text",
      queries, k = 4)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("doc_id")) ->
        (r.getAs[Double]("score"), r.getAs[Long]("rank"))).toMap
    // query 10 == bm25Scores(terms sorted asc — the fold order)
    val single = Search.bm25Scores(corpus, "doc_id", "text",
      Seq("cat", "dog"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("score")).toMap
    assert(single.keySet === Set(1L, 2L, 3L))
    single.foreach { case (doc, s) =>
      assert(out((10L, doc))._1 === s,
        s"batch score for doc $doc must equal the single-query kernel")
    }
    // query 20: only doc 3 matches 'dog'
    assert(out.keySet.filter(_._1 == 20L) === Set((20L, 3L)))
    assert(out((20L, 3L))._2 === 1L)
    // all-OOV query 30 is absent entirely
    assert(out.keySet.forall(_._1 != 30L))
    // ranks are 1..n per query, ordered by score desc then doc_id
    val q10 = out.toSeq.collect { case ((10L, d), (s, rk)) => (rk, s, d) }
      .sortBy(_._1)
    assert(q10.map(_._1) === Seq(1L, 2L, 3L))
    assert(q10.sliding(2).forall { case Seq(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._3 < b._3) })
  }

  test("phraseHits counts overlapping occurrences on the normalized stream") {
    val docs = Seq(
      (1L, "a cat Cat! cat runs"), // normalized: a cat cat cat runs
      (2L, "the cat sat"),
      (3L, "cat and dog")
    ).toDF("doc_id", "text")
    val out = Search.phraseHits(docs, "doc_id", "text", "cat cat")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_hits")).toMap
    // overlapping windows both count: positions (2,3) and (3,4)
    assert(out === Map(1L -> 2L))
    // docs shorter than the phrase never match (descending-sequence guard)
    val short = Seq((9L, "cat")).toDF("doc_id", "text")
    assert(Search.phraseHits(short, "doc_id", "text", "cat cat mouse dog")
      .count() === 0L)
  }

  test("phraseHits normalizes the phrase through the document tokenizer") {
    val docs = Seq(
      (1L, "a cat Cat! cat runs"), // normalized: a cat cat cat runs
      (2L, "don t stop me")        // tokens: don, t, stop, me
    ).toDF("doc_id", "text")
    // mixed case + punctuation in the PHRASE must normalize exactly like
    // the document side (ADVICE r15: a raw whitespace split silently
    // matched nothing for these)
    val mixed = Search.phraseHits(docs, "doc_id", "text", "Cat cat")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_hits")).toMap
    assert(mixed === Map(1L -> 2L))
    val apos = Search.phraseHits(docs, "doc_id", "text", "Don't stop")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_hits")).toMap
    assert(apos === Map(2L -> 1L))
    // all-punctuation phrases have no tokens — refused, not silently empty
    assertThrows[IllegalArgumentException] {
      Search.phraseHits(docs, "doc_id", "text", "!!! ...")
    }
  }

  test("batch retrieval deduplicates repeated (query_id, term) rows") {
    val stats = Search.bm25Fit(corpus, "doc_id", "text")
    val once = Seq((10L, "cat"), (10L, "dog")).toDF("query_id", "term")
    val dup = Seq((10L, "cat"), (10L, "cat"), (10L, "dog"), (10L, "dog"),
      (10L, "cat")).toDF("query_id", "term")
    val a = Search.bm25BatchTopK(corpus, stats, "doc_id", "text", once, k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Long]("rank"))).toSet
    val b = Search.bm25BatchTopK(corpus, stats, "doc_id", "text", dup, k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Long]("rank"))).toSet
    assert(a === b,
      "a repeated term must not double-count its BM25 contribution")
  }

  test("bm25 stats save/load round-trips and serves bit-identical probes") {
    val dir = graft.TestSpark.tmpDir("graft-bm25-v1")
    val stats = Search.bm25Fit(corpus, "doc_id", "text")
    val saved = IndexFamily.Bm25.save(stats, dir)
    assert(saved.version === 1L && saved.savedDir.contains(dir))
    val stamp = IndexMeta.read(spark, dir).get
    assert(stamp.version === 1L && stamp.parent.isEmpty)
    assert(stamp.rows("df") === stats.docFreq.count())

    val loaded = IndexFamily.Bm25.load(spark, dir)
    assert(loaded.nDocs === stats.nDocs && loaded.sumDl === stats.sumDl)
    val terms = Seq("cat", "dog", "zzz_absent")
    val oneShot = Search.bm25TopK(corpus, "doc_id", "text", terms, k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).toSeq
    val served = Search.bm25TopKFitted(corpus, loaded, "doc_id", "text",
      terms, k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).toSeq
    assert(served === oneShot,
      "a probe served from a saved tree must be bit-identical to one-shot")
    IndexFamily.Bm25.close(loaded)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("extendBm25Stats == refit on the union corpus, exactly") {
    val a = corpus.filter(col("doc_id") <= 2L)
    val b = corpus.filter(col("doc_id") > 2L)
    val ext = IndexFamily.Bm25.extend(
      Search.bm25Fit(a, "doc_id", "text"), b, "doc_id", "text")
    val refit = Search.bm25Fit(corpus, "doc_id", "text")
    assert(ext.nDocs === refit.nDocs && ext.sumDl === refit.sumDl)
    def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(dfMap(ext) === dfMap(refit),
      "df counts are additive — extend must equal a from-scratch fit")
    // ...and the probes they serve agree bit-for-bit
    val terms = Seq("cat", "fish")
    val pe = Search.bm25TopKFitted(corpus, ext, "doc_id", "text", terms, k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val pr = Search.bm25TopKFitted(corpus, refit, "doc_id", "text", terms, k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(pe.toSeq === pr.toSeq)
  }

  test("retractBm25Stats == refit on the surviving corpus, exactly") {
    val survivors = corpus.filter(col("doc_id") <= 2L)
    val retired = corpus.filter(col("doc_id") > 2L)
    val retracted = IndexFamily.Bm25.remove(
      Search.bm25Fit(corpus, "doc_id", "text"), retired, "doc_id", "text")
    val refit = Search.bm25Fit(survivors, "doc_id", "text")
    assert(retracted.nDocs === refit.nDocs && retracted.sumDl === refit.sumDl)
    def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(dfMap(retracted) === dfMap(refit),
      "integer subtraction — retract must equal a from-scratch refit")
    // 'dog' lived only in retired doc 3: its last holder left, so it must
    // drop out of the vocabulary entirely, exactly as the refit drops it
    assert(!dfMap(retracted).contains("dog"))
    // probes served by both paths agree bit-for-bit
    val terms = Seq("cat", "fish", "dog")
    val pa = Search.bm25TopKFitted(survivors, retracted, "doc_id", "text",
      terms, k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val pb = Search.bm25TopKFitted(survivors, refit, "doc_id", "text",
      terms, k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(pa.toSeq === pb.toSeq)
    assert(retracted.version === 2L)
    // retract-then-extend (the `changed` document path) round-trips:
    // retire doc 2's old text, fold its amended text back in
    val amended = Seq((2L, "cat fish fish fish amended")).toDF("doc_id", "text")
    val refreshed = IndexFamily.Bm25.extend(
      IndexFamily.Bm25.remove(Search.bm25Fit(corpus, "doc_id", "text"),
        corpus.filter(col("doc_id") === 2L), "doc_id", "text"),
      amended, "doc_id", "text")
    val target = Search.bm25Fit(
      corpus.filter(col("doc_id") =!= 2L).unionByName(amended),
      "doc_id", "text")
    assert(refreshed.nDocs === target.nDocs && refreshed.sumDl === target.sumDl)
    assert(dfMap(refreshed) === dfMap(target))
  }

  test("bm25 extend bumps version + lineage; stale close refuses") {
    val dir = graft.TestSpark.tmpDir("graft-bm25-stale")
    val v1 = IndexFamily.Bm25.save(Search.bm25Fit(corpus.filter(col("doc_id") <= 2L),
      "doc_id", "text"), dir)
    val ext = IndexFamily.Bm25.extend(v1,
      corpus.filter(col("doc_id") > 2L), "doc_id", "text")
    assert(ext.version === 2L)
    assert(ext.savedDir.isEmpty,
      "an extension must not inherit the parent's tree")
    assert(ext.parent.contains(dir))
    // the extension saves over the SAME tree directly: save() stages the
    // df write and swaps, so the lazy merged plan reading the old files
    // needs no caller-side materialization (ADVICE r16)
    val v2 = IndexFamily.Bm25.save(ext, dir)
    assert(IndexMeta.read(spark, dir).get.version === 2L)
    assert(IndexMeta.read(spark, dir).get.parent.isEmpty,
      "in-place re-save must not stamp a self-referential parent")
    // the returned handle re-points at the saved files, so it still
    // serves after the old v1 files are gone
    assert(v2.docFreq.count() > 0L)
    val e = intercept[IllegalArgumentException](IndexFamily.Bm25.close(v1))
    assert(e.getMessage.contains("version 2") &&
      e.getMessage.contains("version 1"))
    IndexFamily.Bm25.close(v2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("save refuses a stamped tree the handle does not descend from") {
    val dir = graft.TestSpark.tmpDir("graft-bm25-clobber")
    val v1 = IndexFamily.Bm25.save(Search.bm25Fit(corpus.filter(col("doc_id") <= 2L),
      "doc_id", "text"), dir)
    val v2 = IndexFamily.Bm25.save(IndexFamily.Bm25.extend(v1,
      corpus.filter(col("doc_id") > 2L), "doc_id", "text"), dir)
    // the stale v1 handle may no longer clobber the v2 tree...
    val stale = intercept[IllegalArgumentException](IndexFamily.Bm25.save(v1, dir))
    assert(stale.getMessage.contains("version 2"))
    // ...and an unrelated fit (no lineage into dir) is refused too
    val alien = intercept[IllegalArgumentException] {
      IndexFamily.Bm25.save(Search.bm25Fit(corpus, "doc_id", "text"), dir)
    }
    assert(alien.getMessage.contains("does not descend"))
    // idempotent re-save of the current version stays allowed
    IndexFamily.Bm25.save(v2, dir)
    IndexFamily.Bm25.close(v2)
  }

  test("extend(load(dir)).save(dir) upgrades in place without clobbering " +
    "its own lazy input") {
    val dir = graft.TestSpark.tmpDir("graft-bm25-inplace")
    IndexFamily.Bm25.save(Search.bm25Fit(corpus.filter(col("doc_id") <= 2L), "doc_id", "text"), dir)
    // the ADVICE r16 failure shape verbatim: the loaded handle's lazy df
    // plan reads $dir/df, and save(dir) used to overwrite those files
    // while the staged plan still needed them
    val upgraded = IndexFamily.Bm25.save(IndexFamily.Bm25.extend(IndexFamily.Bm25.load(spark, dir),
      corpus.filter(col("doc_id") > 2L), "doc_id", "text"), dir)
    val refit = Search.bm25Fit(corpus, "doc_id", "text")
    val reload = IndexFamily.Bm25.load(spark, dir)
    assert(reload.version === 2L)
    assert(reload.nDocs === refit.nDocs && reload.sumDl === refit.sumDl)
    def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(dfMap(reload) === dfMap(refit))
    IndexFamily.Bm25.close(upgraded)
  }

  test("extendBm25Stats snapshots newDocs: source rows appended after the " +
    "extend never leak into the df merge") {
    val dir = graft.TestSpark.tmpDir("graft-bm25-snapshot")
    corpus.filter(col("doc_id") > 2L).write.mode("overwrite").parquet(dir)
    val ext = IndexFamily.Bm25.extend(
      Search.bm25Fit(corpus.filter(col("doc_id") <= 2L), "doc_id", "text"),
      spark.read.parquet(dir), "doc_id", "text")
    // the source grows AFTER the extend (a streaming sink still
    // receiving batches) — the already-collected scalars excluded these
    // rows, so the lazily-evaluated df counts must exclude them too
    corpus.select(col("doc_id") + 100L, col("text"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val refit = Search.bm25Fit(corpus, "doc_id", "text")
    def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(ext.nDocs === refit.nDocs && ext.sumDl === refit.sumDl)
    assert(dfMap(ext) === dfMap(refit),
      "df counts must come from the same snapshot as the scalars")
  }

  test("batch retrieval result is invariant to the tree-rank fanout") {
    val stats = Search.bm25Fit(corpus, "doc_id", "text")
    val queries = Seq((10L, "cat"), (10L, "dog"), (20L, "fish"))
      .toDF("query_id", "term")
    def run(fanout: Int) =
      Search.bm25BatchTopK(corpus, stats, "doc_id", "text", queries,
        k = 2, fanout = fanout)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
          r.getAs[Long]("rank"))).toSet
    val base = run(64)
    // the bucket key only bounds per-task sort size — never the answer
    assert(run(1) === base)
    assert(run(3) === base)
    assert(run(1024) === base)
    assertThrows[IllegalArgumentException] {
      Search.bm25BatchTopK(corpus, stats, "doc_id", "text", queries,
        k = 2, fanout = 0)
    }
  }
}
