package graft.extensions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "into the deep green forest while the sun sets slowly behind tall mountains"

  private def docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base.replace("quick", "speedy")), // near dup of 1
    (4L, "completely different content about spark query engines and columnar " +
      "execution with shuffles joins aggregations and window functions at scale"),
    (5L, "another unrelated short text")
  ).toDF("doc_id", "text")

  test("builtin-composed minhash/simhash forms: deterministic, dup-sensitive reference semantics") {
    import graft.functions.TextFunctions
    // expression-staging rule: materialize the base arrays as columns
    val staged = docs
      .withColumn("__mb", Dedup.minhashBase(col("text"), 3))
      .withColumn("__th", Dedup.tokenHashes(col("text")))
      .select(col("doc_id"),
        Dedup.minhashSignature(col("__mb"), 16).as("sig"),
        Dedup.simhash64(col("__th")).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    // identical docs -> identical signature and simhash
    assert(staged(1L) == staged(2L))
    // near dup agrees on most minhash positions; unrelated doc agrees on few
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(agree(staged(1L)._1, staged(3L)._1) > agree(staged(1L)._1, staged(4L)._1))
    // simhash hamming: near dup closer than unrelated
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(staged(1L)._2, staged(3L)._2) < ham(staged(1L)._2, staged(4L)._2))
    // simhash Column form matches the native expression exactly (same
    // xxhash64 seed -> interchangeable results)
    val nativeSh = docs.select(col("doc_id"),
      graft.functions.HashExpressions.simhash64(
        TextFunctions.tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(staged.forall { case (id, (_, sh)) => nativeSh(id) == sh })
  }

  test("exact dedup keeps lowest id per distinct text") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L))
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    assert(groups.filter(col("keep_id") === 1).select("n_dups").as[Long].head() == 2L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must be found")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), "near dup must be found")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
    // jaccard of identical docs is exactly 1
    val j = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("simhash: identical docs at hamming 0, near dups within 6, unrelated far") {
    val pairs = Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 6)
      .select(col("id_a"), col("id_b"), col("hamming")).as[(Long, Long, Long)]
      .collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard: identical = 1.0, near dup high, bounded by threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard")).as[(Long, Long, Double)]
      .collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    val near = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(near.nonEmpty && near.get._3 > 0.5 && near.get._3 < 1.0)
  }

  // chain 1-2-3 (needs >1 propagation round), clique {20,21,22}, pair {10,11}
  private def chainCliquePair = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
    (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")

  test("resolveDupGroups: transitive closure, min-id labels, chain + clique + pair") {
    val resolved = Dedup.resolveDupGroups(chainCliquePair) // a checkpoint; released below
    val groups = resolved.as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))

    // terminal dedup: representatives survive, other members drop, docs in
    // no group (99) pass through untouched
    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 99L).toDF("doc_id")
    val kept = Dedup.keepRepresentatives(corpus, "doc_id", resolved)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L, 99L))
    graft.util.Util.releaseCheckpoints(resolved)
  }

  test("resolveDupGroups strands no pin: no cache entry, one persisted RDD (the result)") {
    // shifted ids: the plans must not equal the test above's, or a cache
    // entry it left could be reused instead of added
    val pairs = chainCliquePair.select(col("id_a") + 100, col("id_b") + 100)
      .toDF("id_a", "id_b")
    val (cached, rdds) = (TestSpark.cacheEntries, TestSpark.persistentRdds)
    val resolved = Dedup.resolveDupGroups(pairs)
    assert(TestSpark.cacheEntries == cached, "the loop must leave no CacheManager entry")
    val added = TestSpark.persistentRdds -- rdds
    assert(added.size <= 1, s"only the returned checkpoint may stay persisted: $added")
    // ...and that one is the RDD under the returned frame
    val leaves = resolved.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(added.subsetOf(leaves.toSet))
    assert(resolved.count() == 8L)
    graft.util.Util.releaseCheckpoints(resolved)
    assert((TestSpark.persistentRdds -- rdds).isEmpty, "releaseCheckpoints frees the result")
  }

  test("resolveDupGroups over a three-deep persisted input: only the edge list prints it") {
    // corpus -> exact -> pairs, each persisted: every InMemoryRelation
    // prints its whole cached plan, and Spark re-formats the plan at each
    // SQL execution start and AQE update. The one execution that reads
    // `pairs` (the edge list) must print that stack; the rounds, which
    // plan over checkpoint leaves, must not print it again.
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.filter(col("doc_id") % 5 === 1).select(
      (col("doc_id") + 1000000L).as("doc_id"), concat(col("text"), lit(" x")).as("text")))
      .persist()
    val exact = Dedup.exactDedup(corpus, "doc_id", "text").persist()
    val pairs = Dedup.minhashDupPairs(exact, "doc_id", "text").persist()
    try {
      assert(pairs.count() > 0L)
      val (groups, perExecution) = TestSpark.planTextPosted(Dedup.resolveDupGroups(pairs))
      assert(groups.count() > 0L)
      val input = perExecution.values.max
      val loop = perExecution.values.sum - input
      assert(loop < 256L * 1024,
        s"the rounds posted $loop chars of plan text (the input's query: $input)")
    } finally Seq(pairs, exact, corpus).foreach(_.unpersist(false))
  }

  test("verified simhash pairs: Hamming candidates filtered to exact-Jaccard dups") {
    val verified = Dedup.simhashDupPairsVerified(docs, "doc_id", "text",
      maxHamming = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val raw = Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(raw), "verify can only REMOVE candidates")
    assert(verified.contains((1L, 2L)), "identical docs survive the verify")
    assert(verified.contains((1L, 3L)), "true near-dup survives")
    assert(!verified.exists(p => p._1 == 4L || p._2 == 4L),
      "an unrelated doc sharing no shingles cannot pass exact Jaccard")
    // the verified set carries the SAME guarantee as the n-gram path
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(exact))
  }

  test("incremental dedup: batch probes the corpus index; batch-internal dups survive") {
    // corpus: docs 1-5; batch: an exact copy of 1, a near copy of 1, a
    // novel doc, and TWO copies of the same novel text (batch-internal
    // dup — out of scope by contract, both must survive)
    val novel = "entirely new material about distributed checkpointing and " +
      "watermark semantics in long running stream processing applications today"
    val batch = Seq(
      (101L, base),                          // exact dup of corpus doc 1
      (102L, base.replace("quick", "rapid")), // near dup of corpus doc 1
      (103L, novel),
      (104L, novel + " with a tail"),
      (105L, novel + " with a tail")          // batch-internal dup of 104
    ).toDF("doc_id", "text")

    val index = Dedup.buildCorpusIndex(docs, "doc_id", "text").persist()
    try {
      val kept = Dedup.dedupAgainstCorpus(batch, index, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(103L, 104L, 105L),
        "corpus dups drop; novel docs AND batch-internal dups survive")

      // idempotence on a clean batch: nothing novel is ever dropped
      val clean = Seq((201L, novel)).toDF("doc_id", "text")
      assert(Dedup.dedupAgainstCorpus(clean, index, "doc_id", "text").count() == 1L)

      // a batch doc sharing only STOP-GRAMS (df-cut) with the corpus is
      // not even a candidate: index grams above the cut are dropped
      val tiny = Dedup.buildCorpusIndex(docs, "doc_id", "text", maxGramDf = 1)
      // doc 1's grams have corpus df 2 (docs 1 and 2 are identical) ->
      // all cut; probing an exact copy of doc 1 finds nothing
      val probe = Seq((301L, base)).toDF("doc_id", "text")
      assert(Dedup.dedupAgainstCorpus(probe, tiny, "doc_id", "text").count() == 1L)

      // save/load round-trip: a reloaded index (fresh session lifecycle)
      // probes to the identical keep-set
      val ixDir = graft.TestSpark.tmpDir("graft-corpus-index")
      IndexFamily.Text.save(index, ixDir)
      val loaded = IndexFamily.Text.load(spark, ixDir)
      val keptLoaded = Dedup.dedupAgainstCorpus(batch, loaded, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(keptLoaded == kept, "reloaded index must probe identically")

      // one-call version retirement: close() deletes the saved tree
      // (the load recorded its dir); a never-saved index has nothing
      // on disk to delete and close() is just unpersist
      assert(loaded.savedDir.contains(ixDir))
      IndexFamily.Text.close(loaded)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ixDir)),
        "close() must delete the saved index tree")
      assert(index.savedDir.isEmpty)
    } finally index.unpersist()
  }

  test("incremental dedup agrees with the symmetric operator's cross-side pairs") {
    // property: with the df-cut disabled (cap >> corpus), the batch docs
    // dropped by dedupAgainstCorpus are EXACTLY those appearing in a
    // cross-side pair of the symmetric ngramJaccardPairs over the union —
    // two independent formulations of the same semantics
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rng = new scala.util.Random(42)
    def text() = Seq.fill(8 + rng.nextInt(8))(words(rng.nextInt(words.size))).mkString(" ")
    val corpusRows = (1L to 30L).map(i => (i, text()))
    // batch: 10 fresh random docs + 5 mutated copies of corpus docs
    val batchRows = (101L to 110L).map(i => (i, text())) ++
      (111L to 115L).map { i =>
        val src = corpusRows((i % 30).toInt)._2
        (i, src.replaceFirst("\\w+", "omega"))
      }
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")

    val index = Dedup.buildCorpusIndex(corpus, "doc_id", "text", maxGramDf = 10000)
    val kept = Dedup.dedupAgainstCorpus(batch, index, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet

    val crossDropped = Dedup.ngramJaccardPairs(
      corpus.union(batch), "doc_id", "text", threshold = 0.5, maxGramDf = 10000)
      .filter((col("id_a") <= 30 && col("id_b") > 100) ||
        (col("id_b") <= 30 && col("id_a") > 100))
      .select(when(col("id_a") > 100, col("id_a")).otherwise(col("id_b")).as("bid"))
      .as[Long].collect().toSet
    assert(kept == batchRows.map(_._1).toSet -- crossDropped,
      s"kept=$kept crossDropped=$crossDropped")
    assert(crossDropped.nonEmpty, "fixture sanity: mutated copies must match")
  }

  test("extendCorpusIndex(build(A), B) equals buildCorpusIndex(A union B)") {
    // corpus versioning: extension re-cuts with the index's own df, so a
    // gram crossing the cut only after the new docs arrive is dropped
    // exactly as a from-scratch build drops it. Low df-cut (3) + repeated
    // templates make the fixture actually exercise that crossing.
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rng = new scala.util.Random(7)
    def text() = Seq.fill(6 + rng.nextInt(6))(words(rng.nextInt(words.size))).mkString(" ")
    val a = (1L to 20L).map(i => (i, text())).toDF("doc_id", "text")
    val b = (21L to 40L).map(i => (i, if (i % 4 == 0) "alpha beta gamma delta repeated"
      else text())).toDF("doc_id", "text")

    val extended = IndexFamily.Text.extend(
      Dedup.buildCorpusIndex(a, "doc_id", "text", maxGramDf = 3),
      b, "doc_id", "text")
    val scratch = Dedup.buildCorpusIndex(a.union(b), "doc_id", "text", maxGramDf = 3)
    assert(extended.shingleK == scratch.shingleK &&
      extended.maxGramDf == scratch.maxGramDf)

    def postingSet(ix: Dedup.CorpusIndex) =
      ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
    assert(postingSet(extended) == postingSet(scratch),
      "extended postings must equal the from-scratch build's")

    // the O(new) extension maintains the gram dictionary incrementally
    // (old counts + new-doc counts); it must equal a from-scratch
    // regroup or a LATER extension would cut with drifted df
    def dfMap(ix: Dedup.CorpusIndex) =
      ix.dfCounts.select("gram", "df").as[(Long, Long)].collect().toMap
    assert(dfMap(extended) == dfMap(scratch),
      "extended gram dictionary must equal the from-scratch build's")

    // ...and both probe a batch identically
    val batch = Seq((101L, a.as[(Long, String)].head()._2),
      (102L, "totally novel content never seen before anywhere"))
      .toDF("doc_id", "text")
    def kept(ix: Dedup.CorpusIndex) =
      Dedup.dedupAgainstCorpus(batch, ix, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
    assert(kept(extended) == kept(scratch))

    // the candidate-bound doc stats are maintained incrementally too
    // (old stats decremented by crossing-gram postings, new docs counted
    // from scratch) — drifted stats would make the probe's lossless
    // bound WRONG, i.e. silently drop true matches
    def statsMap(ix: Dedup.CorpusIndex) =
      ix.docStats.select("doc_id", "n_grams", "n_indexed")
        .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(statsMap(extended) == statsMap(scratch),
      "extended doc stats must equal the from-scratch build's")

    // versioning is iterable: a SECOND extension cuts with the merged
    // dictionary, not the original build's — extend(extend(A,B),C) ≡
    // build(A∪B∪C)
    val c = (41L to 50L).map(i => (i, if (i % 3 == 0) "alpha beta gamma delta repeated"
      else text())).toDF("doc_id", "text")
    val twice = IndexFamily.Text.extend(extended, c, "doc_id", "text")
    val scratch3 = Dedup.buildCorpusIndex(a.union(b).union(c), "doc_id", "text",
      maxGramDf = 3)
    assert(postingSet(twice) == postingSet(scratch3),
      "chained extension postings must equal a from-scratch build over all three")
    assert(dfMap(twice) == dfMap(scratch3))
    assert(statsMap(twice) == statsMap(scratch3))
  }

  test("removeFromCorpusIndex(build(A ∪ R), R) equals buildCorpusIndex(A)") {
    // the removal half of the lifecycle, including the df cut running
    // BACKWARD: the repeated-template docs in R push shared grams over
    // the low cut (3) at build time, so the combined index never indexed
    // them — removing R pulls those grams back under the cut and their
    // surviving postings must be RE-ADMITTED from the stored shingles,
    // exactly as a from-scratch build on A would index them.
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rng = new scala.util.Random(7)
    def text() = Seq.fill(6 + rng.nextInt(6))(words(rng.nextInt(words.size))).mkString(" ")
    // the template appears TWICE in A (df 2 ≤ cut 3: indexed by a build
    // on A alone) and five more times in R (combined df 7 > cut: NOT
    // indexed by the combined build) — removal must re-admit it
    val a = (1L to 20L).map(i => (i, if (i % 10 == 0) "alpha beta gamma delta repeated"
      else text())).toDF("doc_id", "text")
    val r = (21L to 40L).map(i => (i, if (i % 4 == 0) "alpha beta gamma delta repeated"
      else text())).toDF("doc_id", "text")

    val combined = Dedup.buildCorpusIndex(a.union(r), "doc_id", "text", maxGramDf = 3)
    val scratchA = Dedup.buildCorpusIndex(a, "doc_id", "text", maxGramDf = 3)
    // fixture sanity: the shared template gram must actually cross back
    // (over the cut in the combined build, under it on A alone)
    def dfMap(ix: Dedup.CorpusIndex) =
      ix.dfCounts.select("gram", "df").as[(Long, Long)].collect().toMap
    val combinedDf = dfMap(combined)
    val aDf = dfMap(scratchA)
    assert(aDf.exists { case (g, df) => df <= 3 && combinedDf(g) > 3 },
      "fixture sanity: some gram must cross BACK under the cut on removal")

    val removed = IndexFamily.Text.remove(combined,
      r.select(col("doc_id")), "doc_id", "text")
    def postingSet(ix: Dedup.CorpusIndex) =
      ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
    assert(postingSet(removed) == postingSet(scratchA),
      "removal must re-admit crossing-back grams' surviving postings")
    assert(dfMap(removed) == aDf,
      "removed dictionary must equal the from-scratch build's (zero-df grams gone)")
    def statsMap(ix: Dedup.CorpusIndex) =
      ix.docStats.select("doc_id", "n_grams", "n_indexed")
        .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(statsMap(removed) == statsMap(scratchA),
      "doc stats must re-gain the re-admitted postings or the lossless bound drifts")
    assert(removed.version === combined.version + 1)

    // ...and both serve a probe identically (the contract a refresh needs:
    // a batch doc near-dupping ONLY retired docs is no longer dropped)
    val batch = Seq(
      (101L, "alpha beta gamma delta repeated"),
      (102L, "totally novel content never seen before anywhere"))
      .toDF("doc_id", "text")
    def kept(ix: Dedup.CorpusIndex) =
      Dedup.dedupAgainstCorpus(batch, ix, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
    assert(kept(removed) == kept(scratchA))

    // remove-then-extend (the `changed` path) round-trips through the
    // merged dictionary: extend(remove(build(A∪R), R), C) ≡ build(A∪C)
    val c = (41L to 50L).map(i => (i, text())).toDF("doc_id", "text")
    val roundTrip = IndexFamily.Text.extend(removed, c, "doc_id", "text")
    val scratchAC = Dedup.buildCorpusIndex(a.union(c), "doc_id", "text", maxGramDf = 3)
    assert(postingSet(roundTrip) == postingSet(scratchAC))
    assert(dfMap(roundTrip) == dfMap(scratchAC))
    assert(statsMap(roundTrip) == statsMap(scratchAC))
  }

  test("removeFromEmbeddingIndex(build(A ∪ R), R) equals buildEmbeddingIndex(A)") {
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val all = e.select(col("vec_id"), col("embedding"))
    val keepSide = all.filter(col("vec_id") % 3 =!= 0)
    val rmIds = all.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val removed = IndexFamily.Embedding.remove(
      Dedup.buildEmbeddingIndex(all, "vec_id", "embedding"), rmIds, "vec_id", "embedding")
    val scratch = Dedup.buildEmbeddingIndex(keepSide, "vec_id", "embedding")
    def bucketSet(ix: Dedup.EmbeddingIndex) =
      ix.buckets.select("doc_id", "band", "bucket")
        .as[(Long, Int, Long)].collect().toSet
    assert(bucketSet(removed) == bucketSet(scratch),
      "deterministic hyperplanes: survivors bucket identically on both paths")
    assert(removed.vectors.count() === scratch.vectors.count())
    assert(removed.version === 2L)
  }

  test("candidate bound is lossless: pruned probe equals the unpruned formulation") {
    // real docs table (planted near-dup clusters): the bound may only
    // remove pairs the exact verify would reject anyway, so the match
    // relation must be IDENTICAL to the pre-bound verify-everything
    // formulation, row for row and score for score
    val d = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    val batch = d.filter(col("doc_id") % 5 === 0)
    val index = Dedup.buildCorpusIndex(corpus, "doc_id", "text").persist()
    try {
      val pruned = Dedup.corpusDupMatches(batch, index, "doc_id", "text", 0.5)
        .select("batch_id", "corpus_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      // the pre-bound formulation, inlined: every candidate pair goes
      // straight to the exact verify
      val bsh = batch.select(col("doc_id"),
        graft.functions.HashExpressions.hashed_shingles(
          graft.functions.TextFunctions.tokens(col("text")), 3).as("sh"))
      val unpruned = bsh
        .select(col("doc_id").as("batch_id"), explode(col("sh")).as("gram"))
        .join(index.postings.select(col("gram"), col("doc_id").as("corpus_id")),
          Seq("gram"))
        .select(col("batch_id"), col("corpus_id")).distinct()
        .join(bsh.select(col("doc_id").as("batch_id"), col("sh").as("sh_b")),
          Seq("batch_id"))
        .join(index.shingles.select(col("doc_id").as("corpus_id"),
          col("sh").as("sh_c")), Seq("corpus_id"))
        .withColumn("__i", graft.functions.HashExpressions
          .sorted_intersect_count(col("sh_b"), col("sh_c")))
        .select(col("batch_id"), col("corpus_id"),
          (col("__i").cast("double") /
            (size(col("sh_b")).cast("long") + size(col("sh_c")) - col("__i")))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .as[(Long, Long, Double)].collect().toSet
      assert(pruned == unpruned, "the bound must never change the match set")
      assert(pruned.nonEmpty, "fixture sanity: the split plants real matches")
    } finally index.unpersist()
  }

  test("extendEmbeddingIndex(build(A), B) equals buildEmbeddingIndex(A union B)") {
    // versioning symmetry with the text form: the extension buckets new
    // vectors with the index's OWN planes/bands, so the bucket relation
    // and probe keep-set must match a from-scratch fit over the union
    val rng = new scala.util.Random(11)
    def vec() = Array.fill(8)(rng.nextFloat() * 2 - 1)
    val a = (1L to 20L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val bRows = (21L to 40L).map(i => (i, vec()))
    val b = bRows.toDF("vec_id", "embedding")

    val extended = IndexFamily.Embedding.extend(
      Dedup.buildEmbeddingIndex(a, "vec_id", "embedding", planes = 12, bands = 8),
      b, "vec_id", "embedding")
    val scratch = Dedup.buildEmbeddingIndex(a.union(b), "vec_id", "embedding",
      planes = 12, bands = 8)
    assert(extended.planes == scratch.planes && extended.bands == scratch.bands)

    def bucketSet(ix: Dedup.EmbeddingIndex) =
      ix.buckets.select("doc_id", "band", "bucket").as[(Long, Int, Long)]
        .collect().toSet
    assert(bucketSet(extended) == bucketSet(scratch),
      "extended buckets must equal the from-scratch fit's")
    assert(extended.vectors.count() == 40L)

    // ...and both probe a batch identically: a near-copy of an A vector
    // and of a B vector must both drop (the extension's buckets must be
    // probe-visible), a fresh vector survives
    val aCopy = a.as[(Long, Array[Float])].head()._2.clone()
    aCopy(0) = aCopy(0) + 0.001f
    val bCopy = bRows.head._2.clone()
    bCopy(0) = bCopy(0) + 0.001f
    val batch = Seq((101L, aCopy), (102L, bCopy), (103L, vec()))
      .toDF("vec_id", "embedding")
    def kept(ix: Dedup.EmbeddingIndex) =
      Dedup.dedupEmbeddingsAgainstCorpus(batch, ix, "vec_id", "embedding",
        threshold = 0.98)
        .select("vec_id").as[Long].collect().toSet
    val ke = kept(extended)
    assert(ke == kept(scratch), "extended and from-scratch must probe identically")
    assert(!ke.contains(101L) && !ke.contains(102L),
      "near-copies of both the base and extension vectors must drop")
  }

  test("provenance: dropped docs report their best corpus match, ties to lowest id") {
    val batch = Seq(
      (101L, base),                           // exact dup of corpus docs 1 AND 2
      (102L, base.replace("quick", "rapid")), // near dup of 1 and 2 equally
      (103L, "entirely novel text about nothing in the corpus at all today")
    ).toDF("doc_id", "text")
    val index = Dedup.buildCorpusIndex(docs, "doc_id", "text")
    val prov = Dedup.corpusDupProvenance(batch, index, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // docs 1 and 2 are identical, so both batch dups tie across them —
    // the winner must be the LOWEST corpus id, deterministically
    assert(prov(101L)._1 == 1L && prov(101L)._2 == 1.0)
    assert(prov(102L)._1 == 1L && prov(102L)._2 > 0.5 && prov(102L)._2 < 1.0)
    assert(!prov.contains(103L), "a kept doc has no provenance row")
    // provenance ids == the drop set of the dedup itself
    val dropped = batch.select("doc_id").as[Long].collect().toSet --
      Dedup.dedupAgainstCorpus(batch, index, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
    assert(prov.keySet == dropped)

    // embedding analog
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(1.0f, 0.0f, 0.5f, 0.2f)), // identical to 1 -> tie target
      (3L, Array(0.1f, 0.9f, -0.3f, 0.4f))
    ).toDF("vec_id", "embedding")
    val batchE = Seq(
      (101L, Array(1.0f, 0.01f, 0.5f, 0.2f)), // near-copy of 1 and 2
      (102L, Array(0.0f, 0.0f, 0.0f, 1.0f))   // unrelated -> kept, no row
    ).toDF("vec_id", "embedding")
    val eix = Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      planes = 12, bands = 8)
    val eProv = Dedup.embeddingDupProvenance(batchE, eix, "vec_id", "embedding",
      threshold = 0.95)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(eProv.keySet == Set(101L))
    assert(eProv(101L)._1 == 1L && eProv(101L)._2 > 0.99)
  }

  test("provenance works with STRING corpus ids (ties to lexicographic min)") {
    // the tie-break negates the SCORE, not the id, so non-numeric ids —
    // a URL, a UUID, a shard/path key — are first-class; negating a
    // string id would nullify it and corrupt the best-match answer
    val corpus = Seq(("doc-b", base), ("doc-a", base),
      ("doc-z", "completely different content living here"))
      .toDF("doc_id", "text")
    val index = Dedup.buildCorpusIndex(corpus, "doc_id", "text")
    val batch = Seq(("new-1", base)).toDF("doc_id", "text")
    val prov = Dedup.corpusDupProvenance(batch, index, "doc_id", "text")
      .as[(String, String, Double)].collect()
    assert(prov.toSeq == Seq(("new-1", "doc-a", 1.0)),
      "identical corpus docs under string ids must tie to the lexicographic min")
  }

  test("loadCorpusIndex reads pre-round-9 trees: no df dir, one-column meta") {
    // format compatibility: an index tree written before the gram
    // dictionary existed (no df/ dir, meta without max_gram_df) must
    // load with the historical default cut and a dictionary recomputed
    // from the stored shingle sets — "the index outlives the session"
    // includes outliving the format change
    val ixDir = graft.TestSpark.tmpDir("graft-oldfmt-index")
    val index = Dedup.buildCorpusIndex(docs, "doc_id", "text")
    IndexFamily.Text.save(index, ixDir)
    graft.util.Util.deleteRecursively(new java.io.File(s"$ixDir/df"))
    Seq(3).toDF("shingle_k").write.mode("overwrite").parquet(s"$ixDir/meta")

    val loaded = IndexFamily.Text.load(spark, ixDir)
    assert(loaded.shingleK == 3 && loaded.maxGramDf == 100)
    def dfMap(ix: Dedup.CorpusIndex) =
      ix.dfCounts.select("gram", "df").as[(Long, Long)].collect().toMap
    assert(dfMap(loaded) == dfMap(index),
      "recomputed dictionary must equal the build's")

    // ...and the loaded old-format tree probes AND extends like a
    // modern one (extension needs the dictionary — the recompute is
    // what makes old trees versionable at all)
    val batch = Seq((101L, base), (102L, "fresh never seen words")).toDF("doc_id", "text")
    def kept(ix: Dedup.CorpusIndex) =
      Dedup.dedupAgainstCorpus(batch, ix, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
    assert(kept(loaded) == kept(index))
    val newDocs = Seq((6L, "entirely novel appended document text")).toDF("doc_id", "text")
    assert(dfMap(IndexFamily.Text.extend(loaded, newDocs, "doc_id", "text")) ==
      dfMap(IndexFamily.Text.extend(index, newDocs, "doc_id", "text")))
    IndexFamily.Text.close(loaded)
  }

  test("O(new) extension: the plans never re-read the old corpus's shingle sets") {
    // the 100 TB contract behind extendCorpusIndex: extending a LOADED
    // index must not re-explode the stored shingle sets (the pre-round-9
    // full-union regroup) — the dictionary update merges two skinny
    // relations and the old postings are touched by ONE anti-join. A
    // regression to the regroup shape shows up as a scan of the saved
    // shingles tree inside the postings/dictionary plans.
    val ixDir = graft.TestSpark.tmpDir("graft-extend-plan")
    IndexFamily.Text.save(Dedup.buildCorpusIndex(docs, "doc_id", "text"), ixDir)
    val loaded = IndexFamily.Text.load(spark, ixDir)
    val ext = IndexFamily.Text.extend(loaded,
      Seq((10L, "brand new appended words")).toDF("doc_id", "text"),
      "doc_id", "text")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!plan(ext.dfCounts).contains("shingles"),
      "dictionary merge must not touch the shingles tree")
    val postingsPlan = plan(ext.postings)
    assert(!postingsPlan.contains("shingles"),
      "postings update must not re-derive from the shingles tree")
    assert(postingsPlan.contains("LeftAnti"),
      s"old postings must be touched by one anti-join only:\n${postingsPlan.take(2000)}")
    IndexFamily.Text.close(loaded)
  }

  test("incremental embedding dedup: near-copies drop, orthogonal/negated vectors survive") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(0.1f, 0.9f, -0.3f, 0.4f))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (101L, Array(1.0f, 0.01f, 0.5f, 0.2f)),   // near-copy of 1 -> drop
      (102L, Array(-1.0f, 0.0f, -0.5f, -0.2f)), // negation of 1 -> keep
      (103L, Array(0.0f, 0.0f, 0.0f, 1.0f))     // unrelated -> keep
    ).toDF("vec_id", "embedding")
    val index = Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      planes = 12, bands = 8).persist()
    try {
      val kept = Dedup.dedupEmbeddingsAgainstCorpus(batch, index,
        "vec_id", "embedding", threshold = 0.95)
        .select("vec_id").as[Long].collect().toSet
      assert(kept == Set(102L, 103L))

      // save/load round-trip: planes/bands ride in the saved meta, so a
      // reloaded index (fresh-job lifecycle) buckets identically and
      // probes to the same keep-set
      val ixDir = graft.TestSpark.tmpDir("graft-emb-index")
      Dedup.saveEmbeddingIndex(index, ixDir)
      val loaded = Dedup.loadEmbeddingIndex(spark, ixDir)
      assert(loaded.planes == index.planes && loaded.bands == index.bands)
      val keptLoaded = Dedup.dedupEmbeddingsAgainstCorpus(batch, loaded,
        "vec_id", "embedding", threshold = 0.95)
        .select("vec_id").as[Long].collect().toSet
      assert(keptLoaded == kept, "reloaded embedding index must probe identically")

      // one-call retirement, same contract as the text form
      IndexFamily.Embedding.close(loaded)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ixDir)),
        "close() must delete the saved embedding index tree")
    } finally index.unpersist()
  }

  test("embedding dup pairs find identical and near-identical vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(1.0f, 0.0f, 0.5f, 0.2f)),            // identical
      (3L, Array(0.99f, 0.01f, 0.5f, 0.2f)),          // near
      (4L, Array(-1.0f, 0.3f, -0.5f, 0.9f))           // far
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, planes = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }
}
