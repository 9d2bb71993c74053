package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.extensions.IndexFamily
import graft.operators.CurrentState

class CdcStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Stage the events parquet into a fresh dir that plays the change-log. */
  private def stageSource(): String = {
    val dir = TestSpark.tmpDir("graft-stream-src")
    Files.copy(
      Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      Paths.get(s"$dir/events_000.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("streaming ingest: AvailableNow drains the log exactly once, restart is a no-op") {
    val src = stageSource()
    val sink = TestSpark.tmpDir("graft-stream-sink")
    val ckpt = TestSpark.tmpDir("graft-stream-ckpt")

    val q1 = CdcStream.startIngest(spark, src, sink, ckpt,
      "events", nmsCol = "ts", pkCol = "event_id")
    q1.awaitTermination()

    val log = spark.read.parquet(s"$sink/events_cdc")
    assert(log.count() == 1000L)
    assert(log.select(countDistinct(col("event_id"))).as[Long].head() == 1000L)

    // restart with same checkpoint: no files are new -> nothing re-appended
    val q2 = CdcStream.startIngest(spark, src, sink, ckpt,
      "events", nmsCol = "ts", pkCol = "event_id")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$sink/events_cdc").count() == 1000L)

    // a NEW file with overlapping content arrives (at-least-once upstream):
    Files.copy(Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      Paths.get(s"$src/events_001.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q3 = CdcStream.startIngest(spark, src, sink, ckpt,
      "events", nmsCol = "ts", pkCol = "event_id")
    q3.awaitTermination()
    val after = spark.read.parquet(s"$sink/events_cdc").drop("snapshot_dt")
    // log may now hold duplicates -> the W1 view restores exactly-once
    val view = CurrentState.latestByKeyAgg(after, Seq("event_id"), "snapshot_tm", Seq("ts"))
    assert(view.count() == 1000L)

    // snapshot_dt partitions carry REAL capture dates, not 1970-01-01
    // (the batch-id-as-epoch-millis degenerate partitioning bug)
    val dts = spark.read.parquet(s"$sink/events_cdc")
      .select("snapshot_dt").distinct().as[java.sql.Date].collect()
    assert(dts.nonEmpty && dts.forall(_.after(java.sql.Date.valueOf("2020-01-01"))))
  }

  test("streaming corpus-dedup ingest: novel docs append, corpus dups drop, restart is a no-op") {
    import graft.extensions.Dedup
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    // corpus = docs with doc_id % 5 != 0; the stream carries ALL docs, so
    // the sink must end up with exactly the batch operator's keep-set
    val index = Dedup.buildCorpusIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text").persist()
    val expected = Dedup.dedupAgainstCorpus(
      docs.filter(col("doc_id") % 5 === 0), index, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet

    val src = TestSpark.tmpDir("graft-corpus-stream-src")
    docs.filter(col("doc_id") % 5 === 0)
      .write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-corpus-stream-sink")
    val ckpt = TestSpark.tmpDir("graft-corpus-stream-ckpt")

    val prov = TestSpark.tmpDir("graft-corpus-stream-prov")
    try {
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
      val q = CdcStream.startCorpusDedupIngest(stream, index,
        "doc_id", "text", sink, ckpt, provenanceDir = Some(prov))
      q.awaitTermination()
      val kept = spark.read.parquet(sink).select("doc_id").as[Long].collect().toSet
      assert(kept == expected, "streamed keep-set equals the batch operator's")
      assert(kept.nonEmpty && expected.size < 100,
        "fixture sanity: some batch docs survive, some drop")

      // the audit sink holds exactly the DROPPED ids' best matches —
      // keep-set and provenance partition the batch between them
      val batchIds = spark.read.parquet(src).select("doc_id").as[Long].collect().toSet
      val provIds = spark.read.parquet(prov).select("doc_id").as[Long].collect().toSet
      assert(provIds == batchIds -- kept,
        "provenance rows must be exactly the dropped batch docs")

      // restart on the same checkpoint: committed batch ids do not re-run
      val q2 = CdcStream.startCorpusDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "doc_id", "text", sink, ckpt)
      q2.awaitTermination()
      assert(spark.read.parquet(sink).count() == expected.size.toLong)

      // crash-replay idempotence: a FRESH checkpoint replays every batch
      // (the worst case of the append-vs-commit crash window); the
      // per-batch-id OVERWRITE rewrites the same batch= subdirs with the
      // same rows, so the sink holds NO duplicates afterwards
      val q3 = CdcStream.startCorpusDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "doc_id", "text", sink, TestSpark.tmpDir("graft-corpus-stream-ckpt2"))
      q3.awaitTermination()
      assert(spark.read.parquet(sink).count() == expected.size.toLong,
        "full replay must overwrite, not duplicate")
      assert(spark.read.parquet(sink).select("doc_id").as[Long].collect().toSet
        == expected)

      // replay after an index SWAP that makes every batch doc a corpus
      // dup (index over ALL docs): the novel set is EMPTY, and the
      // replayed batch must still reconcile its batch= subdir — a
      // skip-when-empty would leave the previous attempt's now-stale
      // rows in the sink
      val fullIndex = Dedup.buildCorpusIndex(docs, "doc_id", "text").persist()
      try {
        val q4 = CdcStream.startCorpusDedupIngest(
          spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
          fullIndex, "doc_id", "text", sink,
          TestSpark.tmpDir("graft-corpus-stream-ckpt3"),
          provenanceDir = Some(prov))
        q4.awaitTermination()
        assert(spark.read.parquet(sink).count() == 0L,
          "empty-novel replay must overwrite the stale batch subdir, not skip it")
        // ...and the audit sink reconciles WITH it: under the full
        // index every batch doc is a dup, so the replayed provenance
        // subdir must now hold one row per batch doc (not the previous
        // index's smaller set)
        assert(spark.read.parquet(prov).select("doc_id").as[Long].collect().toSet
          == spark.read.parquet(src).select("doc_id").as[Long].collect().toSet,
          "provenance replay must overwrite in lockstep with the keep-set")
      } finally fullIndex.unpersist()
    } finally index.unpersist()
  }

  test("compactAcceptedBatches folds the sink into one version bump; cross-batch replays fold once") {
    import graft.extensions.Dedup
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val index = Dedup.buildCorpusIndex(corpus, "doc_id", "text").persist()

    val src = TestSpark.tmpDir("graft-compact-src")
    docs.filter(col("doc_id") % 5 === 0).write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-compact-sink")
    try {
      val q = CdcStream.startCorpusDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "doc_id", "text", sink, TestSpark.tmpDir("graft-compact-ckpt"))
      q.awaitTermination()

      // the bump must equal a from-scratch build over corpus + accepted
      // (extend ≡ build carries through the sink read)
      val accepted = spark.read.parquet(sink).drop("batch")
      assert(accepted.count() > 0, "fixture sanity: some batch docs are novel")
      // a doc the SOURCE replayed across a batch boundary lands in two
      // batch= subdirs — outside the per-batch overwrite's reach. The
      // compaction's id-dedup folds it into the version exactly once.
      val scratch = Dedup.buildCorpusIndex(
        corpus.select("doc_id", "text").union(accepted.select("doc_id", "text")),
        "doc_id", "text")
      spark.createDataFrame(
          java.util.Arrays.asList(accepted.head()), accepted.schema)
        .write.mode("overwrite").parquet(s"$sink/batch=9999")
      val bumped = CdcStream.compactAccepted(
        spark, sink, index, "doc_id", "text")
      def postingSet(ix: Dedup.CorpusIndex) =
        ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
      assert(postingSet(bumped) == postingSet(scratch),
        "a cross-batch duplicate must extend the index exactly once")

      // the fold stamped the tree; a second compaction refuses loudly
      // instead of double-counting the consumed batches
      assert(new java.io.File(sink, IndexFamily.FoldedMarker).exists())
      val err = intercept[IllegalArgumentException] {
        CdcStream.compactAccepted(spark, sink, index, "doc_id", "text")
      }
      assert(err.getMessage.contains("already compacted"))

      // an empty/missing tree is a no-op (no marker, same index back) —
      // a scheduled compaction racing an idle ingest must not throw
      val idle = TestSpark.tmpDir("graft-compact-idle")
      val same = CdcStream.compactAccepted(
        spark, idle, index, "doc_id", "text")
      assert(same eq index)
      assert(!new java.io.File(idle, IndexFamily.FoldedMarker).exists(),
        "a no-op fold must not stamp the tree: a later real fold still runs")
    } finally index.unpersist()
  }

  test("compactAcceptedBm25Batches folds the accepted docs into the search " +
    "stats; shares one tree with the dedup fold via independent markers") {
    import graft.extensions.{Dedup, Search}
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val index = Dedup.buildCorpusIndex(corpus, "doc_id", "text").persist()
    val stats = Search.bm25Fit(corpus, "doc_id", "text")

    val src = TestSpark.tmpDir("graft-bm25compact-src")
    docs.filter(col("doc_id") % 5 === 0).write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-bm25compact-sink")
    try {
      val q = CdcStream.startCorpusDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "doc_id", "text", sink, TestSpark.tmpDir("graft-bm25compact-ckpt"))
      q.awaitTermination()
      val accepted = spark.read.parquet(sink).drop("batch")
      assert(accepted.count() > 0)

      // fold == refit over corpus + accepted (the additive contract
      // carried through the sink read), with a planted cross-batch
      // replay folded exactly once by the id-dedup
      spark.createDataFrame(
          java.util.Arrays.asList(accepted.head()), accepted.schema)
        .write.mode("overwrite").parquet(s"$sink/batch=9999")
      val bumped = CdcStream.compactAccepted(
        spark, sink, stats, "doc_id", "text")
      val refit = Search.bm25Fit(
        corpus.select("doc_id", "text")
          .union(accepted.select("doc_id", "text")), "doc_id", "text")
      assert(bumped.nDocs === refit.nDocs && bumped.sumDl === refit.sumDl)
      def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
      assert(dfMap(bumped) === dfMap(refit))
      assert(bumped.version === stats.version + 1)
      assert(bumped.folded.contains(sink))

      // the bm25 fold stamped ITS marker; a second bm25 fold refuses...
      assert(new java.io.File(sink, IndexFamily.Bm25.acceptMarker).exists())
      val err = intercept[IllegalArgumentException] {
        CdcStream.compactAccepted(spark, sink, stats, "doc_id", "text")
      }
      assert(err.getMessage.contains("already compacted"))
      // ...but the DEDUP-INDEX fold of the SAME tree still runs — the
      // two versioning loops consume one accepted-docs ingest
      // independently, each refusing only its own double-fold
      assert(!new java.io.File(sink, IndexFamily.FoldedMarker).exists())
      val bumpedIndex = CdcStream.compactAccepted(
        spark, sink, index, "doc_id", "text")
      assert(bumpedIndex.version === index.version + 1)
      assert(new java.io.File(sink, IndexFamily.FoldedMarker).exists())

      // empty tree: no-op, no marker
      val idle = TestSpark.tmpDir("graft-bm25compact-idle")
      assert(CdcStream.compactAccepted(
        spark, idle, stats, "doc_id", "text") eq stats)
      assert(!new java.io.File(idle, IndexFamily.Bm25.acceptMarker).exists())
    } finally index.unpersist()
  }

  test("compactAcceptedBm25Batches saveTo makes the bump durable BEFORE " +
    "the marker lands") {
    import graft.extensions.Search
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val stats = Search.bm25Fit(corpus, "doc_id", "text")
    val sink = TestSpark.tmpDir("graft-bm25durable-sink")
    docs.filter(col("doc_id") % 5 === 0)
      .write.mode("overwrite").parquet(s"$sink/batch=0")
    val out = TestSpark.tmpDir("graft-bm25durable-out")
    val durable = CdcStream.compactAccepted(
      spark, sink, stats, "doc_id", "text", saveTo = Some(out))
    // the marker is down AND the bumped tree is on disk with the fold in
    // its lineage — a crash can no longer orphan consumed batches in the
    // window between extend and save (ADVICE r16: durable-then-mark)
    assert(new java.io.File(sink, IndexFamily.Bm25.acceptMarker).exists())
    assert(durable.savedDir.contains(out))
    val loaded = Search.loadBm25Stats(spark, out)
    val refit = Search.bm25Fit(docs, "doc_id", "text")
    assert(loaded.version === 2L && loaded.folded.contains(sink))
    assert(loaded.nDocs === refit.nDocs && loaded.sumDl === refit.sumDl)
    durable.close()
  }

  test("compactAcceptedEmbeddingBatches folds the vector sink once, with the saved planes") {
    import graft.extensions.Dedup
    val embs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val corpus = embs.filter(col("vec_id") % 2 === 0)
    val index = Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding").persist()

    val src = TestSpark.tmpDir("graft-ecompact-src")
    embs.filter(col("vec_id") % 2 =!= 0).write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-ecompact-sink")
    try {
      val q = CdcStream.startEmbeddingDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "vec_id", "embedding", sink, TestSpark.tmpDir("graft-ecompact-ckpt"))
      q.awaitTermination()

      val accepted = spark.read.parquet(sink).drop("batch")
      assert(accepted.count() > 0, "fixture sanity: some vectors are novel")
      // cross-batch replay folds once here too
      val scratch = Dedup.buildEmbeddingIndex(
        corpus.select("vec_id", "embedding")
          .union(accepted.select("vec_id", "embedding")),
        "vec_id", "embedding")
      spark.createDataFrame(
          java.util.Arrays.asList(accepted.head()), accepted.schema)
        .write.mode("overwrite").parquet(s"$sink/batch=9999")
      // pass the (here: reused-as-fixture) audit dir to check the
      // lockstep archive: the fold stamps BOTH trees in one call
      val prov = TestSpark.tmpDir("graft-ecompact-prov")
      spark.createDataFrame(
          java.util.Arrays.asList(accepted.head()), accepted.schema)
        .write.mode("overwrite").parquet(s"$prov/batch=0")
      val bumped = CdcStream.compactAccepted(
        spark, sink, index, "vec_id", "embedding", provenanceDir = Some(prov))
      def bucketSet(ix: Dedup.EmbeddingIndex) =
        ix.buckets.select("doc_id", "band", "bucket")
          .as[(Long, Int, Long)].collect().toSet
      assert(bucketSet(bumped) == bucketSet(scratch),
        "extension with the saved planes must equal a same-plane rebuild")

      // both the sink and the audit trail carry the version stamp, and
      // the consumed sink refuses a second fold
      assert(new java.io.File(sink, IndexFamily.FoldedMarker).exists())
      assert(new java.io.File(prov, IndexFamily.FoldedMarker).exists(),
        "the drop-provenance tree must version together with the keep-set")
      assertThrows[IllegalArgumentException] {
        CdcStream.compactAccepted(
          spark, sink, index, "vec_id", "embedding")
      }
    } finally index.unpersist()
  }

  test("streaming embedding-dedup ingest mirrors the batch operator; replay is idempotent") {
    import graft.extensions.Dedup
    val embs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val index = Dedup.buildEmbeddingIndex(embs, "vec_id", "embedding",
      planes = 12, bands = 8).persist()
    // batch: planted near-copies (drop) + negated vectors (survive) —
    // the same probe shape the oracle-checked dedup_embedding_incr uses
    val batch = embs.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 10000000L).as("vec_id"),
        concat(array(col("embedding").getItem(0) + lit(0.05f)),
          slice(col("embedding"), 2, 1000000)).as("embedding"))
      .union(embs.filter(col("vec_id") % 7 === 0).select(
        (col("vec_id") + 20000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding")))
    val expected = Dedup.dedupEmbeddingsAgainstCorpus(batch, index,
      "vec_id", "embedding", threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet

    val src = TestSpark.tmpDir("graft-emb-stream-src")
    batch.write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-emb-stream-sink")
    try {
      val q = CdcStream.startEmbeddingDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "vec_id", "embedding", sink,
        TestSpark.tmpDir("graft-emb-stream-ckpt"), threshold = 0.9)
      q.awaitTermination()
      val kept = spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
      assert(kept == expected, "streamed keep-set equals the batch operator's")
      assert(kept.nonEmpty && kept.size < batch.count(),
        "fixture sanity: some vectors survive, some drop")

      // crash-replay idempotence: a fresh checkpoint replays every batch;
      // the per-batch-id OVERWRITE leaves no duplicates
      val q2 = CdcStream.startEmbeddingDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "vec_id", "embedding", sink,
        TestSpark.tmpDir("graft-emb-stream-ckpt2"), threshold = 0.9)
      q2.awaitTermination()
      assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
        == expected, "full replay must overwrite, not duplicate")
    } finally index.unpersist()
  }

  /** The nudge-orthogonal explicit 4-cell quantizer (mirrors the
    * NorthStarQueries oracle fixture): assignment ignores the planted
    * nudge component, so copies co-cell with their originals. */
  private def semCenters = {
    Seq(
      (0, Array.tabulate(64)(i => if (i == 1) -2f else if (i == 2) -2f else 0f)),
      (1, Array.tabulate(64)(i => if (i == 1) -2f else if (i == 2) 2f else 0f)),
      (2, Array.tabulate(64)(i => if (i == 1) 2f else if (i == 2) -2f else 0f)),
      (3, Array.tabulate(64)(i => if (i == 1) 2f else if (i == 2) 2f else 0f))
    ).toDF("cell", "center")
  }

  test("streaming semantic-dedup ingest mirrors the batch operator; replay is idempotent") {
    import graft.extensions.Similarity
    val embs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val index = Similarity.IvfIndex(semCenters,
      Similarity.assignToCells(embs, semCenters, "vec_id", "embedding")).cache()
    // batch: planted near-copies (drop) + negated vectors (survive) —
    // the same probe shape the oracle-checked dedup_semantic_incr uses
    val batch = embs.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 10000000L).as("vec_id"),
        concat(array(col("embedding").getItem(0) + lit(0.05f)),
          slice(col("embedding"), 2, 1000000)).as("embedding"))
      .union(embs.filter(col("vec_id") % 10 === 5).select(
        (col("vec_id") + 20000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding")))
    val expected = Similarity.semanticDedupBatch(index, batch,
      "vec_id", "embedding", eps = 0.9)
      .select("vec_id").as[Long].collect().toSet

    val src = TestSpark.tmpDir("graft-sem-stream-src")
    batch.write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-sem-stream-sink")
    val prov = TestSpark.tmpDir("graft-sem-stream-prov")
    try {
      val q = CdcStream.startSemanticDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "vec_id", "embedding", sink,
        TestSpark.tmpDir("graft-sem-stream-ckpt"), eps = 0.9,
        provenanceDir = Some(prov))
      q.awaitTermination()
      val kept = spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
      assert(kept == expected, "streamed keep-set equals the batch operator's")
      assert(kept.nonEmpty && kept.size < batch.count(),
        "fixture sanity: some vectors survive, some drop")
      // the audit trail explains exactly the dropped rows, corpus-wins:
      // every dropped copy's best match is a real corpus id
      val audited = spark.read.parquet(prov)
      val droppedIds = batch.select("vec_id").as[Long].collect().toSet -- kept
      assert(audited.select("vec_id").as[Long].collect().toSet == droppedIds,
        "drop provenance must cover exactly the dropped batch rows")
      assert(audited.filter(col("cosine") < 0.9).count() == 0L)

      // crash-replay idempotence: a fresh checkpoint replays every batch;
      // the per-batch-id OVERWRITE leaves no duplicates
      val q2 = CdcStream.startSemanticDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "vec_id", "embedding", sink,
        TestSpark.tmpDir("graft-sem-stream-ckpt2"), eps = 0.9)
      q2.awaitTermination()
      assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
        == expected, "full replay must overwrite, not duplicate")
    } finally { index.unpersist(); () }
  }

  test("compactAcceptedSemanticBatches folds the vector sink once into the FROZEN cells") {
    import graft.extensions.Similarity
    val embs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val corpus = embs.filter(col("vec_id") % 2 === 0)
    val index = Similarity.IvfIndex(semCenters,
      Similarity.assignToCells(corpus, semCenters, "vec_id", "embedding")).cache()

    val src = TestSpark.tmpDir("graft-scompact-src")
    embs.filter(col("vec_id") % 2 =!= 0).write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-scompact-sink")
    try {
      val q = CdcStream.startSemanticDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index, "vec_id", "embedding", sink,
        TestSpark.tmpDir("graft-scompact-ckpt"), eps = 0.9)
      q.awaitTermination()

      val accepted = spark.read.parquet(sink).drop("batch")
      assert(accepted.count() > 0, "fixture sanity: some vectors are novel")
      // cross-batch replay folds once; frozen centroids mean the
      // extension must equal assigning the union from scratch
      spark.createDataFrame(
          java.util.Arrays.asList(accepted.head()), accepted.schema)
        .write.mode("overwrite").parquet(s"$sink/batch=9999")
      val bumped = CdcStream.compactAccepted(
        spark, sink, index, "vec_id", "embedding")
      val scratch = Similarity.assignToCells(
        corpus.union(accepted.select("vec_id", "embedding")),
        semCenters, "vec_id", "embedding")
      def cellSet(df: org.apache.spark.sql.DataFrame) =
        df.select("neighbor_id", "cell").as[(Long, Int)].collect().toSet
      assert(cellSet(bumped.assigned) == cellSet(scratch),
        "a cross-batch duplicate must extend the index exactly once")
      assert(bumped.version == index.version + 1 &&
        bumped.folded.contains(sink))

      // the fold stamped the tree; a second compaction refuses loudly
      assert(new java.io.File(sink, IndexFamily.FoldedMarker).exists())
      assertThrows[IllegalArgumentException] {
        CdcStream.compactAccepted(
          spark, sink, index, "vec_id", "embedding")
      }
    } finally { index.unpersist(); () }
  }

  test("compactAcceptedIvfPqBatches folds the vector sink into frozen cells AND frozen codebooks") {
    import graft.extensions.Similarity
    val embs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val corpus = embs.filter(col("vec_id") % 2 === 0)
    // the fifth family's corpus index, over the SAME coarse cells the
    // ingest leg dedups against — the shared-structure production shape
    val ivfpq = Similarity.ivfPqFit(corpus, "vec_id", "embedding",
      m = 8, ksub = 8, centers = Some(semCenters)).cache()
    val ivf = Similarity.IvfIndex(semCenters,
      Similarity.assignToCells(corpus, semCenters, "vec_id", "embedding")).cache()

    val src = TestSpark.tmpDir("graft-ivfpqcompact-src")
    embs.filter(col("vec_id") % 2 =!= 0).write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-ivfpqcompact-sink")
    try {
      val q = CdcStream.startSemanticDedupIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        ivf, "vec_id", "embedding", sink,
        TestSpark.tmpDir("graft-ivfpqcompact-ckpt"), eps = 0.9)
      q.awaitTermination()

      val accepted = spark.read.parquet(sink).drop("batch")
      assert(accepted.count() > 0, "fixture sanity: some vectors are novel")
      // cross-batch replay (outside the per-batch overwrite's reach)
      // must fold exactly once
      spark.createDataFrame(
          java.util.Arrays.asList(accepted.head()), accepted.schema)
        .write.mode("overwrite").parquet(s"$sink/batch=9999")
      val bumped = CdcStream.compactAccepted(
        spark, sink, ivfpq, "vec_id", "embedding")

      // neither quantizer moved
      assert(bumped.codebooks == ivfpq.codebooks, "PQ codebooks are frozen")
      assert(bumped.centers eq ivfpq.centers, "coarse centroids are frozen")
      assert(bumped.version == ivfpq.version + 1 &&
        bumped.folded.contains(sink))

      // folded once: one codes row per id, ids = corpus ∪ accepted, and
      // cells equal a from-scratch assignment of the union (frozen
      // centers make that deterministic)
      val acceptedIds = accepted.select("vec_id").as[Long].collect().toSet
      val corpusIds = corpus.select("vec_id").as[Long].collect().toSet
      def cellSet(df: org.apache.spark.sql.DataFrame) =
        df.select("neighbor_id", "cell").as[(Long, Int)].collect().toSet
      val bumpedCells = cellSet(bumped.codes)
      assert(bumpedCells.map(_._1) == corpusIds ++ acceptedIds)
      assert(bumpedCells.size == (corpusIds ++ acceptedIds).size,
        "a cross-batch duplicate must extend the index exactly once")
      assert(bumpedCells == cellSet(Similarity.assignToCells(
        corpus.union(accepted.select("vec_id", "embedding")),
        semCenters, "vec_id", "embedding")))
      // the split-tree invariant: the rerank-only vectors relation grew
      // in lockstep with codes
      assert(cellSet(bumped.vectors) == bumpedCells)
      // and the folded vectors are probe-visible through the ADC path
      val probeQ = accepted.limit(1).select(
        col("vec_id"), col("embedding"))
      val seen = Similarity.ivfPqProbe(bumped, probeQ, "vec_id", "embedding",
        k = 5, nprobe = 4, rerank = 50)
        .select("neighbor_id").as[Long].collect().toSet
      assert(seen.nonEmpty, "bumped index must serve probes")

      // the fold stamped the tree; a second compaction refuses loudly
      assert(new java.io.File(sink, IndexFamily.FoldedMarker).exists())
      assertThrows[IllegalArgumentException] {
        CdcStream.compactAccepted(
          spark, sink, ivfpq, "vec_id", "embedding")
      }
    } finally { ivf.unpersist(); ivfpq.unpersist(); () }
  }

  test("startCurationIngest gates each batch like the batch operator and records the funnel") {
    import graft.extensions.CorpusOps
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text")
    val src = TestSpark.tmpDir("graft-curation-src")
    // one file -> one micro-batch, so within-batch dedup == whole-set
    // dedup and the streaming sink is directly comparable to the batch
    // operator on the same rows
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-curation-sink")
    val stats = TestSpark.tmpDir("graft-curation-stats")
    val q = CdcStream.startCurationIngest(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      "doc_id", "text", sink, TestSpark.tmpDir("graft-curation-ckpt"),
      statsDir = Some(stats))
    q.awaitTermination()

    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "quality", "n_tokens_bpe", "fingerprint")
        .as[(Long, Double, Long, String)].collect().toSet
    val streamed = keySet(spark.read.parquet(sink).drop("batch"))
    val direct = keySet(CorpusOps.curate(docs, col("doc_id"), col("text")))
    assert(streamed.nonEmpty && streamed == direct,
      "the streaming gate battery must equal the batch operator row-for-row")

    // the stats sink mirrors the batch funnel attrition next to the data
    val Array(r) = spark.read.parquet(stats).collect()
    val d = CorpusOps.curationFunnel(docs, col("doc_id"), col("text")).head()
    Seq("n_docs", "n_lang", "n_quality", "n_rep", "n_kept").foreach { c =>
      assert(r.getAs[Long](c) == d.getAs[Long](c),
        s"$c: streamed ${r.getAs[Long](c)} vs batch ${d.getAs[Long](c)}")
    }
    assert(r.getAs[Long]("n_kept") == streamed.size.toLong,
      "the attrition record must describe exactly the rows in the sink")
  }

  test("startBoilerplateScrubIngest scrubs each batch against the frozen census " +
    "like the batch operator") {
    import graft.extensions.Dedup
    // srcA's nav line is boilerplate (3 docs); the SAME line in srcB is
    // not (1 doc) — the per-source census semantics must survive the
    // streaming path
    val nav = "nav home about contact"
    val corpus = Seq(
      (1L, "srcA", s"$nav\nalpha beta"),
      (2L, "srcA", s"$nav\ngamma delta"),
      (3L, "srcA", s"$nav\nepsilon"),
      (4L, "srcB", s"$nav\nzeta eta")
    ).toDF("doc_id", "source", "text")
    val census = Dedup.boilerplateLines(
      corpus, "doc_id", "text", "source", minDocs = 3).persist()
    try {
      val src = TestSpark.tmpDir("graft-boiler-src")
      corpus.coalesce(1).write.mode("overwrite").parquet(src)
      val sink = TestSpark.tmpDir("graft-boiler-sink")
      val q = CdcStream.startBoilerplateScrubIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        census, "doc_id", "text", "source",
        sink, TestSpark.tmpDir("graft-boiler-ckpt"))
      q.awaitTermination()

      def keySet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "cleaned", "n_lines", "n_kept")
          .as[(Long, String, Long, Long)].collect().toSet
      val streamed = keySet(spark.read.parquet(sink).drop("batch"))
      val direct = keySet(Dedup.scrubBoilerplate(
        corpus, "doc_id", "text", "source", census = Some(census)))
      assert(streamed.nonEmpty && streamed == direct,
        "streaming scrub must equal the batch operator row-for-row")
      // the cross-source distinction made it through: srcB keeps nav
      val bySrc = streamed.map(t => t._1 -> t._2).toMap
      assert(bySrc(1L) === "alpha beta")
      assert(bySrc(4L) === s"$nav\nzeta eta")
    } finally { census.unpersist(); () }
  }

  test("streaming MERGE compaction tracks the dedup view across batches and replays") {
    val src = stageSource()
    val sink = TestSpark.tmpDir("graft-stream-compact-sink")
    val ckpt = TestSpark.tmpDir("graft-stream-compact-ckpt")

    val q1 = CdcStream.startIngest(spark, src, sink, ckpt,
      "events", nmsCol = "ts", pkCol = "event_id", maintainCurrentState = true)
    q1.awaitTermination()
    val stateDir = s"$sink/events_cdc_state"
    val compacted = graft.operators.CompactedState.read(spark, stateDir).get
    assert(compacted.count() == 1000L)

    // an overlapping file arrives (at-least-once): log grows, state doesn't tear
    Files.copy(Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      Paths.get(s"$src/events_001.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q2 = CdcStream.startIngest(spark, src, sink, ckpt,
      "events", nmsCol = "ts", pkCol = "event_id", maintainCurrentState = true)
    q2.awaitTermination()

    val after = graft.operators.CompactedState.read(spark, stateDir).get
    assert(after.count() == 1000L) // still exactly one row per pk
    // and it equals the view recompute over the full (duplicated) log
    val view = CurrentState.latestByKeyAgg(
      spark.read.parquet(s"$sink/events_cdc").drop("snapshot_dt"),
      Seq("event_id"), "snapshot_tm", Seq("ts"))
    assert(after.except(view).isEmpty && view.except(after).isEmpty)
  }

  test("T8 batch period drives the continuous-mode trigger") {
    assert(CdcStream.batchTrigger(availableNow = true, 99L) ==
      Trigger.AvailableNow())
    assert(CdcStream.batchTrigger(availableNow = false, 7L) ==
      Trigger.ProcessingTime("7 seconds"))
  }

  test("per-batch capture time is recorded once and stable across replays") {
    val ckpt = TestSpark.tmpDir("graft-stamp-ckpt")
    var clock = 1700000000000L // arbitrary real epoch millis
    def now() = { clock += 12345; clock }
    val first = CdcStream.getOrRecordBatchTime(spark, ckpt, 0L, now _)
    // replay of batch 0 returns the recorded stamp even as the clock moves
    val replay = CdcStream.getOrRecordBatchTime(spark, ckpt, 0L, now _)
    assert(replay == first)
    // a NEW batch id gets a fresh (later) stamp
    val second = CdcStream.getOrRecordBatchTime(spark, ckpt, 1L, now _)
    assert(second.after(first))
    // and its replay is stable too
    assert(CdcStream.getOrRecordBatchTime(spark, ckpt, 1L, now _) == second)
  }

  test("windowed aggregation over the stream matches the batch recompute") {
    val src = stageSource()
    val raw = CdcStream.rawFileSchema(spark, src)
    val stream = CdcStream.readChangeStream(spark, src, raw)
    val agg = CdcStream.windowedCounts(stream, "ts", "event_type",
      windowLen = "6 hours", watermarkDelay = "12 hours")

    val qn = s"win_agg_${System.nanoTime()}"
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table(qn)
      .select("window_start", "event_type", "n")
    // batch recompute of the same tumbling windows (closed windows only)
    val batch = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
      .groupBy(window(col("ts"), "6 hours").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("window_start"), col("event_type"), col("n"))
    // append-mode emits only watermark-closed windows; every emitted row
    // must match the batch value, and most windows must have closed.
    val joined = streamed.alias("s").join(batch.alias("b"),
      Seq("window_start", "event_type"))
    assert(streamed.count() > 0)
    assert(joined.filter(col("s.n") =!= col("b.n")).isEmpty)
  }

  test("stream-static enrichment join matches the batch join") {
    val src = stageSource()
    val raw = CdcStream.rawFileSchema(spark, src)
    val stream = CdcStream.readChangeStream(spark, src, raw)
    // static "dimension": event_type -> category
    val dim = Seq(("click", "ui"), ("view", "ui"), ("purchase", "commerce"))
      .toDF("event_type", "category")
    val enriched = CdcStream.enrichWithDim(stream, dim, Seq("event_type"))
      .select("event_id", "event_type", "category")

    val qn = s"enrich_${System.nanoTime()}"
    val q = enriched.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table(qn)
    val batch = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
      .join(broadcast(dim), Seq("event_type"), "left")
      .select("event_id", "event_type", "category")
    assert(streamed.count() == 1000L)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("flatMapGroupsWithState dedup emits each event once despite duplicate deliveries") {
    val src = stageSource()
    // the change log delivers the same file twice (at-least-once upstream)
    Files.copy(Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      Paths.get(s"$src/events_dup.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val raw = CdcStream.rawFileSchema(spark, src)
    val stream = CdcStream.readChangeStream(spark, src, raw)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[CdcStream.UserEvent]
    val deduped = CdcStream.dedupStream(spark, stream)

    val qn = s"fmgs_dedup_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(qn)
      .option("checkpointLocation", TestSpark.tmpDir("graft-fmgs-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val out = spark.table(qn)
    assert(out.count() == 1000L, "2000 delivered rows -> 1000 distinct events")
    assert(out.select("user_id", "ts").distinct().count() == 1000L)
  }

  test("pk identity: two same-microsecond events per user both survive; pk replays collapse") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ts0 = graft.util.Util.utcTs("2024-01-10 12:00:00")
    ts0.setNanos(1000) // :00.000001 — a sub-second instant two events share
    val ms = MemoryStream[CdcStream.UserEvent]
    val deduped = CdcStream.dedupStream(spark, ms.toDS())
    val qn = s"same_us_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(qn)
      .option("checkpointLocation", TestSpark.tmpDir("graft-sameus-ckpt"))
      .start()
    try {
      ms.addData(
        // two DISTINCT events in the same microsecond for the same user —
        // a timestamp-based identity silently collapses these
        CdcStream.UserEvent(101L, 1L, ts0, "click", 1.0),
        CdcStream.UserEvent(102L, 1L, ts0, "view", 2.0),
        // a true at-least-once replay (same pk): must collapse
        CdcStream.UserEvent(101L, 1L, ts0, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table(qn).as[CdcStream.UserEvent].collect()
      assert(out.length == 2, s"expected both same-µs events exactly once, got: ${out.toSeq}")
      assert(out.map(_.event_id).sorted.toSeq == Seq(101L, 102L))
    } finally q.stop()
  }

  test("EventTimeTimeout dedup evicts state once the watermark passes the TTL") {
    val src = TestSpark.tmpDir("graft-evict-src")
    val base = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    // batch 0: the events as-is; batch 1: a disjoint "two days later" wave
    // (new users + pks) whose event times push the watermark far past
    // batch 0's TTL — its per-user seen-sets must then be evicted.
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, lastMod: Long): Unit = {
      val tmp = TestSpark.tmpDir(s"graft-evict-stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$src/$name.parquet")
      Files.copy(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
      target.setLastModified(lastMod) // FileStreamSource orders by mod time
    }
    writeOne(base, "a_events", 1700000000000L)
    writeOne(base
      .withColumn("event_id", col("event_id") + 100000L)
      .withColumn("user_id", col("user_id") + 1000L)
      .withColumn("ts", col("ts") + expr("INTERVAL 2 DAYS")),
      "b_events", 1700000100000L)

    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src) // one file per batch
      .withWatermark("ts", "1 hour")
      .as[CdcStream.UserEvent]
    // via the DEFAULT entry point: the stream carries a watermark, so
    // dedupStream must dispatch to the evicting (watermark-bounded) form
    val deduped = CdcStream.dedupStream(spark, stream)
    val qn = s"evict_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(qn)
      .option("checkpointLocation", TestSpark.tmpDir("graft-evict-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // every event (both waves are duplicate-free) was emitted exactly once
    assert(spark.table(qn).count() == 2000L)
    // batch 0's 15 user states were evicted when batch 1's watermark
    // passed their TTL, and AvailableNow's trailing batch then evicted
    // batch 1's wave the same way: every state row was removed and the
    // query ends with ZERO retained state — never the 30-user union a
    // NoTimeout version accumulates
    val progs = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
    val removed = progs.map(_.stateOperators(0).numRowsRemoved).sum
    assert(removed == 30L, s"expected both waves' state evicted; progress: $progs")
    assert(progs.map(_.stateOperators(0).numRowsTotal).max == 15L,
      s"no batch may retain more than one wave's users; progress: $progs")
    assert(progs.last.stateOperators(0).numRowsTotal == 0L,
      s"state must drain once the watermark passes the last TTL; progress: $progs")
  }

  test("startRetractIngest + compactRetracted*: CDC deletes retire from " +
    "the text-gram index and the BM25 stats off ONE sink; remove == " +
    "rebuild on the survivors; per-family markers; double-fold refuses") {
    import graft.extensions.{Dedup, Search}
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
    // the change stream: every 3rd doc arrives as a DELETE with its full
    // old row image (CDC semantics), the rest as upserts the leg ignores
    val src = TestSpark.tmpDir("graft-retract-src")
    docs.select(col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, "delete").otherwise("upsert").as("op"))
      .write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-retract-sink")
    val index = Dedup.buildCorpusIndex(docs, "doc_id", "text").persist()
    val stats = Search.bm25Fit(docs, "doc_id", "text")
    try {
      val q = CdcStream.startRetractIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        "op", "delete", Seq("doc_id", "text"),
        sink, TestSpark.tmpDir("graft-retract-ckpt"))
      q.awaitTermination()

      // the sink holds exactly the deletes' rows
      val retired = spark.read.parquet(sink).drop("batch")
      val retiredIds = retired.select("doc_id").as[Long].collect().toSet
      assert(retiredIds.nonEmpty && retiredIds.forall(_ % 3 == 0))

      // plant a cross-batch replay: a doubled id retires exactly once
      spark.createDataFrame(
          java.util.Arrays.asList(retired.head()), retired.schema)
        .write.mode("overwrite").parquet(s"$sink/batch=9999")

      val survivors = docs.filter(col("doc_id") % 3 =!= 0)

      // text-gram: shrink == from-scratch build on the survivors (the
      // removal contract carried through the sink read)
      val shrunk = CdcStream.compact(spark, None, None, Some(sink), index, "doc_id", "text")
      val scratch = Dedup.buildCorpusIndex(survivors, "doc_id", "text")
      def postingSet(ix: Dedup.CorpusIndex) =
        ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
      assert(postingSet(shrunk) == postingSet(scratch))
      assert(shrunk.version === index.version + 1)
      assert(shrunk.folded.contains(sink))

      // its marker is down; a second text-gram fold refuses loudly...
      assert(new java.io.File(sink, IndexFamily.Text.retractMarker).exists())
      val err = intercept[IllegalArgumentException] {
        CdcStream.compact(spark, None, None, Some(sink), index, "doc_id", "text")
      }
      assert(err.getMessage.contains("already compacted"))

      // ...but the BM25 fold of the SAME tree still runs (its own
      // marker), and retract == refit on the survivors — the
      // non-idempotent family, where the marker is load-bearing
      assert(!new java.io.File(sink, IndexFamily.Bm25.retractMarker).exists())
      val shrunkStats = CdcStream.compact(
        spark, None, None, Some(sink), stats, "doc_id", "text")
      val refit = Search.bm25Fit(survivors, "doc_id", "text")
      assert(shrunkStats.nDocs === refit.nDocs &&
        shrunkStats.sumDl === refit.sumDl)
      def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
      assert(dfMap(shrunkStats) === dfMap(refit))
      assert(new java.io.File(sink, IndexFamily.Bm25.retractMarker).exists())
      val err2 = intercept[IllegalArgumentException] {
        CdcStream.compact(spark, None, None, Some(sink), stats, "doc_id", "text")
      }
      assert(err2.getMessage.contains("already compacted"))

      // an empty tree is a no-op for the shrink folds too
      val idle = TestSpark.tmpDir("graft-retract-idle")
      assert(CdcStream.compact(
        spark, None, None, Some(idle), index, "doc_id", "text") eq index)
      assert(!new java.io.File(idle, IndexFamily.Text.retractMarker).exists())
    } finally index.unpersist()
  }

  test("compactRetractedEmbeddingBatches / compactRetractedIvfBatches: " +
    "vector deletes retire under frozen quantizers; remove == rebuild") {
    import graft.extensions.Dedup
    import graft.extensions.Similarity
    val vecs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 300).select(col("vec_id"), col("embedding"))
    val src = TestSpark.tmpDir("graft-vretract-src")
    vecs.select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 4 === 0, "delete").otherwise("upsert").as("op"))
      .write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-vretract-sink")
    val embIdx = Dedup.buildEmbeddingIndex(vecs, "vec_id", "embedding",
      planes = 12, bands = 8)
    val ivfIdx = Similarity.ivfFit(vecs, "vec_id", "embedding", nlist = 8)
    val q = CdcStream.startRetractIngest(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      "op", "delete", Seq("vec_id"),
      sink, TestSpark.tmpDir("graft-vretract-ckpt"))
    q.awaitTermination()

    val survivors = vecs.filter(col("vec_id") % 4 =!= 0)
    val shrunkEmb = CdcStream.compact(
      spark, None, None, Some(sink), embIdx, "vec_id", "embedding")
    val scratchEmb = Dedup.buildEmbeddingIndex(survivors, "vec_id",
      "embedding", planes = 12, bands = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toSeq
        case x => x
      }).toSet
    assert(rows(shrunkEmb.buckets) === rows(scratchEmb.buckets))
    assert(rows(shrunkEmb.vectors) === rows(scratchEmb.vectors))

    // the IVF fold of the SAME vec-delete tree runs under its own marker
    assert(new java.io.File(sink, IndexFamily.Embedding.retractMarker).exists())
    val shrunkIvf = CdcStream.compact(
      spark, None, None, Some(sink), ivfIdx, "vec_id", "embedding")
    val expected = Similarity.assignToCells(survivors, ivfIdx.centers,
      "vec_id", "embedding")
    assert(rows(shrunkIvf.assigned) === rows(expected))
    assert(new java.io.File(sink, IndexFamily.Ivf.retractMarker).exists())

    // ...and the IVF-PQ fold too (third consumer of one tree): codes
    // and rerank vectors shrink in lockstep and equal a frozen-quantizer
    // re-encode of the survivors
    val ivfPqIdx = Similarity.ivfPqFit(vecs, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16)
    val shrunkPq = CdcStream.compact(
      spark, None, None, Some(sink), ivfPqIdx, "vec_id", "embedding")
    val rebuilt = Similarity.extendIvfPqIndex(
      ivfPqIdx.copy(codes = ivfPqIdx.codes.limit(0),
        vectors = ivfPqIdx.vectors.limit(0)),
      survivors, "vec_id", "embedding")
    assert(rows(shrunkPq.codes) === rows(rebuilt.codes))
    assert(rows(shrunkPq.vectors) === rows(rebuilt.vectors))
    assert(new java.io.File(sink, IndexFamily.IvfPq.retractMarker).exists())

    // ...and the LSH top-k and plain-PQ folds (fourth and fifth
    // consumers): every vector family retires off ONE delete tree
    val lshIdx = Similarity.lshFit(vecs, "vec_id", "embedding",
      planes = 12, bands = 4)
    val shrunkLsh = CdcStream.compact(
      spark, None, None, Some(sink), lshIdx, "vec_id", "embedding")
    val scratchLsh = Similarity.lshFit(survivors, "vec_id", "embedding",
      planes = 12, bands = 4)
    assert(rows(shrunkLsh.banded) === rows(scratchLsh.banded))
    assert(new java.io.File(sink, IndexFamily.Lsh.retractMarker).exists())

    val pqIdx = Similarity.pqFit(vecs, "vec_id", "embedding", m = 8, ksub = 16)
    val shrunkPlainPq = CdcStream.compact(
      spark, None, None, Some(sink), pqIdx, "vec_id", "embedding")
    val rebuiltPq = Similarity.extendPqIndex(
      pqIdx.copy(codes = pqIdx.codes.limit(0)),
      survivors, "vec_id", "embedding")
    assert(rows(shrunkPlainPq.codes) === rows(rebuiltPq.codes))
    assert(new java.io.File(sink, IndexFamily.Pq.retractMarker).exists())
  }

  test("startUpsertIngest + compactUpserted*: CDC updates amend the " +
    "text-gram index and the BM25 stats off ONE sink; upsert == rebuild " +
    "on the amended corpus; earliest-old/latest-new image order; " +
    "per-family markers; double-fold refuses") {
    import graft.extensions.{Dedup, Search}
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
    // the change stream: every 5th doc arrives AMENDED — a CDC update
    // with both row images — the rest as inserts this leg ignores
    val src = TestSpark.tmpDir("graft-upsert-src")
    docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" amended v2"))).otherwise(col("text"))
          .as("text"),
        col("text").as("old_text"),
        when(col("doc_id") % 5 === 0, "update").otherwise("insert").as("op"))
      .write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-upsert-sink")
    val index = Dedup.buildCorpusIndex(docs, "doc_id", "text").persist()
    val stats = Search.bm25Fit(docs, "doc_id", "text")
    try {
      val q = CdcStream.startUpsertIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        "op", "update", Seq("doc_id", "text", "old_text"),
        sink, TestSpark.tmpDir("graft-upsert-ckpt"))
      q.awaitTermination()

      // the sink holds exactly the updates' rows, both images
      val tree = spark.read.parquet(sink)
      val amendedIds = tree.select("doc_id").as[Long].collect().toSet
      assert(amendedIds.nonEmpty && amendedIds.forall(_ % 5 == 0))

      // a LATER batch amends one id AGAIN (old = its v2 text, new =
      // final): the folds must retract what the index holds (the
      // ORIGINAL text — earliest old image) and serve what the source
      // last said (the final text — latest new image); the v2
      // intermediate must never touch either structure
      val aid = amendedIds.min
      val v2Text = tree.filter(col("doc_id") === aid)
        .select("text").as[String].head()
      Seq((aid, "the final text of the twice amended document", v2Text))
        .toDF("doc_id", "text", "old_text")
        .write.mode("overwrite").parquet(s"$sink/batch=9999")

      val amended = docs.select(col("doc_id"),
        when(col("doc_id") === aid,
            lit("the final text of the twice amended document"))
          .when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" amended v2")))
          .otherwise(col("text")).as("text"))

      // text-gram: upsert == from-scratch build on the amended corpus
      val folded = CdcStream.compact(
        spark, None, Some(sink), None, index, "doc_id", "text")
      val scratch = Dedup.buildCorpusIndex(amended, "doc_id", "text")
      def postingSet(ix: Dedup.CorpusIndex) =
        ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
      assert(postingSet(folded) == postingSet(scratch))
      // remove-then-extend bumps twice; the fold lands in the lineage
      assert(folded.version === index.version + 2)
      assert(folded.folded.contains(sink))

      // its marker is down; a second text-gram fold refuses loudly...
      assert(new java.io.File(sink, IndexFamily.Text.upsertMarker).exists())
      val err = intercept[IllegalArgumentException] {
        CdcStream.compact(spark, None, Some(sink), None, index, "doc_id", "text")
      }
      assert(err.getMessage.contains("already compacted"))

      // ...but the BM25 fold of the SAME tree still runs (its own
      // marker) and upsert == refit on the amended corpus — retracting
      // the ORIGINAL old image (a latest-old bug would subtract v2 text
      // the stats never held) and folding the FINAL new image (an
      // earliest-new bug would serve v2)
      assert(!new java.io.File(sink, IndexFamily.Bm25.upsertMarker).exists())
      val foldedStats = CdcStream.compact(
        spark, None, Some(sink), None, stats, "doc_id", "text", Some("old_text"))
      val refit = Search.bm25Fit(amended, "doc_id", "text")
      assert(foldedStats.nDocs === refit.nDocs &&
        foldedStats.sumDl === refit.sumDl)
      def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
      assert(dfMap(foldedStats) === dfMap(refit))
      assert(new java.io.File(sink, IndexFamily.Bm25.upsertMarker).exists())
      val err2 = intercept[IllegalArgumentException] {
        CdcStream.compact(
          spark, None, Some(sink), None, stats, "doc_id", "text", Some("old_text"))
      }
      assert(err2.getMessage.contains("already compacted"))

      // an empty tree is a no-op for the upsert folds too
      val idle = TestSpark.tmpDir("graft-upsert-idle")
      assert(CdcStream.compact(
        spark, None, Some(idle), None, index, "doc_id", "text") eq index)
      assert(!new java.io.File(idle, IndexFamily.Text.upsertMarker).exists())
    } finally index.unpersist()
  }

  test("compactUpsertedEmbeddingBatches / IvfBatches / IvfPqBatches: " +
    "vector amendments re-bucket/re-assign/re-encode under frozen " +
    "quantizers off ONE sink; upsert == rebuild on the amended vectors") {
    import graft.extensions.Dedup
    import graft.extensions.Similarity
    val vecs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 300).select(col("vec_id"), col("embedding"))
    // every 4th vector arrives amended (negated — flips every sign-LSH
    // bit and moves the cell assignment, so a stale survivor is loud)
    val negated = transform(col("embedding"),
      x => (x * lit(-1.0f)).cast("float"))
    val src = TestSpark.tmpDir("graft-vupsert-src")
    vecs.select(col("vec_id"),
        when(col("vec_id") % 4 === 0, negated).otherwise(col("embedding"))
          .as("embedding"),
        when(col("vec_id") % 4 === 0, "update").otherwise("insert").as("op"))
      .write.mode("overwrite").parquet(src)
    val sink = TestSpark.tmpDir("graft-vupsert-sink")
    val embIdx = Dedup.buildEmbeddingIndex(vecs, "vec_id", "embedding",
      planes = 12, bands = 8)
    val ivfIdx = Similarity.ivfFit(vecs, "vec_id", "embedding", nlist = 8)
    val q = CdcStream.startUpsertIngest(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      "op", "update", Seq("vec_id", "embedding"),
      sink, TestSpark.tmpDir("graft-vupsert-ckpt"))
    q.awaitTermination()

    val amendedVecs = vecs.select(col("vec_id"),
      when(col("vec_id") % 4 === 0, negated).otherwise(col("embedding"))
        .as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toSeq
        case x => x
      }).toSet

    // sign-LSH: deterministic hyperplanes, so upsert == scratch build
    val foldedEmb = CdcStream.compact(
      spark, None, Some(sink), None, embIdx, "vec_id", "embedding")
    val scratchEmb = Dedup.buildEmbeddingIndex(amendedVecs, "vec_id",
      "embedding", planes = 12, bands = 8)
    assert(rows(foldedEmb.buckets) === rows(scratchEmb.buckets))
    assert(rows(foldedEmb.vectors) === rows(scratchEmb.vectors))

    // the IVF fold of the SAME vec-upsert tree runs under its own
    // marker: amended vectors re-assign to the FROZEN centroids
    assert(new java.io.File(sink, IndexFamily.Embedding.upsertMarker).exists())
    val foldedIvf = CdcStream.compact(
      spark, None, Some(sink), None, ivfIdx, "vec_id", "embedding")
    val expected = Similarity.assignToCells(amendedVecs, ivfIdx.centers,
      "vec_id", "embedding")
    assert(rows(foldedIvf.assigned) === rows(expected))
    assert(new java.io.File(sink, IndexFamily.Ivf.upsertMarker).exists())

    // ...and the IVF-PQ fold (third consumer of one tree): codes and
    // rerank vectors amend in lockstep, equal to a frozen-quantizer
    // re-encode of the amended set
    val ivfPqIdx = Similarity.ivfPqFit(vecs, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16)
    val foldedPq = CdcStream.compact(
      spark, None, Some(sink), None, ivfPqIdx, "vec_id", "embedding")
    val rebuilt = Similarity.extendIvfPqIndex(
      ivfPqIdx.copy(codes = ivfPqIdx.codes.limit(0),
        vectors = ivfPqIdx.vectors.limit(0)),
      amendedVecs, "vec_id", "embedding")
    assert(rows(foldedPq.codes) === rows(rebuilt.codes))
    assert(rows(foldedPq.vectors) === rows(rebuilt.vectors))
    assert(new java.io.File(sink, IndexFamily.IvfPq.upsertMarker).exists())

    // ...and the LSH top-k and plain-PQ upsert folds (fourth and fifth
    // consumers of the same vec-upsert tree)
    val lshIdx = Similarity.lshFit(vecs, "vec_id", "embedding",
      planes = 12, bands = 4)
    val foldedLsh = CdcStream.compact(
      spark, None, Some(sink), None, lshIdx, "vec_id", "embedding")
    val scratchLsh = Similarity.lshFit(amendedVecs, "vec_id", "embedding",
      planes = 12, bands = 4)
    assert(rows(foldedLsh.banded) === rows(scratchLsh.banded))
    assert(new java.io.File(sink, IndexFamily.Lsh.upsertMarker).exists())

    val pqIdx = Similarity.pqFit(vecs, "vec_id", "embedding", m = 8, ksub = 16)
    val foldedPlainPq = CdcStream.compact(
      spark, None, Some(sink), None, pqIdx, "vec_id", "embedding")
    val rebuiltPq = Similarity.extendPqIndex(
      pqIdx.copy(codes = pqIdx.codes.limit(0)),
      amendedVecs, "vec_id", "embedding")
    assert(rows(foldedPlainPq.codes) === rows(rebuiltPq.codes))
    assert(new java.io.File(sink, IndexFamily.Pq.upsertMarker).exists())
  }

  test("startVecMaintenanceIngest: one vector stream routes all three " +
    "op classes; the embedding fold chain lands exactly on a rebuild " +
    "of the final vector state") {
    import graft.extensions.Dedup
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus0 = e.filter(col("vec_id") < 300)
    val negated = transform(col("embedding"),
      x => (x * lit(-1.0f)).cast("float"))
    val inserts = e.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      .select(col("vec_id"), col("embedding"), lit("insert").as("op"))
    val deletes = corpus0.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"), lit("delete").as("op"))
    val updates = corpus0
      .filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 === 0)
      .select(col("vec_id"), negated.as("embedding"), lit("update").as("op"))
    val src = TestSpark.tmpDir("graft-vmaint-src")
    inserts.unionByName(deletes).unionByName(updates)
      .write.mode("overwrite").parquet(src)

    val acceptDir = TestSpark.tmpDir("graft-vmaint-accept")
    val upsertDir = TestSpark.tmpDir("graft-vmaint-upsert")
    val retractDir = TestSpark.tmpDir("graft-vmaint-retract")
    val index0 = Dedup.buildEmbeddingIndex(corpus0, "vec_id", "embedding",
      planes = 12, bands = 8)
    val q = CdcStream.startVecMaintenanceIngest(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      index0, "vec_id", "embedding", "op",
      acceptDir, upsertDir, retractDir,
      TestSpark.tmpDir("graft-vmaint-ckpt"))
    q.awaitTermination()

    val accepted = spark.read.parquet(acceptDir).drop("batch")
    val idx1 = CdcStream.compact(
      spark, None, None, Some(retractDir), index0, "vec_id", "embedding")
    val idx2 = CdcStream.compact(
      spark, None, Some(upsertDir), None, idx1, "vec_id", "embedding")
    val idx3 = CdcStream.compactAccepted(
      spark, acceptDir, idx2, "vec_id", "embedding")

    val finalVecs = corpus0.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 0, negated).otherwise(col("embedding"))
          .as("embedding"))
      .unionByName(accepted.select(col("vec_id"), col("embedding")))
    val scratch = Dedup.buildEmbeddingIndex(finalVecs, "vec_id", "embedding",
      planes = 12, bands = 8)
    def rows2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toSeq
        case x => x
      }).toSet
    assert(rows2(idx3.buckets) === rows2(scratch.buckets))
    assert(rows2(idx3.vectors) === rows2(scratch.vectors))
    assert(idx3.folded === Seq(retractDir, upsertDir, acceptDir))
  }

  test("compactVecMaintenanceBatches: vector ids crossing op classes " +
    "across triggers net-reduce to a rebuild of the final vector state") {
    import graft.extensions.Dedup
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus0 = e.filter(col("vec_id") < 200)
    val negated = transform(col("embedding"),
      x => (x * lit(-1.0f)).cast("float"))
    val off = 100000L
    // trigger 1: vec off+1 inserted (novel: negate an UNSEEN corpus
    // vector so the gate passes), vec 3 updated, vec 7 deleted
    val unseen = e.filter(col("vec_id") === 250)
      .select(lit(off + 1).as("vec_id"), negated.as("embedding"),
        lit("insert").as("op"))
    val t1 = unseen
      .unionByName(corpus0.filter(col("vec_id") === 3)
        .select(col("vec_id"), negated.as("embedding"), lit("update").as("op")))
      .unionByName(corpus0.filter(col("vec_id") === 7)
        .select(col("vec_id"), col("embedding"), lit("delete").as("op")))
    // trigger 2: off+1 updated (insert->update), vec 3 deleted
    // (update->delete)
    val unseen2 = e.filter(col("vec_id") === 251)
      .select(lit(off + 1).as("vec_id"), negated.as("embedding"),
        lit("update").as("op"))
    val t2 = unseen2
      .unionByName(corpus0.filter(col("vec_id") === 3)
        .select(col("vec_id"), negated.as("embedding"), lit("delete").as("op")))
    val src = TestSpark.tmpDir("graft-vnet-src")
    t1.coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100)
    t2.coalesce(1).write.mode("append").parquet(src)

    val acceptDir = TestSpark.tmpDir("graft-vnet-accept")
    val upsertDir = TestSpark.tmpDir("graft-vnet-upsert")
    val retractDir = TestSpark.tmpDir("graft-vnet-retract")
    val index0 = Dedup.buildEmbeddingIndex(corpus0, "vec_id", "embedding",
      planes = 12, bands = 8)
    val q = CdcStream.startVecMaintenanceIngest(
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      index0, "vec_id", "embedding", "op",
      acceptDir, upsertDir, retractDir,
      TestSpark.tmpDir("graft-vnet-ckpt"))
    q.awaitTermination()

    // final state: vec 3 gone (update->delete), vec 7 gone, off+1 at
    // its FINAL vector (insert->update)
    val finalVecs = corpus0
      .filter(col("vec_id") =!= 3L && col("vec_id") =!= 7L)
      .unionByName(e.filter(col("vec_id") === 251)
        .select(lit(off + 1).as("vec_id"), negated.as("embedding")))
    val netted = CdcStream.compactVecMaintenanceBatches(
      spark, acceptDir, upsertDir, retractDir, index0,
      "vec_id", "embedding")
    val scratch = Dedup.buildEmbeddingIndex(finalVecs, "vec_id",
      "embedding", planes = 12, bands = 8)
    def rows3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toSeq
        case x => x
      }).toSet
    assert(rows3(netted.buckets) === rows3(scratch.buckets))
    assert(rows3(netted.vectors) === rows3(scratch.vectors))
    assert(netted.folded === Seq(acceptDir, upsertDir, retractDir))
  }

  test("net-effect compaction covers ALL FIVE vector families off ONE " +
    "shared tree triple: IVF / IVF-PQ / LSH / PQ / embedding each land " +
    "on rebuild-under-the-frozen-quantizer of the final vector state, " +
    "in any order, each refusing only its own double-run") {
    import graft.extensions.{Dedup, Similarity}
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus0 = e.filter(col("vec_id") < 200)
    val negated = transform(col("embedding"),
      x => (x * lit(-1.0f)).cast("float"))
    val off = 100000L
    def fresh(id: Long, srcId: Long, op: String) =
      e.filter(col("vec_id") === srcId)
        .select(lit(id).as("vec_id"), negated.as("embedding"),
          lit(op).as("op"))
    // trigger 1: off+1 inserted (novel), off+2 inserted (novel), vec 3
    // updated, vec 7 deleted, vec 9 deleted
    val t1 = fresh(off + 1, 250, "insert")
      .unionByName(fresh(off + 2, 252, "insert"))
      .unionByName(corpus0.filter(col("vec_id") === 3)
        .select(col("vec_id"), negated.as("embedding"), lit("update").as("op")))
      .unionByName(corpus0.filter(col("vec_id") === 7)
        .select(col("vec_id"), col("embedding"), lit("delete").as("op")))
      .unionByName(corpus0.filter(col("vec_id") === 9)
        .select(col("vec_id"), col("embedding"), lit("delete").as("op")))
    // trigger 2: off+1 updated (insert->update), off+2 deleted
    // (insert->delete), vec 3 deleted (update->delete), vec 9
    // re-inserted with a CHANGED vector (delete->reinsert — the ingest
    // routes it to the upsert sink: its id is in the frozen gate index)
    val t2 = fresh(off + 1, 251, "update")
      .unionByName(fresh(off + 2, 252, "delete"))
      .unionByName(corpus0.filter(col("vec_id") === 3)
        .select(col("vec_id"), negated.as("embedding"), lit("delete").as("op")))
      .unionByName(fresh(9L, 253, "insert"))
    val src = TestSpark.tmpDir("graft-vnet5-src")
    t1.coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100)
    t2.coalesce(1).write.mode("append").parquet(src)

    val acceptDir = TestSpark.tmpDir("graft-vnet5-accept")
    val upsertDir = TestSpark.tmpDir("graft-vnet5-upsert")
    val retractDir = TestSpark.tmpDir("graft-vnet5-retract")
    val gate = Dedup.buildEmbeddingIndex(corpus0, "vec_id", "embedding",
      planes = 12, bands = 8)
    val q = CdcStream.startVecMaintenanceIngest(
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      gate, "vec_id", "embedding", "op",
      acceptDir, upsertDir, retractDir,
      TestSpark.tmpDir("graft-vnet5-ckpt"))
    q.awaitTermination()

    // final state: vec 3 gone (update->delete), vec 7 gone, vec 9 at
    // its REINSERTED vector, off+1 at its FINAL vector (insert->
    // update), off+2 nets to nothing (insert->delete)
    val finalVecs = corpus0
      .filter(col("vec_id") =!= 3L && col("vec_id") =!= 7L &&
        col("vec_id") =!= 9L)
      .unionByName(e.filter(col("vec_id") === 251)
        .select(lit(off + 1).as("vec_id"), negated.as("embedding")))
      .unionByName(e.filter(col("vec_id") === 253)
        .select(lit(9L).as("vec_id"), negated.as("embedding")))
    def rows5(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toSeq
        case x => x
      }).toSet

    // IVF: net fold == assignToCells(final, FROZEN centers)
    val ivf0 = Similarity.ivfFit(corpus0, "vec_id", "embedding", nlist = 8)
    val ivfNet = CdcStream.compactMaintenanceIvfBatches(
      spark, acceptDir, upsertDir, retractDir, ivf0, "vec_id", "embedding")
    assert(rows5(ivfNet.assigned) === rows5(Similarity.assignToCells(
      finalVecs, ivf0.centers, "vec_id", "embedding")))
    assert(rows5(ivfNet.centers) === rows5(ivf0.centers))
    assert(ivfNet.folded === Seq(acceptDir, upsertDir, retractDir))

    // PQ: net fold == re-encoding final under the FROZEN codebooks
    val pq0 = Similarity.pqFit(corpus0, "vec_id", "embedding",
      m = 8, ksub = 16)
    val pqNet = CdcStream.compact(
      spark, Some(acceptDir), Some(upsertDir), Some(retractDir), pq0, "vec_id", "embedding")
    val pqRebuilt = Similarity.extendPqIndex(
      pq0.copy(codes = pq0.codes.limit(0)), finalVecs, "vec_id", "embedding")
    assert(rows5(pqNet.codes) === rows5(pqRebuilt.codes))

    // IVF-PQ (residual): codes AND rerank vectors in lockstep
    val ipq0 = Similarity.ivfPqFit(corpus0, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16, residual = true)
    val ipqNet = CdcStream.compact(
      spark, Some(acceptDir), Some(upsertDir), Some(retractDir), ipq0, "vec_id", "embedding")
    val ipqRebuilt = Similarity.extendIvfPqIndex(
      ipq0.copy(codes = ipq0.codes.limit(0), vectors = ipq0.vectors.limit(0)),
      finalVecs, "vec_id", "embedding")
    assert(rows5(ipqNet.codes) === rows5(ipqRebuilt.codes))
    assert(rows5(ipqNet.vectors) === rows5(ipqRebuilt.vectors))

    // LSH top-k: deterministic hyperplanes, so == a from-scratch fit
    val lsh0 = Similarity.lshFit(corpus0, "vec_id", "embedding",
      planes = 12, bands = 4)
    val lshNet = CdcStream.compact(
      spark, Some(acceptDir), Some(upsertDir), Some(retractDir), lsh0, "vec_id", "embedding")
    assert(rows5(lshNet.banded) === rows5(Similarity.lshFit(
      finalVecs, "vec_id", "embedding", planes = 12, bands = 4).banded))

    // the GATE family folds LAST off the same triple — per-family
    // markers make the five compactions order-independent
    val embNet = CdcStream.compactVecMaintenanceBatches(
      spark, acceptDir, upsertDir, retractDir, gate, "vec_id", "embedding")
    val embScratch = Dedup.buildEmbeddingIndex(finalVecs, "vec_id",
      "embedding", planes = 12, bands = 8)
    assert(rows5(embNet.buckets) === rows5(embScratch.buckets))
    assert(rows5(embNet.vectors) === rows5(embScratch.vectors))

    // every family stamped its OWN leg markers on all three trees
    val expect = Seq(
      (acceptDir, Seq(IndexFamily.Ivf.acceptMarker,
        IndexFamily.IvfPq.acceptMarker, IndexFamily.Lsh.acceptMarker,
        IndexFamily.Pq.acceptMarker, IndexFamily.FoldedMarker)),
      (upsertDir, Seq(IndexFamily.Ivf.upsertMarker,
        IndexFamily.IvfPq.upsertMarker, IndexFamily.Lsh.upsertMarker,
        IndexFamily.Pq.upsertMarker, IndexFamily.Embedding.upsertMarker)),
      (retractDir, Seq(IndexFamily.Ivf.retractMarker,
        IndexFamily.IvfPq.retractMarker, IndexFamily.Lsh.retractMarker,
        IndexFamily.Pq.retractMarker, IndexFamily.Embedding.retractMarker)))
    for ((d, ms) <- expect; m <- ms)
      assert(new java.io.File(d, m).exists(), s"$d missing $m")
    // ...each family refuses only ITS own double-run...
    val err = intercept[IllegalArgumentException] {
      CdcStream.compactMaintenanceIvfBatches(
        spark, acceptDir, upsertDir, retractDir, ivf0, "vec_id", "embedding")
    }
    assert(err.getMessage.contains("already compacted"))
    // ...and a stray per-leg fold of a net-compacted tree refuses too
    intercept[IllegalArgumentException] {
      CdcStream.compact(
        spark, None, Some(upsertDir), None, ivf0, "vec_id", "embedding")
    }
  }

  test("BM25 folds REFUSE on a NULL retract image — the stale frozen " +
    "index misroute (an upsert-first id whose old image the feed never " +
    "carried) fails loudly instead of silently drifting nDocs") {
    import graft.extensions.{Dedup, Search}
    val d = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val corpus0 = d.filter(col("doc_id") < 100)
    val index0 = Dedup.buildCorpusIndex(corpus0, "doc_id", "text")
    val stats0 = Search.bm25Fit(corpus0, "doc_id", "text")
    // the restart-contract violation: doc 5 was deleted AND compacted in
    // a PRIOR window, but the ingest kept running against the handle
    // frozen before that compaction — its membership still lists doc 5,
    // so this window's INSERT of doc 5 is misrouted to the upsert sink
    // with a NULL old image (no retract event precedes it in THIS
    // window to supply one)
    val feed = spark.createDataFrame(Seq(
      (5L, "doc five reinserted after an offline compaction",
        null.asInstanceOf[String], "insert")))
      .toDF("doc_id", "text", "old_text", "op")
    val src = TestSpark.tmpDir("graft-stale-src")
    feed.coalesce(1).write.mode("overwrite").parquet(src)
    val acceptDir = TestSpark.tmpDir("graft-stale-accept")
    val upsertDir = TestSpark.tmpDir("graft-stale-upsert")
    val retractDir = TestSpark.tmpDir("graft-stale-retract")
    val q = CdcStream.startCdcMaintenanceIngest(
      spark.readStream.schema(feed.schema).parquet(src),
      index0, "doc_id", "text", "old_text", "op",
      acceptDir, upsertDir, retractDir,
      TestSpark.tmpDir("graft-stale-ckpt"))
    q.awaitTermination()
    // the misroute, pinned: upsert sink holds the row, old image NULL
    val up = spark.read.parquet(upsertDir)
    assert(up.count() === 1L && up.filter(col("old_text").isNull).count() === 1L)

    // the NET fold refuses loudly (retracting a NULL image would
    // decrement nDocs while subtracting no terms) and leaves the trees
    // unmarked, so a fixed feed re-runs
    val err = intercept[IllegalArgumentException] {
      CdcStream.compact(
        spark, Some(acceptDir), Some(upsertDir), Some(retractDir), stats0,
        "doc_id", "text", Some("old_text"))
    }
    assert(err.getMessage.contains("NULL") && err.getMessage.contains("id 5"))
    assert(!new java.io.File(upsertDir, IndexFamily.Bm25.upsertMarker).exists())
    assert(!new java.io.File(retractDir, IndexFamily.Bm25.retractMarker).exists())
    // the per-leg upsert fold pointed at the same tree refuses the same
    val err2 = intercept[IllegalArgumentException] {
      CdcStream.compact(
        spark, None, Some(upsertDir), None, stats0, "doc_id", "text", Some("old_text"))
    }
    assert(err2.getMessage.contains("NULL"))

    // contrast: the TEXT-GRAM net fold is id-keyed (anti-join remove +
    // re-extend) — no old image needed — and lands doc 5 at its new text
    val netted = CdcStream.compact(
      spark, Some(acceptDir), Some(upsertDir), Some(retractDir), index0, "doc_id", "text")
    val finalCorpus = corpus0.filter(col("doc_id") =!= 5L)
      .unionByName(spark.createDataFrame(Seq(
        (5L, "doc five reinserted after an offline compaction")))
        .toDF("doc_id", "text"))
    val scratch = Dedup.buildCorpusIndex(finalCorpus, "doc_id", "text")
    def postingSet(ix: Dedup.CorpusIndex) =
      ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
    assert(postingSet(netted) === postingSet(scratch))
  }

  test("maintenance ingest delete route refuses a delete carrying " +
    "NEITHER row image instead of writing a NULL-image retract row") {
    import graft.extensions.Dedup
    val d = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val corpus0 = d.filter(col("doc_id") < 50)
    val index0 = Dedup.buildCorpusIndex(corpus0, "doc_id", "text")
    val feed = spark.createDataFrame(Seq(
      (7L, null.asInstanceOf[String], null.asInstanceOf[String], "delete")))
      .toDF("doc_id", "text", "old_text", "op")
    val src = TestSpark.tmpDir("graft-noimg-src")
    feed.coalesce(1).write.mode("overwrite").parquet(src)
    val q = CdcStream.startCdcMaintenanceIngest(
      spark.readStream.schema(feed.schema).parquet(src),
      index0, "doc_id", "text", "old_text", "op",
      TestSpark.tmpDir("graft-noimg-accept"),
      TestSpark.tmpDir("graft-noimg-upsert"),
      TestSpark.tmpDir("graft-noimg-retract"),
      TestSpark.tmpDir("graft-noimg-ckpt"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    var c: Throwable = err
    var found = false
    while (c != null) {
      if (c.getMessage != null && c.getMessage.contains("NULL")) found = true
      c = c.getCause
    }
    assert(found, s"cause chain of $err names the NULL image")

    // the documented opt-out for id-keyed-only deployments
    // (requireDeleteImages = false): the imageless delete is ADMITTED
    // to the retract sink, the id-keyed TEXT net fold handles it
    // (doc 7 retires), and the BM25 folds still refuse the NULL image
    // downstream — the opt-out moves the refusal, it cannot reopen the
    // silent-drift path
    val a2 = TestSpark.tmpDir("graft-noimg2-accept")
    val u2 = TestSpark.tmpDir("graft-noimg2-upsert")
    val r2 = TestSpark.tmpDir("graft-noimg2-retract")
    val q2 = CdcStream.startCdcMaintenanceIngest(
      spark.readStream.schema(feed.schema).parquet(src),
      index0, "doc_id", "text", "old_text", "op",
      a2, u2, r2, TestSpark.tmpDir("graft-noimg2-ckpt"),
      requireDeleteImages = false)
    q2.awaitTermination()
    val retired = spark.read.parquet(r2)
    assert(retired.count() === 1L &&
      retired.filter(col("text").isNull).count() === 1L)
    val netted = CdcStream.compact(
      spark, Some(a2), Some(u2), Some(r2), index0, "doc_id", "text")
    def posts(ix: graft.extensions.Dedup.CorpusIndex) =
      ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
    assert(posts(netted) === posts(graft.extensions.Dedup.buildCorpusIndex(
      corpus0.filter(col("doc_id") =!= 7L), "doc_id", "text")))
    // the per-leg BM25 retract fold refuses the admitted NULL image
    val stats0 = graft.extensions.Search.bm25Fit(corpus0, "doc_id", "text")
    val bmErr = intercept[IllegalArgumentException] {
      CdcStream.compact(spark, None, None, Some(r2), stats0, "doc_id", "text")
    }
    assert(bmErr.getMessage.contains("NULL"))
    assert(!new java.io.File(r2, IndexFamily.Bm25.retractMarker).exists())
  }

  test("compactMaintenanceBatches: ids CROSSING op classes across " +
    "triggers (insert->update, update->delete, insert->delete, " +
    "delete->reinsert) net-reduce to exactly a rebuild of the final " +
    "state, for the text-gram index AND the BM25 stats") {
    import graft.extensions.{Dedup, Search}
    val d = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val corpus0 = d.filter(col("doc_id") < 150)
    val off = 100000L
    // trigger 1 (batch 0): id off+1 inserted (novel), doc 3 updated,
    // id off+2 inserted (novel), doc 7 deleted, doc 11 updated (plain),
    // doc 10 deleted (plain)
    val t1 = spark.createDataFrame(Seq(
      (off + 1, "a genuinely novel maintenance doc one", null.asInstanceOf[String], "insert"),
      (3L, "doc three intermediate amendment", "ORIG3", "update"),
      (off + 2, "a genuinely novel maintenance doc two", null.asInstanceOf[String], "insert"),
      (7L, "ORIG7", null.asInstanceOf[String], "delete"),
      (11L, "doc eleven final amendment", "ORIG11", "update"),
      (10L, "ORIG10", null.asInstanceOf[String], "delete"),
      (13L, "ORIG13", null.asInstanceOf[String], "delete"),
      (off + 3, "a plain novel insert that stays", null.asInstanceOf[String], "insert")))
      .toDF("doc_id", "text", "old_text", "op")
    // trigger 2 (batch 1): off+1 updated (insert->update), doc 3
    // deleted (update->delete), off+2 deleted (insert->delete), doc 7
    // re-inserted with CHANGED content (delete->reinsert), doc 13
    // re-inserted with IDENTICAL content — the hole the reinsert
    // routing closes: the novelty gate would match doc 13's own frozen
    // entry and eat it, permanently losing a doc the final CDC state
    // contains (doc 13's delete rides trigger 1 below)
    val t2 = spark.createDataFrame(Seq(
      (off + 1, "novel doc one FINAL text after amendment",
        "a genuinely novel maintenance doc one", "update"),
      (3L, "doc three intermediate amendment", null.asInstanceOf[String], "delete"),
      (off + 2, "a genuinely novel maintenance doc two", null.asInstanceOf[String], "delete"),
      (7L, "entirely new replacement content for doc seven", null.asInstanceOf[String], "insert"),
      (13L, "ORIG13", null.asInstanceOf[String], "insert")))
      .toDF("doc_id", "text", "old_text", "op")
    // the real texts of docs 3/7/10/11 stand in for the ORIG markers:
    // the stream must carry the docs' true old images
    def withRealOld(df: org.apache.spark.sql.DataFrame) = df
      .join(corpus0.withColumnRenamed("text", "__t"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("text").startsWith("ORIG"), col("__t"))
          .otherwise(col("text")).as("text"),
        when(col("old_text").startsWith("ORIG"), col("__t"))
          .otherwise(col("old_text")).as("old_text"),
        col("op"))
    val src = TestSpark.tmpDir("graft-net-src")
    withRealOld(t1).coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100) // file-source orders triggers by mod time
    withRealOld(t2).coalesce(1).write.mode("append").parquet(src)

    val acceptDir = TestSpark.tmpDir("graft-net-accept")
    val upsertDir = TestSpark.tmpDir("graft-net-upsert")
    val retractDir = TestSpark.tmpDir("graft-net-retract")
    val index0 = Dedup.buildCorpusIndex(corpus0, "doc_id", "text").persist()
    val stats0 = Search.bm25Fit(corpus0, "doc_id", "text")
    try {
      val q = CdcStream.startCdcMaintenanceIngest(
        spark.readStream.schema(spark.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        index0, "doc_id", "text", "old_text", "op",
        acceptDir, upsertDir, retractDir,
        TestSpark.tmpDir("graft-net-ckpt"))
      q.awaitTermination()
      // two triggers -> two batch subdirs in each sink
      assert(spark.read.parquet(upsertDir).select("batch").distinct().count() >= 2)

      // the final corpus state the net fold must land on: doc 3 gone
      // (update->delete), doc 7 replaced (delete->reinsert), doc 10
      // gone, doc 11 amended, doc 13 BACK AT ITS ORIGINAL TEXT
      // (delete->identical-reinsert — survives only because reinserts
      // bypass the gate), off+1 at its FINAL text (insert->update),
      // off+2 gone (insert->delete), off+3 present
      val finalCorpus = corpus0
        .filter(col("doc_id") =!= 3L && col("doc_id") =!= 7L &&
          col("doc_id") =!= 10L)
        .select(col("doc_id"),
          when(col("doc_id") === 11L, lit("doc eleven final amendment"))
            .otherwise(col("text")).as("text"))
        .unionByName(spark.createDataFrame(Seq(
          (off + 1, "novel doc one FINAL text after amendment"),
          (off + 3, "a plain novel insert that stays"),
          (7L, "entirely new replacement content for doc seven")))
          .toDF("doc_id", "text"))

      val netted = CdcStream.compact(
        spark, Some(acceptDir), Some(upsertDir), Some(retractDir), index0, "doc_id", "text")
      val scratch = Dedup.buildCorpusIndex(finalCorpus, "doc_id", "text")
      def postingSet(ix: Dedup.CorpusIndex) =
        ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
      assert(postingSet(netted) === postingSet(scratch))
      assert(netted.folded === Seq(acceptDir, upsertDir, retractDir))

      // every consumed tree wears its LEG's marker: a stray per-leg
      // fold of an already-net-compacted tree refuses
      assert(new java.io.File(acceptDir, IndexFamily.FoldedMarker).exists())
      assert(new java.io.File(upsertDir, IndexFamily.Text.upsertMarker).exists())
      assert(new java.io.File(retractDir, IndexFamily.Text.retractMarker).exists())
      intercept[IllegalArgumentException] {
        CdcStream.compact(spark, None, Some(upsertDir), None, index0, "doc_id", "text")
      }

      // BM25 net fold == refit on the final corpus (the earliest-old
      // image rule across legs: doc 3 retracts its ORIGINAL text even
      // though its delete row carries the intermediate amendment)
      val nettedStats = CdcStream.compact(
        spark, Some(acceptDir), Some(upsertDir), Some(retractDir), stats0,
        "doc_id", "text", Some("old_text"))
      val refit = Search.bm25Fit(finalCorpus, "doc_id", "text")
      assert(nettedStats.nDocs === refit.nDocs &&
        nettedStats.sumDl === refit.sumDl)
      def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
      assert(dfMap(nettedStats) === dfMap(refit))

      // lineage records only CONTRIBUTING trees: a window with no
      // inserts folds off two sinks, the (missing) accept tree stays
      // out of `folded` and unmarked
      val u2 = TestSpark.tmpDir("graft-net-u2")
      val r2 = TestSpark.tmpDir("graft-net-r2")
      val a2 = s"${TestSpark.tmpDir("graft-net-a2")}/never-written"
      corpus0.filter(col("doc_id") === 20L)
        .select(col("doc_id"),
          concat(col("text"), lit(" twenty amended")).as("text"),
          col("text").as("old_text"))
        .write.mode("overwrite").parquet(s"$u2/batch=0")
      corpus0.filter(col("doc_id") === 25L)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$r2/batch=0")
      val partial = CdcStream.compact(
        spark, Some(a2), Some(u2), Some(r2), index0, "doc_id", "text")
      assert(partial.folded === Seq(u2, r2))
      assert(!new java.io.File(a2, IndexFamily.FoldedMarker).exists())
      assert(new java.io.File(u2, IndexFamily.Text.upsertMarker).exists())
      assert(new java.io.File(r2, IndexFamily.Text.retractMarker).exists())
    } finally index0.unpersist()
  }

  test("startCdcMaintenanceIngest: ONE stream routes inserts (novelty " +
    "gate) / updates (both images) / deletes into three sinks; the fold " +
    "battery then versions the index to exactly a rebuild on the final " +
    "corpus state") {
    import graft.extensions.Dedup
    val d = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val corpus0 = d.filter(col("doc_id") < 200)
    // the change log: new docs arrive as inserts, every 5th served doc
    // leaves (delete, old image in the row), every 7th surviving doc is
    // amended (update, both images); unchanged docs are NOT in the log
    val inserts = d.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      .select(col("doc_id"), col("text"),
        lit(null).cast("string").as("old_text"), lit("insert").as("op"))
    val deletes = corpus0.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"),
        lit(null).cast("string").as("old_text"), lit("delete").as("op"))
    val updates = corpus0
      .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" maintained v2")).as("text"),
        col("text").as("old_text"), lit("update").as("op"))
    val src = TestSpark.tmpDir("graft-maint-src")
    inserts.unionByName(deletes).unionByName(updates)
      .write.mode("overwrite").parquet(src)

    val acceptDir = TestSpark.tmpDir("graft-maint-accept")
    val upsertDir = TestSpark.tmpDir("graft-maint-upsert")
    val retractDir = TestSpark.tmpDir("graft-maint-retract")
    val index0 = Dedup.buildCorpusIndex(corpus0, "doc_id", "text").persist()
    try {
      val q = CdcStream.startCdcMaintenanceIngest(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        index0, "doc_id", "text", "old_text", "op",
        acceptDir, upsertDir, retractDir,
        TestSpark.tmpDir("graft-maint-ckpt"))
      q.awaitTermination()

      // routing: each sink holds exactly its op class
      val accepted = spark.read.parquet(acceptDir).drop("batch")
      val expectedNovel = Dedup.dedupAgainstCorpus(
        inserts.select(col("doc_id"), col("text")), index0, "doc_id", "text")
      assert(accepted.select("doc_id").as[Long].collect().toSet ===
        expectedNovel.select("doc_id").as[Long].collect().toSet)
      val upserted = spark.read.parquet(upsertDir).drop("batch")
      assert(upserted.count() === updates.count())
      assert(upserted.columns.toSet === Set("doc_id", "text", "old_text"))
      val retired = spark.read.parquet(retractDir).drop("batch")
      assert(retired.select("doc_id").as[Long].collect().toSet ===
        deletes.select("doc_id").as[Long].collect().toSet)

      // the full maintenance loop: retract, upsert, then accept folds —
      // disjoint id sets, one version chain — must land exactly on a
      // from-scratch build of the final corpus state
      val idx1 = CdcStream.compact(
        spark, None, None, Some(retractDir), index0, "doc_id", "text")
      val idx2 = CdcStream.compact(
        spark, None, Some(upsertDir), None, idx1, "doc_id", "text")
      val idx3 = CdcStream.compactAccepted(
        spark, acceptDir, idx2, "doc_id", "text")

      val finalCorpus = corpus0.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" maintained v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(accepted.select(col("doc_id"), col("text")))
      val scratch = Dedup.buildCorpusIndex(finalCorpus, "doc_id", "text")
      def postingSet(ix: Dedup.CorpusIndex) =
        ix.postings.select("gram", "doc_id").as[(Long, Long)].collect().toSet
      assert(postingSet(idx3) === postingSet(scratch))
      assert(idx3.version === index0.version + 4) // retract + (remove,extend) + accept
      assert(idx3.folded === Seq(retractDir, upsertDir, acceptDir))
    } finally index0.unpersist()
  }

  test("fold lease: two CONCURRENT compactions of one tree — exactly one " +
    "folds (BM25 would double-subtract), the loser refuses loudly; a stale " +
    "lease names its break path; a refused fold releases its lease") {
    import graft.extensions.Search
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    val stats = Search.bm25Fit(docs, "doc_id", "text")
    val t9 = docs.filter(col("doc_id") === 9L).select("text").as[String].head()
    val t14 = docs.filter(col("doc_id") === 14L).select("text").as[String].head()
    val a = s"${TestSpark.tmpDir("graft-lease-a")}/never-written"
    val u = TestSpark.tmpDir("graft-lease-u")
    val r = TestSpark.tmpDir("graft-lease-r")
    Seq((14L, "doc fourteen amended under race", t14))
      .toDF("doc_id", "text", "old_text")
      .write.mode("overwrite").parquet(s"$u/batch=0")
    Seq((9L, t9)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$r/batch=0")

    // two threads race the SAME net BM25 fold of one tree triple; the
    // exclusive lease (acquired before any fold work) must let exactly
    // one through — the loser refuses at the lease (IN FLIGHT) or, if
    // it arrived after the winner committed, at the marker
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outs = new java.util.concurrent.ConcurrentLinkedQueue[
      Either[Throwable, Search.Bm25Stats]]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        gate.await()
        try outs.add(Right(CdcStream.compact(
          spark, Some(a), Some(u), Some(r), stats, "doc_id", "text", Some("old_text"))))
        catch { case e: Throwable => outs.add(Left(e)) }
        ()
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losers, winners) = outs.asScala.toSeq.partition(_.isLeft)
    assert(winners.size === 1 && losers.size === 1)
    val loserErr = losers.head.left.toOption.get
    assert(loserErr.getMessage.contains("IN FLIGHT") ||
      loserErr.getMessage.contains("already compacted"),
      s"loser refusal names the lease or the marker: $loserErr")
    // the winner's result carries EXACTLY ONE fold: == refit on the
    // final corpus (9 retired, 14 amended) — a double-subtraction
    // would show up in nDocs/df immediately
    val finalCorpus = docs.filter(col("doc_id") =!= 9L)
      .select(col("doc_id"),
        when(col("doc_id") === 14L, lit("doc fourteen amended under race"))
          .otherwise(col("text")).as("text"))
    val refit = Search.bm25Fit(finalCorpus, "doc_id", "text")
    val won = winners.head.toOption.get
    assert(won.nDocs === refit.nDocs && won.sumDl === refit.sumDl)
    def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
      .map(x => x.getAs[String]("term") -> x.getAs[Long]("df")).toMap
    assert(dfMap(won) === dfMap(refit))
    // no lease survives the commit; a third attempt refuses on markers
    assert(!new java.io.File(u,
      IndexFamily.Bm25.upsertMarker + ".lock").exists())
    val again = intercept[IllegalArgumentException] {
      CdcStream.compact(
        spark, Some(a), Some(u), Some(r), stats, "doc_id", "text", Some("old_text"))
    }
    assert(again.getMessage.contains("already compacted"))

    // a STALE lease (crashed fold) refuses with the break path — and
    // breaking it lets the re-run through
    val r2 = TestSpark.tmpDir("graft-lease-r2")
    Seq((21L, docs.filter(col("doc_id") === 21L).select("text").as[String].head()))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$r2/batch=0")
    val lock = new java.io.File(r2, IndexFamily.Bm25.retractMarker + ".lock")
    assert(lock.createNewFile())
    val stale = intercept[IllegalStateException] {
      CdcStream.compact(spark, None, None, Some(r2), stats, "doc_id", "text")
    }
    assert(stale.getMessage.contains("break the stale lease"))
    assert(lock.delete())
    val shrunk = CdcStream.compact(
      spark, None, None, Some(r2), stats, "doc_id", "text")
    assert(shrunk.nDocs === stats.nDocs - 1)

    // a REFUSED fold (contract refusal, not a crash) releases its lease
    // itself: the NULL-image retract refusal leaves no lock behind, so
    // fixing the feed needs no manual break
    val r3 = TestSpark.tmpDir("graft-lease-r3")
    Seq((31L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$r3/batch=0")
    val nullErr = intercept[IllegalArgumentException] {
      CdcStream.compact(spark, None, None, Some(r3), stats, "doc_id", "text")
    }
    assert(nullErr.getMessage.contains("NULL"))
    assert(!new java.io.File(r3,
      IndexFamily.Bm25.retractMarker + ".lock").exists())
    assert(!new java.io.File(r3, IndexFamily.Bm25.retractMarker).exists())
  }

  test("per-leg and NET accept folds of one tree refuse each other in BOTH " +
    "directions (family markers co-stamped), while sibling families' net " +
    "folds of the shared tree stay independent") {
    import graft.extensions.Similarity
    val vecs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 200).select(col("vec_id"), col("embedding"))
    val novel = vecs.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val ivfIdx = Similarity.ivfFit(vecs, "vec_id", "embedding", nlist = 8)
    val u = s"${TestSpark.tmpDir("graft-apx-u")}/never-written"
    val r = s"${TestSpark.tmpDir("graft-apx-r")}/never-written"

    // direction 1: the IVF NET compaction consumes the accept tree
    // (its per-family marker) — a stray per-leg IVF accept fold of the
    // SAME tree must then refuse, naming the net marker, instead of
    // re-folding the accepts into the same index (ADVICE r18)
    val a1 = TestSpark.tmpDir("graft-apx-a1")
    novel.write.mode("overwrite").parquet(s"$a1/batch=0")
    val netted = CdcStream.compactMaintenanceIvfBatches(
      spark, a1, u, r, ivfIdx, "vec_id", "embedding")
    assert(netted.version === ivfIdx.version + 2)
    assert(new java.io.File(a1, IndexFamily.Ivf.acceptMarker).exists())
    val e1 = intercept[IllegalArgumentException] {
      CdcStream.compactAccepted(
        spark, a1, ivfIdx, "vec_id", "embedding")
    }
    assert(e1.getMessage.contains("NET"))
    // ...while the LSH family's net fold of the SAME shared tree still
    // runs — per-family independence intact
    val lshIdx = Similarity.lshFit(vecs, "vec_id", "embedding",
      planes = 12, bands = 4)
    val lshNetted = CdcStream.compact(
      spark, Some(a1), Some(u), Some(r), lshIdx, "vec_id", "embedding")
    assert(lshNetted.version === lshIdx.version + 2)

    // direction 2: the per-leg IVF-PQ accept fold runs first and
    // co-stamps its family's net marker — the IVF-PQ net compaction of
    // the same tree must then refuse at its accept leg
    val a2 = TestSpark.tmpDir("graft-apx-a2")
    novel.write.mode("overwrite").parquet(s"$a2/batch=0")
    val pqIdx = Similarity.ivfPqFit(vecs, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16)
    CdcStream.compactAccepted(
      spark, a2, pqIdx, "vec_id", "embedding")
    assert(new java.io.File(a2, IndexFamily.FoldedMarker).exists())
    assert(new java.io.File(a2, IndexFamily.IvfPq.acceptMarker).exists())
    val e2 = intercept[IllegalArgumentException] {
      CdcStream.compact(
        spark, Some(a2), Some(u), Some(r), pqIdx, "vec_id", "embedding")
    }
    assert(e2.getMessage.contains("already compacted"))
  }

  test("onCompaction mechanizes restart-after-compaction: the default " +
    "refuses the next trigger with the NAMED error when the saved tree's " +
    "version moves; ReresolveOnCompaction reloads the handle and rolls " +
    "epoch sinks so routing reflects the new version") {
    import graft.extensions.Dedup
    val d0 = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 60).select(col("doc_id"), col("text"))

    // ---- default (FailStreamOnCompaction) -----------------------------
    val idxDir = TestSpark.tmpDir("graft-mech-idx")
    Dedup.saveCorpusIndex(Dedup.buildCorpusIndex(d0, "doc_id", "text"), idxDir)
    val loaded = Dedup.loadCorpusIndex(spark, idxDir)
    val src = TestSpark.tmpDir("graft-mech-src")
    val (a, u, r) = (TestSpark.tmpDir("graft-mech-a"),
      TestSpark.tmpDir("graft-mech-u"), TestSpark.tmpDir("graft-mech-r"))
    def feed(rows: (Long, String, String, String)*): Unit =
      rows.toDF("doc_id", "text", "old_text", "op")
        .coalesce(1).write.mode("append").parquet(src)
    feed((900L, "a novel mechanization doc", null, "insert"))
    val q = CdcStream.startCdcMaintenanceIngest(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      loaded, "doc_id", "text", "old_text", "op",
      a, u, r, TestSpark.tmpDir("graft-mech-ckpt"),
      availableNow = false, batchPeriodSecs = 1L)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(a).filter(col("doc_id") === 900L).count() === 1L)
      // an offline compaction bumps the SAVED tree IN PLACE (the
      // in-place-upgrade save path) while the stream keeps running...
      val folded = CdcStream.compact(
        spark, Some(a), Some(u), Some(r), loaded, "doc_id", "text", saveTo = Some(idxDir))
      assert(folded.version === loaded.version + 2)
      // ...and the NEXT trigger refuses with the named error instead of
      // misrouting against the stale membership for many more triggers
      Thread.sleep(1100)
      feed((901L, "another novel doc", null, "insert"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      var c: Throwable = err
      var found = false
      while (c != null) {
        if (c.getMessage != null &&
          c.getMessage.contains("restart required: index version moved"))
          found = true
        c = c.getCause
      }
      assert(found, s"cause chain of $err names the restart contract")
    } finally { if (q.isActive) q.stop() }

    // ---- ReresolveOnCompaction ----------------------------------------
    val idxDir2 = TestSpark.tmpDir("graft-mech2-idx")
    Dedup.saveCorpusIndex(Dedup.buildCorpusIndex(d0, "doc_id", "text"), idxDir2)
    val loaded2 = Dedup.loadCorpusIndex(spark, idxDir2)
    val v1 = loaded2.version
    val t7 = d0.filter(col("doc_id") === 7L).select("text").as[String].head()
    val src2 = TestSpark.tmpDir("graft-mech2-src")
    val (a2, u2, r2) = (TestSpark.tmpDir("graft-mech2-a"),
      TestSpark.tmpDir("graft-mech2-u"), TestSpark.tmpDir("graft-mech2-r"))
    def feed2(rows: (Long, String, String, String)*): Unit =
      rows.toDF("doc_id", "text", "old_text", "op")
        .coalesce(1).write.mode("append").parquet(src2)
    // window 1: doc 7 leaves (delete, image in the row), 910 arrives
    feed2((7L, t7, null, "delete"),
      (910L, "novel doc nine ten", null, "insert"))
    val q2 = CdcStream.startCdcMaintenanceIngest(
      spark.readStream.schema(spark.read.parquet(src2).schema).parquet(src2),
      loaded2, "doc_id", "text", "old_text", "op",
      a2, u2, r2, TestSpark.tmpDir("graft-mech2-ckpt"),
      availableNow = false, batchPeriodSecs = 1L,
      onCompaction = CdcStream.ReresolveOnCompaction)
    try {
      q2.processAllAvailable()
      // epoch-suffixed sinks from the first trigger on
      assert(spark.read.parquet(s"$a2/epoch=$v1")
        .filter(col("doc_id") === 910L).count() === 1L)
      assert(spark.read.parquet(s"$r2/epoch=$v1")
        .filter(col("doc_id") === 7L).count() === 1L)
      // offline: fold THIS epoch's trees, save the bump in place
      val folded2 = CdcStream.compact(
        spark, Some(s"$a2/epoch=$v1"), Some(s"$u2/epoch=$v1"), Some(s"$r2/epoch=$v1"),
        loaded2, "doc_id", "text", saveTo = Some(idxDir2))
      val v3 = folded2.version
      // window 2: doc 7 comes BACK with fresh content (truly novel to
      // the compacted index), and 910 — now a SERVED id — re-arrives
      Thread.sleep(1100)
      feed2((7L, "doc seven comes back with fresh content", null, "insert"),
        (910L, "novel doc nine ten", null, "insert"))
      q2.processAllAvailable()
      // the stream re-resolved and rolled: doc 7 went through the GATE
      // (the stale handle would have misrouted it to the upsert sink
      // with a NULL old image), 910 routed as a reinsert — both under
      // the NEW epoch
      val acc2 = spark.read.parquet(s"$a2/epoch=$v3")
      assert(acc2.filter(col("doc_id") === 7L).count() === 1L)
      val ups2 = spark.read.parquet(s"$u2/epoch=$v3")
      assert(ups2.filter(col("doc_id") === 910L).count() === 1L)
      assert(ups2.filter(col("doc_id") === 7L).count() === 0L)
    } finally { if (q2.isActive) q2.stop() }
  }

  test("mapGroupsWithState user sessions accumulate per key") {
    val events = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[CdcStream.UserEvent]
    val sessions = CdcStream.userSessions(spark, events)
    val out = sessions.collect()
    assert(out.length == 15) // distinct users at sf0.001
    val expect = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    out.foreach { s =>
      val (n, v) = expect(s.user_id)
      assert(s.n_events == n && math.abs(s.total_value - v) < 1e-6)
      assert(!s.first_ts.after(s.last_ts))
    }
  }
}
