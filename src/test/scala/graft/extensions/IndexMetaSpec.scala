package graft.extensions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The saved-index version/lineage stamp (`_meta.json`): save stamps,
  * extend bumps, load round-trips, close/compaction refuse stale
  * handles, compaction records the folded sink tree. */
class IndexMetaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = graft.sources.Tables
    .load(spark, TestSpark.Sf0001, "documents")

  test("save stamps version 1 with footer-exact row counts; load round-trips") {
    val dir = TestSpark.tmpDir("graft-meta-v1")
    val idx = Dedup.buildCorpusIndex(docs.filter(col("doc_id") < 100),
      "doc_id", "text")
    val saved = Dedup.saveCorpusIndex(idx, dir)
    assert(saved.version == 1L)

    val stamp = IndexMeta.read(spark, dir).get
    assert(stamp.version == 1L)
    assert(stamp.parent.isEmpty)
    assert(stamp.folded.isEmpty)
    assert(stamp.rows.keySet == Set("postings", "shingles", "df", "stats"))
    assert(stamp.rows("shingles") == idx.shingles.count())
    assert(stamp.rows("postings") == idx.postings.count())
    assert(stamp.rows("stats") == idx.docStats.count())

    val loaded = Dedup.loadCorpusIndex(spark, dir)
    assert(loaded.version == 1L && loaded.folded.isEmpty)
    loaded.close()
  }

  test("extend bumps the version and drops savedDir; save records the parent") {
    val d1 = TestSpark.tmpDir("graft-meta-p1")
    val d2 = TestSpark.tmpDir("graft-meta-p2")
    val v1 = Dedup.saveCorpusIndex(
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") < 100), "doc_id", "text"), d1)
    val v2 = Dedup.extendCorpusIndex(v1,
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150), "doc_id", "text")
    assert(v2.version == 2L)
    assert(v2.savedDir.isEmpty, "an extension must not inherit the parent's tree")

    assert(v2.parent.contains(d1),
      "the extension must carry the parent tree's path")

    val v2saved = Dedup.saveCorpusIndex(v2, d2)
    val stamp = IndexMeta.read(spark, d2).get
    assert(stamp.version == 2L)
    assert(stamp.parent.contains(d1), "the new tree must name its parent")
    assert(Dedup.loadCorpusIndex(spark, d2).parent.contains(d1),
      "load must round-trip the lineage")
    v2saved.close()
    v1.close()
  }

  test("saving an extension back over its own parent tree never stamps a self-referential parent") {
    val dir = TestSpark.tmpDir("graft-meta-selfref")
    val v1 = Dedup.saveCorpusIndex(
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") < 100), "doc_id", "text"), dir)
    // load → extend → save back to the SAME dir: the extension's parent
    // points at `dir`, but the save overwrites that very tree — a stamp
    // with parent == dir would name a tree that no longer exists, and a
    // lineage walker would loop on it forever
    val ext = Dedup.extendCorpusIndex(Dedup.loadCorpusIndex(spark, dir),
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150), "doc_id", "text")
    assert(ext.parent.contains(dir))
    val mat = Dedup.CorpusIndex(
      ext.postings.localCheckpoint(true), ext.shingles.localCheckpoint(true),
      ext.dfCounts.localCheckpoint(true), ext.docStats.localCheckpoint(true),
      ext.shingleK, ext.maxGramDf,
      version = ext.version, parent = ext.parent)
    val v2 = Dedup.saveCorpusIndex(mat, dir)
    val stamp = IndexMeta.read(spark, dir).get
    assert(stamp.version == 2L)
    assert(stamp.parent.isEmpty,
      s"in-place re-save must drop the self-referential parent, got ${stamp.parent}")
    v2.close()
    v1.unpersist()
  }

  test("close() refuses a stale handle after the tree was re-saved in place") {
    val dir = TestSpark.tmpDir("graft-meta-stale")
    val v1 = Dedup.saveCorpusIndex(
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") < 100), "doc_id", "text"), dir)
    // another job bumps the SAME tree in place: extend + save over dir.
    // Materialize the extension's inputs BEFORE overwriting (the lazy
    // plans read the old files) — in production the jobs are distinct
    // and the new version is computed from its own inputs.
    val ext = Dedup.extendCorpusIndex(v1,
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150), "doc_id", "text")
    // carry LINEAGE through the materialization: the in-place-upgrade
    // save guard (r19, the Bm25Stats.save contract ported) admits a
    // same-dir version bump only from a handle that DESCENDS from the
    // tree — dropping `parent` here would make this v2 look like an
    // unrelated handle clobbering a v1 tree, which the guard refuses
    val mat = Dedup.CorpusIndex(
      ext.postings.localCheckpoint(true), ext.shingles.localCheckpoint(true),
      ext.dfCounts.localCheckpoint(true), ext.docStats.localCheckpoint(true),
      ext.shingleK, ext.maxGramDf,
      version = ext.version, parent = ext.parent)
    val v2 = Dedup.saveCorpusIndex(mat, dir)
    assert(IndexMeta.read(spark, dir).get.version == 2L)

    val e = intercept[IllegalArgumentException](v1.close())
    assert(e.getMessage.contains("version 2") && e.getMessage.contains("version 1"))
    assert(IndexMeta.read(spark, dir).nonEmpty, "stale close must not delete the tree")
    v2.close() // the current handle may retire it
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("ivf/lsh/embedding families carry the same stamp through save/load/extend") {
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 200)

    val ivfDir = TestSpark.tmpDir("graft-meta-ivf")
    val ivf = Similarity.ivfFit(e, "vec_id", "embedding", nlist = 4).save(ivfDir)
    assert(IndexMeta.read(spark, ivfDir).get.version == 1L)
    assert(Similarity.loadIvfIndex(spark, ivfDir).version == 1L)
    val ivf2 = Similarity.extendIvfIndex(ivf, e.limit(0), "vec_id", "embedding")
    assert(ivf2.version == 2L && ivf2.savedDir.isEmpty)
    assert(ivf2.parent.contains(ivfDir), "IVF extension must carry lineage")
    ivf.close()

    val lshDir = TestSpark.tmpDir("graft-meta-lsh")
    val lsh = Similarity.lshFit(e, "vec_id", "embedding").save(lshDir)
    assert(IndexMeta.read(spark, lshDir).get.version == 1L)
    assert(Similarity.loadLshIndex(spark, lshDir).version == 1L)
    val lsh2 = Similarity.extendLshIndex(lsh, e.limit(0), "vec_id", "embedding")
    assert(lsh2.version == 2L && lsh2.savedDir.isEmpty,
      "an LSH extension must not inherit the parent's tree")
    assert(lsh2.parent.contains(lshDir), "LSH extension must carry lineage")
    lsh.close()

    val pqDir = TestSpark.tmpDir("graft-meta-pq")
    val pq = Similarity.pqFit(e, "vec_id", "embedding", m = 8, ksub = 4)
      .save(pqDir)
    assert(IndexMeta.read(spark, pqDir).get.version == 1L)
    assert(Similarity.loadPqIndex(spark, pqDir).version == 1L)
    val pq2 = Similarity.extendPqIndex(pq, e.limit(0), "vec_id", "embedding")
    assert(pq2.version == 2L && pq2.savedDir.isEmpty,
      "a PQ extension must not inherit the parent's tree")
    assert(pq2.parent.contains(pqDir), "PQ extension must carry lineage")
    pq.close()

    val embDir = TestSpark.tmpDir("graft-meta-emb")
    val emb = Dedup.saveEmbeddingIndex(
      Dedup.buildEmbeddingIndex(e, "vec_id", "embedding"), embDir)
    assert(IndexMeta.read(spark, embDir).get.version == 1L)
    assert(Dedup.loadEmbeddingIndex(spark, embDir).version == 1L)
    val emb2 = Dedup.extendEmbeddingIndex(emb, e.limit(0), "vec_id", "embedding")
    assert(emb2.version == 2L)
    assert(emb2.parent.contains(embDir), "embedding extension must carry lineage")
    emb.close()
  }

  test("a corrupted stamp keeps loads working but BLOCKS close() until cleared") {
    val dir = TestSpark.tmpDir("graft-meta-corrupt")
    val v1 = Dedup.saveCorpusIndex(
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") < 50), "doc_id", "text"), dir)
    // simulate a crash mid-write of a pre-atomic writer: truncated JSON
    // (written through the Hadoop FS so its checksum file stays in step)
    val p = new org.apache.hadoop.fs.Path(dir, IndexMeta.FileName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write("""{"version": 1, "fol""".getBytes) finally out.close()
    assert(IndexMeta.readStamp(spark, dir)
      .isInstanceOf[IndexMeta.Stamp.Corrupt],
      "bytes present but unparseable must read as Corrupt, not Absent")
    assert(IndexMeta.read(spark, dir).isEmpty,
      "the lenient view must degrade Corrupt to None for loads")
    // NON-destructive load still works (falls back to unstamped defaults)
    val loaded = Dedup.loadCorpusIndex(spark, dir)
    assert(loaded.version == 1L)
    // ...but close() refuses: the version the damaged stamp recorded is
    // unknown, so this may not be the tree the handle believes it holds
    val err = intercept[IllegalArgumentException](loaded.close())
    assert(err.getMessage.contains("UNREADABLE"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "a refused close must not delete anything")
    // the audited force path: clear the corrupt stamp, then the tree is
    // genuinely unstamped and retires under the pre-stamp exemption
    assert(IndexMeta.clearCorruptStamp(spark, dir))
    loaded.close()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    v1.unpersist()
  }

  test("a genuinely unstamped pre-stamp tree still retires; a valid stamp refuses clearing") {
    val dir = TestSpark.tmpDir("graft-meta-prestamp")
    val v1 = Dedup.saveCorpusIndex(
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") < 50), "doc_id", "text"), dir)
    // clearCorruptStamp must not delete a VALID stamp
    intercept[IllegalArgumentException](IndexMeta.clearCorruptStamp(spark, dir))
    // delete the stamp entirely: a pre-stamp tree (absent != corrupt)
    val p = new org.apache.hadoop.fs.Path(dir, IndexMeta.FileName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, false)
    assert(IndexMeta.readStamp(spark, dir) == IndexMeta.Stamp.Absent)
    assert(!IndexMeta.clearCorruptStamp(spark, dir), "no-op on unstamped")
    v1.close() // exempt by design: version checks never existed for it
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("compaction refuses a stale handle and records the folded sink in lineage") {
    val dir = TestSpark.tmpDir("graft-meta-fold")
    val sink = TestSpark.tmpDir("graft-meta-sink") + "/accepted"
    val v1 = Dedup.saveCorpusIndex(
      Dedup.buildCorpusIndex(docs.filter(col("doc_id") < 100), "doc_id", "text"), dir)

    // an accepted-batch sink tree (the streaming ingest's layout)
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
      .withColumn("batch", lit(0L))
      .write.partitionBy("batch").parquet(sink)

    val bumped = graft.streaming.CdcStream.compactAccepted(
      spark, sink, v1, "doc_id", "text")
    assert(bumped.version == 2L)
    assert(bumped.folded == Seq(sink), "the fold must enter the lineage")

    // the next save stamps the lineage into the tree
    val d2 = TestSpark.tmpDir("graft-meta-fold2")
    Dedup.saveCorpusIndex(bumped, d2)
    val stamp = IndexMeta.read(spark, d2).get
    assert(stamp.version == 2L && stamp.folded == Seq(sink) &&
      stamp.parent.contains(dir))

    // a handle made stale by that save chain cannot compact: simulate by
    // stamping the v1 tree with a newer version (another job re-saved it)
    IndexMeta.write(spark, dir,
      IndexMeta.Meta(7L, None, Nil, Map.empty))
    val err = intercept[IllegalArgumentException](
      graft.streaming.CdcStream.compactAccepted(
        spark, sink, v1, "doc_id", "text"))
    assert(err.getMessage.contains("compaction"))
  }
}
