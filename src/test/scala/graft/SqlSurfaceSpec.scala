package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface (GraftSqlExtensions): two oracle-pinned queries
  * reproduced through `spark.sql` ONLY — no DataFrame API in the loop —
  * proving a pure-SQL user gets bit-identical results, via the
  * production `spark.sql.extensions` injection path (TestSpark's
  * session carries the conf; nothing here calls register()). */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viewDocs(): Unit =
    graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .createOrReplaceTempView("g_documents")

  test("graft_* functions are injected via spark.sql.extensions, not temp-registered") {
    assert(spark.conf.get("spark.sql.extensions") === "graft.GraftSqlExtensions")
    // injectFunction lands in the PERSISTENT builtin registry half, so
    // it is visible without any session-side registration call
    assert(spark.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_fingerprint")))
  }

  test("text_fingerprint through pure SQL == the oracle-pinned DataFrame query") {
    viewDocs()
    val viaSql = spark.sql(
      "SELECT doc_id, graft_fingerprint(text) AS fingerprint FROM g_documents")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaApi = SparkEntry.queries("text_fingerprint")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSql === viaApi)
  }

  test("text_langid through pure SQL == the oracle-pinned DataFrame query") {
    viewDocs()
    val viaSql = spark.sql(
      """SELECT doc_id,
        |  graft_lang_id(text) AS lang_pred,
        |  graft_token_count_bpe(text) AS n_tokens_bpe,
        |  graft_quality_score(text) AS quality
        |FROM g_documents""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val viaApi = SparkEntry.queries("text_langid")(spark, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(viaSql === viaApi,
      "SQL-surface quality/langid must be bit-identical to the API path")
  }

  test("graft_bm25_topk TVF: the saved-stats retrieval row through pure SQL") {
    viewDocs()
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val statsDir = TestSpark.tmpDir("graft-sql-bm25")
    graft.extensions.Search.bm25Fit(docs, "doc_id", "text").save(statsDir)
    // the search_bm25_saved shape with ZERO Scala in the query loop:
    // corpus by view name, stats by tree path, terms/k as literals
    val viaSql = spark.sql(
      s"""SELECT * FROM graft_bm25_topk('g_documents', 'doc_id', 'text',
         |  '$statsDir', 'spark,vector,quasar', 20)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val viaApi = SparkEntry.queries("search_bm25")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(viaSql === viaApi,
      "TVF retrieval must be bit-identical to the oracle-pinned row, " +
        "including the top-k order")
  }

  test("graft_dedup_against_corpus TVF: the incremental-dedup keep-set " +
    "through pure SQL") {
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
      .createOrReplaceTempView("g_batch")
    val indexDir = TestSpark.tmpDir("graft-sql-corpus-index")
    graft.extensions.Dedup.saveCorpusIndex(
      graft.extensions.Dedup.buildCorpusIndex(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
        "doc_id", "text"),
      indexDir)
    val viaSql = spark.sql(
      s"""SELECT doc_id, lang, source, n_chars
         |FROM graft_dedup_against_corpus('g_batch', 'doc_id', 'text',
         |  '$indexDir', 0.5)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    val viaApi = SparkEntry.queries("dedup_incremental")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(viaSql === viaApi)
  }

  test("graft_ann_topk TVF: ANN retrieval against a saved IVF tree " +
    "through pure SQL == the probe row") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val indexDir = TestSpark.tmpDir("graft-sql-ivf")
    graft.extensions.Similarity
      .ivfFit(e, "vec_id", "embedding", nlist = 8).save(indexDir)
    e.filter(col("vec_id") % 20 === 0).createOrReplaceTempView("g_queries")
    val viaSql = spark.sql(
      s"""SELECT query_id, neighbor_id, rank
         |FROM graft_ann_topk('g_queries', 'vec_id', 'embedding',
         |  '$indexDir', 10, 4)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaApi = graft.extensions.Similarity.ivfProbe(
      graft.extensions.Similarity.loadIvfIndex(spark, indexDir),
      e.filter(col("vec_id") % 20 === 0),
      "vec_id", "embedding", k = 10, nprobe = 4)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaSql === viaApi,
      "TVF ANN retrieval must be bit-identical to the API probe")
  }

  test("graft_annpq_topk TVF: compressed-index (IVFADC) retrieval " +
    "against a saved IVF-PQ tree through pure SQL == the API probe, " +
    "direct AND residual encodings") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") % 20 === 0)
    queries.createOrReplaceTempView("g_pq_queries")
    for (residual <- Seq(false, true)) {
      val indexDir = TestSpark.tmpDir(s"graft-sql-ivfpq-$residual")
      graft.extensions.Similarity.ivfPqFit(e, "vec_id", "embedding",
        nlist = 4, m = 8, ksub = 16, residual = residual).save(indexDir)
      // the encoding flag travels in the tree's meta — the TVF call is
      // identical for both
      val viaSql = spark.sql(
        s"""SELECT query_id, neighbor_id, rank
           |FROM graft_annpq_topk('g_pq_queries', 'vec_id', 'embedding',
           |  '$indexDir', 10, 2, 50)""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val viaApi = graft.extensions.Similarity.ivfPqProbe(
        graft.extensions.Similarity.loadIvfPqIndex(spark, indexDir),
        queries, "vec_id", "embedding", k = 10, nprobe = 2, rerank = 50)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaSql === viaApi,
        s"TVF IVFADC retrieval (residual=$residual) must be " +
          "bit-identical to the API probe")
    }
  }

  test("graft_lsh_topk / graft_pq_topk TVFs: the remaining ANN families " +
    "retrieve against saved trees through pure SQL == the API probes") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") % 20 === 0)
    queries.createOrReplaceTempView("g_ann_queries")
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val lshDir = TestSpark.tmpDir("graft-sql-lsh")
    graft.extensions.Similarity
      .lshFit(e, "vec_id", "embedding", planes = 12, bands = 4).save(lshDir)
    val lshSql = triples(spark.sql(
      s"""SELECT * FROM graft_lsh_topk('g_ann_queries', 'vec_id',
         |  'embedding', '$lshDir', 10)""".stripMargin))
    val lshApi = triples(graft.extensions.Similarity.lshProbe(
      graft.extensions.Similarity.loadLshIndex(spark, lshDir),
      queries, "vec_id", "embedding", k = 10))
    assert(lshSql === lshApi)

    val pqDir = TestSpark.tmpDir("graft-sql-pq")
    graft.extensions.Similarity
      .pqFit(e, "vec_id", "embedding", m = 8, ksub = 16).save(pqDir)
    val pqSql = triples(spark.sql(
      s"""SELECT * FROM graft_pq_topk('g_ann_queries', 'vec_id',
         |  'embedding', '$pqDir', 10, 50)""".stripMargin))
    val pqApi = triples(graft.extensions.Similarity.pqProbe(
      graft.extensions.Similarity.loadPqIndex(spark, pqDir),
      queries, "vec_id", "embedding", k = 10, rerank = 50))
    assert(pqSql === pqApi)
  }

  test("graft_corpus_diff / graft_vector_diff TVFs == the API diff, " +
    "statuses per id from pure SQL") {
    import org.apache.spark.sql.functions.{col, concat, lit, transform, when}
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
    docs.createOrReplaceTempView("g_old_docs")
    docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" amended")))
          .otherwise(col("text")).as("text"))
      .createOrReplaceTempView("g_new_docs")
    val viaSql = spark.sql(
      "SELECT * FROM graft_corpus_diff('g_old_docs', 'g_new_docs', 'doc_id', 'text')")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaApi = graft.extensions.CorpusOps.corpusDiff(
      spark.table("g_old_docs"), spark.table("g_new_docs"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSql === viaApi)
    assert(viaSql.values.toSet === Set("removed", "changed", "same"))

    val vecs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 100).select(col("vec_id"), col("embedding"))
    vecs.createOrReplaceTempView("g_old_vecs")
    vecs.select(col("vec_id"),
        when(col("vec_id") % 7 === 0, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
      .createOrReplaceTempView("g_new_vecs")
    val vSql = spark.sql(
      "SELECT * FROM graft_vector_diff('g_old_vecs', 'g_new_vecs', 'vec_id', 'embedding')")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    vSql.foreach { case (id, st) =>
      assert(st === (if (id % 7 == 0) "changed" else "same"), s"vec $id")
    }
  }

  test("graft_quota_sample TVF == the API operator, and quota CSV guards") {
    viewDocs()
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    val viaSql = spark.sql(
      """SELECT doc_id, lang, rank
        |FROM graft_quota_sample('g_documents', 'doc_id', 'lang',
        |  'en:40,de:25', 10)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val viaApi = graft.extensions.CorpusOps.quotaSample(docs,
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("lang"),
      Map("en" -> 40, "de" -> 25), defaultQuota = 10)
      .select("doc_id", "lang", "rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(viaSql === viaApi)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_quota_sample('g_documents', 'doc_id', 'lang', 'en=40', 0)")
        .collect()
    }
    assert(e.getMessage.contains("stratum:quota"))
  }

  test("kernel expressions and structural-literal guards work from SQL") {
    viewDocs()
    // native kernels compose from SQL: simhash over graft_tokens,
    // shingles with a literal k
    val n = spark.sql(
      """SELECT doc_id, graft_simhash(graft_tokens(text)) AS sh,
        |  size(graft_hashed_shingles(graft_tokens(text), 3)) AS n_grams,
        |  graft_hash_split(CAST(doc_id AS STRING), '80', 'c0') AS split
        |FROM g_documents""".stripMargin)
      .filter("sh IS NOT NULL AND n_grams > 0 AND split IN ('train','val','test')")
      .count()
    assert(n > 0)
    // a non-literal structural hyperparameter is refused at analysis
    val e = intercept[Exception] {
      spark.sql(
        "SELECT graft_hashed_shingles(graft_tokens(text), CAST(doc_id AS INT)) FROM g_documents")
        .collect()
    }
    assert(e.getMessage.contains("INT literal"))
  }

  test("CALL graft.compact_maintenance: the net-effect fold runs from " +
    "pure SQL for text AND bm25 off one shared tree triple, and a no-op " +
    "window reports saved_to NULL") {
    import org.apache.spark.sql.functions._
    import graft.extensions.{Dedup, Search}
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val corpus0 = docs.filter(col("doc_id") < 120)
    val idxDir = TestSpark.tmpDir("graft-call-idx")
    val statsDir = TestSpark.tmpDir("graft-call-stats")
    Dedup.saveCorpusIndex(
      Dedup.buildCorpusIndex(corpus0, "doc_id", "text"), idxDir)
    Search.bm25Fit(corpus0, "doc_id", "text").save(statsDir)
    // one shared maintenance window, written in sink shape: doc 20
    // amended (upsert, both images), doc 25 retired (retract, old
    // image), no accepts (missing tree)
    val u = TestSpark.tmpDir("graft-call-u")
    val r = TestSpark.tmpDir("graft-call-r")
    val a = s"${TestSpark.tmpDir("graft-call-a")}/never-written"
    corpus0.filter(col("doc_id") === 20L)
      .select(col("doc_id"),
        concat(col("text"), lit(" amended via CALL")).as("text"),
        col("text").as("old_text"))
      .write.mode("overwrite").parquet(s"$u/batch=0")
    corpus0.filter(col("doc_id") === 25L)
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$r/batch=0")

    val textSave = TestSpark.tmpDir("graft-call-idx2")
    val row = spark.sql(
      s"""CALL graft.compact_maintenance('text', '$a', '$u', '$r',
         |  '$idxDir', '$textSave', 'doc_id', 'text')""".stripMargin)
      .collect()
    assert(row.length === 1)
    assert(row.head.getAs[String]("family") === "text" &&
      row.head.getAs[String]("saved_to") === textSave &&
      row.head.getAs[Long]("new_version") ===
        row.head.getAs[Long]("old_version") + 2) // remove, then extend

    // the saved bump == a from-scratch build of the final corpus
    val finalCorpus = corpus0.filter(col("doc_id") =!= 25L)
      .select(col("doc_id"),
        when(col("doc_id") === 20L, concat(col("text"), lit(" amended via CALL")))
          .otherwise(col("text")).as("text"))
    def postingSet(ix: Dedup.CorpusIndex) =
      ix.postings.select("gram", "doc_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(postingSet(Dedup.loadCorpusIndex(spark, textSave)) ===
      postingSet(Dedup.buildCorpusIndex(finalCorpus, "doc_id", "text")))

    // bm25 off the SAME trees (its own markers), old_col named
    val bmSave = TestSpark.tmpDir("graft-call-stats2")
    spark.sql(
      s"""CALL graft.compact_maintenance('bm25', '$a', '$u', '$r',
         |  '$statsDir', '$bmSave', 'doc_id', 'text', 'old_text')""".stripMargin)
      .collect()
    val folded = Search.loadBm25Stats(spark, bmSave)
    val refit = Search.bm25Fit(finalCorpus, "doc_id", "text")
    assert(folded.nDocs === refit.nDocs && folded.sumDl === refit.sumDl)
    def dfMap(s: Search.Bm25Stats) = s.docFreq.collect()
      .map(x => x.getAs[String]("term") -> x.getAs[Long]("df")).toMap
    assert(dfMap(folded) === dfMap(refit))

    // double-fold refusal carries through the SQL surface
    val dup = intercept[Exception] {
      spark.sql(
        s"""CALL graft.compact_maintenance('text', '$a', '$u', '$r',
           |  '$idxDir', '$textSave', 'doc_id', 'text')""".stripMargin).collect()
    }
    assert(dup.getMessage.contains("already compacted"))

    // a window with nothing to fold: saved_to NULL, version unchanged
    val idle = spark.sql(
      s"""CALL graft.compact_maintenance('text',
         |  '${TestSpark.tmpDir("gi-a")}', '${TestSpark.tmpDir("gi-u")}',
         |  '${TestSpark.tmpDir("gi-r")}',
         |  '$idxDir', '${TestSpark.tmpDir("gi-s")}', 'doc_id', 'text')"""
        .stripMargin).collect().head
    assert(idle.isNullAt(idle.fieldIndex("saved_to")) &&
      idle.getAs[Long]("new_version") === idle.getAs[Long]("old_version"))

    // guards: bm25 without old_col, unknown family
    val noOld = intercept[Exception] {
      spark.sql(
        s"""CALL graft.compact_maintenance('bm25', '$a', '$u', '$r',
           |  '$statsDir', '$bmSave', 'doc_id', 'text')""".stripMargin).collect()
    }
    assert(noOld.getMessage.contains("old_col"))
    // ...checked BEFORE the stats load: a missing index tree still
    // refuses on the absent old_col, not on the load
    val noOldFirst = intercept[Exception] {
      spark.sql(
        s"""CALL graft.compact_maintenance('bm25', '$a', '$u', '$r',
           |  '${TestSpark.tmpDir("gi-none")}/absent', '$bmSave', 'doc_id',
           |  'text')""".stripMargin).collect()
    }
    assert(noOldFirst.getMessage.contains("requires old_col"))
    // old_col for a family that retracts by id is refused by name, not
    // silently ignored
    val strayOld = intercept[Exception] {
      spark.sql(
        s"""CALL graft.compact_maintenance('ivf', '$a', '$u', '$r',
           |  '$idxDir', '$textSave', 'doc_id', 'text', 'old_text')"""
          .stripMargin).collect()
    }
    assert(strayOld.getMessage.contains("old_col") &&
      strayOld.getMessage.contains("does not apply"))
    val badFam = intercept[Exception] {
      spark.sql(
        s"""CALL graft.compact_maintenance('btree', '$a', '$u', '$r',
           |  '$idxDir', '$textSave', 'doc_id', 'text')""".stripMargin).collect()
    }
    assert(badFam.getMessage.contains("unknown index family"))
    // a typo'd NAMESPACE must error, not silently resolve by name and
    // run a real (side-effecting) compaction
    val badNs = intercept[Exception] {
      spark.sql(
        s"""CALL graft.prod.compact_maintenance('text', '$a', '$u', '$r',
           |  '$idxDir', '$textSave', 'doc_id', 'text')""".stripMargin).collect()
    }
    assert(badNs.getMessage.contains("namespace") ||
      badNs.getMessage.contains("prod"))
    // an explicit NULL for a required parameter refuses BY NAME, not
    // with a bare NPE off the SQL surface
    val nullArg = intercept[Exception] {
      spark.sql(
        s"""CALL graft.compact_maintenance(NULL, '$a', '$u', '$r',
           |  '$idxDir', '$textSave', 'doc_id', 'text')""".stripMargin).collect()
    }
    assert(nullArg.getMessage.contains("family"))
  }

  test("CALL graft.fit_index completes the pure-SQL lifecycle: CALL-fit " +
    "== API-fit tree-for-tree (deterministic seeds), hyperparameters " +
    "literal-guarded per family") {
    import org.apache.spark.sql.functions._
    import graft.extensions.{Dedup, Similarity}
    val docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    docs.createOrReplaceTempView("g_fit_docs")
    val vecs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 300).select(col("vec_id"), col("embedding"))
    vecs.createOrReplaceTempView("g_fit_vecs")

    // text: the CALL-fitted tree == the API-fitted index, posting for
    // posting, and the audit row names what happened
    val tDir = TestSpark.tmpDir("graft-fit-text")
    val apiText = Dedup.buildCorpusIndex(docs, "doc_id", "text")
    val trow = spark.sql(
      s"""CALL graft.fit_index('text', 'g_fit_docs', '$tDir',
         |  'doc_id', 'text')""".stripMargin).collect().head
    assert(trow.getAs[String]("family") === "text" &&
      trow.getAs[String]("saved_to") === tDir &&
      trow.getAs[Long]("version") === apiText.version)
    def postingSet(ix: Dedup.CorpusIndex) =
      ix.postings.select("gram", "doc_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(postingSet(Dedup.loadCorpusIndex(spark, tDir)) ===
      postingSet(apiText))

    // ivf with a NAMED hyperparameter: the tree equals the API fit at
    // the same nlist — the fixed KMeans seed makes CALL-fit ≡ API-fit
    // bitwise at the centers/assigned level
    val iDir = TestSpark.tmpDir("graft-fit-ivf")
    spark.sql(
      s"""CALL graft.fit_index('ivf', 'g_fit_vecs', '$iDir',
         |  'vec_id', 'embedding', nlist => '8')""".stripMargin).collect()
    val apiIvf = Similarity.ivfFit(vecs, "vec_id", "embedding", nlist = 8)
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toSeq
        case x => x
      }).toSet
    val loadedIvf = Similarity.loadIvfIndex(spark, iDir)
    assert(rowSet(loadedIvf.centers) === rowSet(apiIvf.centers))
    assert(rowSet(loadedIvf.assigned) === rowSet(apiIvf.assigned))

    // literal guards, the TVF tier's discipline: a hyperparameter that
    // does not apply to the family refuses NAMING it...
    val wrongFam = intercept[Exception] {
      spark.sql(
        s"""CALL graft.fit_index('ivf', 'g_fit_vecs',
           |  '${TestSpark.tmpDir("gf-x1")}', 'vec_id', 'embedding',
           |  planes => '9')""".stripMargin).collect()
    }
    assert(wrongFam.getMessage.contains("planes") &&
      wrongFam.getMessage.contains("ivf"))
    // ...a family with NO hyperparameters refuses any...
    val bmHyper = intercept[Exception] {
      spark.sql(
        s"""CALL graft.fit_index('bm25', 'g_fit_docs',
           |  '${TestSpark.tmpDir("gf-x2")}', 'doc_id', 'text',
           |  m => '4')""".stripMargin).collect()
    }
    assert(bmHyper.getMessage.contains("no hyperparameters"))
    // ...a non-integer literal refuses naming the parameter...
    val badInt = intercept[Exception] {
      spark.sql(
        s"""CALL graft.fit_index('ivf', 'g_fit_vecs',
           |  '${TestSpark.tmpDir("gf-x3")}', 'vec_id', 'embedding',
           |  nlist => 'many')""".stripMargin).collect()
    }
    assert(badInt.getMessage.contains("integer") &&
      badInt.getMessage.contains("nlist"))
    // ...an explicit NULL for a required parameter refuses by name, and
    // an unknown family lists the real ones
    val nullReq = intercept[Exception] {
      spark.sql(
        """CALL graft.fit_index('pq', 'g_fit_vecs', NULL,
          |  'vec_id', 'embedding')""".stripMargin).collect()
    }
    assert(nullReq.getMessage.contains("save_to"))
    val badFam = intercept[Exception] {
      spark.sql(
        s"""CALL graft.fit_index('kdtree', 'g_fit_vecs',
           |  '${TestSpark.tmpDir("gf-x4")}', 'vec_id', 'embedding')"""
          .stripMargin).collect()
    }
    assert(badFam.getMessage.contains("unknown index family"))
  }

  test("CALL graft.refresh_index: the refresh->index loop runs from " +
    "pure SQL — IVF lands on assignToCells(new, frozen centers)") {
    import org.apache.spark.sql.functions._
    import graft.extensions.Similarity
    val vecs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 300).select(col("vec_id"), col("embedding"))
    val oldCrawl = vecs.filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 11 === 0, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
    oldCrawl.createOrReplaceTempView("g_old_crawl")
    vecs.createOrReplaceTempView("g_new_crawl")
    val ivfDir = TestSpark.tmpDir("graft-call-ivf")
    val old = Similarity.ivfFit(oldCrawl, "vec_id", "embedding", nlist = 8)
      .save(ivfDir)
    val saveTo = TestSpark.tmpDir("graft-call-ivf2")
    val row = spark.sql(
      s"""CALL graft.refresh_index('ivf', '$ivfDir', '$saveTo',
         |  'g_old_crawl', 'g_new_crawl', 'vec_id', 'embedding')"""
        .stripMargin).collect().head
    assert(row.getAs[String]("saved_to") === saveTo)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toSeq
        case x => x
      }).toSet
    val refreshed = Similarity.loadIvfIndex(spark, saveTo)
    assert(rows(refreshed.assigned) === rows(Similarity.assignToCells(
      vecs, old.centers, "vec_id", "embedding")))
    assert(rows(refreshed.centers) === rows(old.centers))
  }
}
