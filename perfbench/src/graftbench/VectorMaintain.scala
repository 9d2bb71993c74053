package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.max

import graft.extensions.{Dedup, Similarity}
import graft.streaming.CdcStream

/**
 * `vector_maintain`: an IVF index and the sign-LSH ingest gate over a
 * clustered vector corpus, kept current from change files. Each cycle the
 * generator lands one change file; one availableNow ingest drains it into
 * fresh accept/upsert/retract trees; the net-effect folds save the next
 * version of both indexes, which are loaded to serve; then seeded batches
 * of top-10 probes run against the new IVF version.
 */
object VectorMaintain {
  val Vectors = 1000
  val Dim = 64
  val Clusters = 64
  val Sigma = 0.2
  val NList = 16
  val NProbe = 8
  val Inserts = 100
  val Updates = 50
  val Deletes = 50
  val ProbeBatches = 4
  val QueriesPerProbe = 16
  val RecallQueries = 256
  /** Gate threshold: with this noise no two vectors come near it, so every
    * insert is novel and the live set is exactly the generator's. */
  val GateCosine = 0.99
  val CountedCycles = 1

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new VecGen(ctx.seed, Vectors, Dim, Clusters, Sigma)
    val corpusPath = new File(ctx.work, "corpus.parquet").getAbsolutePath
    Gen.writeRows(spark, gen.corpusRows, gen.schema, corpusPath, mode = "overwrite", files = 4)
    val changesDir = new File(ctx.work, "changes").getAbsolutePath
    val ivfRoot = new File(ctx.work, "ivf")
    val gateRoot = new File(ctx.work, "gate")

    // set-up: fit the IVF index and build the gate, then save both; once,
    // as one build costs about a tenth of a run
    {
      val t0 = System.nanoTime()
      val corpus = spark.read.parquet(corpusPath)
      Similarity.ivfFit(corpus, "vec_id", "embedding", nlist = NList, seed = ctx.seed)
        .save(s"$ivfRoot/setup")
      Dedup.saveEmbeddingIndex(Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding"),
        s"$gateRoot/setup")
      res.setup("index", (System.nanoTime() - t0) / 1e9)
    }
    res.phase("vector.setup_done")
    var ivf = Similarity.loadIvfIndex(spark, s"$ivfRoot/setup")
    var gate = Dedup.loadEmbeddingIndex(spark, s"$gateRoot/setup")

    def queryDf(qs: Seq[(Long, Array[Float])]): DataFrame =
      qs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")

    var foldRows = 0L
    var foldSeconds = 0.0
    var foldCpu = 0.0
    var foldAlloc = 0.0
    val ckpt = new File(ctx.work, "ckpt").getAbsolutePath

    ctx.loop(res, CountedCycles) { k =>
      val rows = gen.changes(Inserts, Updates, Deletes)
      Gen.writeRows(spark, rows, gen.changeSchema, changesDir)
      val trees = Seq("accept", "upsert", "retract").map(t => new File(ctx.work, s"trees/c$k/$t").getAbsolutePath)
      val ivfDir = s"$ivfRoot/c$k"
      val gateDir = s"$gateRoot/c$k"
      val c0 = Result.cpuSeconds()
      val m0 = Result.allocatedBytes()
      val t0 = System.nanoTime()
      val folded = res.op("fold") {
        Trace.span("streaming.ingest") {
          val q = CdcStream.startVecMaintenanceIngest(
            spark.readStream.schema(gen.changeSchema).parquet(changesDir),
            gate, "vec_id", "embedding", "op", trees(0), trees(1), trees(2), ckpt,
            threshold = GateCosine)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
        Trace.span("streaming.fold") {
          CdcStream.compactVecMaintenanceBatches(spark, trees(0), trees(1), trees(2), gate,
            "vec_id", "embedding", saveTo = Some(gateDir))
          CdcStream.compactMaintenanceIvfBatches(spark, trees(0), trees(1), trees(2), ivf,
            "vec_id", "embedding", saveTo = Some(ivfDir))
        }
        Trace.span("extensions.similarity.load") {
          (Similarity.loadIvfIndex(spark, ivfDir), Dedup.loadEmbeddingIndex(spark, gateDir))
        }
      } { case (nextIvf, nextGate) =>
        if (nextIvf.version <= ivf.version || nextGate.version <= gate.version)
          Some(s"fold did not advance the versions (${nextIvf.version}/${nextGate.version})")
        else None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = Result.cpuSeconds() - c0
      val dm = Result.allocatedBytes() - m0
      folded.foreach { case (nextIvf, nextGate) =>
        if (res.timing) {
          foldRows += rows.size
          foldSeconds += dt
          foldCpu += dc
          foldAlloc += dm
        }
        // the version before this one is no longer served by anyone
        (ivf.savedDir ++ gate.savedDir).foreach(d => Files.delete(new File(d)))
        ivf = nextIvf
        gate = nextGate
        if (k == CountedCycles - 1) {
          res.counts("index_version") = ivf.version
          res.counts("live_vectors") = gen.live.size
          res.counts("largest_cell") =
            ivf.assigned.groupBy("cell").count().agg(max("count")).head().getLong(0)
        }
      }

      val liveIds = gen.live.keySet
      (0 until ProbeBatches).foreach { b =>
        val qs = gen.queries(k.toLong * ProbeBatches + b, QueriesPerProbe)
        res.op("probe") {
          Trace.span("extensions.similarity.probe")(
            Similarity.ivfProbe(ivf, queryDf(qs), "vec_id", "embedding", k = 10, nprobe = NProbe)
              .select("query_id", "neighbor_id").collect())
        } { got =>
          if (k == CountedCycles - 1 && b == 0)
            res.counts("first_probe_digest") = got.map(r => (r.getLong(0), r.getLong(1))).sorted
              .foldLeft(17L) { case (h, (q, n)) => (h * 31 + q) * 31 + n }
          val per = got.groupBy(_.getLong(0))
          if (!qs.forall(q => per.get(q._1).exists(_.length == 10)))
            Some("a probe returned fewer than 10 neighbours")
          else if (!got.forall(r => liveIds(r.getLong(1))))
            Some("a probe returned a vector that is not live")
          else None
        }
      }
    }

    // output checks: both indexes hold exactly the live set, the IVF index
    // with each vector's latest value; recall@10 against brute force
    val want = gen.live
    val assigned = ivf.assigned.select("neighbor_id", "c_vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    res.check("ivf_holds_live_set", assigned.keySet == want.keySet,
      s"${assigned.size} indexed vs ${want.size} live")
    res.check("ivf_holds_latest_vectors",
      want.forall { case (id, v) => assigned.get(id).exists(_ == v.toSeq) })
    val gateIds = gate.vectors.select("doc_id").as[Long].collect().toSet
    res.check("gate_holds_live_set", gateIds == want.keySet,
      s"${gateIds.size} in gate vs ${want.size} live")

    val rq = gen.queries(1L << 20, RecallQueries)
    val probed = Similarity.ivfProbe(ivf, queryDf(rq), "vec_id", "embedding", k = 10, nprobe = NProbe)
      .select("query_id", "neighbor_id").collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val liveSeq = want.toSeq
    var hits = 0L
    rq.foreach { case (q, qv) =>
      val exact = liveSeq.map { case (id, v) => (id, cosine(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      hits += probed.getOrElse(q, Set.empty[Long]).count(exact)
    }
    res.values("recall_at_10") = hits.toDouble / (10L * RecallQueries)
    res.values("fold_rows_per_s") = foldRows / math.max(foldSeconds, 1e-9)
    res.values("fold_rows_per_cpu_s") = foldRows / math.max(foldCpu, 1e-9)
    res.values("fold_alloc_kb_per_row") = foldAlloc / 1024 / math.max(foldRows, 1L)
    res.values("index_bytes_per_vector") =
      (ivf.savedDir ++ gate.savedDir).map(d => Files.bytes(new File(d))).sum.toDouble / want.size
    if (ctx.trace) {
      val n = math.max(1, ctx.tracedCycles).toDouble
      res.layers("streaming.fold_s") = Trace.spanSeconds("streaming.fold") / n
      res.layers("extensions.similarity.probe_s") = Trace.spanSeconds("extensions.similarity.probe") / n
      res.layers("extensions.similarity.probe_task_s") = ctx.moduleFig("extensions.similarity", "task_s")
      res.layers("extensions.similarity.index_version") = ivf.version.toDouble
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
