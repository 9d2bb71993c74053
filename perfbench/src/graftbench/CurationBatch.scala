package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.extensions.{CorpusOps, Dedup, Search}

/**
 * `curation_batch`: one pass is the chain of public calls a corpus build
 * runs — curate, exact dedup, MinHash pairs resolved to groups and
 * representatives (written out), SimHash pairs with exact verify over the
 * kept documents, duplicated-window scrub (written out), then a BM25 fit
 * over the curated output; after each pass the client sends seeded BM25
 * top-k query batches against the fitted stats.
 */
object CurationBatch {
  val BaseDocs = 300
  val ExactDupRate = 0.05
  val NearDupRate = 0.05
  val QueryBatches = 3
  val QueriesPerBatch = 8
  val K = 10
  val CountedCycles = 1

  /** `once`: one pass and one query batch, with no time budget (the
    * curation half of `corpus_maintain`). */
  def run(ctx: Ctx, res: Result, once: Boolean = false): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new CorpusGen(ctx.seed, BaseDocs, ExactDupRate, NearDupRate)
    val corpusPath = new File(ctx.work, "corpus.parquet").getAbsolutePath
    Gen.writeRows(spark, gen.rows, gen.schema, corpusPath, mode = "overwrite", files = 4)
    val nDocs = gen.texts.size.toLong
    val exactLosers = gen.exactCopies.keySet
    val planted = gen.exactCopies.size + gen.nearCopies.size

    res.phase("curation.inputs_written")
    // set-up: load the corpus into executor storage, three times
    var corpus: DataFrame = null
    for (_ <- 1 to 3) {
      if (corpus != null) corpus.unpersist(true)
      val t0 = System.nanoTime()
      corpus = spark.read.parquet(corpusPath).persist()
      corpus.count()
      res.setup("corpus", (System.nanoTime() - t0) / 1e9)
    }

    var passSeconds = 0.0
    var passCpu = 0.0
    var passAlloc = 0.0
    var passes = 0
    var removedPlanted = -1L
    var simCandidates = 0L
    var simVerified = 0L
    var outBytes = 0L
    val keptPath = new File(ctx.work, "kept").getAbsolutePath
    val outPath = new File(ctx.work, "curated").getAbsolutePath

    /** One pass of the chain over `input`; its dedup and scrub outputs are
      * written, as a corpus build does. */
    def chain(input: DataFrame) = {
      val curated = Trace.span("functions.quality") {
        CorpusOps.curate(input, col("doc_id"), col("text")).count()
      }
      val exact = Dedup.exactDedup(input, "doc_id", "text").persist()
      val exactIds = Trace.span("extensions.dedup.exact") {
        exact.select("doc_id").as[Long].collect().toSet
      }
      val pairs = Dedup.minhashDupPairs(exact, "doc_id", "text").persist()
      val nPairs = Trace.span("extensions.dedup.minhash")(pairs.count())
      // the dedup stage's output is written, as a corpus build does
      Trace.span("extensions.dedup.resolve") {
        Dedup.keepRepresentatives(exact, "doc_id", Dedup.resolveDupGroups(pairs))
          .write.mode("overwrite").parquet(keptPath)
      }
      exact.unpersist(false)
      pairs.unpersist(false)
      val kept = spark.read.parquet(keptPath)
      val keptIds = kept.select("doc_id").as[Long].collect().toSet
      val simPairs = Trace.span("extensions.dedup.simhash") {
        Dedup.simhashDupPairsVerified(kept, "doc_id", "text").count()
      }
      Trace.span("extensions.dedup.scrub") {
        Dedup.scrubDuplicatedWindows(kept, "doc_id", "text")
          .write.mode("overwrite").parquet(outPath)
      }
      val out = spark.read.parquet(outPath)
      val stats = Trace.span("extensions.search.fit") {
        val st = Search.bm25Fit(out, "doc_id", "scrubbed").persist()
        st.docFreq.count()
        st
      }
      (curated, exactIds, nPairs, kept, keptIds, simPairs, out, stats)
    }

    ctx.loop(res, CountedCycles, timed = !once) { k =>
      val c0 = Result.cpuSeconds()
      val m0 = Result.allocatedBytes()
      val t0 = System.nanoTime()
      val done = res.op("pass")(chain(corpus)) { case (curated, exactIds, _, _, keptIds, _, _, _) =>
        // every planted exact group collapses to its original, nothing else is
        // dropped by exact dedup, and no base document is dropped later
        val wantExact = gen.texts.map(_._1).filterNot(exactLosers).toSet
        if (exactIds != wantExact)
          Some(s"exact dedup kept ${exactIds.size} ids, expected ${wantExact.size}")
        else if (!(0L until BaseDocs.toLong).forall(keptIds))
          Some(s"${(0L until BaseDocs.toLong).count(i => !keptIds(i))} base documents dropped")
        else if (curated <= 0 || curated > nDocs) Some(s"curate kept $curated of $nDocs")
        else None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = Result.cpuSeconds() - c0
      val dm = Result.allocatedBytes() - m0
      done.foreach { case (_, _, nPairs, kept, keptIds, simPairs, out, stats) =>
        passSeconds += dt
        passCpu += dc
        passAlloc += dm
        passes += 1
        removedPlanted = (gen.exactCopies.keys ++ gen.nearCopies.keys).count(id => !keptIds(id))
        outBytes = Files.bytes(new File(outPath))
        if (k < CountedCycles) {
          res.counts("planted_exact") = gen.exactCopies.size
          res.counts("planted_near") = gen.nearCopies.size
          res.counts("minhash_pairs") = nPairs
          res.counts("kept_docs") = keptIds.size
          res.counts("simhash_verified") = simPairs
        }
        if (Trace.on) {
          simVerified += simPairs
          simCandidates += Dedup.simhashDupPairs(kept, "doc_id", "text", maxHamming = 16).count()
        }

        // seeded BM25 top-k batches against the fitted stats, checked
        // against BM25 computed here over the curated output
        val outDocs = out.select("doc_id", "scrubbed").as[(Long, String)].collect()
          .map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }.toSeq
        val oracle = new Bm25Oracle(outDocs)
        (0 until (if (once) 1 else QueryBatches)).foreach { b =>
          val qs = gen.queries(k * QueryBatches + b, QueriesPerBatch)
          val qdf = qs.flatMap { case (q, ts) => ts.map(t => (q, t)) }.toDF("query_id", "term")
          res.op("topk") {
            Trace.span("extensions.search.topk")(
              Search.bm25BatchTopK(out, stats, "doc_id", "scrubbed", qdf, k = K).collect())
          } { rows =>
            val got = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
              q -> rs.sortBy(_.getAs[Long]("rank")).map(r =>
                (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
            }
            qs.collectFirst {
              case (q, ts) if !oracle.matches(ts, K, got.getOrElse(q, Nil)) =>
                s"query $q (${ts.mkString(" ")}): top-$K differs from BM25 over the curated output"
            }
          }
        }
        stats.unpersist()
      }
    }
    res.values("docs_per_s") = nDocs * passes / math.max(passSeconds, 1e-9)
    res.values("docs_per_cpu_s") = nDocs * passes / math.max(passCpu, 1e-9)
    res.values("pass_alloc_kb_per_doc") = passAlloc / 1024 / math.max(nDocs * passes, 1L)
    res.values("dup_recall") = removedPlanted.toDouble / planted
    res.values("curated_bytes_per_doc") = outBytes.toDouble / nDocs
    res.check("dup_recall_measured", removedPlanted >= 0, "no pass completed")
    if (ctx.trace) {
      val n = math.max(1, ctx.tracedCycles).toDouble
      res.layers("functions.quality_s") = Trace.spanSeconds("functions.quality") / n
      Seq("exact", "minhash", "resolve", "simhash", "scrub").foreach { s =>
        res.layers(s"extensions.dedup.${s}_s") = Trace.spanSeconds(s"extensions.dedup.$s") / n
      }
      res.layers("extensions.dedup.simhash_candidates") = simCandidates / n
      res.layers("extensions.dedup.simhash_verified") = simVerified / n
      res.layers("extensions.dedup.simhash_yield") =
        if (simCandidates > 0) simVerified.toDouble / simCandidates else 0.0
      res.layers("extensions.search.fit_s") = Trace.spanSeconds("extensions.search.fit") / n
      res.layers("extensions.search.topk_s") = Trace.spanSeconds("extensions.search.topk") / n
    }
  }
}

/** BM25 (k1 = 1.2, b = 0.75) over whitespace-separated vocabulary words,
  * which is exactly graft's tokenization for this vocabulary. */
final class Bm25Oracle(docs: Seq[(Long, Array[String])]) {
  private val n = docs.size.toDouble
  private val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
  private val df: Map[String, Int] =
    docs.flatMap(_._2.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }
  private val tfs = docs.map { case (id, ws) =>
    (id, ws.length, ws.groupBy(identity).map { case (t, xs) => t -> xs.length })
  }

  private def score(ts: Seq[String], dl: Int, tf: Map[String, Int]): Option[Double] = {
    val hit = ts.filter(tf.contains)
    if (hit.isEmpty) None
    else Some(hit.map { t =>
      val f = tf(t).toDouble
      val idf = math.log(1.0 + ((n - df(t)) + 0.5) / (df(t).toDouble + 0.5))
      val norm = 1.2 * ((1.0 - 0.75) + 0.75 * dl.toDouble / avgdl)
      idf * f * (1.2 + 1.0) / (f + norm)
    }.sum)
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Whether `got` is a correct top-k for `terms`: its scores equal the
    * k best scores in order, and each id carries its own score (so ties
    * may order either way). */
  def matches(terms: Seq[String], k: Int, got: Seq[(Long, Double)]): Boolean = {
    val ts = terms.distinct.sorted
    val all = tfs.flatMap { case (id, dl, tf) => score(ts, dl, tf).map(id -> _) }.toMap
    val want = all.values.toSeq.sorted(Ordering[Double].reverse).take(k)
    got.size == want.size && got.map(_._1).distinct.size == got.size &&
      got.zip(want).forall { case ((_, s), w) => close(s, w) } &&
      got.forall { case (id, s) => all.get(id).exists(close(_, s)) }
  }
}
