package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/**
 * Keyword retrieval over a document corpus: BM25 scoring and exact
 * phrase search — the lexical complement of the embedding ANN stack in
 * [[Similarity]] (a curation pipeline needs both: "find docs about X"
 * by term statistics when no embedding model is in the loop, and exact
 * phrase lookup for targeted audits).
 *
 * Scale design (100 TB): a QUERY has a handful of terms, so nothing
 * here ever builds a corpus-sized inverted index or explodes tokens —
 * per-document term frequencies for the query's own terms are computed
 * as a narrow codegen'd projection over the token array (one corpus
 * scan), the corpus statistics BM25 needs (N, total token count, one
 * document frequency per query term) reduce to a SINGLE scalar row
 * (integer sums — exact and order-independent, so the result is
 * deterministic across partitionings and engines), and that row joins
 * back by broadcast. Top-k is Spark's TakeOrdered. One scan, one
 * 1-row broadcast, zero shuffles of corpus-sized data.
 */
object Search {

  /** Okapi BM25 per-document scores for a bag-of-words query, one corpus
    * scan. Emits (id, score, dl) for every document matching at least
    * one query term. The score sums per-term contributions in the FIXED
    * order of `terms` (floating-point addition is not associative; a
    * fixed expression order keeps the score reproducible bit-for-bit
    * across runs, partitionings and engines). Terms are matched on the
    * normalized token stream ([[TextFunctions.tokens]]); absent terms
    * contribute zero (their tf is 0 everywhere).
    *
    * idf is the standard "plus one" form ln(1 + (N - df + 0.5)/(df +
    * 0.5)) — non-negative even for terms in more than half the corpus
    * (degenerate-but-real at web scale: stopwords). avgdl is computed
    * from exact integer sums, not a float mean, for the same
    * determinism reason as the score order. */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores: empty query")
    require(terms.size <= 64,
      "bm25Scores: the projection kernel is for QUERY-sized term sets " +
        "(<= 64); an analysis over a large vocabulary wants the " +
        "corpus_word_freq inverted-index shape instead")
    val tfs = termFreqs(df, idCol, textCol, terms)
    // corpus stats: ONE scalar row of exact integer sums (N, sum dl,
    // per-term document frequencies) — broadcast back via a 1-row join
    val stats = tfs.agg(
      count(lit(1)).as("__n"),
      sum(col("dl")).as("__sumdl") +:
        terms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i")): _*)
    val idf = (i: Int) => log(lit(1.0) +
      (col("__n").cast("double") - col(s"__df$i") + lit(0.5)) /
        (col(s"__df$i").cast("double") + lit(0.5)))
    scoreMatches(tfs.join(broadcast(stats)), idCol, terms.size, idf,
      col("__sumdl").cast("double") / col("__n").cast("double"), k1, b)
  }

  /** (id, dl, __tf0 .. __tfN) per document: its length and each query
    * term's count. The token array is STAGED once (`__toks`):
    * higher-order kernels are interpreted — no common-subexpression
    * elimination — so referencing the tokens EXPRESSION from dl plus
    * every tf column re-tokenized the text 1+|terms| times per row (the
    * text_rep_ngrams `__g2` lesson applied to the search family). */
  private def termFreqs(df: DataFrame, idCol: String, textCol: String,
                        terms: Seq[String]): DataFrame =
    df.withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .select(
        col(idCol) +:
          greatest(size(col("__toks")), lit(0)).cast("long").as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("__toks"), x => x === lit(t)))
              .cast("long").as(s"__tf$i")
          }: _*)

  /** (id, score, dl) of the rows of [[termFreqs]] that hold at least one
    * term. The score is a fixed-order sum, term 0 first and term n last
    * (never a float SUM aggregate), of idf * tf * (k1 + 1) / (tf + norm). */
  private def scoreMatches(tfs: DataFrame, idCol: String, nTerms: Int,
                           idf: Int => Column, avgdl: Column,
                           k1: Double, b: Double): DataFrame = {
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl)
    val score = (0 until nTerms).map { i =>
      val tf = col(s"__tf$i").cast("double")
      idf(i) * tf * lit(k1 + 1.0) / (tf + norm)
    }.reduce(_ + _)
    tfs
      .filter((0 until nTerms).map(i => col(s"__tf$i") > 0).reduce(_ || _))
      .select(col(idCol), score.as("score"), col("dl"))
  }

  /** Top-k BM25: highest-scoring k documents, ties broken by id (fully
    * deterministic). Plans as TakeOrderedAndProject over the one-scan
    * [[bm25Scores]] — each partition keeps k rows, the driver merges
    * per-partition heads; no global sort at any scale. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 20, k1: Double = 1.2,
               b: Double = 0.75): DataFrame =
    bm25Scores(df, idCol, textCol, terms, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Fit-once corpus statistics for probe-many BM25 serving: the
    * document-frequency table (vocabulary-sized — one distinct-token
    * explode and one combining shuffle, the same scale class as
    * [[CorpusOps.wordFreq]]) plus the two corpus scalars. [[bm25Scores]]
    * re-derives all of this per query, costing a SECOND corpus scan; a
    * search service answering many queries fits this once and each
    * probe then reads the corpus exactly once.
    *
    * Same save/load/extend/close lifecycle (with [[IndexMeta]] version
    * lineage) as the five dedup/ANN index families: a 100 TB serving
    * deployment fits the stats once, every later job loads them, and a
    * corpus bump pays O(new docs) — df counts and the two scalars are
    * all ADDITIVE under the append-only-ids contract, so
    * extend(fit(A), B) ≡ fit(A ∪ B) exactly (spec-pinned). */
  final case class Bm25Stats(docFreq: DataFrame, nDocs: Long, sumDl: Long,
                             savedDir: Option[String] = None,
                             version: Long = 1L,
                             folded: Seq[String] = Nil,
                             parent: Option[String] = None) extends Versioned {
    def persist(): this.type = { docFreq.persist(); this }
    def unpersist(): Unit = { docFreq.unpersist(); () }
  }

  /** The one-pass per-doc projection the fit, extend and remove reduce:
    * (dl, distinct terms) per document. */
  private[extensions] def bm25PerDoc(df: DataFrame, textCol: String): DataFrame =
    // staged `__toks`: dl and the distinct-term set share ONE
    // tokenization per row
    df.withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .select(
        greatest(size(col("__toks")), lit(0)).cast("long").as("dl"),
        array_distinct(col("__toks")).as("__ts"))

  def bm25Fit(df: DataFrame, idCol: String, textCol: String): Bm25Stats = {
    val perDoc = bm25PerDoc(df, textCol)
    // driver-side collect: exactly ONE row of two integer scalars
    val row = perDoc.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .head()
    val docFreq = perDoc
      .select(explode(col("__ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    Bm25Stats(docFreq, row.getLong(0), row.getLong(1))
  }

  /** BM25 top-k against a fitted [[Bm25Stats]]: the per-term document
    * frequencies are looked up from the (tiny) query-filtered slice of
    * the vocabulary relation — a driver-side collect bounded by the
    * query's own term count — and every statistic is inlined as a
    * LITERAL, so the probe plan is scan → project → filter →
    * TakeOrdered: one corpus pass, zero joins, fully codegen. The
    * arithmetic reproduces [[bm25Scores]] operation-for-operation
    * (same IEEE ops on the same integers), so fit/probe and one-shot
    * answers are bit-identical and share one oracle. */
  def bm25TopKFitted(df: DataFrame, stats: Bm25Stats, idCol: String,
                     textCol: String, terms: Seq[String], k: Int = 20,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopKFitted: empty query")
    require(terms.size <= 64, "bm25TopKFitted: query-sized term sets only")
    // <= terms.size rows — the probe's only non-scan work
    val dfs = stats.docFreq
      .filter(col("term").isin(terms: _*))
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df"))
      .toMap
    val n = stats.nDocs.toDouble
    val avgdl = stats.sumDl.toDouble / n
    val idf = (i: Int) => {
      val dfT = dfs.getOrElse(terms(i), 0L)
      lit(math.log(1.0 + ((n - dfT) + 0.5) / (dfT.toDouble + 0.5)))
    }
    scoreMatches(termFreqs(df, idCol, textCol, terms), idCol, terms.size,
      idf, lit(avgdl), k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Batch BM25 retrieval: top-k per QUERY over a (query_id, term)
    * relation — the eval-harness shape, thousands of queries answered
    * in ONE corpus pass. The single-query kernels above are the wrong
    * tool there (q queries = q corpus scans); this is the inverted
    * shape instead: the token explode is filtered by the broadcast
    * query VOCABULARY immediately after the Generate, so what survives
    * to the one (doc, term) combining shuffle is |postings of queried
    * terms|, not |corpus tokens|; document frequencies and query terms
    * join back by broadcast (both are query-sized); and the per-(query,
    * doc) score folds the per-term contributions in SORTED term order
    * (collect → sort → fold — float addition is not associative, and a
    * SUM aggregate's partial order is partition-dependent; the sorted
    * fold is reproducible across runs, partitionings and engines).
    * Top-k is a rank window partitioned by query, ties to the lowest
    * doc id.
    *
    * Emits (query_id, id, score, rank), rank 1..k per query; queries
    * whose terms are all out-of-vocabulary match nothing and are absent.
    *
    * `fanout` is the level-1 bucket count of the two-level tree rank —
    * the bound on how many rows any ONE task sorts for a hot (stopword-
    * ish) query is matchset/fanout, and level 2 then sorts ≤ fanout·k
    * survivors. At 100 TB size it like [[CorpusOps.quotaSample]]'s:
    * fanout ≈ the shuffle parallelism, so a query matching the whole
    * corpus still spreads its sort across the cluster. The bucket key
    * only bounds work — the result never depends on it.
    *
    * A query listing the same term twice is deduplicated before scoring
    * (BM25 is a function of the term SET; double-counting a repeated
    * term would diverge from the single-query kernels above). */
  def bm25BatchTopK(df: DataFrame, stats: Bm25Stats, idCol: String,
                    textCol: String, queries: DataFrame, k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75,
                    fanout: Int = 64): DataFrame = {
    require(fanout > 0, s"bm25BatchTopK: fanout must be positive, got $fanout")
    val n = stats.nDocs.toDouble
    val avgdl = stats.sumDl.toDouble / n
    val qTerms = queries.select(col("query_id"), col("term")).distinct()
    val vocab = qTerms.select(col("term")).distinct()
    // dl is computed BELOW the Generate, from a staged `__toks` column:
    // the old single select(dl, explode(toks)) planned dl's expression
    // ABOVE the Generate, so the full tokenization re-ran PER EXPLODED
    // TOKEN ROW — O(tokens x tokenize) per document, measured as the
    // bulk of this row's cost (6.2 s -> see OPTIMIZATION_r19.md). Two
    // stacked projects stage the array once per doc, size it once per
    // doc, and the Generate then passes the tiny (id, dl) pair through.
    val perDoc = df
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .select(col(idCol),
        greatest(size(col("__toks")), lit(0)).cast("long").as("dl"),
        col("__toks"))
    val postings = perDoc
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .join(broadcast(vocab), Seq("term"), "left_semi")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"), max(col("dl")).as("dl"))
    val withIdf = postings
      .join(broadcast(stats.docFreq.join(vocab, Seq("term"), "left_semi")),
        Seq("term"))
    val norm = lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") / lit(avgdl))
    val idf = log(lit(1.0) +
      ((lit(n) - col("df")) + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tf = col("__tf").cast("double")
    val contrib = idf * tf * lit(k1 + 1.0) / (tf + norm)
    val scored = withIdf
      .join(broadcast(qTerms), Seq("term"))
      .select(col("query_id"), col(idCol),
        struct(col("term"), contrib.as("__c")).as("__tc"))
      .groupBy(col("query_id"), col(idCol))
      .agg(aggregate(
        transform(array_sort(collect_list(col("__tc"))),
          s => s.getField("__c")),
        lit(0.0), (acc, x) => acc + x).as("score"))
    // two-level tree top-k (the quotaSample pattern): a plain
    // rank-window partitioned by query_id alone would sort a hot
    // query's ENTIRE match set in one task — at corpus scale a
    // stopword-ish query matches everything. Level 1 ranks within
    // (query, hash-bucket) and keeps k per bucket, so no task ever
    // sorts more than its bucket; level 2 re-ranks the <= fanout*k
    // survivors.
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"),
        pmod(xxhash64(col(idCol)), lit(fanout)))
      .orderBy(col("score").desc, col(idCol))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .drop("__r1")
  }

  /** Exact phrase search on the normalized token stream: documents
    * containing `phrase` (a consecutive token sequence), with the
    * occurrence count — OVERLAPPING occurrences included ("x x x"
    * contains "x x" twice), matching the sliding-window definition the
    * span-dedup family uses. Zero shuffles, zero explode, and — unlike
    * a sliding-window array kernel, whose higher-order lambdas evaluate
    * INTERPRETED and allocate a string per window (measured 10.1 s for
    * the sf0.1 row) — a single regex pass per document: the canonical
    * space-joined token stream probed with a zero-width lookahead
    * around the space-padded phrase (lookahead because a plain match
    * consumes its trailing space and misses overlaps). Tokens never
    * contain whitespace, so " w1 w2 " occurrences correspond 1:1 to
    * token positions. */
  def phraseHits(df: DataFrame, idCol: String, textCol: String,
                 phrase: String): DataFrame = {
    // normalize the phrase through the SAME tokenizer convention as the
    // document side ([[TextFunctions.tokens]]: lowercase, split on
    // non-letter/digit runs) — a raw whitespace split would silently
    // match nothing for "Cat cat" or "don't stop", since the document
    // stream it probes is already normalized
    val terms = phrase.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, "phraseHits: phrase has no tokens")
    val want = terms.mkString(" ")
    val pattern = "(?=" +
      java.util.regex.Pattern.quote(" " + want + " ") + ")"
    val toks = TextFunctions.tokens(col(textCol))
    val padded = concat(lit(" "), concat_ws(" ", toks), lit(" "))
    df.select(col(idCol),
        regexp_count(padded, lit(pattern)).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
  }
}
