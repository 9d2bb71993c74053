package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/**
 * Corpus-preparation operators a large-scale training-data pipeline
 * needs beyond dedup/ANN (north-star, SURVEY §2.11): eval-set
 * decontamination, sequence packing, and deterministic domain-mix
 * sampling.
 *
 * Scale design (100 TB): the eval set in decontamination is by contract
 * tiny next to the training corpus, so its gram set broadcasts and the
 * corpus side streams through a map-side semi/anti-join with no
 * corpus-wide shuffle; packing shuffles once on the shard key (the same
 * shuffle any sharded writer pays); sampling is a pure per-row filter
 * against a broadcast mixing table — no shuffle at all.
 */
object CorpusOps {

  // ------------------------------------------------- decontamination

  /** Distinct (doc_id, gram-hash) pairs per document via the native
    * [[graft.functions.HashExpressions.hashed_shingles]] kernel: one
    * pass over the token array per row (sorted + deduped in-kernel,
    * whole-doc fallback under k tokens), 64-bit join keys instead of
    * k-word strings — the same gram-hashing convention and accepted
    * collision odds as the dedup index. The composed string form
    * (`explode(array_distinct(shingles(...)))`) re-evaluates the
    * token-split inside the shingle lambda per window and measured
    * ~20x slower at sf0.1 (5.7 s -> 0.3 s warm for
    * `text_decontaminate`). Narrow: no shuffle. */
  private def docGramHashes(df: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(graft.functions.HashExpressions.hashed_shingles(
        TextFunctions.tokens(col(textCol)), k)).as("gh"))

  /** The eval set's distinct gram-hash set (unhinted — the bloom path
    * shuffle-joins it, the broadcast path wraps it). */
  private def evalGramHashesRaw(evalSet: DataFrame, textCol: String,
                                k: Int): DataFrame =
    evalSet.select(explode(graft.functions.HashExpressions.hashed_shingles(
        TextFunctions.tokens(col(textCol)), k)).as("gh"))
      .distinct()

  /** The eval set's distinct gram-hash set — the broadcast side of every
    * decontamination join. Decontamination k defaults to 8 (not the
    * dedup k=3): the standard train/test-overlap window is a LONG
    * n-gram, chosen so common short phrases never count as
    * contamination, only genuinely shared passages. */
  private def evalGramHashes(evalSet: DataFrame, textCol: String,
                             k: Int): DataFrame =
    broadcast(evalGramHashesRaw(evalSet, textCol, k))

  /** Ids of training docs sharing at least one k-gram with the eval
    * set. Plan shape at 100 TB: the corpus grams are generated
    * narrowly per row, semi-joined against the BROADCAST eval gram
    * set, and only the matching (skinny) id stream reaches the
    * distinct — the corpus itself is never shuffled. */
  def contaminatedIds(train: DataFrame, evalSet: DataFrame,
                      idCol: String, textCol: String,
                      shingleK: Int = 8): DataFrame =
    docGramHashes(train, idCol, textCol, shingleK)
      .join(evalGramHashes(evalSet, textCol, shingleK), Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct()

  /** Train/test decontamination: drop every training doc that shares a
    * k-gram with the eval set (the pretraining hygiene step — eval
    * passages quoted in the training corpus leak the benchmark).
    * Returns the surviving training rows with all their columns; the
    * corpus side streams through one broadcast semi-join plus one
    * anti-join against the skinny contaminated-id set. */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    idCol: String, textCol: String,
                    shingleK: Int = 8): DataFrame =
    train.join(
      contaminatedIds(train, evalSet, idCol, textCol, shingleK)
        .withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")

  /** The audit surface of [[decontaminate]]: for each CONTAMINATED
    * training doc, its distinct-gram count, how many of those grams hit
    * the eval set, and the hit fraction — the record a pipeline keeps
    * next to the drop decision ("removed: 12% of its 8-grams appear in
    * the eval set"). One shuffle, on doc_id of the matching grams. */
  def contaminationReport(train: DataFrame, evalSet: DataFrame,
                          idCol: String, textCol: String,
                          shingleK: Int = 8): DataFrame =
    docGramHashes(train, idCol, textCol, shingleK)
      .join(evalGramHashes(evalSet, textCol, shingleK)
        .withColumn("__hit", lit(1)), Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
      .filter(col("n_hit") > 0)
      .withColumn("hit_frac",
        col("n_hit").cast("double") / col("n_grams"))

  // ------------------------------------- bloom-prefilter decontamination

  /** [[contaminatedIds]] for the scale where the EVAL gram set itself
    * outgrows a broadcast hash relation (a large eval battery is ~10^8
    * distinct 8-grams — ~6 GB as a broadcast hash set, but ~120 MB as a
    * 1%-fpp Bloom filter): a compact bloom over the eval gram hashes
    * prunes the corpus gram stream MAP-SIDE, and only the surviving
    * suspect stream (true hits + false positives, a vanishing fraction
    * of the corpus) pays a join against the real eval gram set for
    * exact confirmation. The result is therefore IDENTICAL to
    * [[contaminatedIds]] — the bloom only ever changes how much work the
    * exact join sees, never the answer — while the corpus side still
    * never shuffles and the per-executor payload shrinks ~50x.
    *
    * Spark-native composition: the filter is built by the public
    * `stat.bloomFilter` sketch aggregate and probed by the codegen'd
    * [[graft.functions.HashExpressions.BloomMightContain]] over a Spark
    * BROADCAST VARIABLE — not the plan-embedded `Literal(bytes)` shape
    * Spark's own runtime-filter injection uses (sized there to ≤8 MB):
    * at this operator's motivating scale the serialized filter is
    * ~120 MB, and a plan literal is re-deserialized with the task binary
    * by every task, where the broadcast is deserialized once per
    * executor and shared. The driver-side bloom is an O(eval) sketch
    * (the codebook convention: bounded bytes, annotated, never
    * corpus-sized). The eval gram stream is evaluated three times
    * (sizing count, bloom build, confirm join) — by contract it is the
    * small side, and keeping it lazy beats leaking a persist from inside
    * an operator. */
  def contaminatedIdsBloom(train: DataFrame, evalSet: DataFrame,
                           idCol: String, textCol: String,
                           shingleK: Int = 8, fpp: Double = 0.01): DataFrame =
    // confirm join: only the surviving suspect stream (true hits + false
    // positives) pays it; the planner is left free to broadcast evalG
    // when it IS small
    bloomSuspectGrams(train, evalSet, idCol, textCol, shingleK, fpp)
      .join(evalGramHashesRaw(evalSet, textCol, shingleK), Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct()

  /** The map-side leg of [[contaminatedIdsBloom]]: the corpus gram
    * stream pruned to bloom suspects BEFORE anything shuffles — factored
    * out so the no-shuffle-before-the-bloom-probe contract is directly
    * plan-pinnable (PlanShapeSpec). */
  private[graft] def bloomSuspectGrams(train: DataFrame, evalSet: DataFrame,
                                       idCol: String, textCol: String,
                                       shingleK: Int, fpp: Double): DataFrame = {
    val evalG = evalGramHashesRaw(evalSet, textCol, shingleK)
    // size the bloom from the exact distinct-gram count (one extra pass
    // over the eval side only; at 100 TB an approx count would do — the
    // final answer never depends on the sizing, only the fp rate does)
    val nGrams = math.max(evalG.count(), 1L)
    val bloom = evalG.stat.bloomFilter("gh", nGrams, fpp)
    val bloomBc = train.sparkSession.sparkContext.broadcast(bloom)
    docGramHashes(train, idCol, textCol, shingleK)
      .filter(graft.functions.HashExpressions
        .bloom_might_contain(bloomBc, col("gh")))
  }

  /** [[decontaminate]] served by the bloom-prefilter pipeline: identical
    * keep-set (the bloom's false positives die in the exact confirm
    * join), built for eval sets too large to broadcast as a hash
    * relation. */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         shingleK: Int = 8, fpp: Double = 0.01): DataFrame =
    train.join(
      contaminatedIdsBloom(train, evalSet, idCol, textCol, shingleK, fpp)
        .withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")

  // ---------------------------------------------------- sequence packing

  /** GPT-style sequence packing: concatenate each shard's documents in
    * deterministic id order and chop the token stream at fixed `budget`
    * boundaries. Emits one row per doc with the pack (sequence) its
    * FIRST token lands in and the token offset inside that pack — docs
    * straddle pack boundaries by design, exactly as pretraining
    * concatenation does; a writer groups by (shard, pack_id) to emit
    * sequences. Deterministic: no RNG, stable under re-runs and
    * repartitioning (the shard key and the in-shard order pin every
    * placement). One shuffle, on the shard key; within a shard the
    * running total is a window sum. At 100 TB `shard` carries the
    * parallelism — thousands of shards keep the per-shard sort
    * executor-sized. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int, shard: Column): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    df.select(col(idCol), shard.as("shard"),
        TextFunctions.tokenCountWs(col(textCol)).as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(idCol), col("shard"), col("n_tokens"),
        // exact integer floor division (`div`), NOT double division —
        // at extreme per-shard cumulative counts a double quotient can
        // round up and disagree with the exact %-based tok_offset
        expr(s"__cum div $budget").as("pack_id"),
        (col("__cum") % lit(budget)).as("tok_offset"))
  }

  // ------------------------------------------- domain-mix sampling

  /** Hex threshold for a keep-fraction: the first 4 md5 hex chars of
    * the key are uniform over 0x0000–0xffff, so `prefix < threshold`
    * keeps ~fraction of rows. Lowercase-hex string comparison matches
    * the md5 alphabet; fraction >= 1 maps to "g" (> every hex char),
    * keeping everything. Same convention as
    * [[TextFunctions.hashSplit]], widened to 16 bits. */
  private[extensions] def fractionThreshold(fraction: Double): String =
    if (fraction >= 1.0) "g"
    else f"${math.max((fraction * 65536).toInt, 0)}%04x"

  /** Deterministic stratified (domain-mix) sampling: keep each stratum
    * at its target fraction by content-stable hash — the step that
    * turns a raw crawl into a training mixture ("web at 30%, code at
    * 100%, …") reproducibly, with no RNG state, identical across
    * engines, runs, and cluster sizes. Rows whose stratum is absent
    * from `fractions` keep at `defaultFraction`. Plan shape: one
    * broadcast join against the tiny mixing table plus a per-row
    * filter — no shuffle, fully pushable. */
  def stratifiedSample(df: DataFrame, keyCol: Column, strataCol: Column,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mix = broadcast(
      fractions.toSeq.map { case (s, f) => (s, fractionThreshold(f)) }
        .toDF("__stratum", "__thr"))
    df.join(mix, strataCol === col("__stratum"), "left")
      .filter(substring(md5(keyCol.cast("string").cast("binary")), 1, 4) <
        coalesce(col("__thr"), lit(fractionThreshold(defaultFraction))))
      .drop("__stratum", "__thr")
  }

  // ------------------------------------------- exact-quota sampling

  /** The deterministic per-row sampling order shared by [[quotaSample]]'s
    * two rank levels and its oracle: md5 over a salted key ("quota:" +
    * key — salted so the quota order is DECORRELATED from hashSplit /
    * stratifiedSample, which hash the bare key; without the salt, quota
    * sampling would systematically prefer the same rows those operators
    * keep). */
  private def quotaOrder(keyCol: Column): Column =
    md5(concat(lit("quota:"), keyCol.cast("string")).cast("binary"))

  /** Deterministic EXACT-COUNT stratified sampling: keep exactly
    * min(quota, |stratum|) rows per stratum — the "2M docs of code,
    * 500k of math" curation step where a target is a COUNT, not a rate
    * (the fraction form, [[stratifiedSample]], only hits a count in
    * expectation). Selection is by content-stable hash order, so the
    * kept set is reproducible across engines, runs, and cluster sizes,
    * and `rank` (1-based within the stratum, in that same order) rides
    * along so downstream stages can take nested prefixes ("first 100k
    * of the 2M") without re-ranking.
    *
    * Scale shape (100 TB): a single per-stratum window would sort every
    * stratum through ONE task — a multi-TB stratum dies there. Instead,
    * exact tree top-k: level 1 ranks within (stratum × `fanout`
    * hash-buckets) — `fanout`-way parallel per stratum, and any row in
    * the global per-stratum top-`quota` is necessarily within the
    * top-`quota` of its own bucket — then level 2 ranks the ≤
    * fanout×quota survivors per stratum exactly. Both levels shuffle
    * only (key, stratum, rank-order) width; the final join back to the
    * full rows is a semi-join on the key, so full-width rows are never
    * sorted at all. For quotas so large that fanout×quota itself
    * overwhelms one task, add a middle level (same argument) — quota
    * and fanout are plan constants, so the composition is static. */
  def quotaSample(df: DataFrame, keyCol: Column, strataCol: Column,
                  quotas: Map[String, Int], defaultQuota: Int = 0,
                  fanout: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qt = broadcast(quotas.toSeq.toDF("__stratum", "__quota"))
    // the bucket key only BOUNDS work — the result never depends on it
    // (level 2 re-ranks globally per stratum), so any deterministic
    // spread function is fine and it never appears in an oracle
    val skinny = df
      .select(keyCol.as("__key"), strataCol.as("__strat"),
        quotaOrder(keyCol).as("__ord"),
        pmod(xxhash64(keyCol), lit(fanout)).as("__bucket"))
      .join(qt, col("__strat") === col("__stratum"), "left")
      .withColumn("__q", coalesce(col("__quota"), lit(defaultQuota)))
    val w1 = Window.partitionBy(col("__strat"), col("__bucket"))
      .orderBy(col("__ord"), col("__key"))
    val w2 = Window.partitionBy(col("__strat"))
      .orderBy(col("__ord"), col("__key"))
    val kept = skinny
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= col("__q"))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= col("__q"))
      .select(col("__key"), col("rank"))
    df.join(kept, keyCol === col("__key"), "inner")
      .drop("__key")
  }

  // ------------------------------------------------ curation battery

  /** The one-pass curation projection shared by the batch funnel
    * queries and the streaming ingest leg: per-document language,
    * quality, repetition metrics, BPE-ish token count and normalized
    * fingerprint, all from ONE staged tokenization (every kernel is a
    * zero-shuffle within-row pass). Emits
    * (doc_id, lang_pred, quality, n_tokens_bpe, __dup2, __top2,
    * fingerprint) plus a `__barrier` column — the same
    * pushdown-barrier trick as text_rep_gate: without it a gate filter
    * composed on top gets pushed below this projection and re-inlines
    * (re-tokenizes) the kernels once per metric reference. */
  def curationMetrics(df: DataFrame, idCol: Column,
                      textCol: Column): DataFrame =
    // `__toks` and `__g2` are native kernels (Tokens, TokenNgrams), but
    // staging them still pays: topNgramCharFracOfGrams folds both with
    // interpreted `aggregate` lambdas (the token-char total and the
    // run-length scan over the sorted grams), which share no
    // subexpressions with the codegen'd projection, so an inlined
    // array is rebuilt inside every lambda that references it (the
    // 2-gram array was rebuilt ~5x per row before r19 staged it:
    // pipeline_curate 2.7 -> 1.6 s, pipeline_funnel 2.5 -> 1.2 s
    // min-warm at sf0.1, bit-identical).
    df.withColumn("__toks", TextFunctions.tokens(textCol))
      .withColumn("__g2", TextFunctions.tokenNgrams(col("__toks"), 2))
      .select(idCol.as("doc_id"),
        TextFunctions.langIdFromTokens(col("__toks")).as("lang_pred"),
        TextFunctions.qualityScoreFromTokens(textCol, col("__toks"))
          .as("quality"),
        TextFunctions.tokenCountBpe(textCol).as("n_tokens_bpe"),
        TextFunctions.dupNgramFracOfGrams(col("__g2")).as("__dup2"),
        TextFunctions.topNgramCharFracOfGrams(col("__g2"), col("__toks"), 2)
          .as("__top2"),
        TextFunctions.fingerprintMd5(textCol).as("fingerprint"),
        rand(42).as("__barrier"))

  /** The curated OUTPUT of the langid → quality → repetition →
    * exact-dedup pipeline: gated survivors, keep-first deduped
    * (min doc_id per fingerprint — a fingerprint group is
    * byte-identical text, so per-column min IS the min-id row, and it
    * hash-aggregates: ONE combining shuffle, no Sort, no self-join).
    * Returns (doc_id, quality, n_tokens_bpe, fingerprint). */
  def curate(df: DataFrame, idCol: Column, textCol: Column,
             lang: String = "en", minQuality: Double = 0.5,
             maxDup2: Double = 0.05, maxTop2: Double = 0.12): DataFrame =
    curateFromMetrics(curationMetrics(df, idCol, textCol),
      lang, minQuality, maxDup2, maxTop2)

  /** The shared gate predicate of the curation battery — one definition
    * so [[curateFromMetrics]], [[funnelFromMetrics]] and the composed
    * refresh export can never drift apart. */
  private def curationGate(lang: String, minQuality: Double,
                           maxDup2: Double, maxTop2: Double): Column =
    col("lang_pred") === lang && col("quality") >= minQuality &&
      col("__dup2") <= maxDup2 && col("__top2") <= maxTop2 &&
      col("__barrier") >= lit(-1.0)

  /** [[curate]] from an already-built [[curationMetrics]] relation —
    * lets a caller with TWO consumers (the streaming leg's data + stats
    * sinks) pay the kernel battery once behind a persist. */
  private[graft] def curateFromMetrics(metrics: DataFrame,
      lang: String, minQuality: Double,
      maxDup2: Double, maxTop2: Double): DataFrame =
    metrics
      .filter(curationGate(lang, minQuality, maxDup2, maxTop2))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("quality")).as("quality"),
        min(col("n_tokens_bpe")).as("n_tokens_bpe"))
      .select(col("doc_id"), col("quality"), col("n_tokens_bpe"),
        col("fingerprint"))

  /** The funnel's per-stage survivor counts over the SAME gate battery
    * — the attrition record every corpus build publishes
    * (n_docs → n_lang → n_quality → n_rep → n_kept). One aggregate
    * over the one-pass metrics projection. */
  def curationFunnel(df: DataFrame, idCol: Column, textCol: Column,
                     lang: String = "en", minQuality: Double = 0.5,
                     maxDup2: Double = 0.05,
                     maxTop2: Double = 0.12): DataFrame =
    funnelFromMetrics(curationMetrics(df, idCol, textCol),
      lang, minQuality, maxDup2, maxTop2)

  /** [[curationFunnel]] from an already-built metrics relation — see
    * [[curateFromMetrics]]. */
  private[graft] def funnelFromMetrics(metrics: DataFrame,
      lang: String, minQuality: Double,
      maxDup2: Double, maxTop2: Double): DataFrame =
    metrics
      .select(col("fingerprint"),
        (col("lang_pred") === lang).as("__ok_lang"),
        (col("lang_pred") === lang && col("quality") >= minQuality)
          .as("__ok_q"),
        (col("lang_pred") === lang && col("quality") >= minQuality &&
          col("__dup2") <= maxDup2 && col("__top2") <= maxTop2)
          .as("__ok_rep"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__ok_lang"), 1L).otherwise(0L)).as("n_lang"),
        sum(when(col("__ok_q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("__ok_rep"), 1L).otherwise(0L)).as("n_rep"),
        countDistinct(when(col("__ok_rep"), col("fingerprint")))
          .as("n_kept"))

  // -------------------------------------- corpus vocabulary + rarity

  /** Corpus token-frequency table — the first artifact every tokenizer
    * build and rarity filter needs: (token, n) over the whole corpus.
    * One explode + one map-side-combining aggregation; the intermediate
    * is VOCABULARY-sized, not corpus-sized, as soon as the partial agg
    * combines within each scan partition. At 100 TB the long tail of
    * near-unique junk tokens is the hazard (the partial agg stops
    * combining and the shuffle carries ~every token occurrence) —
    * `minCount` prunes the tail AFTER the exact count (lossless for
    * every reported row), which bounds the OUTPUT, and the shuffle
    * itself stays one skinny (token, partial-n) stream. */
  def wordFreq(df: DataFrame, textCol: Column, minCount: Long = 1L): DataFrame =
    df.select(explode(TextFunctions.tokens(textCol)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Vocabulary coverage curve: the top-`topK` tokens by corpus count,
    * each with its rank and the CUMULATIVE fraction of all token
    * occurrences the vocabulary covers up to it — the artifact that
    * sizes a tokenizer vocabulary ("the top 30 tokens cover 92% of the
    * corpus"). Built on [[wordFreq]]; the ranking window runs AFTER the
    * top-K cut, so it orders only K rows (bounded — never the
    * vocabulary), and the one-row total broadcasts. cum_frac is an
    * integer prefix sum divided once — exact in both engines. A
    * full-vocabulary curve (unbounded K) would need range-partitioned
    * prefix sums instead; every real use asks for a bounded prefix. */
  def vocabCoverage(df: DataFrame, textCol: Column,
                    topK: Int = 30): DataFrame = {
    val freq = wordFreq(df, textCol)
    val total = freq.agg(sum(col("n")).as("__total"))
    val w = Window.orderBy(col("n").desc, col("token"))
    freq.orderBy(col("n").desc, col("token")).limit(topK)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_frac",
        sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double") / col("__total"))
      .select(col("rank"), col("token"), col("n"), col("cum_frac"))
  }

  /** Corpus-frequency rarity scoring (the CCNet-style "how ordinary is
    * this document's vocabulary" filter, with EXACT arithmetic): mean
    * corpus count of the document's tokens, from a fitted [[wordFreq]]
    * table. Fit/score are split so a frequency table fitted on corpus A
    * scores corpus B (OOV tokens count 0 via the left join). All sums
    * are INTEGER (token counts), with one double division at the end —
    * both engines round that division identically, so scores
    * hash-match with no float-accumulation-order hazard (the reason
    * this is counts, not log-probs: sum order of doubles is
    * plan-dependent, sum order of longs is immaterial).
    *
    * Scale shape: explode → broadcast join on token (the freq table is
    * vocabulary-sized — prune with minCount to keep it broadcastable;
    * rare tokens pruned to OOV-0 only LOWER a doc's score, the
    * conservative direction for a keep-if-ordinary gate) → one
    * combining shuffle on doc_id of a skinny (doc_id, n) stream. */
  def rarityScore(df: DataFrame, idCol: Column, textCol: Column,
                  freq: DataFrame): DataFrame =
    df.select(idCol.as("doc_id"),
        explode(TextFunctions.tokens(textCol)).as("token"))
      .join(broadcast(freq), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("n"), lit(0L))).as("sum_count"))
      .withColumn("mean_count",
        col("sum_count").cast("double") / col("n_tokens"))

  // ---------------------------------------------- table profiling

  /** Per-column data-profiling report: (column, n_rows, n_nulls,
    * n_distinct, min_str, max_str) for every column of `df` — the
    * sanity sweep a pipeline runs on any new corpus drop before
    * spending compute on it. min/max aggregate on the NATIVE type and
    * cast the RESULT to string (casting first would rank "10" < "9").
    *
    * ONE pass over the data: a single aggregation computes every
    * column's stats, then a driver-free `stack` melts the 1-row result.
    * `exact = true` plans the multi-distinct via Expand — one data copy
    * per column, the honest price of exact cardinalities, fine for a
    * deliberate profiling run; `exact = false` swaps in HLL
    * `approx_count_distinct` sketches (±2% default), no Expand, one
    * combining pass — the default posture at 100 TB. Everything else is
    * identical between the modes. */
  def profile(df: DataFrame, exact: Boolean = true): DataFrame = {
    val fields = df.schema.fields
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}"),
        (if (exact) countDistinct(c) else approx_count_distinct(c))
          .as(s"__dist_${f.name}"),
        min(c).cast("string").as(s"__min_${f.name}"),
        max(c).cast("string").as(s"__max_${f.name}"))
    } :+ count(lit(1)).as("__n")
    val stackArgs = fields.map { f =>
      s"'${f.name}', `__nulls_${f.name}`, `__dist_${f.name}`," +
        s" `__min_${f.name}`, `__max_${f.name}`"
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr("__n",
        s"stack(${fields.length}, $stackArgs)" +
          " as (column, n_nulls, n_distinct, min_str, max_str)")
      .select(col("column"), col("__n").as("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }

  // --------------------------------------------- mixture planning

  /** Token-budget mixture planning: given per-stratum availability and
    * target mixture weights, compute the per-stratum sampling rate that
    * fills a global token budget at those weights — the planning step
    * BEFORE [[stratifiedSample]] runs ("we want 100B tokens at web .5 /
    * code .3 / books .2 — what rate does each source sample at, and
    * which source runs out?"). A stratum whose availability can't cover
    * its share caps at rate 1.0 and is flagged `exhausted` (the signal
    * to re-weight or up-sample elsewhere). One aggregation (O(strata)
    * groups) + a broadcast join against the weight table; the output is
    * strata-sized, consumable directly as [[stratifiedSample]]
    * fractions. */
  def mixPlan(df: DataFrame, strataCol: Column, tokensCol: Column,
              targetWeights: Map[String, Double],
              budgetTokens: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = broadcast(targetWeights.toSeq.toDF("__stratum", "__w"))
    df.groupBy(strataCol.as("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(tokensCol).as("avail_tokens"))
      .join(tgt, col("stratum") === col("__stratum"), "left")
      .withColumn("target_frac", coalesce(col("__w"), lit(0.0)))
      .withColumn("sample_rate",
        least(col("target_frac") * budgetTokens / col("avail_tokens"),
          lit(1.0)))
      .withColumn("planned_tokens", col("sample_rate") * col("avail_tokens"))
      .withColumn("exhausted",
        col("avail_tokens") < col("target_frac") * budgetTokens)
      .select(col("stratum"), col("n_docs"), col("avail_tokens"),
        col("target_frac"), col("sample_rate"), col("planned_tokens"),
        col("exhausted"))
  }

  // -------------------------------------- bigram LM statistics

  /** Adjacent-token pairs of a token array as (w1, w2) structs — the
    * zero-shuffle kernel under every bigram operator here. Built from
    * two offset slices zipped element-wise, so no posexplode +
    * self-join is ever needed to pair neighbours; docs with < 2 tokens
    * yield an EMPTY list (slice length clamps at 0). */
  private def bigramPairs(toks: Column): Column = {
    val len = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Corpus bigram-frequency table — the count-LM / KenLM-prep
    * artifact: (w1, w2, n) over adjacent token pairs. Same shape and
    * scale posture as [[wordFreq]]: one explode + one
    * map-side-combining aggregation; the intermediate is
    * BIGRAM-VOCABULARY-sized (larger than the unigram table — the
    * reason `minCount` matters more here: the occurs-once tail of a
    * web corpus's bigram space is enormous, and pruning it AFTER the
    * exact count is lossless for every reported row while keeping the
    * output broadcastable for the scoring joins downstream). */
  def bigramFreq(df: DataFrame, textCol: Column, minCount: Long = 1L): DataFrame =
    df.select(explode(bigramPairs(TextFunctions.tokens(textCol))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Collocation (association) scoring over the bigram table: for each
    * pair with n_pair >= `minPair`, lift = P(w1,w2) / (P(w1)·P(w2)) =
    * n_pair · total_pairs / (n(w1) · n(w2)) — the exp of PMI. Reported
    * as the RATIO, not the log, deliberately: every factor is an exact
    * BIGINT (counts and one integer total), the two products stay
    * exact, and the single final division rounds identically in any
    * engine — whereas log() is a libm call with no cross-engine
    * last-ulp guarantee. Caller beware: the integer products bound the
    * usable range to n_pair·total < 2^63 (~1e18 — a 1e12-pair corpus
    * with 1e6-count pairs); past that, score in log-space and accept a
    * tolerance gate instead of a hash match.
    *
    * Scale shape: total_pairs is a NARROW aggregate over the raw table
    * (sum of per-doc size-1 — no explode, no second pass over the
    * exploded stream); the unigram table broadcasts twice (w1, w2
    * sides); the top-k is TakeOrdered, never a global sort. `minPair`
    * is both the statistical guard (hapax pairs have absurd lift) and
    * the output bound. */
  def collocations(df: DataFrame, textCol: Column,
                   minPair: Long = 5L, topK: Int = 20): DataFrame = {
    val toks = TextFunctions.tokens(textCol)
    val total = df.select(
      sum(greatest(size(toks) - 1, lit(0)).cast("long")).as("__total_pairs"))
    val uni = wordFreq(df, textCol)
    bigramFreq(df, textCol).filter(col("n") >= minPair)
      .withColumnRenamed("n", "n_pair")
      .join(broadcast(uni.select(col("token").as("w1"), col("n").as("__n1"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("token").as("w2"), col("n").as("__n2"))),
        Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("n_pair") * col("__total_pairs")).cast("double") /
          (col("__n1") * col("__n2")).cast("double"))
      .orderBy(col("lift").desc, col("w1"), col("w2")).limit(topK)
      .select(col("w1"), col("w2"), col("n_pair"), col("lift"))
  }

  /** Bigram novelty scoring against a FITTED [[bigramFreq]] table: per
    * document, the count and fraction of its bigram occurrences absent
    * from the fitted table — the OOV-rate / memorization-risk monitor a
    * pipeline runs on every new corpus drop ("how much of this batch is
    * word-sequence the reference corpus has never seen"). Exact by
    * construction: integer counts, one final division.
    *
    * The fitted table joins BROADCAST — the contract is a
    * `minCount`-pruned fit (see [[bigramFreq]]): pruned-away rare
    * bigrams then count as novel, the conservative direction for a
    * drift alarm. A fit too large to broadcast means the novelty
    * definition itself is too strict, not that the join should
    * shuffle. */
  def bigramNovelty(df: DataFrame, idCol: Column, textCol: Column,
                    fitted: DataFrame): DataFrame =
    df.select(idCol.as("doc_id"),
        explode(bigramPairs(TextFunctions.tokens(textCol))).as("__bg"))
      .select(col("doc_id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .join(broadcast(fitted.select(col("w1"), col("w2"),
        lit(true).as("__seen"))), Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac",
        col("n_novel").cast("double") / col("n_bigrams"))

  // ---------------------------------- deterministic shard export

  /** The content-stable shuffle order for shard export: md5 over a
    * salted key ("export:" + key) — salted so the export permutation is
    * DECORRELATED from hashSplit / stratifiedSample / quotaSample
    * (which hash the bare or "quota:"-salted key; an unsalted export
    * order would cluster the same rows those operators favour at shard
    * fronts). */
  private def exportOrder(keyCol: Column): Column =
    md5(concat(lit("export:"), keyCol.cast("string")).cast("binary"))

  /** Deterministic shuffle-shard assignment — the LAST step of a
    * training-data pipeline, where the curated corpus becomes N shard
    * files in a reproducible pseudo-random order (trainers want
    * sequence-level shuffling baked into the shards, not a runtime
    * RNG). Adds `shard` (first 16 hash bits mod `nShards`) and
    * `__export_ord` (the within-shard sort key). Pure per-row
    * expressions: no RNG state, no shuffle, identical assignment across
    * engines, runs, and cluster sizes — re-running the export never
    * reshuffles, so a resumed/partially-retried export is consistent.
    * `nShards` is bounded at 65536 by the 16-bit prefix. */
  def shardAssign(df: DataFrame, keyCol: Column, nShards: Int): DataFrame = {
    require(nShards > 0 && nShards <= 65536,
      s"nShards must be in [1, 65536], got $nShards")
    df.withColumn("__export_ord", exportOrder(keyCol))
      .withColumn("shard",
        pmod(conv(substring(col("__export_ord"), 1, 4), 16, 10).cast("long"),
          lit(nShards.toLong)))
  }

  /** Per-shard export manifest: (shard, n_docs, n_chars, first_id,
    * last_id) — row counts, payload sizes, and the endpoint ids of each
    * shard's deterministic order. The balance check (are shards within
    * a few % of each other?) and the resume check (does a re-export
    * produce byte-identical shard fronts?) both read this. One
    * combining aggregation over nShards groups. */
  def shardStats(df: DataFrame, keyCol: Column, sizeCol: Column,
                 nShards: Int): DataFrame =
    shardAssign(df, keyCol, nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(sizeCol).as("n_chars"),
        min_by(keyCol, col("__export_ord")).as("first_id"),
        max_by(keyCol, col("__export_ord")).as("last_id"))

  /** The full deterministic permutation: (key, shard, pos) with `pos`
    * the 1-based position of the row in its shard's export order —
    * what a trainer's data loader sees as "global step order". One
    * shuffle on `shard`; the within-shard rank is a window over the
    * salted hash (unique per key, so the order is total and
    * reproducible). At production scale run this with nShards ≈
    * shuffle parallelism (thousands), NOT a handful — each shard's
    * window sorts through one task, so shard size, not corpus size, is
    * the memory bound. */
  def shardPositions(df: DataFrame, keyCol: Column, nShards: Int): DataFrame =
    shardAssign(df, keyCol, nShards)
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("__export_ord"))).cast("long"))
      .select(keyCol.as("key"), col("shard"), col("pos"))

  /** Physical shard export: writes `df` under `path` parquet-partitioned
    * by `shard`, each shard's rows stored in export order. The plan is
    * ONE hash-partition exchange on `shard` + a WITHIN-partition sort —
    * never a global sort (pinned in PlanShapeSpec): global ordering
    * across shards is meaningless to a trainer that reads shards
    * independently, so paying a rangepartitioning exchange for it would
    * be pure waste. Readers filter `shard = k` and prune at the
    * directory level. */
  def writeShards(df: DataFrame, keyCol: Column, nShards: Int,
                  path: String): Unit =
    shardExportFrame(df, keyCol, nShards)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** The frame [[writeShards]] writes, exposed so the plan pin can
    * assert the export never pays a global sort (the Sort node must be
    * global=false — per-partition only). */
  private[graft] def shardExportFrame(df: DataFrame, keyCol: Column,
                                      nShards: Int): DataFrame =
    shardAssign(df, keyCol, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__export_ord"))
      .drop("__export_ord")

  /** Leakage-safe train/val/test split: a per-DOC hash split
    * ([[TextFunctions.hashSplit]]) puts two copies of the same text on
    * opposite sides of the train/test fence — the classic
    * train-on-test leak that survives doc-level splitting whenever the
    * corpus has duplicates (it always does). The fix: split by the
    * exact-dup GROUP, not the doc — every doc gets the split of its
    * group representative (min id per content hash), so duplicate sets
    * move as a unit and no text ever straddles splits.
    *
    * Plan: the [[Dedup.exactGroups]] census (one map-side-combining
    * md5 shuffle) re-joined to the (id, hash) projection ON the census
    * key — both sides partitioned by text_hash when they meet, no
    * second corpus shuffle. Emits (id, group_rep, split).
    *
    * Near-dup-safe variant: feed `groups` from the MinHash/SimHash
    * family's [[Dedup.resolveDupGroups]] output instead — the contract
    * is just (text_hash-like key, keep_id). */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       trainTo: String = "cc",
                       valTo: String = "e6"): DataFrame =
    df.select(col(idCol),
        md5(col(textCol).cast("binary")).as("text_hash"))
      .join(Dedup.exactGroups(df, idCol, textCol)
        .select(col("text_hash"), col("keep_id")), Seq("text_hash"))
      .select(col(idCol), col("keep_id").as("group_rep"),
        TextFunctions.hashSplit(col("keep_id").cast("string"), trainTo, valTo)
          .as("split"))

  /** The near-dup-safe variant of [[leakageSafeSplit]]: split by an
    * EXTERNALLY-resolved duplicate grouping — the
    * [[Dedup.resolveDupGroups]] output (connected components over
    * MinHash/SimHash/embedding pairs), whose (id, group_id) contract
    * this consumes directly. Exact-hash grouping (above) catches
    * byte-identical leaks; THIS catches the near-identical ones — the
    * paraphrased test document whose MinHash group straddles a per-doc
    * split. Ungrouped docs (absent from `groups`) are their own
    * representative. One left join against the (skinny, duplicates-only)
    * groups relation; the corpus side never reshuffles on anything but
    * the join key. */
  def leakageSafeSplitGroups(df: DataFrame, idCol: String,
                             groups: DataFrame,
                             trainTo: String = "cc",
                             valTo: String = "e6"): DataFrame = {
    val rep = coalesce(col("group_id"), col(idCol))
    df.select(col(idCol))
      .join(groups.select(col(idCol), col("group_id")), Seq(idCol), "left")
      .select(col(idCol), rep.as("group_rep"),
        TextFunctions.hashSplit(rep.cast("string"), trainTo, valTo)
          .as("split"))
  }

  /** Corpus snapshot diff: what changed between two crawls/exports of
    * the same corpus — the incremental-pipeline primitive that decides
    * what downstream work (re-embed, re-dedup, re-score) a refresh
    * actually owes. Per id: `added` (new only), `removed` (old only),
    * `changed` (both, content hash differs), `same`. Content equality
    * is by md5, so the full document text never crosses the wire: both
    * sides project to (id, hash) BEFORE the join, and the full-outer
    * join shuffles two skinny relations on the id. At 100 TB this is
    * the plan you want — two narrow scans, one co-partitioned join, no
    * text movement; id-bucketed storage makes even the shuffle free. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame =
    diffByHash(
      oldDf.select(col(idCol), md5(col(textCol).cast("binary")).as("__h_old")),
      newDf.select(col(idCol), md5(col(textCol).cast("binary")).as("__h_new")),
      idCol)

  /** [[corpusDiff]] for an EMBEDDING corpus — what changed between two
    * crawls' vector exports, the primitive that decides which vectors a
    * refresh re-indexes. Content equality is by md5 over the vector's
    * JSON rendering (float-exact: distinct binary floats render as
    * distinct shortest-round-trip strings, so two vectors hash equal iff
    * they are component-wise bit-equal — including the -0.0 vs 0.0 edge,
    * which numeric comparison would conflate). Same scale shape as the
    * text form: both sides project to (id, hash) BEFORE the join, so the
    * full vector arrays never cross the wire. */
  def vectorDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 vecCol: String): DataFrame =
    diffByHash(
      oldDf.select(col(idCol), md5(to_json(col(vecCol)).cast("binary"))
        .as("__h_old")),
      newDf.select(col(idCol), md5(to_json(col(vecCol)).cast("binary"))
        .as("__h_new")),
      idCol)

  /** The shared diff join: (id, __h_old) ⟗ (id, __h_new) → (id, status).
    * Two skinny relations, one co-partitioned full-outer join. */
  private def diffByHash(o: DataFrame, n: DataFrame,
                         idCol: String): DataFrame =
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__h_old").isNull, "added")
          .when(col("__h_new").isNull, "removed")
          .when(col("__h_old") =!= col("__h_new"), "changed")
          .otherwise("same").as("status"))

  /** The diff rolled up to refresh-planning numbers: row count and id
    * range per status. One combining shuffle over the (id, status)
    * relation. */
  def corpusDiffStats(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                      textCol: String,
                      diff: Option[DataFrame] = None): DataFrame =
    diff.getOrElse(corpusDiff(oldDf, newDf, idCol, textCol))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))

  // ------------------------------------- semantic decontamination
  //
  // The n-gram decontamination above catches VERBATIM eval quotes; a
  // paraphrased or translated eval passage slips through it. Semantic
  // decontamination closes that hole at the embedding level: drop every
  // training doc whose embedding is within `eps` cosine of ANY eval
  // embedding — the same contract as [[decontaminate]], one
  // representation level up (and the decontamination sibling of
  // SemDeDup, which compares the corpus against itself).

  /** Ids of training docs semantically contaminated by the eval set:
    * max-cosine >= eps against ANY eval embedding. Scale shape: the
    * eval set is query-sized by contract, so its vectors BROADCAST and
    * the corpus streams through one map-side nested-loop SEMI join —
    * each row stops at its first hit, nothing corpus-sized shuffles
    * (the exact analog of [[contaminatedIds]]' broadcast semi-join).
    * For eval batteries too large for a per-row scan, use the
    * cell-pruned [[contaminatedIdsSemanticCells]]. */
  def contaminatedIdsSemantic(train: DataFrame, evalSet: DataFrame,
                              idCol: String, vecCol: String,
                              eps: Double = 0.95): DataFrame = {
    val ev = broadcast(evalSet.select(col(vecCol).as("__e_vec")))
    train.select(col(idCol).as("doc_id"), col(vecCol).as("__t_vec"))
      .join(ev, graft.functions.VectorExpressions
        .cosine_similarity(col("__t_vec"), col("__e_vec")) >= eps,
        "left_semi")
      .select(col("doc_id"))
  }

  /** [[contaminatedIdsSemantic]] through an IVF index's cells — the
    * scale path when the eval battery outgrows a per-row scan: both
    * sides assign to the index's frozen cells and only WITHIN-cell
    * pairs are cosine-scored (the SemDeDup pruning argument: a
    * >= eps-cosine pair lands in the same cell with high probability;
    * recall is the cell-assignment recall, measured on a REAL k-means
    * quantizer by the `text_decontam_semantic_recall` gate — ≥ 0.95 on
    * the fixture, where only copy-matches can cross a boundary: an eval
    * row also present in the corpus assigns to its own cell and can
    * never be missed). The eval side is eval-sized and broadcasts; the
    * corpus side is the index's own assigned relation — already
    * cell-partitioned, never reshuffled.
    *
    * `nprobe` is the recall knob for harder distributions: each eval
    * vector probes its `nprobe` NEAREST cells instead of one, raising
    * recall at exactly `nprobe`× the within-cell scoring cost (the
    * standard IVF trade; the broadcast grows to nprobe × eval rows —
    * still eval-sized). nprobe = nlist degrades to the brute scan. */
  def contaminatedIdsSemanticCells(index: Similarity.IvfIndex,
                                   evalSet: DataFrame, idCol: String,
                                   vecCol: String,
                                   eps: Double = 0.95,
                                   nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val evAssigned =
      if (nprobe == 1)
        Similarity.assignToCells(evalSet.select(col(idCol), col(vecCol)),
          index.centers, idCol, vecCol)
          .select(col("cell"), col("c_vec").as("__e_vec"))
      else
        Similarity.nearestCells(
          evalSet.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
          index.centers, nprobe)
          .select(col("cell"), col("q_vec").as("__e_vec"))
    val ev = broadcast(evAssigned)
    index.assigned
      .select(col("cell"), col("neighbor_id").as("doc_id"),
        col("c_vec").as("__t_vec"))
      .join(ev, Seq("cell"))
      .filter(graft.functions.VectorExpressions
        .cosine_similarity(col("__t_vec"), col("__e_vec")) >= eps)
      .select(col("doc_id")).distinct()
  }

  /** Semantic decontamination keep-set: training rows minus the
    * semantically contaminated ids — one broadcast semi-join + one
    * anti-join against the skinny id set, the [[decontaminate]]
    * shape. */
  def decontaminateSemantic(train: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String,
                            eps: Double = 0.95): DataFrame =
    train.join(
      contaminatedIdsSemantic(train, evalSet, idCol, vecCol, eps)
        .withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")

  // ------------------------------------ incremental corpus refresh (e2e)
  //
  // The composition the individual stages exist FOR: a corpus refresh
  // arrives as a new crawl; [[corpusDiff]] decides what changed; ONLY
  // the changed/added documents pay the expensive per-document work
  // (tokenizing metric battery + decontamination gram probe) while
  // unchanged documents CARRY their artifacts from the previous run;
  // then the refreshed artifact set flows through decontaminate →
  // curation gates → exact-dup keep-first → leakage-safe split →
  // deterministic shard assignment as one chain. The correctness
  // contract is refresh ≡ rebuild: because a document's artifacts are a
  // pure function of its text, carrying an unchanged doc's rows is
  // EXACTLY equal to recomputing them — the e2e oracle recomputes the
  // whole pipeline from scratch in SQL and the incremental path must
  // hash-match it.

  /** One crawl's per-document pipeline artifacts — what a production
    * refresh persists between runs: the one-pass curation metrics
    * (skinny — the text column never rides in it) and the
    * contaminated-id set vs a fixed eval battery. */
  final case class CrawlArtifacts(metrics: DataFrame, contaminated: DataFrame) {
    private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def persist(): CrawlArtifacts = {
      metrics.persist(lvl); contaminated.persist(lvl); this
    }
    def unpersist(): Unit = {
      metrics.unpersist(false); contaminated.unpersist(false); ()
    }
  }

  /** From-scratch artifacts for a crawl: the [[curationMetrics]] battery
    * (one narrow tokenizing pass) + [[contaminatedIds]] vs `evalSet`
    * (one broadcast semi-join pass). The refresh path
    * ([[refreshArtifacts]]) runs this over the CHANGED subset only. */
  def crawlArtifacts(df: DataFrame, idCol: String, textCol: String,
                     evalSet: DataFrame, shingleK: Int = 8): CrawlArtifacts =
    CrawlArtifacts(
      curationMetrics(df, col(idCol), col(textCol)),
      contaminatedIds(df, evalSet, idCol, textCol, shingleK))

  /** The refresh step: carry every unchanged document's artifacts from
    * `prior` (two skinny semi-joins — no text is read for them, no
    * kernel runs), recompute ONLY the added/changed documents
    * (from-scratch over the `diff`-selected subset — O(changed) heavy
    * work by construction), drop the removed. `diff` is a
    * [[corpusDiff]] result over the same idCol; `prior` must be the
    * previous crawl's artifacts against the SAME eval set and shingleK,
    * or contamination verdicts silently mix regimes. Exactly equal to
    * `crawlArtifacts(newDf)` because artifacts are pure per-document
    * functions of text — the equivalence the e2e oracle pins. */
  def refreshArtifacts(prior: CrawlArtifacts, newDf: DataFrame,
                       idCol: String, textCol: String, evalSet: DataFrame,
                       diff: DataFrame,
                       shingleK: Int = 8): CrawlArtifacts = {
    val changed = diff.filter(col("status").isin("added", "changed"))
      .select(col(idCol).as("doc_id"))
    val same = diff.filter(col("status") === "same")
      .select(col(idCol).as("doc_id"))
    val fresh = crawlArtifacts(
      newDf.join(changed.withColumnRenamed("doc_id", idCol),
        Seq(idCol), "left_semi"),
      idCol, textCol, evalSet, shingleK)
    CrawlArtifacts(
      prior.metrics.join(same, Seq("doc_id"), "left_semi")
        .unionByName(fresh.metrics),
      prior.contaminated.join(same, Seq("doc_id"), "left_semi")
        .unionByName(fresh.contaminated))
  }

  /** The refresh pipeline's ATTRITION record — the one-row dashboard a
    * refresh publishes next to its export: what the diff decided
    * (added/changed/removed/same), how many docs the refreshed corpus
    * holds, how many the eval battery contaminated, how many survived
    * the curation gates, and how many distinct documents the keep-first
    * dedup kept. One aggregate over the (skinny) artifact relations +
    * one over the diff, cross-joined as single rows. */
  def refreshFunnel(diff: DataFrame, art: CrawlArtifacts,
                    idCol: String, lang: String = "en",
                    minQuality: Double = 0.5, maxDup2: Double = 0.05,
                    maxTop2: Double = 0.12,
                    exact: Boolean = true): DataFrame = {
    val d = diff.agg(
      sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
      sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
      sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
      sum(when(col("status") === "same", 1L).otherwise(0L)).as("n_same"))
    val gate = curationGate(lang, minQuality, maxDup2, maxTop2)
    val keptFp = when(col("__c").isNull && gate, col("fingerprint"))
    val m = art.metrics
      .join(art.contaminated.withColumn("__c", lit(1)), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__c").isNotNull, 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("__c").isNull && gate, 1L).otherwise(0L)).as("n_gated"),
        // n_kept is the one DISTINCT in the funnel — exact plans an
        // Expand (a data copy, the honest price, fine for a dashboard
        // row at fixture scale and the oracle-matched default);
        // exact = false swaps in the HLL sketch at rsd 0.02 (a 4096-
        // register sketch — still a few KB per partial, and small
        // cardinalities fall into its near-exact linear-counting
        // regime; the 0.05 default measured 6% off at |kept| ~ 100),
        // no Expand — the [[profile]] posture, the right one at 10^10
        // fingerprints
        (if (exact) countDistinct(keptFp)
         else approx_count_distinct(keptFp, 0.02)).as("n_kept"))
    d.crossJoin(m)
  }

  /** The downstream half of the refresh pipeline, from artifacts to the
    * trainer-ready export: decontaminate (anti-join the contaminated-id
    * set) → curation gates → exact-dup keep-first (min doc_id per
    * fingerprint) → leakage-safe GROUP-keyed split → [[shardAssign]].
    * Emits (doc_id, quality, n_tokens_bpe, split, shard) per kept doc.
    *
    * The split is group-safe BY CONSTRUCTION, with zero extra plan
    * cost: keep-first dedup keeps exactly the min-id row of every
    * fingerprint group, so each kept doc IS its group's representative
    * and the group-keyed split ([[leakageSafeSplitGroups]]' rep =
    * min-id contract) degenerates to hashing the kept doc's own id —
    * duplicates can't straddle the fence because they are already
    * gone. An earlier draft routed through a fingerprint-census join
    * to say the same thing; that re-evaluated the whole fresh metric
    * battery a second time (the census branch and the keep-first
    * branch each inline it) for literally identical output — measured
    * at sf0.1 as ~40% of the row.
    *
    * Scale shape: everything here consumes the SKINNY metrics relation
    * — the corpus text never reappears after the artifact stage; the
    * keep-first census is the ONE combining shuffle; split and shard
    * are per-row expressions on the kept rows. */
  def curatedShardExport(art: CrawlArtifacts, lang: String = "en",
                         minQuality: Double = 0.5, maxDup2: Double = 0.05,
                         maxTop2: Double = 0.12, nShards: Int = 8,
                         trainTo: String = "cc",
                         valTo: String = "e6"): DataFrame = {
    val clean = art.metrics.join(art.contaminated, Seq("doc_id"), "left_anti")
    val kept = curateFromMetrics(clean, lang, minQuality, maxDup2, maxTop2)
    shardAssign(
      kept.withColumn("split",
        TextFunctions.hashSplit(col("doc_id").cast("string"), trainTo, valTo)),
      col("doc_id"), nShards)
      .select(col("doc_id"), col("quality"), col("n_tokens_bpe"),
        col("split"), col("shard"))
  }
}
