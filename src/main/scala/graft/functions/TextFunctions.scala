package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Text-analysis primitives for large-scale training-data pipelines
 * (north-star extension, SURVEY §2.11): tokenization, language ID,
 * quality scoring, token counting, fingerprinting.
 *
 * Everything here is a per-row kernel with no UDF and no shuffle: the
 * tokenizer, n-grams, BPE-ish count, lowercase, language ID and stopword
 * ratio are native Catalyst expressions ([[TextExpressions]]) that stay
 * inside whole-stage codegen, and the rest compose builtins. Builtin
 * higher-order functions (`filter`, `transform`, `aggregate`) are NOT
 * codegen'd: each lambda runs interpreted (`CodegenFallback`), per
 * element and with no common-subexpression elimination, so a caller that
 * feeds one array to several such kernels stages it as its own column.
 * Each native kernel keeps its composed form as a `*Composed` reference,
 * pinned to it by `TextFunctionsSpec`.
 */
object TextFunctions {

  /** Lowercased word tokens (runs of letters/digits): one native pass
    * ([[TextExpressions.Tokens]]). */
  def tokens(text: Column): Column = TextExpressions.tokens(text)

  /** Builtin-composed reference semantics of [[tokens]]. */
  private[graft] def tokensComposed(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  /** Whitespace-delimited token count — the cheap estimator (counts
    * whitespace RUNS, so multiple spaces don't inflate the count). */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+")).cast(LongType)

  /** BPE-ish token count: letter runs, digit runs, and isolated
    * punctuation each count as one token — a deterministic proxy for
    * subword tokenizers when the real vocab isn't available. Whitespace
    * pieces are dropped by a `\s` test (Spark's `trim` strips only ASCII
    * spaces, which would count tabs/newlines as tokens). One native pass
    * ([[TextExpressions.TokenCountBpe]]).
    *
    * Known miscount on supplementary-plane text (code points above
    * U+FFFF): the split's lookarounds test UTF-16 units, so each low
    * surrogate reads as a non-letter. A supplementary letter or digit
    * ends its run ("a𝐀b" counts 2, not 1) and a supplementary symbol
    * splits between its surrogates ("a😀b" counts 4, not 3). The count
    * is kept as is: `n_tokens_bpe` and its DuckDB oracle compute it the
    * same way, so a fix must change both together. */
  def tokenCountBpe(text: Column): Column = TextExpressions.token_count_bpe(text)

  /** Builtin-composed reference semantics of [[tokenCountBpe]]. */
  private[graft] def tokenCountBpeComposed(text: Column): Column =
    size(filter(split(text, "(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])"),
      t => t.rlike("[^\\s]"))).cast(LongType)

  // --- quality scoring ------------------------------------------------

  /** Ratio of non-alphanumeric, non-space chars to total chars. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", "")).cast("double")
        / length(text))

  /** Ratio of digit chars. */
  def digitRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^\\p{N}]", "")).cast("double") / length(text))

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, 0.0).otherwise(
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
  }

  /** English-ish stopword hit ratio over tokens (C4/Gopher-style "has
    * enough function words" signal). */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "that", "this", "it", "as", "at", "by", "be")

  def stopwordRatio(text: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    stopwordRatioFromTokens(tokens(text), stopwords)

  /** Token-staged variant: pass a PRE-MATERIALIZED tokens column so a
    * multi-feature pipeline tokenizes each document once. With the
    * default stopword list this is a native kernel and staging only
    * saves the repeated tokenize; a custom list runs the composed form,
    * whose `filter` lambda is interpreted with no common-subexpression
    * elimination — the same staging rule as `Dedup.minhashBase`. */
  def stopwordRatioFromTokens(t: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    if (stopwords == EnglishStopwords)
      when(size(t) === 0, 0.0).otherwise(
        TextExpressions.stopword_hits(t).cast("double") / size(t))
    else stopwordRatioComposed(t, stopwords)

  /** Builtin-composed reference semantics (spec-pinned to the kernel). */
  private[graft] def stopwordRatioComposed(
      t: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val sw = array(stopwords.map(lit): _*)
    when(size(t) === 0, 0.0).otherwise(
      size(filter(t, x => array_contains(sw, x))).cast("double") / size(t))
  }

  /** Composite quality score in [0,1]: length-band * (1 - punct noise) *
    * stopword presence. Deterministic, tunable; mirrors the shape of
    * published heuristic filters (length/punct/stopword ratios).
    *
    * Deliberately NOT decimal-rounded: per-row IEEE arithmetic is
    * engine-exact, but `round(x, 6)` is not — Spark rounds the shortest
    * decimal rendering (`BigDecimal.valueOf`) while other engines round
    * the raw binary value, so an exact .5 at the 7th digit diverges
    * (found via a real 0.2559375 at sf0.1). */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  /** Token-staged variant of [[qualityScore]] (see
    * [[stopwordRatioFromTokens]]). */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val lenScore = least(length(text).cast("double") / 200.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    val swScore = least(stopwordRatioFromTokens(toks) * 5.0, lit(1.0))
    lenScore * punctScore * (lit(0.5) + swScore * 0.5)
  }

  // --- language identification ---------------------------------------

  /** Per-language marker profiles: high-frequency function words plus a
    * few orthographic digraphs. A classic n-gram/stopword-profile
    * classifier (Cavnar-Trenkle style), expressible entirely in
    * builtins: score(lang) = |tokens ∩ profile(lang)| / |tokens|. */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "dans", "que"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"))

  /** Best-scoring language tag, "und" when nothing matches. */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Token-staged variant of [[langId]] (see [[stopwordRatioFromTokens]]):
    * one native-kernel pass scoring all profiles at once. NULL tokens
    * resolve to "und" exactly like the composed form (the expression
    * itself null-propagates). */
  def langIdFromTokens(t: Column): Column =
    coalesce(TextExpressions.lang_id(t), lit("und"))

  /** Builtin-composed reference semantics (spec-pinned to the kernel):
    * array<struct<score,lang>> max — score first, ties to the
    * lexicographically greatest lang tag. */
  private[graft] def langIdComposed(t: Column): Column = {
    val scored = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val profile = array(words.map(lit): _*)
      struct(
        size(filter(t, x => array_contains(profile, x))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Type-token ratio (distinct tokens / total tokens) — the Gopher-style
    * within-document repetition signal: boilerplate and generated spam
    * repeat; prose doesn't. */
  def typeTokenRatio(toks: Column): Column =
    when(size(toks) === 0, 0.0).otherwise(
      size(array_distinct(toks)).cast("double") / size(toks))

  // --- within-document n-gram repetition (Gopher Rep-n) ---------------

  /** Rolling space-joined n-gram strings over a token array: one native
    * pass ([[TextExpressions.TokenNgrams]]). Docs shorter than n (and a
    * NULL array) yield an EMPTY list. */
  def tokenNgrams(toks: Column, n: Int): Column = TextExpressions.token_ngrams(toks, n)

  /** Builtin-composed reference semantics of [[tokenNgrams]] (1-based
    * starts): the sequence upper bound is clamped to 1 and the clamped
    * element filtered out, because sequence(1, nonpositive) would
    * DESCEND. */
  private[graft] def tokenNgramsComposed(toks: Column, n: Int): Column =
    transform(
      filter(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => i <= size(toks) - (n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  /** Fraction of n-grams that repeat an earlier occurrence
    * (1 - distinct/total; n=1 is the duplicate-token fraction) — the
    * Gopher "duplicate n-gram fraction" repetition signal. Integer
    * counts divided once in double, so the value is bit-identical
    * across engines. */
  def dupNgramFrac(toks: Column, n: Int): Column =
    dupNgramFracOfGrams(if (n == 1) toks else tokenNgrams(toks, n))

  /** [[dupNgramFrac]] over a PRECOMPUTED gram array. The gram array is
    * built natively, but [[topNgramCharFracOfGrams]] folds it with an
    * interpreted `aggregate` lambda that shares no subexpressions, so a
    * caller computing several same-n signals (the Rep-n battery pairs the
    * n=2 duplicate fraction with the n=2 top-gram coverage) should project
    * the gram array once in a separate Project (multi-use non-cheap
    * aliases survive CollapseProject, the same sharing the `__toks`
    * projection already rides) and feed both kernels from it. */
  def dupNgramFracOfGrams(g: Column): Column =
    when(size(g) === 0, lit(0.0)).otherwise(
      (size(g) - size(array_distinct(g))).cast("double")
        / size(g).cast("double"))

  /** Greatest character coverage any single n-gram achieves:
    * max over distinct grams of occurrences x gram-token-chars, over the
    * doc's total token chars — a deterministic variant of Gopher's
    * "fraction of characters in the most frequent n-gram" (taking the
    * max of the products directly needs no tie-break, so no
    * cross-engine ordering hazard).
    *
    * Shape matters here: the naive distinct x filter formulation is
    * O(grams^2) per row with a full gram-array REBUILD inside every
    * probe (higher-order lambdas are interpreted with no subexpression
    * sharing), which the first sf1 bench measured at 300+ s for the
    * gate row. This form sorts the gram array once and folds a
    * run-length scan over it (equal grams are adjacent after the sort,
    * so the best run x gram-chars IS the best distinct-gram product) —
    * O(grams log grams) per row, same bit-identical value, still a
    * zero-shuffle within-row kernel at any corpus size. */
  def topNgramCharFrac(toks: Column, n: Int): Column =
    topNgramCharFracOfGrams(tokenNgrams(toks, n), toks, n)

  /** [[topNgramCharFrac]] over a PRECOMPUTED gram array (the
    * [[dupNgramFracOfGrams]] sharing contract; `n` still names the
    * per-gram separator overhead subtracted from gram length). */
  def topNgramCharFracOfGrams(g: Column, toks: Column, n: Int): Column = {
    val totalChars = aggregate(toks, lit(0), (a, t) => a + length(t))
    val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best"))
    val best = aggregate(array_sort(g), zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"),
            run * (length(x) - lit(n - 1))).as("best"))
      },
      acc => acc.getField("best"))
    when(size(g) === 0 || totalChars === 0, lit(0.0))
      .otherwise(best.cast("double") / totalChars.cast("double"))
  }

  // --- corpus splitting -----------------------------------------------

  /** Deterministic train/val/test assignment by content-stable hash: the
    * first md5 byte of the id/content column buckets rows reproducibly
    * across engines, runs, and cluster sizes (the standard "hash split"
    * for training corpora — no RNG state, rerunning never reshuffles).
    * Thresholds are hex-string prefixes: "cc" ~ 0.8, "e6" ~ 0.9. */
  def hashSplit(key: Column, trainTo: String = "cc", valTo: String = "e6"): Column = {
    val h = substring(md5(key.cast("binary")), 1, 2)
    when(h < lit(trainTo), "train").when(h < lit(valTo), "val").otherwise("test")
  }

  /** C4/Gopher-style quality gate: keep docs that look like prose in the
    * target language — composable building block for filter pipelines. */
  def qualityGate(text: Column, lang: String = "en",
                  minQuality: Double = 0.3, maxPunct: Double = 0.2): Column =
    langId(text) === lang &&
      qualityScore(text) >= minQuality &&
      punctRatio(text) <= maxPunct

  /** Token-staged variant of [[qualityGate]]: every feature reads the one
    * materialized tokens column instead of re-splitting the text (the
    * plain form tokenizes 3x per row; Catalyst's project collapsing keeps
    * non-cheap staged expressions staged). */
  def qualityGateFromTokens(text: Column, toks: Column, lang: String = "en",
                            minQuality: Double = 0.3, maxPunct: Double = 0.2): Column =
    langIdFromTokens(toks) === lang &&
      qualityScoreFromTokens(text, toks) >= minQuality &&
      punctRatio(text) <= maxPunct

  // --- fingerprinting -------------------------------------------------

  /** Normalized content fingerprint: md5 of lowercased text with all
    * whitespace collapsed — stable under reflow, oracle-reproducible.
    * Lowercases with the native [[TextExpressions.Lowercase]]. */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(TextExpressions.lowercase(text), "\\s+", " ").cast("binary"))

  /** Builtin-composed reference semantics of [[fingerprintMd5]]. */
  private[graft] def fingerprintMd5Composed(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " ").cast("binary"))

  /** 64-bit rolling-hash-style fingerprint (xxhash64 over the same
    * normalization) — cheaper join key than the md5 hex string. */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(TextExpressions.lowercase(text), "\\s+", " "))

  /** Builtin-composed reference semantics of [[fingerprint64]]. */
  private[graft] def fingerprint64Composed(text: Column): Column =
    xxhash64(regexp_replace(lower(text), "\\s+", " "))

  /** Word k-shingles as strings ("a b c"), the unit for MinHash/Jaccard. */
  def shingles(text: Column, k: Int = 3): Column = {
    val t = tokens(text)
    when(size(t) < k, array(concat_ws(" ", t)))
      .otherwise(transform(sequence(lit(0), size(t) - k),
        i => concat_ws(" ", slice(t, i + 1, lit(k)))))
  }

  // --- hashed linear model scoring ------------------------------------

  /** Feature bucket for the hashing trick: first 24 bits of md5(token)
    * mod `numBuckets` — cross-engine reproducible (any SQL engine can
    * parse 6 hex chars), uniform, and independent of JVM string hashing. */
  private[graft] def featureBucket(tok: Column, numBuckets: Int): Column =
    conv(substring(md5(tok.cast("binary")), 1, 6), 16, 10)
      .cast("long") % numBuckets

  /** Deterministic per-bucket weight standing in for a TRAINED weight
    * vector: w(b) = ((b*37 mod 21) - 10) / 16 ∈ [-10/16, 10/16]. Every
    * value is an exact binary fraction (denominator 16), so the score
    * sum is EXACT double arithmetic — addition order cannot perturb it,
    * which is what lets the score hash-match an oracle that folds the
    * token list in a different order. In production the weights come
    * from a trained model shipped as one broadcast array (numBuckets
    * doubles — 2 MB at 2^18 buckets) read by `element_at`; the plumbing
    * (tokenize → bucket → gather → sum, zero shuffles) is identical. */
  private[graft] def bucketWeight(bucket: Column): Column =
    (bucket * 37 % 21 - 10).cast("double") / 16.0

  /** Hashed-feature linear text scorer (the fasttext-style quality-
    * classifier head every corpus pipeline runs at scale): distinct
    * tokens → hash buckets → sum of bucket weights. Binary
    * presence features over DISTINCT tokens; two tokens sharing a
    * bucket both add its weight — standard hashing-trick collision
    * semantics. Zero shuffles: one whole-stage-codegen'd pass per row
    * (md5 + conv + a fold over the token array), embarrassingly
    * parallel at any corpus size. Empty/NULL token arrays score 0. */
  def hashedLinearScore(toks: Column, numBuckets: Int = 256): Column =
    coalesce(
      aggregate(array_distinct(toks), lit(0.0),
        (acc, t) => acc + bucketWeight(featureBucket(t, numBuckets))),
      lit(0.0))
}
