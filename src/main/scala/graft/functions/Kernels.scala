package graft.functions

import org.apache.spark.sql.catalyst.expressions.{XxHash64Function, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.StringType

/**
 * Static kernels for the custom expressions in [[HashExpressions]] /
 * [[VectorExpressions]].
 *
 * Top-level Scala objects compile their methods to JVM static forwarders,
 * so whole-stage-codegen'd Java can call them directly (the same pattern
 * Spark's own generated code uses for `DateTimeUtils` etc.): the row
 * pipeline stays inside WholeStageCodegen — no interpreted expression
 * tree, no per-row boxing — and the loop body is one JIT-compiled method
 * shared by the interpreted (`nullSafeEval`) and generated paths.
 */
object HashKernels {

  private def mix(z0: Long): Long = {
    var z = z0 * 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL; z ^= (z >>> 31)
    z
  }

  /** Intersection size of two SORTED DISTINCT long arrays (the
    * [[hashedShingles]] output contract): one allocation-free merge pass.
    * The Jaccard verify only needs |a∩b| — |a∪b| = |a|+|b|-|a∩b| for
    * sets — so the per-pair hash-set builds and output arrays of
    * `array_intersect` + `array_union` were pure overhead on the
    * hottest dedup path (the verify stage dominated the incremental
    * probe: 4.4 s of 4.3 s total at sf0.1 before this kernel). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** See [[HashExpressions.HashedShingles]]: sorted distinct k-shingle
    * hashes of a token array, one pass, no string building. */
  def hashedShingles(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val tok = new Array[Long](n)
    var i = 0
    while (i < n) {
      tok(i) = if (arr.isNullAt(i)) 0L
        else XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      i += 1
    }
    val m = if (n <= k) 1 else n - k + 1
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 1125899906842597L
      var j = i
      val end = math.min(i + k, n)
      while (j < end) { h = h * 31L + tok(j); j += 1 }
      out(i) = mix(h)
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted hashes
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def coeffs(numHashes: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(numHashes, { nh =>
      ((0 until nh).map(HashExpressions.permCoeffs(_)._1).toArray,
       (0 until nh).map(HashExpressions.permCoeffs(_)._2).toArray)
    })

  /** See [[HashExpressions.MinHashSignature]]: `numHashes` running minima
    * in one pass over the (string or pre-hashed long) shingle array.
    *
    * Each permutation is `xxhash64(a_j * h + b_j)`: the affine map alone
    * (`a_j * h + b_j`, no wraparound — 32-bit base × 31-bit multiplier
    * stays inside a signed long) is ORDER-PRESERVING in `h`, so all
    * `numHashes` "permutations" shared one ordering (the globally
    * smallest base hash won every slot) and the signature collapsed to
    * ~1 effective permutation — a 0.99-Jaccard pair could disagree on
    * all 32 slots whenever the one differing shingle held the min base
    * hash (observed on sf0.1: 9 of 256 true pairs missed at every
    * banding). The xxhash64 finalizer breaks the monotonicity, giving
    * each slot an independent ordering — the property banding math
    * assumes. Same seed-42 xxhash64 as the builtin, so the
    * Column-composed form (`Dedup.minhashSignature`) stays in lockstep. */
  def minhashSignature(arr: ArrayData, numHashes: Int, elementIsString: Boolean): ArrayData = {
    val (coeffA, coeffB) = coeffs(numHashes)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val raw =
          if (elementIsString)
            XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
          else arr.getLong(i)
        val h = raw & 0xFFFFFFFFL // 32-bit base: products fit a long (ANSI-safe)
        var j = 0
        while (j < numHashes) {
          val v = XXH64.hashLong(h * coeffA(j) + coeffB(j), 42L)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** See [[HashExpressions.SimHash64]]: hash each token once, tally the 64
    * bit positions, majority-vote. */
  def simhash64(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var n = 0
    var i = 0
    val len = arr.numElements()
    while (i < len) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1
          b += 1
        }
        n += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Static kernels for [[TextExpressions]] — same rationale as
  * [[HashKernels]]: the Column-composed forms run interpreted lambdas
  * (one per split piece for the tokenizer, one per token per profile
  * for language ID); these do each job in one pass per row. */
object TextKernels {

  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  // ---- tokenizer -----------------------------------------------------

  /** `Character.getType` categories of Java regex `\p{L}` and `\p{N}`
    * (Lu Ll Lt Lm Lo, Nd Nl No): the token alphabet of `tokens`. */
  private val LetterOrNumber: Int =
    (1 << Character.UPPERCASE_LETTER) | (1 << Character.LOWERCASE_LETTER) |
      (1 << Character.TITLECASE_LETTER) | (1 << Character.MODIFIER_LETTER) |
      (1 << Character.OTHER_LETTER) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.LETTER_NUMBER) | (1 << Character.OTHER_NUMBER)

  private def isLetterOrNumber(cp: Int): Boolean =
    ((1 << Character.getType(cp)) & LetterOrNumber) != 0

  private def isAsciiAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** Lowercased text of a NON-ASCII string, exactly as Spark 4.1's
    * UTF8_BINARY `lower` computes it before re-encoding: ICU case
    * mappings over the valid (U+FFFD-repaired) string, or the JDK's
    * `String.toLowerCase`. Neither path touches the collation case
    * tables `CollationAwareUTF8String` builds on first use. */
  private def lowerNonAscii(s: UTF8String, icu: Boolean): String =
    if (icu) com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString)
    else s.toString.toLowerCase

  /** Spark's UTF8_BINARY `lower`, bit for bit, under
    * `spark.sql.icu.caseMappings.enabled = icu`. */
  def lowercase(s: UTF8String, icu: Boolean): UTF8String =
    if (!icu) s.toLowerCase
    else if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(lowerNonAscii(s, icu))

  private val NoStrings = new GenericArrayData(Array.empty[Any])

  /** `filter(split(lower(s), "[^\\p{L}\\p{N}]+"), len > 0)` in one pass:
    * the maximal runs of letter/number code points of the lowercased
    * text. ASCII rows are cut and lowercased straight from the bytes. */
  def tokens(s: UTF8String, icu: Boolean): ArrayData = {
    val base = s.getBaseObject
    val start = s.getBaseOffset
    val end = start + s.numBytes
    var count = 0
    var inToken = false
    var p = start
    while (p < end) {
      val b = Platform.getByte(base, p)
      if (b < 0) return tokensOf(lowerNonAscii(s, icu))
      val w = isAsciiAlnum(b)
      if (w && !inToken) count += 1
      inToken = w
      p += 1
    }
    if (count == 0) return NoStrings
    val out = new Array[Any](count)
    var k = 0
    p = start
    while (k < count) {
      while (!isAsciiAlnum(Platform.getByte(base, p))) p += 1
      var q = p
      while (q < end && isAsciiAlnum(Platform.getByte(base, q))) q += 1
      val bytes = new Array[Byte]((q - p).toInt)
      var i = 0
      while (i < bytes.length) {
        val b = Platform.getByte(base, p + i)
        bytes(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        i += 1
      }
      out(k) = UTF8String.fromBytes(bytes)
      k += 1
      p = q
    }
    new GenericArrayData(out)
  }

  /** The letter/number code-point runs of an already-lowercased string. */
  private def tokensOf(s: String): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    var from = -1
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (isLetterOrNumber(cp)) { if (from < 0) from = i }
      else if (from >= 0) { out.add(UTF8String.fromString(s.substring(from, i))); from = -1 }
      i += Character.charCount(cp)
    }
    if (from >= 0) out.add(UTF8String.fromString(s.substring(from)))
    new GenericArrayData(out.toArray(new Array[UTF8String](0)).asInstanceOf[Array[Any]])
  }

  private val Space = UTF8String.fromString(" ")

  /** Rolling space-joined `n`-grams of a token array (the composed
    * `transform(filter(sequence…), concat_ws(" ", slice…))`): one gram per
    * start position with a full window, none when the array is shorter
    * than `n` or NULL. NULL elements are skipped in the join
    * (`UTF8String.concatWs`, the kernel of `concat_ws`). */
  def tokenNgrams(arr: ArrayData, n: Int): ArrayData = {
    val m = if (arr == null) 0 else arr.numElements() - (n - 1)
    if (m <= 0) return NoStrings
    val window = new Array[UTF8String](n)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) {
        window(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Java regex of the composed BPE-ish count: a zero-width cut before and
    * after every code point outside `\p{L}\p{N}`. */
  private val BpeCut =
    java.util.regex.Pattern.compile("(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])")

  /** `\s` of Java regex (no UNICODE_CHARACTER_CLASS): the ASCII set. */
  private def isRegexSpace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  /** `size(filter(split(s, BpeCut), rlike("[^\\s]")))`: the pieces that hold
    * a non-space character. An ASCII row is one pass over the bytes (each
    * alphanumeric run and each other non-space byte is one piece); other
    * rows cut the decoded string with the same regex, so the surrogate-
    * pair quirks of the lookaround split are kept as they are. */
  def tokenCountBpe(s: UTF8String): Long = {
    val base = s.getBaseObject
    val end = s.getBaseOffset + s.numBytes
    var count = 0L
    var inRun = false
    var p = s.getBaseOffset
    while (p < end) {
      val b = Platform.getByte(base, p)
      if (b < 0) return tokenCountBpeOf(s.toString)
      val w = isAsciiAlnum(b)
      if (w) { if (!inRun) count += 1 }
      else if (!isRegexSpace(b)) count += 1
      inRun = w
      p += 1
    }
    count
  }

  private def tokenCountBpeOf(s: String): Long = {
    var count = 0L
    for (piece <- BpeCut.split(s, -1)) {
      if (piece.exists(c => !isRegexSpace(c))) count += 1
    }
    count
  }

  // ---- token-array scoring -------------------------------------------

  private def toSet(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** Profiles in ascending lang-tag order (argmax tie resolves to the
    * lexicographically GREATEST tag, matching the struct-max form). */
  private val langTags: Array[UTF8String] =
    TextFunctions.LangProfiles.keys.toArray.sorted.map(UTF8String.fromString)
  private val langSets: Array[java.util.HashSet[UTF8String]] =
    TextFunctions.LangProfiles.toSeq.sortBy(_._1).map(p => toSet(p._2)).toArray
  private val und = UTF8String.fromString("und")

  /** Best-scoring language tag over the token array ("und" when nothing
    * matches): every profile scored in ONE pass over the tokens. */
  def langId(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val scores = new Array[Int](langSets.length)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        var p = 0
        while (p < langSets.length) {
          if (langSets(p).contains(t)) scores(p) += 1
          p += 1
        }
      }
      i += 1
    }
    var best = 0
    var p = 1
    while (p < scores.length) {
      if (scores(p) >= scores(best)) best = p // later tag wins ties (asc order)
      p += 1
    }
    if (scores(best) > 0) langTags(best) else und
  }

  private val stopwords = toSet(TextFunctions.EnglishStopwords)

  /** Number of tokens (with multiplicity) that are English stopwords. */
  def stopwordHits(arr: ArrayData): Int = {
    val n = arr.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && stopwords.contains(arr.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }
}

/** Static kernels for [[VectorExpressions]] — same rationale as
  * [[HashKernels]]. */
object VectorKernels {

  /** See [[VectorExpressions.CosineSimilarity]]: dot, |a|, |b| in one pass
    * over float arrays; 0.0 when either norm is 0. */
  def cosineSimilarity(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val d = math.sqrt(nx) * math.sqrt(ny)
    if (d == 0.0) 0.0 else dot / d
  }

  /** See [[VectorExpressions.SignLshBucket]]: `planes` hyperplane
    * projections accumulated in one pass, one sign bit each. */
  def signLshBucket(v: ArrayData, planes: Int, planeOffset: Int): Long = {
    val n = v.numElements()
    val proj = new Array[Double](planes)
    var i = 0
    while (i < n) {
      val xi = v.getFloat(i).toDouble
      var p = 0
      while (p < planes) {
        proj(p) += xi * VectorExpressions.planeComponent(planeOffset + p, i)
        p += 1
      }
      i += 1
    }
    var out = 0L
    var p = 0
    while (p < planes) {
      if (proj(p) >= 0) out |= (1L << p)
      p += 1
    }
    out
  }
}
