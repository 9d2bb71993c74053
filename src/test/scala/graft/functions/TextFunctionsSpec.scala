package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokens + counts") {
    val df = Seq("The quick, brown fox!  Jumps 42 times.").toDF("t")
    val row = df.select(
      TextFunctions.tokens(col("t")),
      TextFunctions.tokenCountWs(col("t")),
      TextFunctions.tokenCountBpe(col("t"))).head()
    assert(row.getSeq[String](0) == Seq("the", "quick", "brown", "fox", "jumps", "42", "times"))
    assert(row.getLong(1) == 7L) // whitespace runs: double space counts once
    assert(row.getLong(2) >= 9L) // bpe-ish counts punctuation too
  }

  test("fingerprint is whitespace/case invariant; distinct content differs") {
    val df = Seq(
      ("A  Quick   Fox", "a quick fox", "a quick wolf")).toDF("a", "b", "c")
    val row = df.select(
      TextFunctions.fingerprintMd5(col("a")) === TextFunctions.fingerprintMd5(col("b")),
      TextFunctions.fingerprintMd5(col("b")) === TextFunctions.fingerprintMd5(col("c")),
      TextFunctions.fingerprint64(col("a")) === TextFunctions.fingerprint64(col("b"))).head()
    assert(row.getBoolean(0) && !row.getBoolean(1) && row.getBoolean(2))
  }

  test("langId picks the dominant profile") {
    val df = Seq(
      "the cat is on the mat and it was nice",
      "der hund ist nicht mit der katze und das ist gut",
      "le chat est dans la maison et les oiseaux",
      "el perro es un animal que vive por la casa",
      "xyzzy plugh qwerty").toDF("t")
    val langs = df.select(TextFunctions.langId(col("t"))).as[String].collect().toSeq
    assert(langs == Seq("en", "de", "fr", "es", "und"))
  }

  test("quality metrics ranges and shingles") {
    val df = Seq("good clean text with the usual words in it for scoring").toDF("t")
    val row = df.select(
      TextFunctions.punctRatio(col("t")),
      TextFunctions.stopwordRatio(col("t")),
      TextFunctions.qualityScore(col("t")),
      TextFunctions.shingles(col("t"), 3)).head()
    assert(row.getDouble(0) == 0.0)
    assert(row.getDouble(1) > 0.0 && row.getDouble(1) < 1.0)
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) <= 1.0)
    val sh = row.getSeq[String](3)
    assert(sh.head == "good clean text" && sh.last == "it for scoring")
  }

  test("shingles of short text degrade to single whole-text shingle") {
    val df = Seq("two words").toDF("t")
    assert(df.select(TextFunctions.shingles(col("t"), 3)).head()
      .getSeq[String](0) == Seq("two words"))
  }

  test("native langId/stopword kernels match the composed forms on the corpus (both codegen modes)") {
    val docs = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "documents")
      .withColumn("__toks", TextFunctions.tokens(col("text")))
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.fallback", mode != "CODEGEN_ONLY")
      try {
        val both = docs.select(
          TextFunctions.langIdFromTokens(col("__toks")).as("k_lang"),
          TextFunctions.langIdComposed(col("__toks")).as("c_lang"),
          TextFunctions.stopwordRatioFromTokens(col("__toks")).as("k_sw"),
          TextFunctions.stopwordRatioComposed(col("__toks")).as("c_sw"))
        assert(both.filter(col("k_lang") =!= col("c_lang")).isEmpty)
        assert(both.filter(col("k_sw") =!= col("c_sw")).isEmpty)
        both.collect()
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
    assert(run("CODEGEN_ONLY").toSeq == run("NO_CODEGEN").toSeq)

    // NULL text resolves to "und" on both paths (the kernel expression
    // null-propagates; the wrapper coalesces to match the composed form)
    val nullDf = Seq(Option.empty[String]).toDF("text")
      .withColumn("__toks", TextFunctions.tokens(col("text")))
    assert(nullDf.select(
      TextFunctions.langIdFromTokens(col("__toks")),
      TextFunctions.langIdComposed(col("__toks"))).head() ==
      org.apache.spark.sql.Row("und", "und"))
  }

  test("hashSplit: deterministic, total, and roughly 80/10/10") {
    val ids = (0L until 2000L).toDF("id").select(col("id").cast("string").as("k"))
    val splits = ids.select(col("k"), TextFunctions.hashSplit(col("k")).as("s"))
    val counts = splits.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1400 && counts("train") < 1800) // ~80%
    assert(counts("val") > 100 && counts("val") < 320)       // ~10%
    // rerun -> byte-identical assignment (no RNG anywhere)
    val again = ids.select(col("k"), TextFunctions.hashSplit(col("k")).as("s"))
    assert(splits.except(again).isEmpty && again.except(splits).isEmpty)
  }

  test("qualityGate keeps prose and rejects noise") {
    val df = Seq(
      ("good", "the quick brown fox and the lazy dog went to the market in town " * 4),
      ("punct", "!!! ??? *** ### $$$ %%% the and of to !!! ??? *** ### $$$ %%%"),
      ("short", "the of"),
      ("nonenglish", "der die das und ist nicht ein mit von zu " * 8)
    ).toDF("tag", "t")
    val kept = df.filter(TextFunctions.qualityGate(col("t")))
      .select("tag").as[String].collect().toSet
    assert(kept == Set("good"))
  }

  test("hashedLinearScore: presence semantics, additivity, exact arithmetic") {
    def score(texts: String*): Seq[Double] = texts.toDF("t")
      .select(TextFunctions.hashedLinearScore(
        TextFunctions.tokens(col("t"))).as("s"))
      .as[Double].collect().toSeq

    // empty / punctuation-only -> zero (no features)
    assert(score("", "!!! ???") == Seq(0.0, 0.0))

    // PRESENCE features: token multiplicity never changes the score
    assert(score("alpha alpha alpha") == score("alpha"))

    // additivity over distinct tokens (holds whether or not the tokens
    // share a bucket — the fold just sums each distinct token's weight)
    val Seq(a, b, ab) = score("alpha", "bravo", "alpha bravo")
    assert(ab == a + b, "exact-fraction weights: sum must be EXACT")

    // every weight is a multiple of 1/16 in [-10/16, 10/16], so any
    // score is a multiple of 1/16 — the order-independence guarantee
    val s = score("the quick brown fox jumped over a lazy dog today")
    assert(s.head == math.rint(s.head * 16.0) / 16.0)

    // word order can't matter (set-of-tokens semantics + exact sums)
    assert(score("gamma delta epsilon") == score("epsilon gamma delta"))
  }

  /** Run `body` under each (ICU case mappings, codegen mode) pair; `body`
    * builds its Columns inside, so the lowercasing expressions read the
    * conf under test. */
  private def underEachConf(body: String => Unit): Unit =
    for (icu <- Seq("true", "false"); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.icu.caseMappings.enabled", icu)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.fallback", mode != "CODEGEN_ONLY")
      try body(s"icu=$icu $mode")
      finally Seq("spark.sql.icu.caseMappings.enabled", "spark.sql.codegen.factoryMode",
        "spark.sql.codegen.fallback").foreach(spark.conf.unset)
    }

  /** Every (native, composed) column pair of `df.select(pairs)` is equal
    * row for row; returns the collected rows. */
  private def assertPairsEqual(df: DataFrame, what: String,
                               pairs: (String, Column, Column)*): Seq[Row] = {
    val rows = df.select(col("id") +: pairs.flatMap { case (_, k, c) => Seq(k, c) }: _*)
      .collect().toSeq
    for (row <- rows; ((name, _, _), i) <- pairs.zipWithIndex) {
      val (k, c) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
      assert(k == c, s"$what: $name differs on row ${row.get(0)} " +
        s"(${TextFunctionsSpec.describe(row.getInt(0))}): native=$k composed=$c")
    }
    rows
  }

  test("native tokenizer, n-grams, BPE count and fingerprints equal their composed forms " +
      "on adversarial text (both ICU case-mapping settings, both codegen modes)") {
    underEachConf { what =>
      val df = TextFunctionsSpec.adversarial(spark)
      val t = col("t")
      val rows = assertPairsEqual(df, what,
        ("tokens", TextFunctions.tokens(t), TextFunctions.tokensComposed(t)),
        ("fingerprintMd5", TextFunctions.fingerprintMd5(t),
          TextFunctions.fingerprintMd5Composed(t)),
        ("fingerprint64", TextFunctions.fingerprint64(t), TextFunctions.fingerprint64Composed(t)),
        ("tokenCountBpe", TextFunctions.tokenCountBpe(t), TextFunctions.tokenCountBpeComposed(t)))
      assert(rows.size == TextFunctionsSpec.size)
      // the n-gram kernel over the SAME token array, so a tokenizer
      // difference cannot mask (or fake) an n-gram one
      val staged = df.withColumn("__toks", TextFunctions.tokensComposed(t))
      assertPairsEqual(staged, what, (1 to 3).map { n =>
        (s"tokenNgrams n=$n", TextFunctions.tokenNgrams(col("__toks"), n),
          TextFunctions.tokenNgramsComposed(col("__toks"), n))
      }: _*)
    }
  }

  test("native n-grams skip NULL elements and map a NULL array to [] like the composed form") {
    underEachConf { what =>
      val arrays: Seq[(Int, Seq[String])] = Seq(
        0 -> Seq("a", null, "b", "c"), 1 -> Seq(null, null), 2 -> null, 3 -> Seq(), 4 -> Seq("x"))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(arrays, 2)).toDF("id", "a")
      val rows = assertPairsEqual(df, what, (1 to 3).map { n =>
        (s"tokenNgrams n=$n", TextFunctions.tokenNgrams(col("a"), n),
          TextFunctions.tokenNgramsComposed(col("a"), n))
      }: _*)
      val byId = rows.map(r => r.getInt(0) -> r).toMap
      assert(byId(0).getSeq[String](3) == Seq("a", "b", "b c")) // n=2
      assert(byId(2).getSeq[String](1) == Seq())
    }
  }

  test("the lowercase kernel follows spark.sql.icu.caseMappings.enabled as Spark's lower does") {
    // U+A7C0 (Unicode 14) has a lowercase mapping in ICU's tables but not
    // in the JDK's, so the two settings disagree on it
    val sample = Seq("HeLLo \u00C9", "\uA7C0").toDF("t")
    def lowered(icu: String): Seq[(String, String)] = {
      spark.conf.set("spark.sql.icu.caseMappings.enabled", icu)
      try sample.select(TextExpressions.lowercase(col("t")), lower(col("t")))
        .as[(String, String)].collect().toSeq
      finally spark.conf.unset("spark.sql.icu.caseMappings.enabled")
    }
    val (withIcu, withJdk) = (lowered("true"), lowered("false"))
    assert(withIcu.forall { case (k, c) => k == c } && withJdk.forall { case (k, c) => k == c })
    assert(withIcu.map(_._1) == Seq("hello \u00E9", "\uA7C1"))
    assert(withJdk.map(_._1) == Seq("hello \u00E9", "\uA7C0"))
  }
}

object TextFunctionsSpec {

  /** Valid-string rows of the adversarial set: case-mapping and
    * category edge cases for the tokenizer and the lowercase kernel. */
  val AdversarialText: Seq[String] = Seq(
    "The QUICK bRoWn Fox jumps over 42 lazy DOGS", // mixed-case ASCII
    "HTTP/2.0 e-mail: a_b@c.d -- x1y2 (#tag) 3.14", // ASCII punctuation runs
    "\u00C0\u00C9\u00CE\u00D5\u00DC \u00D1AND\u00DA \u00C7A", // Latin-1 capitals
    "\u0130stanbul \u0131i I\u011EDIR", // Turkish dotted/dotless I
    "\u039F\u0394\u039F\u03A3 \u03A3\u039F\u03A6\u039F\u03A3 \u03A3", // Greek final sigma
    "Stra\u00DFe STRASSE \u1E9E", // sharp s, capital sharp s
    "\u4E2D\u6587\u5206\u8BCD \u30C6\u30B9\u30C8 \uD55C\uAD6D\uC5B4", // CJK
    "\uD835\uDC00\uD835\uDC01 x\uD835\uDFD9y \uD835\uDFD9\uD835\uDFDA", // supplementary L and Nd
    "a\uD83D\uDE00b x\uD83D\uDE00", // supplementary symbol
    "\u216B \u00B2 \u00BD x\u00B2y", // Nl / No numbers
    "e\u0301te cafe\u0301 \u01C5 \u02B0", // combining mark, Lt, Lm
    "a\uFFFDb \uFFFD", // replacement character
    "", // empty
    " \t\n \u000B\f\r ", // whitespace only
    "\u00A0nbsp\u2003em\u3000ideo", // non-ASCII spaces
    "x\uA7C0y \u2C2Fz") // capitals newer than the JDK's Unicode tables

  /** Invalid UTF-8 rows, as hex bytes cast binary -> string: a bad
    * continuation, a CESU surrogate, truncated sequences, an overlong. */
  val AdversarialHex: Seq[String] =
    Seq("61C3FF62", "41EDA08042", "E282", "C0AF41", "F09F98")

  /** Row count: the text rows, one NULL, the invalid rows. */
  val size: Int = AdversarialText.size + 1 + AdversarialHex.size

  def describe(id: Int): String =
    if (id < AdversarialText.size) AdversarialText(id).flatMap(c =>
      if (c >= 0x20 && c < 0x7F) c.toString else f"\\u${c.toInt}%04X")
    else if (id == AdversarialText.size) "NULL"
    else "hex " + AdversarialHex(id - AdversarialText.size - 1)

  /** (id: int, t: string) over an RDD, so expressions over it run through
    * codegen rather than being folded into a local relation. */
  def adversarial(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = AdversarialText.map(t => (Option(t), Option.empty[String])) ++
      Seq((Option.empty[String], Option.empty[String])) ++
      AdversarialHex.map(h => (Option.empty[String], Option(h)))
    spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case ((s, h), i) => (i, s, h) }, 2)
      .toDF("id", "s", "hex")
      .select(col("id"),
        when(col("hex").isNotNull, unhex(col("hex")).cast("string"))
          .otherwise(col("s")).as("t"))
  }
}
