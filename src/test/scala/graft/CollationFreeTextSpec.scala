package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-scan guard for the text paths: no Column `lower(`, `upper(` or
 * `initcap(` call in the packages the curation, dedup and search
 * operators run through. In Spark 4.1 each of these (UTF8_BINARY, ICU
 * case mappings on, the default) first runs `CollationAwareUTF8String`'s
 * static initializer, which builds a title-case table with one ICU
 * `toTitleCase` and a fresh word `BreakIterator` per code point — about
 * 3 GB of allocation the first time a JVM lowercases anything. Lowercase
 * with `graft.functions.TextExpressions.lowercase` (or tokenize with
 * `TextFunctions.tokens`), which computes the same bytes without that
 * table. The `*Composed` reference forms, which exist to pin the native
 * kernels to Spark's own functions, are exempt.
 */
class CollationFreeTextSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala/graft")
  private val packages = Seq("functions", "extensions", "streaming")

  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val caseCall = """(?:\bfunctions\.|(?<![\w.])(?<!\bdef\s))(lower|upper|initcap)\s*\(""".r
  private val definition = """\bdef\s+(\w+)""".r

  /** The case-mapping calls in `source` (comments stripped) outside a
    * `*Composed` definition, each as the enclosing definition's name and
    * the called function. */
  def caseMappingCalls(source: String): Seq[String] = {
    val code = comments.replaceAllIn(source, "")
    caseCall.findAllMatchIn(code).toSeq.flatMap { m =>
      val enclosing = definition.findAllMatchIn(code.substring(0, m.start))
        .toSeq.lastOption.map(_.group(1)).getOrElse("<top>")
      if (enclosing.endsWith("Composed")) None
      else Some(s"$enclosing: ${m.group(1)}(")
    }
  }

  test("the guard flags Column case-mapping calls and passes the rest") {
    assert(caseMappingCalls("def f(c: Column) = lower(c)") == Seq("f: lower("))
    assert(caseMappingCalls("def g = functions.upper(col(\"x\"))") == Seq("g: upper("))
    assert(caseMappingCalls("def h = split(initcap (t), \" \")") == Seq("h: initcap("))
    assert(caseMappingCalls("def q = spark.sql(\"SELECT lower(t) FROM d\")").size == 1)
    assert(caseMappingCalls("def a = s.toLowerCase(); def b = x.lower(1)").isEmpty)
    assert(caseMappingCalls("def c = lowerBound(x) + isUpper(y) + lowercase(t)").isEmpty)
    assert(caseMappingCalls("def lower(s: String): String = s").isEmpty)
    assert(caseMappingCalls("/** `lower(t)` loads the tables */ def d = 1 // upper(x)").isEmpty)
    assert(caseMappingCalls(
      "def tokensComposed(t: Column) =\n  filter(split(lower(t), \"x\"), _ => lit(true))\n" +
        "def tokens(t: Column) = TextExpressions.tokens(t)").isEmpty)
  }

  test("text-path packages lowercase without Spark's collation case tables") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val files = packages.flatMap { p =>
      Option(new java.io.File(root, p).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".scala"))
    }
    assert(files.size >= packages.size)
    val offences = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      caseMappingCalls(src).map(c => s"${f.getParentFile.getName}/${f.getName}: $c")
    }
    assert(offences.isEmpty,
      "Spark's lower/upper/initcap build CollationAwareUTF8String's case " +
        "tables on first use; use graft.functions.TextExpressions.lowercase:\n" +
        offences.mkString("\n"))
  }
}
