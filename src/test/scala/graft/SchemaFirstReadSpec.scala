package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-scan guard for the CDC path's job-free reads: in the packages a
 * capture tick and a serving read go through, every `spark.read` chain
 * that reads parquet must pass an explicit `.schema(...)`. Without one,
 * Spark starts a schema-inference job per read — the per-job overhead that
 * sets a tick's cost. Read through `graft.sources.ParquetMeta.read`, which
 * resolves the schema from the footers; the footer reader itself (whose
 * only bare read is Spark's error for an empty listing) is exempt.
 */
class SchemaFirstReadSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala/graft")
  private val packages = Seq("sources", "operators", "sinks", "state", "engine")
  private val exempt = Set("ParquetMeta.scala")

  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val reader = """\.read(?=\s*\.)""".r
  private val terminal = """\.(parquet|load|json|csv|orc|text|table|jdbc)\s*\(""".r

  /** The `spark.read` chains in `source` (comments stripped) that read
    * parquet without `.schema(`, each as its text up to the read call. */
  def schemaLessParquetReads(source: String): Seq[String] = {
    val code = comments.replaceAllIn(source, "")
    reader.findAllMatchIn(code).toSeq.flatMap { m =>
      val rest = code.substring(m.start)
      terminal.findFirstMatchIn(rest).map(t => (rest.take(t.end), t.group(1)))
    }.collect {
      case (chain, call) if !chain.contains(".schema(") &&
          (call == "parquet" || (call == "load" && chain.contains("\"parquet\""))) =>
        chain.replaceAll("\\s+", " ")
    }
  }

  test("the guard flags schema-less parquet reads and passes the rest") {
    assert(schemaLessParquetReads("spark.read.parquet(p)").size == 1)
    assert(schemaLessParquetReads(
      "spark.read.option(\"mergeSchema\", \"true\")\n  .parquet(paths: _*)").size == 1)
    assert(schemaLessParquetReads("s.read.format(\"parquet\").load(p)").size == 1)
    assert(schemaLessParquetReads("spark.read.schema(s).parquet(p)").isEmpty)
    assert(schemaLessParquetReads("spark.read\n  .schema(s)\n  .json(p)").isEmpty)
    assert(schemaLessParquetReads("spark.read.format(\"jdbc\").option(\"url\", u).load()").isEmpty)
    assert(schemaLessParquetReads("/** `spark.read.parquet` infers */ val x = 1").isEmpty)
    assert(schemaLessParquetReads("ParquetMeta.read(spark, p)").isEmpty)
  }

  test("CDC-path packages read parquet only with an explicit schema") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val files = packages.flatMap { p =>
      Option(new java.io.File(root, p).listFiles()).toSeq.flatten
        .filter(f => f.getName.endsWith(".scala") && !exempt(f.getName))
    }
    assert(files.size >= packages.size)
    val offences = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      schemaLessParquetReads(src).map(c => s"${f.getParentFile.getName}/${f.getName}: $c")
    }
    assert(offences.isEmpty,
      "schema-less parquet reads start an inference job per read; use " +
        s"graft.sources.ParquetMeta.read:\n${offences.mkString("\n")}")
  }
}
