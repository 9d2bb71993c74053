package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-scan guard: nothing under `src/main` references Spark MLlib
 * (`org.apache.spark.ml`, which also prefixes `org.apache.spark.mllib`).
 * The IVF cells and PQ codebooks train with one seeded driver-side
 * k-means in `extensions.Similarity`; an MLlib fit is a driver loop of
 * many short jobs, which at index-training sizes is all scheduling.
 */
class NoMllibSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main")

  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val mllibRef = """\borg\.apache\.spark\.ml""".r

  /** The MLlib references in `source` (comments stripped), one per line
    * that holds one, as the trimmed line. */
  def mllibReferences(source: String): Seq[String] =
    comments.replaceAllIn(source, "").split('\n').toSeq
      .filter(l => mllibRef.findFirstIn(l).isDefined).map(_.trim)

  test("the guard flags MLlib references and passes the rest") {
    assert(mllibReferences("import org.apache.spark.ml.clustering.KMeans") ==
      Seq("import org.apache.spark.ml.clustering.KMeans"))
    assert(mllibReferences("  import org.apache.spark.ml.functions.array_to_vector\n" +
      "val x = 1").size == 1)
    assert(mllibReferences("val km = new org.apache.spark.ml.clustering.KMeans()").size == 1)
    assert(mllibReferences("import org.apache.spark.mllib.linalg.Vectors").size == 1)
    assert(mllibReferences("import org.apache.spark.sql.functions._\n" +
      "import org.apache.spark.sql.{Column, DataFrame}").isEmpty)
    assert(mllibReferences("val html = \"a.xml\"; def mlp = 1").isEmpty)
    assert(mllibReferences("/** replaces org.apache.spark.ml.clustering.KMeans */ def f = 1\n" +
      "val g = 2 // was org.apache.spark.ml").isEmpty)
  }

  test("src/main does not use Spark MLlib") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(root)
    assert(files.size > 10)
    val offences = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      mllibReferences(src).map(l => s"${root.toPath.relativize(f.toPath)}: $l")
    }
    assert(offences.isEmpty,
      "train quantizers with extensions.Similarity.kmeans, not MLlib:\n" +
        offences.mkString("\n"))
  }
}
