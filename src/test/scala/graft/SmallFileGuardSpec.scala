package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-scan guard for small metadata files: stamps, markers, leases,
 * layouts, batch times, stream configs and the state catalog are written
 * only through [[graft.util.SmallFile]], whose temp-then-publish write is
 * the one crash argument they all rest on. In the packages that write
 * such files, a bare `FileSystem.create`, `Files.write`, `Files.createLink`
 * or `FileContext` is a second, hand-rolled protocol. Directory renames
 * (an index tree's stage swap, a compacted-state bucket publish) are not
 * small files and are out of scope.
 */
class SmallFileGuardSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala/graft")
  private val packages = Seq("state", "operators", "extensions", "streaming", "engine", "sinks")

  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val write = """\.create\(|Files\.write\b|Files\.createLink\b|\bFileContext\b""".r

  /** The hand-rolled small-file writes in `source` (comments stripped). */
  def smallFileWrites(source: String): Seq[String] =
    write.findAllIn(comments.replaceAllIn(source, "")).toSeq

  test("the guard flags hand-rolled small-file writes and passes the rest") {
    assert(smallFileWrites("val out = fs.create(tmp, true)").size == 1)
    assert(smallFileWrites("java.nio.file.Files.write(p, bytes)").size == 1)
    assert(smallFileWrites("Files.createLink(dst, tmp)").size == 1)
    assert(smallFileWrites("FileContext.getFileContext(uri, conf)").size == 1)
    assert(smallFileWrites("SmallFile.replace(fs, p, bytes)").isEmpty)
    assert(smallFileWrites("spark.createDataFrame(rows, schema)").isEmpty)
    assert(smallFileWrites("fs.rename(stage, p) // not fs.create(p)").isEmpty)
  }

  test("metadata-writing packages write small files only through SmallFile") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val files = packages.flatMap { p =>
      Option(new java.io.File(root, p).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".scala"))
    }
    assert(files.size >= packages.size)
    val offences = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      smallFileWrites(src).map(c => s"${f.getParentFile.getName}/${f.getName}: $c")
    }
    assert(offences.isEmpty,
      s"write small files through graft.util.SmallFile:\n${offences.mkString("\n")}")
  }
}
