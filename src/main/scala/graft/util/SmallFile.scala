package graft.util

import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/**
 * The one crash-safe write for small metadata files: index stamps,
 * compacted-state layouts, batch times, fold leases and markers, stream
 * configs and the CDC state catalog. Every write first stages its full
 * bytes in a uniquely named hidden temp file next to the target, then
 * publishes that file in one step, so a reader sees the old file or the
 * new one and never a prefix; a crash before the publish leaves only a
 * temp file that no reader looks at. This is the primitive Structured
 * Streaming commits its metadata log with (write a temp file, rename it
 * into place). All three operations go through the Hadoop `FileSystem`,
 * so every scheme behaves the same.
 */
object SmallFile {

  /** The file's bytes, or None when it does not exist. On a checksummed
    * file system a file edited behind its `.crc` sidecar throws here. */
  def read(fs: FileSystem, p: Path): Option[Array[Byte]] =
    try {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Write `bytes` at `p`, replacing any file there in one step:
    * `FileContext`'s overwriting rename. A file system without that
    * rename falls back to delete-then-rename, which may leave `p` briefly
    * absent but never truncated. */
  def replace(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val target = fs.makeQualified(p)
    val tmp = tempFor(target)
    create(fs, tmp, bytes)
    try FileContext.getFileContext(target.toUri, fs.getConf)
      .rename(tmp, target, Options.Rename.OVERWRITE)
    catch {
      // IOException covers a scheme with no AbstractFileSystem bound
      // (UnsupportedFileSystemException); UnsupportedOperationException
      // an FS whose FileContext rejects the overwriting rename
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (fs.exists(target)) fs.delete(target, false)
        require(fs.rename(tmp, target), s"could not move $tmp into place at $target")
    }
  }

  /** Publish `bytes` at `p` only if no file is there; true when this
    * call's bytes won, false when a file already stood at `p`. Of any
    * number of concurrent callers exactly one wins. On the local file
    * system Hadoop's rename overwrites and `FileContext`'s checks and
    * then acts, so the temp file is hard-linked to the final name, which
    * fails when the name is taken; elsewhere the publish is a
    * non-overwriting rename. */
  def publishIfAbsent(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean = {
    val target = fs.makeQualified(p)
    val tmp = tempFor(target)
    if (fs.getScheme == "file") {
      val (t, dst) = (Paths.get(tmp.toUri), Paths.get(target.toUri))
      Files.createDirectories(dst.getParent)
      Files.write(t, bytes, StandardOpenOption.CREATE_NEW)
      try { Files.createLink(dst, t); true }
      catch { case _: FileAlreadyExistsException => false }
      finally Files.delete(t)
    } else {
      create(fs, tmp, bytes)
      val won = fs.rename(tmp, target)
      if (!won) {
        fs.delete(tmp, false)
        if (!fs.exists(target)) throw new java.io.IOException(s"could not publish $target")
      }
      won
    }
  }

  /** The bytes at `p`, publishing `bytes` first when no file is there:
    * this call's bytes or a racing caller's, whichever won. */
  def readOrPublish(fs: FileSystem, p: Path, bytes: => Array[Byte]): Array[Byte] =
    read(fs, p).getOrElse {
      val mine = bytes
      if (publishIfAbsent(fs, p, mine)) mine
      else read(fs, p).getOrElse(throw new java.io.IOException(
        s"$p was removed while it was being published"))
    }

  private def tempFor(target: Path): Path =
    new Path(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")

  private def create(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, false)
    try out.write(bytes) finally out.close()
  }
}
