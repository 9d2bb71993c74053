package graft.extensions

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

import graft.util.SmallFile

/**
 * Version + lineage stamp for saved index trees: a tiny `_meta.json` at
 * the tree root recording which version the tree holds, the tree it was
 * extended from (`parent`), the accepted-batch sink trees compaction has
 * folded in (`folded`), and footer-exact row counts per relation.
 *
 * The lifecycle problem this closes: every index family versions by
 * extension (probe version N while N+1 accumulates, swap, `close()` N),
 * and before the stamp a saved tree was anonymous — `close()` on a
 * handle whose tree another job had already re-saved deleted the WRONG
 * version silently, and a compaction fed a stale handle folded batches
 * into an index the disk no longer held. With the stamp both become
 * refusals: [[requireCurrent]] compares the handle's version against
 * the tree's before any destructive/extending operation.
 *
 * The stamp is advisory metadata for trees written by older rounds
 * (absent file => no check fires), so old saved indexes keep loading.
 */
object IndexMeta {

  /** One saved tree's identity. `rows` is footer-exact per sub-relation
    * (O(files) metadata reads, zero Spark jobs — `ParquetMeta`). */
  final case class Meta(version: Long, parent: Option[String],
                        folded: Seq[String], rows: Map[String, Long])

  val FileName = "_meta.json"

  def write(spark: SparkSession, dir: String, meta: Meta): Unit = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("version", meta.version)
    meta.parent.foreach(root.put("parent", _))
    val fn = root.putArray("folded")
    meta.folded.foreach(fn.add)
    val rn = root.putObject("rows")
    meta.rows.toSeq.sortBy(_._1).foreach { case (k, v) => rn.put(k, v) }
    // one-step replace: a crash mid-write must not leave a truncated
    // stamp where a valid one stood, nor leave the tree UNSTAMPED (which
    // the lenient read degrades to no-version-checks, the exact hazard
    // the stamp refuses)
    val p = new HPath(new HPath(dir), FileName)
    SmallFile.replace(p.getFileSystem(spark.sessionState.newHadoopConf()), p,
      om.writerWithDefaultPrettyPrinter.writeValueAsBytes(root))
  }

  /** The three stamp states a tree can be in. Absent and Corrupt are NOT
    * interchangeable: absent means a pre-stamp tree (no version checks
    * ever existed for it — exempt by design), while corrupt means the
    * stamp was WRITTEN and then damaged — the version it recorded is
    * unknown, so the stale-close hazard the stamp exists to refuse is
    * live again and destructive operations must not proceed on it. */
  sealed trait Stamp
  object Stamp {
    case object Absent extends Stamp
    final case class Corrupt(reason: String) extends Stamp
    final case class Present(meta: Meta) extends Stamp
  }

  def readStamp(spark: SparkSession, dir: String): Stamp = {
    val p = new HPath(new HPath(dir), FileName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // the read is inside the Try: bytes edited outside Hadoop no longer
    // match the stamp's .crc sidecar, and the checksummed read throws
    scala.util.Try(SmallFile.read(fs, p).map { bytes =>
      val node = new ObjectMapper().readTree(bytes)
      Meta(
        node.get("version").asLong(),
        Option(node.get("parent")).map(_.asText()),
        Option(node.get("folded"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
        Option(node.get("rows"))
          .map(_.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)
          .getOrElse(Map.empty))
    }).fold(e => Stamp.Corrupt(String.valueOf(e.getMessage)),
      _.fold[Stamp](Stamp.Absent)(Stamp.Present(_)))
  }

  /** Lenient view for NON-destructive paths (loads): a corrupted stamp
    * degrades to advisory-absent so an otherwise valid tree stays
    * readable, with a WARN. Destructive paths go through
    * [[requireCurrent]], which refuses Corrupt outright. */
  def read(spark: SparkSession, dir: String): Option[Meta] =
    readStamp(spark, dir) match {
      case Stamp.Present(m) => Some(m)
      case Stamp.Corrupt(reason) =>
        System.err.println(
          s"WARN IndexMeta: unreadable $FileName at $dir ($reason) " +
            "— treating the tree as unstamped for this read; " +
            "close()/compaction will refuse until the stamp is repaired " +
            "or cleared (IndexMeta.clearCorruptStamp)")
        None
      case Stamp.Absent => None
    }

  /** The audited force path for a tree whose stamp is damaged: deletes
    * the corrupt stamp so the tree becomes genuinely unstamped and
    * destructive operations may proceed under the pre-stamp exemption.
    * Refuses to touch a VALID stamp (that would disable live version
    * checks) and is a no-op on an unstamped tree. Returns true iff a
    * corrupt stamp was removed. */
  def clearCorruptStamp(spark: SparkSession, dir: String): Boolean =
    readStamp(spark, dir) match {
      case Stamp.Corrupt(_) =>
        val p = new HPath(new HPath(dir), FileName)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
        true
      case Stamp.Present(_) =>
        throw new IllegalArgumentException(
          s"clearCorruptStamp refused: $FileName at $dir is VALID — " +
            "deleting it would disable the version checks it provides")
      case Stamp.Absent => false
    }

  /** Footer-exact row counts for the named sub-relations of a tree. */
  def rowCounts(spark: SparkSession, dir: String,
                relations: Seq[String]): Map[String, Long] =
    relations.map(r =>
      r -> graft.sources.ParquetMeta.rowCount(spark, s"$dir/$r")).toMap

  /** Refuse an operation on a STALE handle: if the tree at `dir` carries
    * a version stamp different from the handle's, another job has saved
    * a different version there since this handle was created — closing
    * would delete the wrong version; extending/compacting would fold
    * work into an index the disk no longer holds. Trees without a stamp
    * (pre-stamp format) are exempt; a stamp that is PRESENT but
    * unreadable refuses too — the version it recorded is unknown, so
    * proceeding would re-open exactly the hazard the stamp refuses
    * (repair it, or force via [[clearCorruptStamp]]). */
  def requireCurrent(spark: SparkSession, dir: String,
                     haveVersion: Long, op: String): Unit =
    readStamp(spark, dir) match {
      case Stamp.Present(m) =>
        require(m.version == haveVersion,
          s"$op refused: index tree $dir holds version ${m.version} but this " +
            s"handle is version $haveVersion — reload the tree (or re-point " +
            "the handle) before operating on it")
      case Stamp.Corrupt(reason) =>
        throw new IllegalArgumentException(unreadable(op, dir, reason))
      case Stamp.Absent => ()
    }

  /** The refusal of `op` on a tree whose stamp is present but unreadable. */
  private[extensions] def unreadable(op: String, dir: String, reason: String): String =
    s"$op refused: index tree $dir carries a present but UNREADABLE " +
      s"$FileName ($reason) — the tree's version is unknown, so this " +
      "may not be the version this handle believes it holds. Repair " +
      "the stamp, or force with IndexMeta.clearCorruptStamp after " +
      "verifying the tree out of band"
}
