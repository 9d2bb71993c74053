package graft.extensions

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, explode, lit}
import org.apache.spark.sql.types._

import graft.sources.ParquetMeta

/** The lineage every index handle carries ([[IndexMeta]]): the tree it was
  * saved to or loaded from, its version, the sink trees folded into it, and
  * the tree it was extended from. */
trait Versioned {
  def savedDir: Option[String]
  def version: Long
  def folded: Seq[String]
  def parent: Option[String]
}

/**
 * What the index-maintenance lifecycle needs to know about one index
 * family, in one place: its name on the SQL surface, the markers its
 * compactions stamp on consumed sink trees, the type of its content
 * column, what its saved tree holds, and its extend/remove pair. The
 * compactions ([[graft.streaming.CdcStream.compactAccepted]] /
 * [[graft.streaming.CdcStream.compact]]), the refresh loop
 * ([[CorpusOps.refreshIndex]]), the streaming handle resolution and the
 * `CALL graft.*` procedures are written once against this typeclass, so
 * adding or changing a family touches its instance only.
 *
 * The saved-tree lifecycle is written here once too: [[save]], [[load]],
 * [[close]] and the [[nextVersion]] bump every extend and remove returns.
 * An instance declares its tree's [[relations]], its one-row parameter
 * table ([[params]]) and how a handle is rebuilt from them ([[open]]).
 *
 * Every family versions by extension: `extend` and `remove` each return
 * a NEW version ([[nextVersion]]), and both carry their family's
 * build-equivalence (remove ≡ and extend ≡ rebuild under the family's
 * frozen quantizer, spec-pinned per family).
 *
 * Markers are on-disk names: a tree stamped by one release must be
 * recognised by the next, so the strings never change
 * (`MarkerLayoutSpec` pins them literally). Each family owns its own
 * upsert/retract markers (and, for the net compaction, its own accept
 * marker), so one CDC sink tree can feed several families and each
 * refuses only ITS own double-fold.
 */
abstract class IndexFamily[I <: Versioned](
    /** The family's name on the SQL surface (`family => 'ivf'`). */
    val name: String,
    /** Markers the NET compaction stamps on the accept, upsert and
      * retract trees. The per-leg upsert and retract folds stamp the same
      * names, so a stray per-leg fold of a net-compacted tree refuses. */
    val acceptMarker: String, val upsertMarker: String,
    val retractMarker: String,
    /** Type of the content column: text, or a float vector. */
    val imageType: DataType) {
  import IndexFamily.{Relation, Tree}

  /** The marker the per-leg ACCEPT fold stamps. The dedup ingests' accept
    * trees carry the shared [[IndexFamily.FoldedMarker]]; a family whose
    * net accept marker differs also refuses and co-stamps that one, so a
    * per-leg accept fold and a net compaction of one tree refuse each
    * other in both directions. Mixing per-leg accept folds with a tree
    * shared by several families stays outside contract: they lock each
    * other out through the shared name (use the net compaction there). */
  def legAcceptMarker: String = IndexFamily.FoldedMarker

  /** Whether removal SUBTRACTS the retired rows' contributions and so
    * needs their old image, not only the id (BM25). Such a family
    * compacts through the two-image net skeleton, requires the old-image
    * column for upsert trees, and refreshes from the old crawl. */
  def retractsByImage: Boolean = false

  /** The parquet relations of the index's saved tree. */
  protected[extensions] def relations(index: I): Seq[Relation]

  /** The one-row `meta` table of hyperparameters a load needs; none when
    * empty. */
  protected[extensions] def params(index: I): Seq[(String, Any)] = Nil

  /** The index a saved tree holds, with default lineage. */
  protected def open(tree: Tree): I

  protected def withLineage(index: I, savedDir: Option[String], version: Long,
                            folded: Seq[String], parent: Option[String]): I

  /** Release the executor storage the index pins. */
  protected def unpersist(index: I): Unit

  /** Fold `rows` (id + content) in as one version bump. */
  def extend(index: I, rows: DataFrame, idCol: String, contentCol: String): I

  /** Retire `rows` as one version bump: by id, or by id and old image in
    * `contentCol` for a family that [[retractsByImage]]. */
  def remove(index: I, rows: DataFrame, idCol: String, contentCol: String): I

  /** Version the index onto a refreshed crawl, given the two crawls and
    * their diff ([[CorpusOps.corpusDiff]] / [[CorpusOps.vectorDiff]]). */
  def refresh(index: I, oldDf: DataFrame, newDf: DataFrame, idCol: String,
              contentCol: String, diff: DataFrame): I =
    CorpusOps.refreshIndex(index, newDf, idCol, contentCol, diff)(this)

  def withFolded(index: I, folded: Seq[String]): I =
    withLineage(index, index.savedDir, index.version, folded, index.parent)

  /** The version after `index`, as every extend and remove returns it:
    * version + 1 and no `savedDir` (closing it must not delete the tree
    * it came from), with that tree recorded as its `parent` so the next
    * save stamps the lineage chain. */
  def nextVersion(index: I): I =
    withLineage(index, None, index.version + 1, index.folded,
      index.savedDir.orElse(index.parent))

  /** Save the index to `dir` and return it re-pointed at the saved files.
    *
    * A tree stamped by another lineage is refused: only the handle's own
    * re-save at the same version, or an IN-PLACE UPGRADE of the tree the
    * handle descends from (`extend(load(dir)).save(dir)`, what
    * [[graft.streaming.CdcStream.ReresolveOnCompaction]] rolls streams
    * onto) may overwrite it. The guard compares versions only: a handle
    * loaded from `dir` passes as its own re-save while the tree stamps
    * its version, even if another index of that version was saved there
    * since.
    *
    * Every relation is first written to `<name>__stage`, then all are
    * swapped in by renames and the stamp is written last. An in-place
    * upgrade's relations lazily read the very files being replaced, so
    * no file of the old tree is deleted before every stage is written. A
    * crash mid-swap leaves a mixed tree, but only for the renames. The
    * returned handle reads the saved files (the handle saved may read
    * files the swap deleted); its parameter table and codebooks come
    * from memory. */
  def save(index: I, dir: String): I = {
    val rels = relations(index)
    val spark = rels.head.frame.sparkSession
    IndexMeta.read(spark, dir).foreach { stamp =>
      val ownResave = stamp.version == index.version && index.savedDir.contains(dir)
      val upgrade = stamp.version < index.version &&
        index.parent.orElse(index.savedDir).contains(dir)
      require(ownResave || upgrade,
        s"save refused: $dir already stamps version ${stamp.version} and " +
          s"this handle (version ${index.version}) does not descend from " +
          "it — close() the old tree or save to a fresh directory")
    }
    val tables = rels ++ IndexFamily.paramTable(spark, params(index))
    tables.foreach { r =>
      val w = r.frame.write.mode("overwrite")
      (if (r.byCell) w.partitionBy("cell") else w).parquet(s"$dir/${r.name}__stage")
    }
    val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
    tables.foreach { r =>
      val (p, stage) = (new HPath(dir, r.name), new HPath(dir, s"${r.name}__stage"))
      if (fs.exists(p)) fs.delete(p, true)
      require(fs.rename(stage, p), s"could not move $stage into place at $p")
    }
    val parent = index.parent.orElse(index.savedDir).filterNot(_ == dir)
    IndexMeta.write(spark, dir, IndexMeta.Meta(index.version, parent, index.folded,
      IndexMeta.rowCounts(spark, dir, rels.filter(_.counted).map(_.name))))
    withLineage(open(new Tree(spark, dir, tables.map(r => r.name -> r.frame).toMap)),
      Some(dir), index.version, index.folded, parent)
  }

  /** Load the index saved at `dir`, lineage from its stamp (version 1 for
    * an unstamped tree). The relations' schemas come from the parquet
    * footers, so the only Spark jobs are the reads of the parameter
    * table and of the codebooks. */
  def load(spark: SparkSession, dir: String): I = {
    val stamp = IndexMeta.read(spark, dir)
    withLineage(open(new Tree(spark, dir, Map.empty)), Some(dir),
      stamp.fold(1L)(_.version), stamp.fold(Seq.empty[String])(_.folded),
      stamp.flatMap(_.parent))
  }

  /** Retire this version in one call: unpersist, and delete the saved tree
    * if any. Refuses a stale handle — one whose tree now stamps another
    * version, which another job saved there ([[IndexMeta.requireCurrent]]).
    * Don't close a tree other jobs still load from. */
  def close(index: I): Unit = {
    unpersist(index)
    index.savedDir.foreach { d =>
      val spark = relations(index).head.frame.sparkSession
      IndexMeta.requireCurrent(spark, d, index.version, "close()")
      val p = new HPath(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }
}

object IndexFamily {

  /** One parquet relation of a saved tree: its directory under the tree
    * root, whether `_meta.json` records its row count, and whether it is
    * partitioned by `cell` (so a probe prunes cells at the file level). */
  final case class Relation(name: String, frame: DataFrame,
                            counted: Boolean = true, byCell: Boolean = false)

  /** A saved tree as [[IndexFamily.open]] reads it: each relation through
    * the parquet footer cache (no schema-inference job), the small tables
    * from `written` when a save just wrote them, else collected. */
  final class Tree private[IndexFamily] (spark: SparkSession, dir: String,
                                         written: Map[String, DataFrame]) {
    def apply(rel: String): DataFrame = ParquetMeta.read(spark, s"$dir/$rel")

    /** A relation that trees written by older releases may lack. */
    def find(rel: String): Option[DataFrame] = {
      val p = new HPath(dir, rel)
      if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) Some(apply(rel))
      else None
    }

    /** The rows of a small table (the parameter table, codebooks). */
    def rows(rel: String): Array[Row] = written.getOrElse(rel, apply(rel)).collect()

    private lazy val meta = rows("meta").head

    def param[T](name: String): T = meta.getAs[T](name)

    /** A parameter, or `default` for a tree written before it existed. */
    def param[T](name: String, default: T): T =
      if (meta.schema.fieldNames.contains(name)) meta.getAs[T](name) else default
  }

  /** The `meta` table of `ps`: one row, one non-null column per parameter. */
  private def paramTable(spark: SparkSession, ps: Seq[(String, Any)]): Seq[Relation] =
    if (ps.isEmpty) Nil
    else Seq(Relation("meta", spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(ps.map(_._2))),
      StructType(ps.map { case (n, v) =>
        StructField(n, v match {
          case _: Int => IntegerType
          case _: Long => LongType
          case _: Boolean => BooleanType
        }, nullable = false)
      })), counted = false))

  /** The accept marker the dedup ingests' sink trees share (see
    * [[IndexFamily.legAcceptMarker]]). */
  val FoldedMarker = "_FOLDED"

  private val FloatVec = ArrayType(FloatType)

  /** The text-gram dedup index ([[Dedup.CorpusIndex]]). Removal needs
    * only ids: the index's stored shingles reconstruct the retired grams,
    * and the backward df-cut re-admits grams the removal brings back
    * under the cut, so remove ≡ rebuild on the survivors. */
  implicit object Text extends IndexFamily[Dedup.CorpusIndex](
      "text", FoldedMarker, "_FOLDED_UPSERT",
      "_FOLDED_RETRACT", StringType) {
    protected[extensions] def relations(i: Dedup.CorpusIndex): Seq[Relation] = Seq(
      Relation("postings", i.postings), Relation("shingles", i.shingles),
      Relation("df", i.dfCounts), Relation("stats", i.docStats))
    override protected[extensions] def params(i: Dedup.CorpusIndex): Seq[(String, Any)] =
      Seq("shingle_k" -> i.shingleK, "max_gram_df" -> i.maxGramDf)
    /** Older trees: no `max_gram_df` means the historical cut of 100; a
      * missing gram dictionary or doc-stats table is rebuilt from the
      * stored shingles (one regroup, paid at load). */
    protected def open(t: Tree): Dedup.CorpusIndex = {
      val (postings, shingles) = (t("postings"), t("shingles"))
      Dedup.CorpusIndex(postings, shingles,
        t.find("df").getOrElse(shingles.select(explode(col("sh")).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("df"))),
        t.find("stats").getOrElse(Dedup.docStatsFrom(shingles, postings)),
        t.param[Int]("shingle_k"), t.param("max_gram_df", 100))
    }
    protected def withLineage(i: Dedup.CorpusIndex, savedDir: Option[String],
                              version: Long, folded: Seq[String],
                              parent: Option[String]): Dedup.CorpusIndex =
      i.copy(savedDir = savedDir, version = version, folded = folded, parent = parent)
    protected def unpersist(i: Dedup.CorpusIndex): Unit = i.unpersist()
    def extend(i: Dedup.CorpusIndex, rows: DataFrame, idCol: String,
               contentCol: String): Dedup.CorpusIndex =
      Dedup.extendCorpusIndex(i, rows, idCol, contentCol)
    def remove(i: Dedup.CorpusIndex, rows: DataFrame, idCol: String,
               contentCol: String): Dedup.CorpusIndex =
      Dedup.removeFromCorpusIndex(i, rows, idCol)
  }

  /** The BM25 search statistics ([[Search.Bm25Stats]]) — the family whose
    * removal is integer subtraction, not an anti-join, so image ORDER is
    * load-bearing: retraction must subtract what the stats actually hold
    * (the EARLIEST old image in a window), extension must add what the
    * source last said (the LATEST new image), and an id amended twice
    * never lets its intermediate image touch the stats (upsert ≡ refit).
    * Every retired id must be IN the stats: retracting an unknown id's
    * image corrupts df counts silently. The markers are correctness here,
    * not audit: a double-fold would subtract twice. Its accept trees are
    * the doc ingests' (also folded by the text family), so its per-leg
    * accept marker is its own. */
  implicit object Bm25 extends IndexFamily[Search.Bm25Stats](
      "bm25", "_FOLDED_BM25", "_FOLDED_UPSERT_BM25",
      "_FOLDED_RETRACT_BM25", StringType) {
    override val legAcceptMarker: String = acceptMarker
    override val retractsByImage = true
    protected[extensions] def relations(s: Search.Bm25Stats): Seq[Relation] =
      Seq(Relation("df", s.docFreq))
    override protected[extensions] def params(s: Search.Bm25Stats): Seq[(String, Any)] =
      Seq("n_docs" -> s.nDocs, "sum_dl" -> s.sumDl)
    protected def open(t: Tree): Search.Bm25Stats =
      Search.Bm25Stats(t("df"), t.param[Long]("n_docs"), t.param[Long]("sum_dl"))
    protected def withLineage(s: Search.Bm25Stats, savedDir: Option[String],
                              version: Long, folded: Seq[String],
                              parent: Option[String]): Search.Bm25Stats =
      s.copy(savedDir = savedDir, version = version, folded = folded, parent = parent)
    protected def unpersist(s: Search.Bm25Stats): Unit = s.unpersist()
    def extend(s: Search.Bm25Stats, rows: DataFrame, idCol: String,
               contentCol: String): Search.Bm25Stats =
      Search.extendBm25Stats(s, rows, idCol, contentCol)
    def remove(s: Search.Bm25Stats, rows: DataFrame, idCol: String,
               contentCol: String): Search.Bm25Stats =
      Search.retractBm25Stats(s, rows, idCol, contentCol)
    override def refresh(s: Search.Bm25Stats, oldDf: DataFrame,
                         newDf: DataFrame, idCol: String, contentCol: String,
                         diff: DataFrame): Search.Bm25Stats =
      CorpusOps.refreshBm25Stats(s, oldDf, newDf, idCol, contentCol, diff)
  }

  /** The sign-LSH dedup bucket index ([[Dedup.EmbeddingIndex]]) — the
    * novelty gate of the vector maintenance ingest, so its net accept
    * marker is the shared one. The hyperplanes are deterministic:
    * buckets and vectors mutate in lockstep and remove/extend ≡ rebuild
    * on the resulting vector set. */
  implicit object Embedding extends IndexFamily[Dedup.EmbeddingIndex](
      "embedding", FoldedMarker, "_FOLDED_UPSERT_EMB",
      "_FOLDED_RETRACT_EMB", FloatVec) {
    protected[extensions] def relations(i: Dedup.EmbeddingIndex): Seq[Relation] =
      Seq(Relation("buckets", i.buckets), Relation("vectors", i.vectors))
    override protected[extensions] def params(i: Dedup.EmbeddingIndex): Seq[(String, Any)] =
      Seq("planes" -> i.planes, "bands" -> i.bands)
    protected def open(t: Tree): Dedup.EmbeddingIndex =
      Dedup.EmbeddingIndex(t("buckets"), t("vectors"),
        t.param[Int]("planes"), t.param[Int]("bands"))
    protected def withLineage(i: Dedup.EmbeddingIndex, savedDir: Option[String],
                              version: Long, folded: Seq[String],
                              parent: Option[String]): Dedup.EmbeddingIndex =
      i.copy(savedDir = savedDir, version = version, folded = folded, parent = parent)
    protected def unpersist(i: Dedup.EmbeddingIndex): Unit = i.unpersist()
    def extend(i: Dedup.EmbeddingIndex, rows: DataFrame, idCol: String,
               contentCol: String): Dedup.EmbeddingIndex =
      Dedup.extendEmbeddingIndex(i, rows, idCol, contentCol)
    def remove(i: Dedup.EmbeddingIndex, rows: DataFrame, idCol: String,
               contentCol: String): Dedup.EmbeddingIndex =
      Dedup.removeFromEmbeddingIndex(i, rows, idCol)
  }

  /** The cell-partitioned ANN index ([[Similarity.IvfIndex]]), shared by
    * ANN probes and the semantic dedup ingest. New and amended vectors
    * assign to the FROZEN centroids, so every saved cell partition stays
    * valid and the maintained index ≡ assignToCells of the final vector
    * set; re-fit only when churn degrades cell occupancy. */
  implicit object Ivf extends IndexFamily[Similarity.IvfIndex](
      "ivf", "_FOLDED_IVF", "_FOLDED_UPSERT_IVF",
      "_FOLDED_RETRACT_IVF", FloatVec) {
    protected[extensions] def relations(i: Similarity.IvfIndex): Seq[Relation] = Seq(
      Relation("centers", i.centers), Relation("assigned", i.assigned, byCell = true))
    protected def open(t: Tree): Similarity.IvfIndex =
      Similarity.IvfIndex(t("centers"), t("assigned"))
    protected def withLineage(i: Similarity.IvfIndex, savedDir: Option[String],
                              version: Long, folded: Seq[String],
                              parent: Option[String]): Similarity.IvfIndex =
      i.copy(savedDir = savedDir, version = version, folded = folded, parent = parent)
    protected def unpersist(i: Similarity.IvfIndex): Unit = i.unpersist()
    def extend(i: Similarity.IvfIndex, rows: DataFrame, idCol: String,
               contentCol: String): Similarity.IvfIndex =
      Similarity.extendIvfIndex(i, rows, idCol, contentCol)
    def remove(i: Similarity.IvfIndex, rows: DataFrame, idCol: String,
               contentCol: String): Similarity.IvfIndex =
      Similarity.removeFromIvfIndex(i, rows, idCol)
  }

  /** The IVFADC index ([[Similarity.IvfPqIndex]]): FROZEN cells and
    * FROZEN codebooks, so every saved cell partition, ADC table and
    * previously-issued probe plan stays valid. Both halves mutate the
    * codes AND the rerank-only vectors relation together, preserving the
    * split-tree invariant. */
  implicit object IvfPq extends IndexFamily[Similarity.IvfPqIndex](
      "ivfpq", "_FOLDED_IVFPQ", "_FOLDED_UPSERT_IVFPQ",
      "_FOLDED_RETRACT_IVFPQ", FloatVec) {
    protected[extensions] def relations(i: Similarity.IvfPqIndex): Seq[Relation] = Seq(
      Relation("centers", i.centers, counted = false),
      Relation("codes", i.codes, byCell = true),
      Relation("vectors", i.vectors, byCell = true),
      Relation("codebooks", Similarity.codebookTable(i.codes.sparkSession, i.codebooks),
        counted = false))
    override protected[extensions] def params(i: Similarity.IvfPqIndex): Seq[(String, Any)] =
      Seq("m" -> i.m, "ksub" -> i.ksub, "dim" -> i.dim, "residual" -> i.residual)
    /** Older trees: no `residual` flag means direct encoding, and trees
      * from before the codes/vectors split keep `c_vec` in `codes`. */
    protected def open(t: Tree): Similarity.IvfPqIndex = {
      val (codes, m) = (t("codes"), t.param[Int]("m"))
      Similarity.IvfPqIndex(t("centers"),
        Similarity.codebooksFrom(t.rows("codebooks"), m), codes.drop("c_vec"),
        t.find("vectors").getOrElse(codes.select("neighbor_id", "cell", "c_vec")),
        m, t.param[Int]("ksub"), t.param[Int]("dim"), t.param("residual", false))
    }
    protected def withLineage(i: Similarity.IvfPqIndex, savedDir: Option[String],
                              version: Long, folded: Seq[String],
                              parent: Option[String]): Similarity.IvfPqIndex =
      i.copy(savedDir = savedDir, version = version, folded = folded, parent = parent)
    protected def unpersist(i: Similarity.IvfPqIndex): Unit = i.unpersist()
    def extend(i: Similarity.IvfPqIndex, rows: DataFrame, idCol: String,
               contentCol: String): Similarity.IvfPqIndex =
      Similarity.extendIvfPqIndex(i, rows, idCol, contentCol)
    def remove(i: Similarity.IvfPqIndex, rows: DataFrame, idCol: String,
               contentCol: String): Similarity.IvfPqIndex =
      Similarity.removeFromIvfPqIndex(i, rows, idCol)
  }

  /** The sign-LSH top-k retrieval index ([[Similarity.LshIndex]]): one
    * banded relation under DETERMINISTIC hyperplanes, so remove/extend
    * ≡ a from-scratch fit of the resulting vector set. */
  implicit object Lsh extends IndexFamily[Similarity.LshIndex](
      "lsh", "_FOLDED_LSH", "_FOLDED_UPSERT_LSH",
      "_FOLDED_RETRACT_LSH", FloatVec) {
    protected[extensions] def relations(i: Similarity.LshIndex): Seq[Relation] =
      Seq(Relation("banded", i.banded))
    override protected[extensions] def params(i: Similarity.LshIndex): Seq[(String, Any)] =
      Seq("planes" -> i.planes, "bands" -> i.bands)
    protected def open(t: Tree): Similarity.LshIndex =
      Similarity.LshIndex(t("banded"), t.param[Int]("planes"), t.param[Int]("bands"))
    protected def withLineage(i: Similarity.LshIndex, savedDir: Option[String],
                              version: Long, folded: Seq[String],
                              parent: Option[String]): Similarity.LshIndex =
      i.copy(savedDir = savedDir, version = version, folded = folded, parent = parent)
    protected def unpersist(i: Similarity.LshIndex): Unit = i.unpersist()
    def extend(i: Similarity.LshIndex, rows: DataFrame, idCol: String,
               contentCol: String): Similarity.LshIndex =
      Similarity.extendLshIndex(i, rows, idCol, contentCol)
    def remove(i: Similarity.LshIndex, rows: DataFrame, idCol: String,
               contentCol: String): Similarity.LshIndex =
      Similarity.removeFromLshIndex(i, rows, idCol)
  }

  /** The product-quantized index ([[Similarity.PqIndex]]): vectors encode
    * under the FROZEN codebooks, so survivors' codes are the fitted rows
    * verbatim and new codes equal a re-encode under the same codebooks. */
  implicit object Pq extends IndexFamily[Similarity.PqIndex](
      "pq", "_FOLDED_PQ", "_FOLDED_UPSERT_PQ",
      "_FOLDED_RETRACT_PQ", FloatVec) {
    protected[extensions] def relations(i: Similarity.PqIndex): Seq[Relation] = Seq(
      Relation("codes", i.codes),
      Relation("codebooks", Similarity.codebookTable(i.codes.sparkSession, i.codebooks),
        counted = false))
    override protected[extensions] def params(i: Similarity.PqIndex): Seq[(String, Any)] =
      Seq("m" -> i.m, "ksub" -> i.ksub, "dim" -> i.dim)
    protected def open(t: Tree): Similarity.PqIndex = {
      val m = t.param[Int]("m")
      Similarity.PqIndex(Similarity.codebooksFrom(t.rows("codebooks"), m), t("codes"),
        m, t.param[Int]("ksub"), t.param[Int]("dim"))
    }
    protected def withLineage(i: Similarity.PqIndex, savedDir: Option[String],
                              version: Long, folded: Seq[String],
                              parent: Option[String]): Similarity.PqIndex =
      i.copy(savedDir = savedDir, version = version, folded = folded, parent = parent)
    protected def unpersist(i: Similarity.PqIndex): Unit = i.unpersist()
    def extend(i: Similarity.PqIndex, rows: DataFrame, idCol: String,
               contentCol: String): Similarity.PqIndex =
      Similarity.extendPqIndex(i, rows, idCol, contentCol)
    def remove(i: Similarity.PqIndex, rows: DataFrame, idCol: String,
               contentCol: String): Similarity.PqIndex =
      Similarity.removeFromPqIndex(i, rows, idCol)
  }

  /** The registry, in the order the SQL surface lists the families.
    * Lazy: each instance's constructor reads this object's constants, so
    * a strict registry would capture an instance still being built. */
  lazy val all: Seq[IndexFamily[_ <: Versioned]] =
    Seq(Text, Bm25, Embedding, Ivf, IvfPq, Lsh, Pq)

  def named(name: String): Option[IndexFamily[_ <: Versioned]] = all.find(_.name == name)
}
