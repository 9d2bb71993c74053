package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}

/**
 * What the index-maintenance lifecycle needs to know about one index
 * family, in one place: its name on the SQL surface, the markers its
 * compactions stamp on consumed sink trees, the type of its content
 * column, its version/lineage accessors, load/save, and its
 * extend/remove pair. The compactions
 * ([[graft.streaming.CdcStream.compactAccepted]] /
 * [[graft.streaming.CdcStream.compact]]), the refresh loop
 * ([[CorpusOps.refreshIndex]]), the streaming handle resolution and the
 * `CALL graft.*` procedures are written once against this typeclass, so
 * adding or changing a family touches its instance only.
 *
 * Every family versions by extension: `extend` and `remove` each return
 * a NEW version (version + 1, no `savedDir`, lineage carried), and both
 * carry their family's build-equivalence (remove ≡ and extend ≡ rebuild
 * under the family's frozen quantizer, spec-pinned per family).
 *
 * Markers are on-disk names: a tree stamped by one release must be
 * recognised by the next, so the strings never change
 * (`MarkerLayoutSpec` pins them literally). Each family owns its own
 * upsert/retract markers (and, for the net compaction, its own accept
 * marker), so one CDC sink tree can feed several families and each
 * refuses only ITS own double-fold.
 */
abstract class IndexFamily[I](
    /** The family's name on the SQL surface (`family => 'ivf'`). */
    val name: String,
    /** Markers the NET compaction stamps on the accept, upsert and
      * retract trees. The per-leg upsert and retract folds stamp the same
      * names, so a stray per-leg fold of a net-compacted tree refuses. */
    val acceptMarker: String, val upsertMarker: String,
    val retractMarker: String,
    /** Type of the content column: text, or a float vector. */
    val imageType: DataType) {

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

  def version(index: I): Long
  def savedDir(index: I): Option[String]
  def folded(index: I): Seq[String]
  def withFolded(index: I, folded: Seq[String]): I

  def load(spark: SparkSession, dir: String): I

  /** Save to `dir`; returns the index with `savedDir` recorded. */
  def save(index: I, dir: String): I

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
}

object IndexFamily {

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
    def version(i: Dedup.CorpusIndex): Long = i.version
    def savedDir(i: Dedup.CorpusIndex): Option[String] = i.savedDir
    def folded(i: Dedup.CorpusIndex): Seq[String] = i.folded
    def withFolded(i: Dedup.CorpusIndex, f: Seq[String]): Dedup.CorpusIndex =
      i.copy(folded = f)
    def load(spark: SparkSession, dir: String): Dedup.CorpusIndex =
      Dedup.loadCorpusIndex(spark, dir)
    def save(i: Dedup.CorpusIndex, dir: String): Dedup.CorpusIndex =
      Dedup.saveCorpusIndex(i, dir)
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
    def version(s: Search.Bm25Stats): Long = s.version
    def savedDir(s: Search.Bm25Stats): Option[String] = s.savedDir
    def folded(s: Search.Bm25Stats): Seq[String] = s.folded
    def withFolded(s: Search.Bm25Stats, f: Seq[String]): Search.Bm25Stats =
      s.copy(folded = f)
    def load(spark: SparkSession, dir: String): Search.Bm25Stats =
      Search.loadBm25Stats(spark, dir)
    def save(s: Search.Bm25Stats, dir: String): Search.Bm25Stats = s.save(dir)
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
    def version(i: Dedup.EmbeddingIndex): Long = i.version
    def savedDir(i: Dedup.EmbeddingIndex): Option[String] = i.savedDir
    def folded(i: Dedup.EmbeddingIndex): Seq[String] = i.folded
    def withFolded(i: Dedup.EmbeddingIndex, f: Seq[String]): Dedup.EmbeddingIndex =
      i.copy(folded = f)
    def load(spark: SparkSession, dir: String): Dedup.EmbeddingIndex =
      Dedup.loadEmbeddingIndex(spark, dir)
    def save(i: Dedup.EmbeddingIndex, dir: String): Dedup.EmbeddingIndex =
      Dedup.saveEmbeddingIndex(i, dir)
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
    def version(i: Similarity.IvfIndex): Long = i.version
    def savedDir(i: Similarity.IvfIndex): Option[String] = i.savedDir
    def folded(i: Similarity.IvfIndex): Seq[String] = i.folded
    def withFolded(i: Similarity.IvfIndex, f: Seq[String]): Similarity.IvfIndex =
      i.copy(folded = f)
    def load(spark: SparkSession, dir: String): Similarity.IvfIndex =
      Similarity.loadIvfIndex(spark, dir)
    def save(i: Similarity.IvfIndex, dir: String): Similarity.IvfIndex = i.save(dir)
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
    def version(i: Similarity.IvfPqIndex): Long = i.version
    def savedDir(i: Similarity.IvfPqIndex): Option[String] = i.savedDir
    def folded(i: Similarity.IvfPqIndex): Seq[String] = i.folded
    def withFolded(i: Similarity.IvfPqIndex, f: Seq[String]): Similarity.IvfPqIndex =
      i.copy(folded = f)
    def load(spark: SparkSession, dir: String): Similarity.IvfPqIndex =
      Similarity.loadIvfPqIndex(spark, dir)
    def save(i: Similarity.IvfPqIndex, dir: String): Similarity.IvfPqIndex =
      i.save(dir)
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
    def version(i: Similarity.LshIndex): Long = i.version
    def savedDir(i: Similarity.LshIndex): Option[String] = i.savedDir
    def folded(i: Similarity.LshIndex): Seq[String] = i.folded
    def withFolded(i: Similarity.LshIndex, f: Seq[String]): Similarity.LshIndex =
      i.copy(folded = f)
    def load(spark: SparkSession, dir: String): Similarity.LshIndex =
      Similarity.loadLshIndex(spark, dir)
    def save(i: Similarity.LshIndex, dir: String): Similarity.LshIndex = i.save(dir)
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
    def version(i: Similarity.PqIndex): Long = i.version
    def savedDir(i: Similarity.PqIndex): Option[String] = i.savedDir
    def folded(i: Similarity.PqIndex): Seq[String] = i.folded
    def withFolded(i: Similarity.PqIndex, f: Seq[String]): Similarity.PqIndex =
      i.copy(folded = f)
    def load(spark: SparkSession, dir: String): Similarity.PqIndex =
      Similarity.loadPqIndex(spark, dir)
    def save(i: Similarity.PqIndex, dir: String): Similarity.PqIndex = i.save(dir)
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
  lazy val all: Seq[IndexFamily[_]] = Seq(Text, Bm25, Embedding, Ivf, IvfPq, Lsh, Pq)

  def named(name: String): Option[IndexFamily[_]] = all.find(_.name == name)
}
