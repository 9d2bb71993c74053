package graft.extensions

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, explode, lit, sum}
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
 * column, what its saved tree holds, and its fit, extend and remove. The
 * compactions ([[graft.streaming.CdcStream.compactAccepted]] /
 * [[graft.streaming.CdcStream.compact]]), the refresh loop
 * ([[IndexFamily.refresh]]), the streaming handle resolution and the
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
 * frozen quantizer, spec-pinned per family). The five vector families
 * share one extend and one remove ([[IndexFamily.Quantized]]); the text
 * and BM25 families keep their own df-cut and subtraction algorithms.
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
  import IndexFamily.{Hyper, Relation, Tree}

  /** The marker the per-leg ACCEPT fold stamps. The dedup ingests' accept
    * trees carry the shared [[IndexFamily.FoldedMarker]]; a family whose
    * net accept marker differs also refuses and co-stamps that one, so a
    * per-leg accept fold and a net compaction of one tree refuse each
    * other in both directions. Mixing per-leg accept folds with a tree
    * shared by several families stays outside contract: they lock each
    * other out through the shared name (use the net compaction there). */
  def legAcceptMarker: String = IndexFamily.FoldedMarker

  /** Whether removal SUBTRACTS the retired rows' contributions and so
    * needs their old image, not only the id (BM25). Such a family's
    * compaction carries and guards the old image, requires the old-image
    * column for upsert trees, and refreshes from the old crawl. */
  def retractsByImage: Boolean = false

  /** The fit hyperparameters in the order `CALL graft.fit_index` lists
    * them, each with the default of the family's Scala fit. The default's
    * type (Int or Boolean) is the type a value parses as. */
  def hyperparameters: Seq[(String, Any)] = Nil

  /** Fit an index on `df`: the family's Scala fit, with `hyper` overriding
    * [[hyperparameters]] by name. A name the family does not take, or a
    * value of another type than its default, is refused. */
  final def fit(df: DataFrame, idCol: String, contentCol: String,
                hyper: Map[String, Any] = Map.empty): I = {
    val defaults = hyperparameters.toMap
    hyper.foreach { case (n, v) =>
      require(defaults.get(n).exists(_.getClass == v.getClass),
        s"the $name family takes no hyperparameter $n = $v; it takes " +
          hyperparameters.map { case (k, d) => s"$k (default $d)" }.mkString(", "))
    }
    fitWith(df, idCol, contentCol, new Hyper(defaults ++ hyper))
  }

  protected def fitWith(df: DataFrame, idCol: String, contentCol: String, h: Hyper): I

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

  /** Version a SERVING index off the same diff that drives the artifact
    * refresh ([[CorpusOps.refreshArtifacts]]): `removed` and `changed`
    * rows retire via [[remove]], then `added` and `changed` rows of
    * `newDf` fold in via [[extend]] under the FROZEN quantizer — a
    * changed row is remove-then-add, the only mutation an append-only
    * index family can express. The retired rows are the ids alone, or,
    * for a family that [[retractsByImage]], those ids' rows of `oldDf`
    * (the old crawl a refresh has on hand by construction: it just
    * diffed against it). EXACT: both halves carry their family's
    * build-equivalence, so `refresh(build(old), old, new, diff) ≡
    * build(new)` (spec-pinned per family in RefreshPipelineSpec /
    * VectorRefreshSpec; oracle-pinned by `dedup_refresh_index`,
    * `dedup_refresh_embed`, `sim_ivf_refresh` and `search_bm25_refresh`).
    * O(changed + removed) heavy work: the extend input is diff-selected
    * BEFORE any tokenizing, shingling, banding, assignment or encoding
    * kernel runs, so unchanged rows are never re-processed (sentinel
    * spec-pinned). `diff` is [[CorpusOps.corpusDiff]] for the text
    * families and [[CorpusOps.vectorDiff]] for the vector families. It
    * is NOT checkpointed (r19 A/B): its full-outer join sits on an
    * Exchange, so its downstream references already share one execution
    * by exchange reuse, and an eager checkpoint measured no better. */
  final def refresh(index: I, oldDf: DataFrame, newDf: DataFrame, idCol: String,
                    contentCol: String, diff: DataFrame): I = {
    def ids(statuses: String*) =
      diff.filter(col("status").isin(statuses: _*)).select(col(idCol))
    val retired = ids("removed", "changed")
    extend(
      remove(index,
        if (retractsByImage) oldDf.join(retired, Seq(idCol), "left_semi") else retired,
        idCol, contentCol),
      newDf.join(ids("added", "changed"), Seq(idCol), "left_semi"), idCol, contentCol)
  }

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
    * since. A present but unreadable stamp refuses every save, as it
    * refuses close and compaction, until [[IndexMeta.clearCorruptStamp]]
    * leaves the tree unstamped.
    *
    * Every relation is first written to `<name>__stage`, then all are
    * swapped in by renames and the stamp is written last. An in-place
    * upgrade's relations lazily read the very files being replaced, so
    * no file of the old tree is deleted before every stage is written. A
    * crash mid-swap leaves a mixed tree, but only for the renames. The
    * returned handle reads the saved files (the handle saved may read
    * files the swap deleted); its parameter table and codebooks come
    * from memory.
    *
    * The layout serves the probe, which opens every file of the cells it
    * reads, each open a footer read and a reader. Each
    * [[IndexFamily.Relation.byCell]] relation is rebalanced on `cell`
    * before its partitioned write, so a cell is one file however many
    * tasks the frame's plan has (a fold's union has one per input file);
    * AQE splits a skewed cell into advisory-size files. A family writes
    * each quantizer table as one file by coalescing it where it lists its
    * relations. A relation with no rows at all is saved as one zero-row
    * file, so an emptied index re-opens. */
  def save(index: I, dir: String): I = {
    val rels = relations(index)
    val spark = rels.head.frame.sparkSession
    IndexMeta.readStamp(spark, dir) match {
      case IndexMeta.Stamp.Present(stamp) =>
        val ownResave = stamp.version == index.version && index.savedDir.contains(dir)
        val upgrade = stamp.version < index.version &&
          index.parent.orElse(index.savedDir).contains(dir)
        require(ownResave || upgrade,
          s"save refused: $dir already stamps version ${stamp.version} and " +
            s"this handle (version ${index.version}) does not descend from " +
            "it — close() the old tree or save to a fresh directory")
      case IndexMeta.Stamp.Corrupt(reason) =>
        throw new IllegalArgumentException(IndexMeta.unreadable("save", dir, reason))
      case IndexMeta.Stamp.Absent => ()
    }
    val tables = rels ++ IndexFamily.paramTable(spark, params(index))
    val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
    tables.foreach { r =>
      val stage = s"$dir/${r.name}__stage"
      if (r.byCell) {
        r.frame.hint("rebalance", col("cell")).write.mode("overwrite")
          .partitionBy("cell").parquet(stage)
        // an empty relation writes no cell=* directory and so no footer to
        // read its schema back from: keep the schema in one zero-row file
        // (a listing, not a job, tells the two apart)
        if (fs.globStatus(new HPath(stage, "cell=*")).isEmpty)
          spark.createDataFrame(java.util.Collections.emptyList[Row](), r.frame.schema)
            .write.mode("append").parquet(stage)
      } else r.frame.write.mode("overwrite").parquet(stage)
    }
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
    * partitioned by `cell`, so a probe prunes cells at the file level and
    * reads each cell from one file ([[IndexFamily.save]]). */
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

  /** A fit's hyperparameter values by name, defaults filled in. */
  final class Hyper private[IndexFamily] (values: Map[String, Any]) {
    def int(name: String): Int = values(name).asInstanceOf[Int]
    def bool(name: String): Boolean = values(name).asInstanceOf[Boolean]
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

  /**
   * A vector family: a FROZEN quantizer `Q` (hyperplanes, cells,
   * codebooks) plus relations of encoded rows, each keyed by one id
   * column. Its one [[encode]] turns rows into every relation's new rows
   * under a quantizer. The family's Scala fit trains the quantizer, then
   * builds its relations with that same encode; [[extend]] unions each
   * relation with the encoded new rows under the index's own quantizer.
   * So `extend(fit(A), B) ≡ fit(A ∪ B)` under the frozen quantizer
   * because both run the same code. [[remove]] anti-joins every relation
   * on the id: survivors keep their fitted rows verbatim, so
   * `remove(fit(A ∪ R), R) ≡ fit(A)` under the same quantizer (both
   * spec-pinned per family).
   *
   * Neither moves the quantizer: moving it would re-encode the whole
   * corpus and invalidate every saved cell partition and issued probe
   * plan, so re-fit when churn degrades cell occupancy or recall. Both
   * cost O(changed rows); the corpus-sized relations stream through
   * untouched. Ids are append-only, as for a fit: re-adding an indexed
   * id duplicates its rows. Metadata columns the index carries (`metaCols`
   * at fit, for filtered probes) must be supplied by the extension rows.
   */
  abstract class Quantized[I <: Versioned, Q](
      name: String, acceptMarker: String, upsertMarker: String, retractMarker: String,
      /** The id column every encoded relation carries. */
      idKey: String,
      /** The first encoded relation's own columns: any other column of it
        * is a metadata column. */
      ownCols: Set[String])
      extends IndexFamily[I](name, acceptMarker, upsertMarker, retractMarker,
        ArrayType(FloatType)) {

    /** The index's frozen quantizer: all that [[encode]] reads of it. */
    protected def quantizer(index: I): Q

    /** The index's relations of encoded rows, in [[encode]]'s order. */
    protected def encoded(index: I): Seq[DataFrame]

    protected def withEncoded(index: I, rels: Seq[DataFrame]): I

    /** Each encoded relation's rows for `df` (ids in `idCol`, vectors in
      * `vecCol`) under `q`, carrying `metaCols`. */
    private[extensions] def encode(q: Q, df: DataFrame, idCol: String, vecCol: String,
                                   metaCols: Seq[String]): Seq[DataFrame]

    def extend(index: I, rows: DataFrame, idCol: String, vecCol: String): I = {
      val rels = encoded(index)
      val metaCols = rels.head.columns.toSeq.filterNot(ownCols)
      nextVersion(withEncoded(index, rels.zip(
        encode(quantizer(index), rows, idCol, vecCol, metaCols))
        .map { case (rel, add) => rel.unionByName(add) }))
    }

    def remove(index: I, rows: DataFrame, idCol: String, vecCol: String): I = {
      val rm = rows.select(col(idCol).as(idKey)).distinct()
      nextVersion(withEncoded(index,
        encoded(index).map(_.join(rm, Seq(idKey), "left_anti"))))
    }
  }

  /** The text-gram dedup index ([[Dedup.CorpusIndex]]). */
  implicit object Text extends IndexFamily[Dedup.CorpusIndex](
      "text", FoldedMarker, "_FOLDED_UPSERT",
      "_FOLDED_RETRACT", StringType) {
    override val hyperparameters: Seq[(String, Any)] =
      Seq("shingle_k" -> 3, "max_gram_df" -> 100)
    protected def fitWith(df: DataFrame, idCol: String, textCol: String,
                          h: Hyper): Dedup.CorpusIndex =
      Dedup.buildCorpusIndex(df, idCol, textCol, h.int("shingle_k"), h.int("max_gram_df"))
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

    /** Grow the index with `newDocs` WITHOUT re-tokenizing the existing
      * corpus — the versioning step the streaming ingest's "accepted
      * batches do not auto-join the index" contract defers to the
      * pipeline. Cost is O(new docs + crossing grams), NOT O(corpus):
      * the new docs are shingled and grouped once; the stored gram
      * dictionary ([[Dedup.CorpusIndex.dfCounts]], one skinny row per
      * distinct gram) is merged with the new-doc gram counts; and the OLD
      * postings — the only corpus-sized relation — are touched by exactly
      * one anti-join against the grams whose df CROSSES the cut with this
      * extension (a near-empty set in practice, broadcast at any scale),
      * so they stream through unregrouped. The df-cut semantics are
      * unchanged: a gram that crosses the cut only once the new docs
      * arrive is dropped exactly as a from-scratch build would drop it,
      * so extend(build(A), B) ≡ build(A ∪ B) (spec-pinned at the
      * postings AND dictionary level). `newDocs` ids must be new
      * (append-only versioning, the same contract a from-scratch build
      * has on duplicate ids): re-adding an indexed id double-counts its
      * grams' df on both paths alike. */
    def extend(index: Dedup.CorpusIndex, newDocs: DataFrame, idCol: String,
               textCol: String): Dedup.CorpusIndex = {
      val cut = index.maxGramDf
      // ONE shingling of the new docs, materialized eagerly: the extended
      // index references this relation from SIX places (inverted postings
      // -> df merge/keep/postings, the shingle union, and docStatsFrom),
      // and Spark has no plan-level CSE outside exchange reuse — a lazy
      // newSh re-ran the tokenize+shingle kernel once per consumer in
      // every downstream probe plan. The checkpoint is O(new docs) of
      // skinny (id, gram-hash array) rows — the same eager-skinny pattern
      // as the streaming folds' event union. Measured (sf0.1, like
      // ambient windows; PLANS.md "Measurements the code comments
      // cite"): dedup_incr_index_extend
      // 4.0 -> 1.8 s min-warm. Contrast the diff split in `refresh`,
      // where the same pattern on an EXCHANGE-bearing relation buys
      // nothing (exchange reuse already shares the execution).
      val newSh = Dedup.hashedShingleSets(newDocs, idCol, textCol, index.shingleK)
        .localCheckpoint(true)
      val newInv = newSh.select(col("doc_id"), explode(col("sh")).as("gram"))
      val newDf = newInv.groupBy(col("gram")).agg(count(lit(1)).as("__new"))
      // updated dictionary: df only ever grows under the append-only
      // contract, so a full-outer merge of two skinny relations is exact
      val mergedDf = index.dfCounts.join(newDf, Seq("gram"), "full_outer")
        .select(col("gram"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("__new"), lit(0L))).as("df"))
      // grams the extension pushes OVER the cut: previously kept, and only
      // grams the new docs actually touch can move — join against newDf,
      // never the dictionary alone
      val crossing = index.dfCounts.filter(col("df") <= cut)
        .join(newDf, Seq("gram"))
        .filter(col("df") + col("__new") > cut)
        .select(col("gram"))
      // new postings survive iff their gram's MERGED df clears the cut
      val newKeep = newDf.join(index.dfCounts, Seq("gram"), "left")
        .filter(coalesce(col("df"), lit(0L)) + col("__new") <= cut)
        .select(col("gram"))
      val newPostings = newInv.join(newKeep, Seq("gram"), "left_semi")
      // doc stats stay in lockstep at O(crossing + new): old docs lose
      // exactly their postings on crossing grams (the same skinny set the
      // postings anti-join removes), new docs get a from-scratch count
      val dec = index.postings.join(crossing, Seq("gram"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("__dec"))
      val adjustedStats = index.docStats.join(dec, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          (col("n_indexed") - coalesce(col("__dec"), lit(0L))).as("n_indexed"))
      nextVersion(index.copy(
        postings = index.postings.join(crossing, Seq("gram"), "left_anti")
          .union(newPostings),
        shingles = index.shingles.union(newSh), dfCounts = mergedDf,
        docStats = adjustedStats.union(Dedup.docStatsFrom(newSh, newPostings))))
    }

    /** Shrink the index by a set of retired document ids — the REMOVAL
      * half of the versioning lifecycle: a crawl refresh classifies
      * documents `removed`/`changed` ([[CorpusOps.corpusDiff]]), and
      * without it their grams would stay in the serving index forever —
      * a probe could drop a fresh batch doc as a "duplicate" of a
      * document the corpus no longer contains. Needs only IDS, not the
      * retired documents' text: the index's own stored shingle relation
      * reconstructs their grams.
      *
      * EXACT, not a tombstone approximation: `remove(build(A), R) ≡
      * build(A \ R)` at the postings, dictionary AND doc-stats level
      * (spec-pinned). The subtle half is the df cut running BACKWARD: a
      * gram the removal pulls back under the cut (df was > maxGramDf,
      * now ≤) was never indexed, but a from-scratch build on the
      * survivors WOULD index it — so its surviving postings are
      * re-admitted from the stored shingle sets. The mirror image of
      * [[extend]]'s crossing-over logic.
      *
      * Cost shape at 100 TB: the removed set reconstructs its grams via
      * one semi-join against the shingle relation (O(removed)); the
      * dictionary updates by one skinny merge; the corpus-sized postings
      * are touched by exactly one streaming anti-join on doc_id; and the
      * re-admission leg is one narrow map-side pass over the stored
      * shingle arrays against the BROADCAST crossing-back gram set —
      * bounded by the removed docs' own distinct grams, near-empty in
      * practice. A removal so large its gram set cannot broadcast is past
      * the point where a rebuild is cheaper anyway. `changed` documents
      * are remove-then-extend — the composition
      * [[IndexFamily.refresh]] packages. */
    def remove(index: Dedup.CorpusIndex, removedIds: DataFrame, idCol: String,
               textCol: String): Dedup.CorpusIndex = {
      val cut = index.maxGramDf
      val rm = removedIds.select(col(idCol).as("doc_id")).distinct()
      // the retired docs' grams, from the index's OWN stored shingles
      val rmInv = index.shingles.join(rm, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(col("sh")).as("gram"))
      val decDf = rmInv.groupBy(col("gram")).agg(count(lit(1)).as("__dec"))
      // updated dictionary: df only shrinks; a gram whose last holder left
      // drops out entirely (a from-scratch build would never see it)
      val mergedDf = index.dfCounts.join(decDf, Seq("gram"), "left")
        .select(col("gram"),
          (col("df") - coalesce(col("__dec"), lit(0L))).as("df"))
        .filter(col("df") > 0L)
      // grams pulled BACK UNDER the cut: only grams the removed docs
      // actually touched can move — join against decDf, never the
      // dictionary alone
      val crossingBack = index.dfCounts.filter(col("df") > cut)
        .join(decDf, Seq("gram"))
        .filter(col("df") - col("__dec") <= cut)
        .select(col("gram"))
      val survivorSh = index.shingles.join(rm, Seq("doc_id"), "left_anti")
      // materialized eagerly (r19): the re-admission leg is a pure narrow
      // pipeline (survivor-shingle explode against the broadcast
      // crossing-back set — no exchange, so nothing shares it), and it is
      // referenced from BOTH the postings union and the doc-stats
      // adjustment — lazily it ran the corpus-wide explode twice per
      // probe plan. The checkpointed result is bounded by the removed
      // docs' own distinct grams (near-empty in practice), the extend
      // newSh pattern run backward.
      val readmitted = survivorSh
        .select(col("doc_id"), explode(col("sh")).as("gram"))
        .join(broadcast(crossingBack), Seq("gram"), "left_semi")
        .select(col("doc_id"), col("gram"))
        .localCheckpoint(true)
      val newPostings = index.postings.join(rm, Seq("doc_id"), "left_anti")
        .union(readmitted)
      // doc stats in lockstep: survivors GAIN exactly their re-admitted
      // postings; removed rows drop; n_grams (a pure per-doc function of
      // text) is untouched
      val inc = readmitted.groupBy(col("doc_id")).agg(count(lit(1)).as("__inc"))
      val adjustedStats = index.docStats.join(rm, Seq("doc_id"), "left_anti")
        .join(inc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          (col("n_indexed") + coalesce(col("__inc"), lit(0L))).as("n_indexed"))
      nextVersion(index.copy(postings = newPostings,
        shingles = survivorSh, dfCounts = mergedDf, docStats = adjustedStats))
    }
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
    * accept marker is its own.
    *
    * Both halves take ONE SNAPSHOT of their input: the per-doc projection
    * is eagerly localCheckpoint'ed before anything reads it, so the
    * scalar sums (evaluated at the call) and the df merge (evaluated
    * whenever the stats are later used) see the SAME rows even when the
    * input is a live source — e.g. a streaming sink still receiving
    * batches, where a fully lazy fold let later appends leak into the df
    * counts while the eagerly collected scalars excluded them. The
    * checkpoint is O(changed docs) of SKINNY rows (dl + distinct terms). */
  implicit object Bm25 extends IndexFamily[Search.Bm25Stats](
      "bm25", "_FOLDED_BM25", "_FOLDED_UPSERT_BM25",
      "_FOLDED_RETRACT_BM25", StringType) {
    override val legAcceptMarker: String = acceptMarker
    override val retractsByImage = true
    protected def fitWith(df: DataFrame, idCol: String, textCol: String,
                          h: Hyper): Search.Bm25Stats =
      Search.bm25Fit(df, idCol, textCol)
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

    /** Grow fitted stats with `newDocs` WITHOUT rescanning the fitted
      * corpus — O(new docs): the batch's df table merges into the stored
      * one by a full-outer sum of two skinny vocabulary relations, and
      * the two scalars add. Exact, not approximate: document frequency,
      * doc count and length sum are all additive over a disjoint corpus
      * union, so extend(fit(A), B) ≡ fit(A ∪ B) — the equivalence the
      * spec pins. `newDocs` ids must be new (the append-only contract
      * every extend in the engine shares): re-adding a fitted doc
      * double-counts on both paths alike. */
    def extend(stats: Search.Bm25Stats, newDocs: DataFrame, idCol: String,
               textCol: String): Search.Bm25Stats = {
      val perDoc = Search.bm25PerDoc(newDocs, textCol).localCheckpoint(true)
      val row = perDoc.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
        .head()
      val newDf = perDoc
        .select(explode(col("__ts")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("__new"))
      val merged = stats.docFreq.join(newDf, Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("__new"), lit(0L)))
            .as("df"))
      nextVersion(stats.copy(docFreq = merged,
        nDocs = stats.nDocs + row.getLong(0),
        sumDl = stats.sumDl + row.getLong(1)))
    }

    /** Shrink fitted stats by a set of retired documents: document
      * frequency, doc count and length sum are all additive, so retiring
      * documents is exact integer SUBTRACTION of their per-doc
      * contributions, O(removed docs), and `remove(fit(A), R) ≡
      * fit(A \ R)` exactly (spec-pinned) — a term whose last holder
      * leaves drops out of the vocabulary entirely, exactly as a refit
      * would drop it. `removedDocs` must be the fitted rows VERBATIM
      * (same ids, same text — a refresh has the previous crawl on hand by
      * construction): retracting a never-fitted or amended document
      * under-/over-subtracts on both paths alike, the mirror of extend's
      * append-only contract. Unlike the text-gram index (whose stored
      * shingles reconstruct retired docs' grams), the stats keep no
      * per-document state — the retired TEXT re-derives the
      * contributions. */
    def remove(stats: Search.Bm25Stats, removedDocs: DataFrame, idCol: String,
               textCol: String): Search.Bm25Stats = {
      val perDoc = Search.bm25PerDoc(removedDocs, textCol).localCheckpoint(true)
      val row = perDoc.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
        .head()
      val decDf = perDoc
        .select(explode(col("__ts")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("__dec"))
      val merged = stats.docFreq.join(decDf, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("__dec"), lit(0L))).as("df"))
        .filter(col("df") > 0L)
      nextVersion(stats.copy(docFreq = merged,
        nDocs = stats.nDocs - row.getLong(0),
        sumDl = stats.sumDl - row.getLong(1)))
    }

  }

  /** The sign-LSH dedup bucket index ([[Dedup.EmbeddingIndex]]) — the
    * novelty gate of the vector maintenance ingest, so its net accept
    * marker is the shared one. Its quantizer is the (planes, bands) pair
    * the deterministic hyperplanes derive from; buckets and vectors
    * mutate in lockstep. */
  implicit object Embedding extends Quantized[Dedup.EmbeddingIndex, (Int, Int)](
      "embedding", FoldedMarker, "_FOLDED_UPSERT_EMB", "_FOLDED_RETRACT_EMB",
      "doc_id", Set("doc_id", "band", "bucket")) {
    override val hyperparameters: Seq[(String, Any)] = Seq("planes" -> 12, "bands" -> 8)
    protected def fitWith(df: DataFrame, idCol: String, vecCol: String,
                          h: Hyper): Dedup.EmbeddingIndex =
      Dedup.buildEmbeddingIndex(df, idCol, vecCol, h.int("planes"), h.int("bands"))
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
    protected def quantizer(i: Dedup.EmbeddingIndex): (Int, Int) = (i.planes, i.bands)
    protected def encoded(i: Dedup.EmbeddingIndex): Seq[DataFrame] = Seq(i.buckets, i.vectors)
    protected def withEncoded(i: Dedup.EmbeddingIndex,
                              rels: Seq[DataFrame]): Dedup.EmbeddingIndex =
      i.copy(buckets = rels(0), vectors = rels(1))
    /** (doc_id, band, bucket) for every band, and (doc_id, v). */
    private[extensions] def encode(q: (Int, Int), df: DataFrame, idCol: String,
                                   vecCol: String, metaCols: Seq[String]): Seq[DataFrame] =
      Seq(Dedup.signBands(df, idCol, vecCol, q._1, q._2),
        df.select(col(idCol).as("doc_id"), col(vecCol).as("v")))
  }

  /** The cell-partitioned ANN index ([[Similarity.IvfIndex]]), shared by
    * ANN probes and the semantic dedup ingest. Its quantizer is the
    * centroid table: rows assign to the FROZEN cells, so every saved cell
    * partition stays valid. */
  implicit object Ivf extends Quantized[Similarity.IvfIndex, DataFrame](
      "ivf", "_FOLDED_IVF", "_FOLDED_UPSERT_IVF", "_FOLDED_RETRACT_IVF",
      "neighbor_id", Set("neighbor_id", "c_vec", "cell")) {
    override val hyperparameters: Seq[(String, Any)] = Seq("nlist" -> 16)
    protected def fitWith(df: DataFrame, idCol: String, vecCol: String,
                          h: Hyper): Similarity.IvfIndex =
      Similarity.ivfFit(df, idCol, vecCol, nlist = h.int("nlist"))
    protected[extensions] def relations(i: Similarity.IvfIndex): Seq[Relation] = Seq(
      Relation("centers", i.centers.coalesce(1)),
      Relation("assigned", i.assigned, byCell = true))
    protected def open(t: Tree): Similarity.IvfIndex =
      Similarity.IvfIndex(t("centers"), t("assigned"))
    protected def withLineage(i: Similarity.IvfIndex, savedDir: Option[String],
                              version: Long, folded: Seq[String],
                              parent: Option[String]): Similarity.IvfIndex =
      i.copy(savedDir = savedDir, version = version, folded = folded, parent = parent)
    protected def unpersist(i: Similarity.IvfIndex): Unit = i.unpersist()
    protected def quantizer(i: Similarity.IvfIndex): DataFrame = i.centers
    protected def encoded(i: Similarity.IvfIndex): Seq[DataFrame] = Seq(i.assigned)
    protected def withEncoded(i: Similarity.IvfIndex,
                              rels: Seq[DataFrame]): Similarity.IvfIndex =
      i.copy(assigned = rels(0))
    /** (neighbor_id, c_vec, cell, meta…): each row in its nearest cell. */
    private[extensions] def encode(centers: DataFrame, df: DataFrame, idCol: String,
                                   vecCol: String, metaCols: Seq[String]): Seq[DataFrame] =
      Seq(Similarity.assignToCells(df, centers, idCol, vecCol, metaCols))
  }

  /** The IVFADC index ([[Similarity.IvfPqIndex]]). Its quantizer is the
    * centroid table, the codebooks and the residual flag; the codes and
    * the rerank-only vectors relation mutate in lockstep (the split-tree
    * invariant). */
  implicit object IvfPq extends Quantized[Similarity.IvfPqIndex,
      (DataFrame, Seq[Seq[Seq[Float]]], Boolean)](
      "ivfpq", "_FOLDED_IVFPQ", "_FOLDED_UPSERT_IVFPQ", "_FOLDED_RETRACT_IVFPQ",
      "neighbor_id", Set("neighbor_id", "cell", "codes")) {
    override val hyperparameters: Seq[(String, Any)] =
      Seq("nlist" -> 16, "m" -> 8, "ksub" -> 16, "residual" -> false)
    protected def fitWith(df: DataFrame, idCol: String, vecCol: String,
                          h: Hyper): Similarity.IvfPqIndex =
      Similarity.ivfPqFit(df, idCol, vecCol, nlist = h.int("nlist"), m = h.int("m"),
        ksub = h.int("ksub"), residual = h.bool("residual"))
    protected[extensions] def relations(i: Similarity.IvfPqIndex): Seq[Relation] = Seq(
      Relation("centers", i.centers.coalesce(1), counted = false),
      Relation("codes", i.codes, byCell = true),
      Relation("vectors", i.vectors, byCell = true),
      Relation("codebooks", Similarity.codebookTable(i.codes.sparkSession, i.codebooks)
        .coalesce(1), counted = false))
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
    protected def quantizer(i: Similarity.IvfPqIndex) = (i.centers, i.codebooks, i.residual)
    protected def encoded(i: Similarity.IvfPqIndex): Seq[DataFrame] = Seq(i.codes, i.vectors)
    protected def withEncoded(i: Similarity.IvfPqIndex,
                              rels: Seq[DataFrame]): Similarity.IvfPqIndex =
      i.copy(codes = rels(0), vectors = rels(1))
    /** (neighbor_id, cell, codes, meta…) and (neighbor_id, cell, c_vec):
      * each row in its nearest cell, its unit vector — or, residual, its
      * difference to the unit centroid of that same cell — coded against
      * the codebooks. `c_vec` rides only the second relation: the stored
      * and scanned codes stay codes-sized, the compression's point. */
    private[extensions] def encode(q: (DataFrame, Seq[Seq[Seq[Float]]], Boolean),
                                   df: DataFrame, idCol: String, vecCol: String,
                                   metaCols: Seq[String]): Seq[DataFrame] = {
      val (centers, codebooks, residual) = q
      val unit = Similarity.withUnitVec(
        Similarity.assignToCells(df, centers, idCol, vecCol, metaCols), "c_vec")
      val enc = (if (residual) Similarity.subtractCellCenter(unit, centers) else unit)
        .withColumn("codes", Similarity.encodeCodes(col("__vhat"), codebooks))
      Seq(enc.select(col("neighbor_id") +: col("cell") +: col("codes") +: metaCols.map(col): _*),
        enc.select(col("neighbor_id"), col("cell"), col("c_vec")))
    }
  }

  /** The sign-LSH top-k retrieval index ([[Similarity.LshIndex]]): one
    * banded relation under the deterministic hyperplanes its
    * (planes, bands) quantizer derives. */
  implicit object Lsh extends Quantized[Similarity.LshIndex, (Int, Int)](
      "lsh", "_FOLDED_LSH", "_FOLDED_UPSERT_LSH", "_FOLDED_RETRACT_LSH",
      "neighbor_id", Set("neighbor_id", "c_vec", "band", "bucket")) {
    override val hyperparameters: Seq[(String, Any)] = Seq("planes" -> 12, "bands" -> 4)
    protected def fitWith(df: DataFrame, idCol: String, vecCol: String,
                          h: Hyper): Similarity.LshIndex =
      Similarity.lshFit(df, idCol, vecCol, h.int("planes"), h.int("bands"))
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
    protected def quantizer(i: Similarity.LshIndex): (Int, Int) = (i.planes, i.bands)
    protected def encoded(i: Similarity.LshIndex): Seq[DataFrame] = Seq(i.banded)
    protected def withEncoded(i: Similarity.LshIndex,
                              rels: Seq[DataFrame]): Similarity.LshIndex =
      i.copy(banded = rels(0))
    /** (neighbor_id, c_vec, band, bucket, meta…) for every band. */
    private[extensions] def encode(q: (Int, Int), df: DataFrame, idCol: String,
                                   vecCol: String, metaCols: Seq[String]): Seq[DataFrame] =
      Seq(Similarity.bandVectors(df, idCol, vecCol, "neighbor_id", "c_vec",
        q._1, q._2, metaCols))
  }

  /** The product-quantized index ([[Similarity.PqIndex]]): its quantizer
    * is the codebooks. */
  implicit object Pq extends Quantized[Similarity.PqIndex, Seq[Seq[Seq[Float]]]](
      "pq", "_FOLDED_PQ", "_FOLDED_UPSERT_PQ", "_FOLDED_RETRACT_PQ",
      "neighbor_id", Set("neighbor_id", "codes", "c_vec")) {
    override val hyperparameters: Seq[(String, Any)] = Seq("m" -> 8, "ksub" -> 16)
    protected def fitWith(df: DataFrame, idCol: String, vecCol: String,
                          h: Hyper): Similarity.PqIndex =
      Similarity.pqFit(df, idCol, vecCol, h.int("m"), h.int("ksub"))
    protected[extensions] def relations(i: Similarity.PqIndex): Seq[Relation] = Seq(
      Relation("codes", i.codes),
      Relation("codebooks", Similarity.codebookTable(i.codes.sparkSession, i.codebooks)
        .coalesce(1), counted = false))
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
    protected def quantizer(i: Similarity.PqIndex): Seq[Seq[Seq[Float]]] = i.codebooks
    protected def encoded(i: Similarity.PqIndex): Seq[DataFrame] = Seq(i.codes)
    protected def withEncoded(i: Similarity.PqIndex,
                              rels: Seq[DataFrame]): Similarity.PqIndex =
      i.copy(codes = rels(0))
    /** (neighbor_id, codes, c_vec, meta…): each row's unit vector coded
      * against the codebooks. */
    private[extensions] def encode(codebooks: Seq[Seq[Seq[Float]]], df: DataFrame,
                                   idCol: String, vecCol: String,
                                   metaCols: Seq[String]): Seq[DataFrame] =
      Seq(Similarity.withUnitVec(df.select(col(idCol).as("neighbor_id") +:
          col(vecCol).as("c_vec") +: metaCols.map(col): _*), "c_vec")
        .withColumn("codes", Similarity.encodeCodes(col("__vhat"), codebooks))
        .select(col("neighbor_id") +: col("codes") +: col("c_vec") +: metaCols.map(col): _*))
  }

  /** The registry, in the order the SQL surface lists the families.
    * Lazy: each instance's constructor reads this object's constants, so
    * a strict registry would capture an instance still being built. */
  lazy val all: Seq[IndexFamily[_ <: Versioned]] =
    Seq(Text, Bm25, Embedding, Ivf, IvfPq, Lsh, Pq)

  def named(name: String): Option[IndexFamily[_ <: Versioned]] = all.find(_.name == name)
}
