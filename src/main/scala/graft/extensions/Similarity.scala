package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`ArrayType(FloatType)`) — north-star extension, SURVEY §2.11.
 *
 * Two paths:
 *  - brute-force cosine top-k: exact baseline; the probe set is small and
 *    broadcast, so the scan over N candidates is embarrassingly parallel
 *    and shuffles only k rows per query (partial top-k under the window).
 *  - sign-LSH (random hyperplanes): candidates share a bucket of
 *    hyperplane signs; at 100 TB the bucket key is the shuffle key and
 *    per-bucket work is bounded. This is the SimHash-for-vectors scheme;
 *    multi-probe = more bands.
 *
 * Dot products use `zip_with` + `aggregate` (sequential per-row array
 * fold: deterministic, no UDF). Expression staging rule (see Dedup):
 * higher-order lambdas are interpreted with no subexpression sharing, so
 * the dimension-index array is materialized once as `__idx` rather than
 * rebuilt inside every plane's projection.
 */
object Similarity {

  /** Sequential fold dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Deterministic pseudo-random hyperplane component: value in [-1, 1)
    * derived from (plane, dim) by hashing — no RNG state, so every
    * executor derives identical planes. */
  private def planeComponent(plane: Int, dim: Column): Column = {
    val seed = lit(plane.toLong * 0x9E3779B97F4A7C15L)
    (pmod(xxhash64(dim, seed), lit(2000001L)) - 1000000L).cast("double") / 1000000.0
  }

  /** Sign-LSH bucket id over a vector + PRE-MATERIALIZED index array:
    * one bit per hyperplane = sign of <v, r_p>. `planeOffset` selects an
    * independent plane set per band. */
  def signBucket(v: Column, idx: Column, planes: Int, planeOffset: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(v, idx, (x, i) => x * planeComponent(planeOffset + p, i)),
        lit(0.0d), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  /** The dimension-index array `[0, size)` to stage next to the vector. */
  def dimIndex(v: Column): Column = sequence(lit(0), size(v) - 1)

  /**
   * Exact brute-force cosine top-k for a set of query vectors.
   * `queries` must be small enough to broadcast (it is, by construction
   * of "probe set"); ties broken by candidate id for determinism.
   */
  def bruteForceTopK(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 10): DataFrame = {

    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions
          .cosine_similarity(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /**
   * LSH-bucketed ANN top-k: only candidates sharing the query's sign
   * bucket in at least one band are scored. Recall grows with `bands`;
   * cost is bands x bucket-local joins instead of a full scan.
   * Convenience composition of [[lshFit]] + [[lshProbe]] — a real
   * pipeline fits once and probes many (same economics as IVF).
   */
  def lshTopK(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 10,
      planes: Int = 12, bands: Int = 4): DataFrame =
    lshProbe(lshFit(candidates, idCol, vecCol, planes, bands),
      queries, idCol, vecCol, k)

  /**
   * A fitted sign-LSH search index — the LSH sibling of [[IvfIndex]],
   * same lifecycle (fit once / probe many / `filtered` for
   * metadata-predicated ANN / save / load / extend / close). `banded`
   * is the (neighbor_id, c_vec, band, bucket, meta…) relation — the
   * bucket key is the shuffle/pruning key at scale. planes/bands ride
   * with the index (a probe banded with different hyperplanes would
   * silently never match — same failure class as a shingle-k mismatch,
   * see `Dedup.EmbeddingIndex`).
   */
  final case class LshIndex(banded: DataFrame, planes: Int, bands: Int,
                            savedDir: Option[String] = None,
                            version: Long = 1L,
                            folded: Seq[String] = Nil,
                            parent: Option[String] = None) extends Versioned {
    /** Pin the banded relation in executor storage for repeated probing. */
    def cache(): LshIndex = { banded.cache(); this }

    /** Metadata-filtered view for FILTERED ANN — the LSH analog of
      * [[IvfIndex.filtered]]: the predicate (over metadata columns
      * carried into `banded` by `lshFit(metaCols = ...)`) prunes the
      * bucket relation BEFORE the bucket join, so candidate generation
      * never sees non-qualifying rows and top-k fills from qualifying
      * rows only — post-filtering a global top-k would under-fill it.
      * On a saved index the filter reaches the parquet scan of `banded`
      * (plain pushdown). Build once per predicate, probe many. The view
      * drops `savedDir` AND `parent`: `close()` on a view must not
      * delete the full index's tree, and `save()` of a view persists
      * the subset as a NEW unrelated tree — carrying the full index's
      * lineage would make the subset indistinguishable from a complete
      * successor of its grandparent. */
    def filtered(predicate: Column): LshIndex =
      copy(banded = banded.filter(predicate), savedDir = None, parent = None)

    def unpersist(): LshIndex = { banded.unpersist(false); this }
  }

  /** The (id, vec, band, bucket, meta…) banded relation both index fit
    * and probe use; hyperplanes derive deterministically from
    * (plane, dim) hashes, so both sides band identically with no shared
    * RNG state. */
  private[extensions] def bandVectors(df: DataFrame, idCol: String, vecCol: String,
                          idAs: String, vecAs: String,
                          planes: Int, bands: Int,
                          metaCols: Seq[String]): DataFrame =
    df.select((col(idCol).as(idAs) +: col(vecCol).as(vecAs) +:
        metaCols.map(col)) :+
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            graft.functions.VectorExpressions
              .sign_lsh_bucket(col(vecCol), planes, b * planes).as("bucket"))
        }: _*)).as("bb"): _*)
      .select(col(idAs) +: col(vecAs) +: col("bb.band") +: col("bb.bucket") +:
        metaCols.map(col): _*)

  /** Fit the sign-LSH index: band every candidate with the encode its
    * extend runs ([[IndexFamily.Lsh]]). `metaCols` names
    * metadata columns to carry into the banded relation (and the saved
    * parquet tree) so probes can pre-filter candidates via
    * [[LshIndex.filtered]] — the production filtered-ANN shape. */
  def lshFit(candidates: DataFrame, idCol: String, vecCol: String,
             planes: Int = 12, bands: Int = 4,
             metaCols: Seq[String] = Nil): LshIndex =
    LshIndex(IndexFamily.Lsh.encode((planes, bands), candidates, idCol, vecCol,
      metaCols).head, planes, bands)

  /** Probe a fitted [[LshIndex]]: only candidates sharing a query's
    * bucket in at least one band are scored; the banded probe side is
    * tiny and broadcast. A neighbour sharing k bands with a query is
    * scored k times, so the dedup aggregate keeps its own exchange on
    * (query_id, neighbor_id): its map-side partial max collapses the band
    * duplicates before the shuffle, which a `query_id` exchange under the
    * aggregate (as [[ivfProbe]] has) would ship whole. */
  def lshProbe(index: LshIndex, queries: DataFrame,
               idCol: String, vecCol: String, k: Int = 10): DataFrame = {
    val q = broadcast(bandVectors(queries, idCol, vecCol,
      "query_id", "q_vec", index.planes, index.bands, Nil))
    val scored = index.banded
      .join(q, Seq("band", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions
          .cosine_similarity(col("q_vec"), col("c_vec")).as("cosine"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /**
   * IVF (inverted-file) ANN top-k — the other classic scale path next to
   * sign-LSH: a k-means coarse quantizer (`nlist` cells, seeded)
   * partitions the corpus; each query probes its `nprobe` nearest cells
   * and scores only those candidates.
   *
   * At 100 TB: cell assignment is one narrow pass ([[assignToCells]]);
   * the probe join shuffles on the cell id (bounded, ~N/nlist per cell);
   * centroids are tiny and broadcast. Training reads a capped sample
   * ([[trainingSample]]), so its cost does not grow with the corpus.
   */
  def ivfTopK(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L): DataFrame =
    ivfProbe(ivfFit(candidates, idCol, vecCol, nlist, seed),
      queries, idCol, vecCol, k, nprobe)

  /**
   * A fitted IVF index: the tiny centroid table plus the cell-assigned
   * corpus. Build ONCE (`ivfFit`), reuse across probe calls — a real
   * pipeline never re-trains the quantizer per query. `save`/`loadIvfIndex`
   * persist it as parquet partitioned by cell, one file per cell, so a
   * 100 TB corpus's index is probed with cell-partition pruning and zero
   * rebuild cost.
   */
  final case class IvfIndex(centers: DataFrame, assigned: DataFrame,
                            savedDir: Option[String] = None,
                            version: Long = 1L,
                            folded: Seq[String] = Nil,
                            parent: Option[String] = None) extends Versioned {
    /** Pin the assignment in executor storage for repeated probing. */
    def cache(): IvfIndex = { assigned.cache(); centers.cache(); this }

    /** Metadata-filtered view of this index for FILTERED ANN: the
      * predicate (over metadata columns carried into `assigned` by
      * `ivfFit(metaCols = ...)`) restricts the cell-assigned corpus
      * BEFORE candidate generation, so top-k fills from qualifying rows
      * only — post-filtering a global top-k would under-fill it. On a
      * saved index the filter reaches the parquet scan of `assigned`
      * (plain pushdown, composed with cell-partition pruning); on a
      * cached one it shares the unfiltered index's executor storage.
      * The view is cheap — build once per predicate and probe many.
      * The view drops `savedDir` AND `parent`: `close()` on a view must
      * not delete the full index's tree, and `save()` of a view
      * persists the subset as a NEW unrelated tree with no inherited
      * lineage. */
    def filtered(predicate: Column): IvfIndex =
      copy(assigned = assigned.filter(predicate), savedDir = None, parent = None)

    /** Release executor storage pinned by [[cache]] (long-lived services
      * must pair every cache with this; short-lived mains may skip it). */
    def unpersist(): IvfIndex = {
      assigned.unpersist(false); centers.unpersist(false); this
    }

    /** Persist ([[IndexFamily.save]]), `assigned` partitioned by cell. */
    def save(dir: String): IvfIndex = IndexFamily.Ivf.save(this, dir)
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    IndexFamily.Ivf.load(spark, dir)

  /** Assign vectors to their nearest cell of an EXISTING centroid table
    * (squared Euclidean — the k-means metric; ties to the lowest cell
    * id). This is the only assignment path: [[ivfFit]], extension,
    * IVF-PQ and the semantic-dedup probe all assign through it. The
    * centroid matrix rides as ONE broadcast single-row relation (the
    * sorted array-of-structs), and the argmin is a single
    * `transform` + `array_min` over that column: zero shuffle, O(1) plan
    * NODES in nlist, and — unlike the earlier `typedlit` formulation —
    * O(1) TASK-BINARY bytes in nlist: a plan literal is serialized into
    * every task, so a production 64k-cell × 128-dim index would ship
    * ~32 MB with each of thousands of tasks, while the broadcast
    * relation ships once per executor through the block manager. The
    * join is a 1-row BroadcastNestedLoopJoin — each output row
    * references the broadcast array, no per-row copy. Measured at
    * sf0.1 (PLANS.md "assignToCells: task-binary size flat"): closure-
    * serialized task binary flat at 43 KB from nlist=16 to 16384 vs
    * 10.9 MB/task for the literal shape at 16384×64; plan nodes flat
    * for both; run time is the inherent O(nlist × dim) arithmetic
    * (broadcast ~5-8% slower at fixture scale — the join plumbing). */
  def assignToCells(vecs: DataFrame, centers: DataFrame,
                    idCol: String, vecCol: String,
                    metaCols: Seq[String] = Nil): DataFrame = {
    // struct field order (cell, center): sort_array orders by cell id,
    // so the argmin scan order — and therefore tie behavior — is
    // deterministic regardless of the centroid table's partitioning
    val ctrRow = broadcast(centers
      .agg(sort_array(collect_list(struct(col("cell"), col("center"))))
        .as("__ctrs")))
    // float subtract/multiply + double accumulate per cell (a plain
    // argmin over the collected centers reproduces it, spec-pinned);
    // struct (d2, cell) ordering keeps ties on the lowest cell id. An
    // empty table fails in this pass, not in a separate emptiness job.
    val best = when(size(col("__ctrs")) > 0, array_min(transform(col("__ctrs"), c =>
      struct(
        aggregate(zip_with(col("c_vec"), c.getField("center"), (x, y) => (x - y) * (x - y)),
          lit(0.0d), (acc, x) => acc + x).as("d2"),
        c.getField("cell").as("cell")))))
      .otherwise(raise_error(lit("centroid table is empty")))
    vecs.select(col(idCol).as("neighbor_id") +: col(vecCol).as("c_vec") +:
        metaCols.map(col): _*)
      .crossJoin(ctrRow)
      .withColumn("__best", best)
      .select(col("neighbor_id") +: col("c_vec") +:
        col("__best.cell").as("cell") +: metaCols.map(col): _*)
  }

  // ---- quantizer training ---------------------------------------------
  //
  // IVF cells and PQ codebooks train with ONE seeded Lloyd's k-means on
  // the driver, over at most `SamplePerCenter` rows per centroid collected
  // in one Spark job. The cap is FAISS's max-points-per-centroid rule
  // from the PQ/IVFADC line of work (Jégou et al., TPAMI 2011): training
  // cost stays flat as the corpus grows, while assignment and encoding
  // stay distributed passes over every row. At 2,000 × 64-d vectors a
  // distributed fit was all scheduling (an 8-subspace PQ fit ran 132
  // jobs in 5.5–6.0 s; the driver loop does it in ~0.5 s in one job).
  // The price is driver work: the sample holds min(N, 256·k) vectors
  // (k = 4,096 at 128-d is 1 GB of doubles), and each Lloyd's round
  // costs 256·k²·d multiply-adds on one thread — seconds at the
  // k ≤ 64 used here, tens of minutes at k = 4,096.

  /** Training rows per centroid (FAISS's max_points_per_centroid). */
  private[extensions] val SamplePerCenter = 256

  /** The training sample: at most `rows` vectors of `vecCol`, taken in
    * the order of a `seed`-ed hash of the id, then the id — one job, and
    * the same rows in the same order however `df` is partitioned (ids
    * are unique, the append-only contract every index family holds). */
  private[extensions] def trainingSample(df: DataFrame, idCol: String,
                                         vecCol: String, rows: Int,
                                         seed: Long): Array[Array[Double]] = {
    val sample = df.orderBy(xxhash64(lit(seed), col(idCol)), col(idCol))
      .limit(rows).select(col(vecCol)).collect().map(_.getSeq[Float](0))
    require(sample.nonEmpty && !sample.contains(null),
      s"a quantizer trains on a non-empty sample with no NULL $vecCol")
    sample.map(_.map(_.toDouble).toArray)
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Index of the center nearest `p` (squared Euclidean), ties to the
    * lowest. */
  private def nearest(p: Array[Double], centers: Array[Array[Double]]): Int =
    centers.indices.minBy(c => sqDist(p, centers(c)))

  /** Seeded Lloyd's k-means in MLlib's "random" mode: up to `k` distinct
    * points of `pts`, drawn in a `seed`-shuffled order, are the initial
    * centers; each of `iters` rounds moves every center to the mean of
    * the points nearest it — an empty cell keeps its center. Fewer than
    * `k` distinct points give fewer than `k` centers. */
  private[extensions] def kmeans(pts: Array[Array[Double]], k: Int,
                                 iters: Int, seed: Long): Array[Array[Double]] = {
    require(pts.forall(_.length == pts.head.length), "training vectors differ in length")
    val centers = new scala.util.Random(seed).shuffle(pts.indices.toVector)
      .iterator.map(i => pts(i).toSeq).distinct.take(k).map(_.toArray).toArray
    for (_ <- 0 until iters; (c, members) <- pts.groupBy(nearest(_, centers)))
      centers(c) = members.transpose.map(_.sum / members.length)
    centers
  }

  /** The coarse quantizer as a (cell, center) table: 5 Lloyd's rounds on
    * the sample's first `SamplePerCenter * nlist` rows — cells need to be
    * rough, not converged (recall comes from nprobe). */
  private def coarseCenters(spark: org.apache.spark.sql.SparkSession,
                            pts: Array[Array[Double]], nlist: Int,
                            seed: Long): DataFrame = {
    import spark.implicits._
    kmeans(pts.take(SamplePerCenter * nlist), nlist, 5, seed).toSeq
      .zipWithIndex.map { case (c, i) => (i, c.map(_.toFloat)) }
      .toDF("cell", "center")
  }

  /** Train the coarse quantizer and assign every candidate to its cell,
    * with the encode its extend runs ([[IndexFamily.Ivf]]). `metaCols`
    * names metadata columns of `candidates` to carry into the
    * cell-assigned relation (and the saved parquet tree) so probes can
    * pre-filter candidates via [[IvfIndex.filtered]] — the production
    * filtered-ANN shape, where the predicate prunes INSIDE the index
    * instead of post-filtering a ranked result. One Spark job (the
    * training sample); the assignment stays lazy. */
  def ivfFit(
      candidates: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L,
      metaCols: Seq[String] = Nil): IvfIndex = {
    val centers = coarseCenters(candidates.sparkSession, trainingSample(
      candidates, idCol, vecCol, SamplePerCenter * nlist, seed), nlist, seed)
    IvfIndex(centers, IndexFamily.Ivf.encode(centers, candidates, idCol, vecCol,
      metaCols).head)
  }

  /** Each query's `nprobe` nearest cells by squared Euclidean distance
    * to the centroid (the k-means metric, matching the assignment) —
    * the coarse-pruning step shared by [[ivfProbe]] and [[ivfPqProbe]].
    * Returns (query_id, q_vec, cell), one row per probed cell. */
  private[extensions] def nearestCells(q: DataFrame, centers: DataFrame,
                                       nprobe: Int): DataFrame =
    q.crossJoin(broadcast(centers))
      .select(col("query_id"), col("q_vec"), col("cell"),
        aggregate(zip_with(col("q_vec"), col("center"),
          (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x).as("d2"))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("cell").asc)))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cell"))

  /** Probe a fitted index: score only the `nprobe` nearest cells' members.
    *
    * Ranking costs one exchange: the scored pairs are hash-partitioned on
    * `query_id`, which satisfies both the (query_id, neighbor_id) dedup
    * aggregate and the rank window, so both run in one stage. A map-side
    * partial aggregate would buy nothing here: each id sits in one cell
    * and a query probes distinct cells, so its pairs are already unique.
    * The aggregate stays for an id added twice (the append-only misuse),
    * which surfaces once, with its larger cosine. */
  def ivfProbe(
      index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 10,
      nprobe: Int = 4): DataFrame = {

    val assigned = index.assigned
    val qProbes = broadcast(nearestCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      index.centers, nprobe))

    val scored = assigned.join(qProbes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions
          .cosine_similarity(col("q_vec"), col("c_vec")).as("cosine"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  // ---- product quantization (PQ) --------------------------------------
  //
  // The third classic ANN scale path next to sign-LSH and IVF:
  // COMPRESSION rather than pruning. Each (L2-normalized) vector is cut
  // into `m` subvectors; a per-subspace k-means codebook (`ksub` cells)
  // maps every subvector to one byte-sized code, so a 64-dim float
  // vector (256 B) becomes m=8 codes (8 B) — 32x less memory traffic on
  // the scoring scan. A query probe precomputes the m x ksub table of
  // subspace dot products ONCE (asymmetric distance computation, ADC);
  // scoring a candidate is then m table lookups + adds instead of `dim`
  // multiplies. Top `rerank` ADC survivors are re-ranked with the exact
  // cosine against the stored vectors, so the final ranking error is
  // only "was a true top-k neighbor outside the ADC top-`rerank`".
  //
  // At 100 TB: PQ scans ALL candidates (unlike IVF's cell pruning) but
  // moves 32x fewer bytes and does 8x less arithmetic per candidate —
  // the right tool when recall targets rule out aggressive pruning, and
  // composable with IVF (probe cells, score members by ADC). The
  // codebook is m*ksub*dsub doubles (8 KB at 8x16x8) embedded as plan
  // literals — three orders below the 10.9 MB literal the IVF family
  // had to avoid (see PLANS.md "IVF taskKB"), so no broadcast machinery
  // is needed. Training is `m` (small constant) driver k-means fits over
  // one collected sample; encoding is one codegen'd pass.

  /** Stage the L2-normalized (double) copy of `vecCol` as `__vhat`.
    * Zero-norm vectors map to all-zeros (ADC and exact cosine both score
    * them 0 against everything). Norm is computed once per row via a
    * staged `__n` column — higher-order lambdas share no subexpressions,
    * so inlining `norm` per element would be O(dim^2)/row. */
  private[extensions] def withUnitVec(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__n", norm(col(vecCol)))
      .withColumn("__vhat",
        when(col("__n") === 0, transform(col(vecCol), _ => lit(0.0)))
          .otherwise(transform(col(vecCol),
            x => x.cast("double") / col("__n"))))

  /** Nearest-codebook-cell codes for a normalized vector: for each of
    * the `m` subspaces, the argmin-distance cell index (0-based;
    * strict `<` keeps the LOWEST cell on exact ties — deterministic).
    * One sequential fold over the ksub cells per subspace, all inside
    * codegen. */
  private[extensions] def encodeCodes(vhat: Column,
                                      codebooks: Seq[Seq[Seq[Float]]]): Column = {
    val dsub = codebooks.head.head.length
    array(codebooks.indices.map { sub =>
      val cb = typedlit(codebooks(sub).map(_.map(_.toDouble)))
      val subvec = slice(vhat, sub * dsub + 1, dsub)
      aggregate(
        sequence(lit(0), lit(codebooks(sub).length - 1)),
        struct(lit(Double.MaxValue).as("d2"), lit(0).as("cell")),
        (acc, cell) => {
          val d2 = aggregate(zip_with(subvec, cb(cell),
            (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), cell.as("cell"))).otherwise(acc)
        },
        acc => acc.getField("cell"))
    }: _*)
  }

  /** The per-query ADC lookup table: a flat m*ksub double array where
    * entry [sub*ksub + cell] = dot(q-subvector, codebook[sub][cell]).
    * Computed once per QUERY row; candidate scoring only does lookups. */
  private def adcTable(qhat: Column, codebooks: Seq[Seq[Seq[Float]]],
                       dsub: Int): Column =
    concat(codebooks.indices.map { sub =>
      val cb = typedlit(codebooks(sub).map(_.map(_.toDouble)))
      val subvec = slice(qhat, sub * dsub + 1, dsub)
      transform(sequence(lit(0), lit(codebooks(sub).length - 1)),
        cell => aggregate(zip_with(subvec, cb(cell), (x, y) => x * y),
          lit(0.0), (a, x) => a + x))
    }: _*)

  /**
   * A fitted product-quantization search index — same lifecycle as
   * [[LshIndex]]/[[IvfIndex]] (fit once / probe many / `filtered` /
   * save / load / extend / close, with [[IndexMeta]] version lineage).
   * `codes` is the (neighbor_id, codes, c_vec, meta…) relation; the ADC
   * scan projects ONLY (neighbor_id, codes) — on a saved index parquet
   * column pruning means the 256 B/vector `c_vec` column is never read
   * until the `rerank`-sized exact pass.
   */
  final case class PqIndex(codebooks: Seq[Seq[Seq[Float]]], codes: DataFrame,
                           m: Int, ksub: Int, dim: Int,
                           savedDir: Option[String] = None,
                           version: Long = 1L,
                           folded: Seq[String] = Nil,
                           parent: Option[String] = None) extends Versioned {
    def cache(): PqIndex = { codes.cache(); this }
    def unpersist(): PqIndex = { codes.unpersist(false); this }

    /** Metadata-filtered view for filtered ANN (see [[LshIndex.filtered]]
      * for the lineage rationale: the view drops `savedDir` AND `parent`
      * so a subset can't retire or masquerade as the full tree). */
    def filtered(predicate: Column): PqIndex =
      copy(codes = codes.filter(predicate), savedDir = None, parent = None)
  }

  /** The codebooks as the saved (sub, cell, center) table. */
  private[extensions] def codebookTable(spark: org.apache.spark.sql.SparkSession,
                                        codebooks: Seq[Seq[Seq[Float]]]): DataFrame = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cells, sub) =>
      cells.zipWithIndex.map { case (c, cell) => (sub, cell, c) }
    }.toDF("sub", "cell", "center")
  }

  /** The `m` codebooks back from the rows of [[codebookTable]]. */
  private[extensions] def codebooksFrom(rows: Array[org.apache.spark.sql.Row],
                                        m: Int): Seq[Seq[Seq[Float]]] = {
    val cb = rows.map(r => (r.getAs[Int]("sub"), r.getAs[Int]("cell"),
      r.getAs[scala.collection.Seq[Float]]("center").toSeq))
    (0 until m).map(sub => cb.filter(_._1 == sub).sortBy(_._2).map(_._3).toSeq)
  }

  /** `v` over its L2 norm (zero norm -> zeros), as [[withUnitVec]]. */
  private def unitVec(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v.map(_ => 0.0) else v.map(_ / n)
  }

  /** The `m` per-subspace codebooks, trained on the driver from the
    * (normalized, possibly residual) training vectors — shared by
    * [[pqFit]] and [[ivfPqFit]]. Each subspace runs 10 Lloyd's rounds
    * seeded `seed + sub`, so identical subspace data does not yield
    * identical codebooks by construction; cells need to be rough,
    * recall comes from the exact rerank. */
  private def trainCodebooks(train: Array[Array[Double]], m: Int,
                             ksub: Int, seed: Long): Seq[Seq[Seq[Float]]] = {
    val dim = train.head.length
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    (0 until m).map { sub =>
      kmeans(train.map(_.slice(sub * dsub, (sub + 1) * dsub)), ksub, 10,
        seed + sub).toSeq.map(_.toSeq.map(_.toFloat))
    }
  }

  /** Fit a PQ index: per-subspace codebooks trained on the driver from
    * one `SamplePerCenter * ksub`-row sample (the fit's only Spark job),
    * then one codegen'd encode pass over all candidates, the one its
    * extend runs ([[IndexFamily.Pq]]). `metaCols` ride into the codes
    * relation for [[PqIndex.filtered]]. */
  def pqFit(candidates: DataFrame, idCol: String, vecCol: String,
            m: Int = 8, ksub: Int = 16, seed: Long = 42L,
            metaCols: Seq[String] = Nil): PqIndex = {
    val pts = trainingSample(candidates, idCol, vecCol,
      SamplePerCenter * ksub, seed)
    val codebooks = trainCodebooks(pts.map(unitVec), m, ksub, seed)
    PqIndex(codebooks, IndexFamily.Pq.encode(codebooks, candidates, idCol, vecCol,
      metaCols).head, m, ksub, pts.head.length)
  }

  /** The (query_id, q_vec, __dt) probe relation: queries normalized,
    * each with its precomputed flat ADC lookup table. */
  private def adcQueries(queries: DataFrame, idCol: String, vecCol: String,
                         codebooks: Seq[Seq[Seq[Float]]],
                         dsub: Int): DataFrame =
    withUnitVec(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "q_vec")
      .withColumn("__dt", adcTable(col("__vhat"), codebooks, dsub))
      .select(col("query_id"), col("q_vec"), col("__dt"))

  /** ADC-score a (query_id, neighbor_id, __dt, codes) candidate scan
    * (full-corpus for [[pqProbe]], cell-pruned for [[ivfPqProbe]]),
    * keep the top `rerank` per query on a SKINNY
    * (query_id, neighbor_id, __adc) rank exchange — at N×Q rows a
    * dim-float q_vec payload would dominate the shuffle — then re-rank
    * the survivors exactly against the stored vectors (`vectors` =
    * (neighbor_id, c_vec); the only place c_vec is read; q_vec
    * re-enters via the broadcast query table). The m-term lookup sum
    * is unrolled at plan-build time. */
  private def adcRerankTopK(scan: DataFrame, qVecs: DataFrame,
                            vectors: DataFrame, m: Int, offsets: Seq[Int],
                            k: Int, rerank: Int,
                            adcExtra: Option[Column] = None,
                            cellPruned: Boolean = false): DataFrame = {
    // adcExtra: a per-scan-row additive score term (the residual
    // variant's coarse dot(qhat, chat)); None leaves the direct plan
    // byte-identical.
    // cellPruned (the IVF-PQ path): carry the scan row's `cell` through
    // the rank exchange (+4 B on a skinny row) and key the exact-rerank
    // join on (cell, neighbor_id) instead of neighbor_id alone — the
    // candidate broadcast then prunes the c_vec read by cell: on a
    // saved cell-partitioned tree the file scan gets a live DPP filter
    // REUSING the rerank join's own broadcast, with no separate
    // cell-set broadcast to build (the r15 probe regression was exactly
    // that extra per-probe broadcast + its nearestCells re-evaluation).
    val lookups = (0 until m).map(sub =>
      col("__dt")(lit(offsets(sub)) + col("codes")(sub)))
      .reduce(_ + _)
    val carry = if (cellPruned) Seq(col("cell")) else Nil
    val adc = scan.select(col("query_id") +: col("neighbor_id") +: carry :+
      adcExtra.fold(lookups)(lookups + _).as("__adc"): _*)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id").asc)
    val cands = adc.withColumn("__ar", row_number().over(wA))
      .filter(col("__ar") <= rerank)
      .select(col("query_id") +: col("neighbor_id") +: carry: _*)
    val joinKeys = if (cellPruned) Seq("cell", "neighbor_id")
      else Seq("neighbor_id")
    val exact = vectors
      .join(broadcast(cands), joinKeys)
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions
          .cosine_similarity(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Probe a fitted [[PqIndex]]: ADC-score EVERY candidate's codes
    * against the query's precomputed lookup table (m adds + lookups per
    * candidate — the compressed scan), keep the top `rerank` per query,
    * then re-rank those exactly. Output schema matches [[ivfProbe]]. */
  def pqProbe(index: PqIndex, queries: DataFrame,
              idCol: String, vecCol: String, k: Int = 10,
              rerank: Int = 50): DataFrame = {
    val q = adcQueries(queries, idCol, vecCol, index.codebooks,
      index.dim / index.m)

    // per-sub offsets into the flat ADC table: k-means returns FEWER
    // than `ksub` cells when a subspace has few distinct subvectors
    // (it starts from distinct points), so the stride is each sub's
    // ACTUAL codebook size, not the requested ksub
    val offsets = index.codebooks.scanLeft(0)(_ + _.length)

    // compressed scan: codes-only projection (c_vec pruned), queries+
    // tables broadcast, one bounded partial-top-k shuffle per query
    val scan = index.codes.select(col("neighbor_id"), col("codes"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
    adcRerankTopK(scan, q.select(col("query_id"), col("q_vec")),
      index.codes.select(col("neighbor_id"), col("c_vec")),
      index.m, offsets, k, rerank)
  }

  /** One-shot PQ top-k: fit + probe (the fit-once/probe-many split is
    * [[pqFit]]/[[pqProbe]]). */
  def pqTopK(candidates: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int = 10,
             m: Int = 8, ksub: Int = 16, rerank: Int = 50): DataFrame =
    pqProbe(pqFit(candidates, idCol, vecCol, m, ksub), queries,
      idCol, vecCol, k, rerank)

  // ---- IVF-PQ composition (IVFADC) ------------------------------------
  //
  // The standard 100 TB ANN shape (Jégou et al., "Product Quantization
  // for Nearest Neighbor Search", §IV): the IVF coarse quantizer prunes
  // the candidate space to `nprobe` cells, and WITHIN those cells the
  // scan is the PQ compressed one — m table lookups per candidate over
  // 8 B codes instead of dim multiplies over 256 B floats. PQ-only
  // ([[pqProbe]]) moves 32x fewer bytes but still touches every row;
  // IVF-only ([[ivfProbe]]) touches nprobe/nlist of the rows but moves
  // full vectors; the composition touches nprobe/nlist of the rows AND
  // moves 32x fewer bytes per touched row — both savings multiply.
  //
  // Encoding note: BOTH published variants are implemented, selected by
  // `residual` at fit time. Direct encoding (default) quantizes the
  // normalized vector itself — one codebook family valid independent of
  // the coarse quantizer, so a bring-your-own-centers composition can
  // PQ-compress an existing IVF without any coupling. Residual encoding
  // (`residual = true`) is the paper's IVFADC proper: codes quantize
  // r = vhat - chat(cell) (chat = the NORMALIZED cell centroid, so the
  // decomposition lives in the same unit space the ADC scores), which
  // buys ADC fidelity because within-cell residuals are far tighter
  // than the raw vectors — the codebook's ksub cells model a smaller
  // ball. The probe then scores dot(qhat, vhat) = dot(qhat, chat) +
  // dot(qhat, r): the first term is one per-(query, probed-cell)
  // constant computed with the centroid table (nprobe x |queries| rows
  // — free), the second is the SAME m-lookup ADC sum, against the
  // residual codebooks. The price: residual codebooks are coupled to
  // the coarse quantizer (if the centers move, re-encode), which is why
  // direct stays the default for bring-your-own-centers composition.
  // Exact re-rank bounds the final ranking error of both variants to
  // "was a true neighbor outside the ADC top-rerank"; the recall gates
  // price each honestly.

  /**
   * A fitted IVF-PQ search index — same lifecycle as the other four
   * families (fit once / probe many / `filtered` / save / load / extend
   * / close, with [[IndexMeta]] version lineage). `codes` is the
   * (neighbor_id, cell, codes, meta…) relation: `cell` is the
   * shuffle/pruning key (the saved tree is parquet PARTITIONED by it,
   * so a probe's nprobe cells prune at the file level), and the ADC
   * scan projects only (cell, neighbor_id, codes). The full vectors
   * live in the separate `vectors` (neighbor_id, cell, c_vec) relation
   * — also cell-partitioned — touched ONLY by the rerank-sized exact
   * pass: splitting them out keeps the stored codes tree 32x smaller
   * than the corpus vector column, which is the compression's point.
   */
  final case class IvfPqIndex(centers: DataFrame,
                              codebooks: Seq[Seq[Seq[Float]]],
                              codes: DataFrame,
                              vectors: DataFrame,
                              m: Int, ksub: Int, dim: Int,
                              residual: Boolean = false,
                              savedDir: Option[String] = None,
                              version: Long = 1L,
                              folded: Seq[String] = Nil,
                              parent: Option[String] = None) extends Versioned {
    def cache(): IvfPqIndex = {
      codes.cache(); vectors.cache(); centers.cache(); this
    }
    def unpersist(): IvfPqIndex = {
      codes.unpersist(false); vectors.unpersist(false)
      centers.unpersist(false); this
    }

    /** Metadata-filtered view for filtered ANN (see [[LshIndex.filtered]]
      * for the lineage rationale: the view drops `savedDir` AND `parent`
      * so a subset can't retire or masquerade as the full tree). The
      * predicate applies to `codes` (where the meta columns live); the
      * rerank-only `vectors` relation stays whole — every rerank row is
      * semi-bounded by the filtered scan's survivors, so an unfiltered
      * vector can never surface. */
    def filtered(predicate: Column): IvfPqIndex =
      copy(codes = codes.filter(predicate), savedDir = None, parent = None)
  }

  /** Fit an IVF-PQ index: the coarse k-means quantizer assigns every
    * candidate to a cell ([[ivfFit]]'s leg), and one shared per-subspace
    * codebook family compresses every (normalized) vector to m codes
    * ([[pqFit]]'s leg) — one codegen'd encode pass over the assigned
    * relation, the one its extend runs ([[IndexFamily.IvfPq]]). Both
    * quantizers train from ONE collected sample: the cells
    * on its first `SamplePerCenter * nlist` rows, the codebooks on its
    * first `SamplePerCenter * ksub`. `metaCols` ride into the codes
    * relation for [[IvfPqIndex.filtered]].
    *
    * `centers`: bring-your-own coarse quantizer — an explicit
    * (cell, center) table routed through the production
    * [[assignToCells]] path instead of fitting k-means, the same
    * existing-index composition [[semanticDupPairs]] supports: a
    * 100 TB pipeline that already operates an IVF index PQ-compresses
    * it without re-clustering (which would reassign the whole corpus
    * and invalidate every saved cell partition). `nlist` is ignored
    * when `centers` is given.
    *
    * `residual = true` selects the paper's IVFADC-proper residual
    * encoding (see the section note): codebooks train on and codes
    * quantize vhat - chat(cell) instead of vhat. The subtraction is one
    * broadcast join against the nlist-row normalized-centroid table +
    * a zip_with — same narrow shape as the encode itself; the codebooks
    * train on the same residuals of the sample, formed on the driver
    * ([[residuals]]). */
  def ivfPqFit(candidates: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, m: Int = 8, ksub: Int = 16,
               seed: Long = 42L,
               metaCols: Seq[String] = Nil,
               centers: Option[DataFrame] = None,
               residual: Boolean = false): IvfPqIndex = {
    val pts = trainingSample(candidates, idCol, vecCol,
      SamplePerCenter * centers.fold(math.max(nlist, ksub))(_ => ksub), seed)
    val centerTable = centers.getOrElse(
      coarseCenters(candidates.sparkSession, pts, nlist, seed))
    val train = pts.take(SamplePerCenter * ksub)
    val codebooks = trainCodebooks(
      if (!residual) train.map(unitVec) else residuals(train, centerTable),
      m, ksub, seed)
    val Seq(codes, vectors) = IndexFamily.IvfPq.encode(
      (centerTable, codebooks, residual), candidates, idCol, vecCol, metaCols)
    IvfPqIndex(centerTable, codebooks, codes, vectors, m, ksub, pts.head.length,
      residual = residual)
  }

  /** The residual training vectors unit(v) - unit(nearest center): the
    * driver form of [[subtractCellCenter]] over the assigned cells. The
    * centroids are collected in cell order (a fitted table is local, so
    * that starts no job). */
  private def residuals(pts: Array[Array[Double]],
                        centers: DataFrame): Array[Array[Double]] = {
    val ctrs = centers.select(col("cell"), col("center")).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Float](1).map(_.toDouble).toArray)
    pts.map { v =>
      unitVec(v).zip(unitVec(ctrs(nearest(v, ctrs)))).map { case (x, c) => x - c }
    }
  }

  /** The NORMALIZED (unit, double) centroid table (cell, __chat) — the
    * space residual encoding decomposes in: vhat = chat + r must hold in
    * the same unit space the ADC scores, and the raw k-means centers are
    * not unit vectors. */
  private def centersUnit(centers: DataFrame): DataFrame =
    withUnitVec(centers.select(col("cell"), col("center")), "center")
      .select(col("cell"), col("__vhat").as("__chat"))

  /** Replace `__vhat` with the cell residual vhat - chat(cell): one
    * broadcast join against the nlist-row normalized-centroid table +
    * one zip_with — narrow, no shuffle of the corpus side. */
  private[extensions] def subtractCellCenter(assigned: DataFrame,
                                 centers: DataFrame): DataFrame =
    assigned.join(broadcast(centersUnit(centers)), Seq("cell"))
      .withColumn("__vhat",
        zip_with(col("__vhat"), col("__chat"), (x, y) => x - y))
      .drop("__chat")

  /** Probe a fitted [[IvfPqIndex]]: rank the query's `nprobe` nearest
    * cells (coarse pruning — the scan never touches the other
    * nlist - nprobe cells' rows), ADC-score ONLY those cells' codes
    * against the query's precomputed lookup table, keep the top
    * `rerank` per query on the skinny rank exchange, then re-rank
    * exactly. Output schema matches [[ivfProbe]]/[[pqProbe]]. On a
    * saved index the cell join prunes at the parquet-partition level;
    * per-query work is (nprobe/nlist) x N x m lookups — the scanned
    * fraction times the compressed scan. */
  def ivfPqProbe(index: IvfPqIndex, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int = 10,
                 nprobe: Int = 4, rerank: Int = 50): DataFrame = {
    val q = adcQueries(queries, idCol, vecCol, index.codebooks,
      index.dim / index.m)
    val offsets = index.codebooks.scanLeft(0)(_ + _.length)
    // each probed (query, cell) row carries the query's ADC table; the
    // relation is nprobe x |queries| rows of m*ksub doubles — tiny, and
    // broadcast so the codes relation never reshuffles. A residual index
    // additionally carries the per-(query, cell) constant
    // __qc = dot(qhat, chat) — the coarse term of the score
    // decomposition; the ADC lookups supply the residual term.
    val probed = nearestCells(q.select(col("query_id"), col("q_vec")),
      index.centers, nprobe)
    val probedCells =
      if (!index.residual) probed.select(col("query_id"), col("cell"))
      else withUnitVec(
          probed.join(broadcast(centersUnit(index.centers)), Seq("cell")),
          "q_vec")
        .select(col("query_id"), col("cell"),
          aggregate(zip_with(col("__vhat"), col("__chat"), (x, y) => x * y),
            lit(0.0d), (acc, x) => acc + x).as("__qc"))
    val qCells = broadcast(
      probedCells.join(q.select(col("query_id"), col("__dt")), Seq("query_id")))
    val scan = index.codes.select(col("cell"), col("neighbor_id"), col("codes"))
      .join(qCells, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
    // the exact re-rank pass prunes by the SAME probed cell set as the
    // ADC scan (ADVICE r14: without a cell key the rerank join
    // row-scanned every cell's c_vec files per probe). HOW it prunes is
    // the r15 lesson: a dedicated `select(cell).distinct()` semi-join
    // build re-evaluated nearestCells and built a SECOND broadcast per
    // probe (+25% on the steady-state row, VERDICT r15 #2) — instead
    // the candidates now CARRY their cell through the rank exchange and
    // the rerank join keys on (cell, neighbor_id), so the cell prune
    // rides the rerank join's own candidate broadcast: zero extra
    // jobs, and on a saved tree the c_vec scan still gets a live DPP
    // filter (pinned, PlanShapeSpec).
    adcRerankTopK(scan, q.select(col("query_id"), col("q_vec")),
      index.vectors, index.m, offsets, k, rerank,
      adcExtra = if (index.residual) Some(col("__qc")) else None,
      cellPruned = true)
  }

  /** One-shot IVF-PQ top-k: fit + probe (the fit-once/probe-many split
    * is [[ivfPqFit]]/[[ivfPqProbe]]). */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int = 10,
                nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                nprobe: Int = 4, rerank: Int = 50,
                residual: Boolean = false): DataFrame =
    ivfPqProbe(ivfPqFit(candidates, idCol, vecCol, nlist, m, ksub,
      residual = residual),
      queries, idCol, vecCol, k, nprobe, rerank)

  // ------------------------------------------------------ semantic dedup

  /** SemDeDup-style semantic-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): the k-means cells of a fitted [[IvfIndex]] prune
    * the candidate space, and only WITHIN-cell pairs are cosine-scored —
    * the embedding-space analog of the minhash band join, with the SAME
    * index structure the ANN probes use doing double duty (fit / extend /
    * save once; probe for search, pair for dedup, from one cell-assigned
    * relation).
    *
    * Scale shape: both join sides are the already-assigned skinny
    * relation, shuffled once each on `cell` (co-partitioned join); the
    * per-cell pairwise cost is the method's own cost model — pick
    * `nlist ≈ N / target-cell-size` so cells stay bounded (the dial the
    * paper turns), and `maxCellSize` hard-caps degenerate cells exactly
    * like `Dedup.bucketPairs` caps hash buckets (capped cells are
    * SKIPPED, trading recall for a bounded worst case; the cell-size
    * census is ≤ nlist rows, computed and broadcast for free).
    *
    * Returns (id_a, id_b, cosine) with id_a < id_b, cosine >= eps; each
    * vector lives in exactly one cell, so pairs are already distinct.
    */
  def semanticDupPairs(index: IvfIndex, eps: Double = 0.95,
                       maxCellSize: Int = 100000): DataFrame = {
    val okCells = broadcast(
      index.assigned.groupBy("cell").count()
        .filter(col("count") <= maxCellSize).select("cell"))
    val within = index.assigned.join(okCells, Seq("cell"))
    val a = within.select(col("cell"),
      col("neighbor_id").as("id_a"), col("c_vec").as("v_a"))
    val b = within.select(col("cell"),
      col("neighbor_id").as("id_b"), col("c_vec").as("v_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorExpressions
          .cosine_similarity(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= eps)
  }

  /** Cosine of every indexed vector to its own cell centroid — the
    * priority signal for the paper's keep rule. One broadcast of the
    * ≤ nlist-row centroid table; no shuffle. */
  private def centroidCosine(index: IvfIndex): DataFrame =
    index.assigned
      .join(broadcast(index.centers), Seq("cell"))
      .select(col("neighbor_id"), col("cell"),
        cosine(col("c_vec"), col("center")).as("ctr_cos"))

  /** Semantic dedup keep-set: drops every vector that loses a
    * `semanticDupPairs` pairing under the keep order, returning the
    * surviving (neighbor_id, cell) rows. `keepRule`:
    *
    *  - `"min_id"` (default): keep the lowest id of each duplicate pair —
    *    the repo's standard first-wins greedy rule (append-order stable,
    *    SQL-oracle-able: x is dropped iff some y with y.id < x.id has
    *    cosine(x, y) >= eps in x's cell).
    *  - `"far_from_centroid"`: the SemDeDup paper's rule — keep the pair
    *    member with the LOWER cosine to its cell centroid (retain
    *    cluster outliers, drop the redundant core; §3 of the paper
    *    found this slightly beats random/near keeps). Ties fall back to
    *    the id order so the decision stays deterministic.
    *
    * Drop semantics are the pairwise-greedy exists-rule (drop x iff SOME
    * qualifying pair ranks it second), not iterated graph peeling: one
    * pair scan + one distinct + one anti-join, no fixpoint — at 100 TB
    * the drop relation is skinny (ids only) and the corpus never
    * re-shuffles. */
  def semanticDedup(index: IvfIndex, eps: Double = 0.95,
                    keepRule: String = "min_id",
                    maxCellSize: Int = 100000): DataFrame = {
    val pairs = semanticDupPairs(index, eps, maxCellSize)
    val dropped = keepRule match {
      case "min_id" =>
        pairs.select(col("id_b").as("neighbor_id"))
      case "far_from_centroid" =>
        val cc = centroidCosine(index)
        pairs
          .join(cc.select(col("neighbor_id").as("id_a"),
            col("ctr_cos").as("cos_a")), Seq("id_a"))
          .join(cc.select(col("neighbor_id").as("id_b"),
            col("ctr_cos").as("cos_b")), Seq("id_b"))
          // id_a < id_b, so the id tie-break drops id_b on equal cosines
          .select(when(col("cos_a") > col("cos_b"), col("id_a"))
            .otherwise(col("id_b")).as("neighbor_id"))
      case other =>
        throw new IllegalArgumentException(
          s"keepRule must be min_id | far_from_centroid, got '$other'")
    }
    index.assigned
      .join(dropped.distinct(), Seq("neighbor_id"), "left_anti")
      .select(col("neighbor_id"), col("cell"))
  }

  /** Incremental SemDeDup — the O(new) probe of the family, mirroring
    * `Dedup.dedupEmbeddingsAgainstCorpus` but with cell pruning instead
    * of LSH bucketing: assign the incoming batch to the EXISTING cells
    * (one narrow projection over the batch; the corpus-sized `assigned`
    * relation is never reshuffled — it is already keyed by cell) and
    * cosine-score each batch vector against its cell's members only.
    * Returns (idCol, corpus_id, cosine) for every batch/corpus pairing
    * at >= eps — corpus-wins provenance, ready for an anti-join drop or
    * an `IndexFamily.Ivf.extend` accept of the novel remainder (the same
    * accept→bump lifecycle the other index families run). */
  def semanticDupAgainstIndex(index: IvfIndex, batch: DataFrame,
                              idCol: String, vecCol: String,
                              eps: Double = 0.95,
                              maxCellSize: Int = 100000): DataFrame = {
    val okCells = broadcast(
      index.assigned.groupBy("cell").count()
        .filter(col("count") <= maxCellSize).select("cell"))
    val probe = assignToCells(batch, index.centers, idCol, vecCol)
      .select(col("cell"), col("neighbor_id").as("__batch_id"),
        col("c_vec").as("__batch_vec"))
      .join(okCells, Seq("cell"))
    probe
      .join(index.assigned.select(col("cell"),
        col("neighbor_id").as("corpus_id"), col("c_vec").as("__corpus_vec")),
        Seq("cell"))
      .select(col("__batch_id").as(idCol), col("corpus_id"),
        graft.functions.VectorExpressions
          .cosine_similarity(col("__batch_vec"), col("__corpus_vec"))
          .as("cosine"))
      .filter(col("cosine") >= eps)
  }

  /** The drop decision `semanticDupAgainstIndex` feeds: batch rows with
    * NO >= eps corpus match in their cell survive (corpus-wins, the
    * same contract as `dedupAgainstCorpus`). One broadcast anti-join of
    * the skinny match ids against the batch. */
  def semanticDedupBatch(index: IvfIndex, batch: DataFrame,
                         idCol: String, vecCol: String,
                         eps: Double = 0.95,
                         maxCellSize: Int = 100000): DataFrame =
    semanticKeepSet(batch,
      semanticDupAgainstIndex(index, batch, idCol, vecCol, eps, maxCellSize), idCol)

  /** The batch rows with no row in `matches` ([[semanticDupAgainstIndex]]'s
    * shape), so a caller that also audits the matches probes once. */
  private[graft] def semanticKeepSet(batch: DataFrame, matches: DataFrame,
                                     idCol: String): DataFrame =
    batch.join(broadcast(matches.select(col(idCol)).distinct()), Seq(idCol), "left_anti")
}
