package graft.extensions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine: self = 1, orthogonal = 0, opposite = -1") {
    val df = Seq((Array(1f, 0f), Array(1f, 0f), Array(0f, 1f), Array(-1f, 0f)))
      .toDF("a", "b", "c", "d")
    val row = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c")),
      Similarity.cosine(col("a"), col("d"))).head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(row.getDouble(1)) < 1e-9)
    assert(math.abs(row.getDouble(2) + 1.0) < 1e-9)
  }

  test("brute-force top-k returns the planted nearest neighbor first") {
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    // plant: query = vec 0; candidate set = all. Its top-1 neighbor must be
    // the vector with the highest cosine, verified independently.
    val q = e.filter(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
    val rows = top.select("neighbor_id", "rank").as[(Long, Long)].collect().sortBy(_._2)
    assert(rows.length == 5 && rows.head._2 == 1L)
    // independent check of the argmax
    val expect = e.filter(col("vec_id") =!= 0)
      .crossJoin(q.select(col("embedding").as("qv")))
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("qv")).as("c"))
      .orderBy(col("c").desc, col("vec_id").asc)
      .select("vec_id").as[Long].head()
    assert(rows.head._1 == expect)
  }

  test("LSH finds planted near-duplicate neighbors (its design guarantee)") {
    // Sign-LSH's contract is about ANGULARLY CLOSE vectors: a slightly
    // perturbed copy collides in some band with high probability. (On
    // uniformly random vectors, "top-5 neighbors" sit near 90 deg and the
    // collision probability is intentionally tiny - that is the pruning.)
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    import org.apache.spark.sql.functions.{transform => atransform}
    val planted = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"),
        atransform(col("embedding"), x => x * 1.01f + 0.001f).as("embedding"))
    val withPlanted = e.select("vec_id", "embedding").union(planted)
    val q = e.filter(col("vec_id") < 5)
    val lsh = Similarity.lshTopK(withPlanted, q, "vec_id", "embedding", k = 3,
      planes = 8, bands = 6)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // every query's rank-1 hit is its planted near-copy
    (0L until 5L).foreach { id =>
      assert(lsh.get(id).contains(id + 10000), s"query $id missed planted dup: $lsh")
    }
    // and recall vs brute force on random data is nonzero but pruned
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshAll = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5,
      planes = 6, bands = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lshAll).size.toDouble / brute.size
    assert(recall > 0.0, s"recall $recall")
  }

  test("a x2-scaled twin co-buckets with its original in EVERY band, " +
    "structurally (the sim_topk_lsh graduation argument)") {
    // doubling every component is exact in IEEE (exponent increment):
    // every per-element product and every partial sum of <2v, r_p> is
    // exactly twice <v, r_p>'s, so every sign bit is BITWISE identical
    // — no hyperplane constant, banding or fixture luck involved.
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 50)
    import org.apache.spark.sql.functions.{transform => atransform}
    val idx = Similarity.dimIndex(col("embedding"))
    val buckets = (0 until 4).map { b =>
      (Similarity.signBucket(col("embedding"), idx, 8, b * 8),
        Similarity.signBucket(atransform(col("embedding"), x => x * lit(2.0f)),
          idx, 8, b * 8))
    }
    val mismatches = e.select(
      buckets.zipWithIndex.map { case ((orig, scaled), i) =>
        (orig =!= scaled).cast("int").as(s"__m$i")
      }: _*)
      .agg(sum(buckets.indices.map(i => col(s"__m$i")).reduce(_ + _)))
      .head().getLong(0)
    assert(mismatches === 0L,
      "scaled twins must land in the identical bucket in every band")
    // ...and cosine(v, 2v) is 1.0 up to ONE ulp (the dot and both norms
    // scale by exact powers of two; the only rounding is sqrt(S)^2 vs S
    // in the denominator — measured: ~half the fixture rows land a last
    // ulp under 1.0). That still wins every exact ranking outright: the
    // nearest non-parallel candidate sits near cosine 0.4, eleven
    // orders of magnitude away, and the driver's %.6g normalization
    // maps both engines' values identically.
    val offOne = e.select(graft.functions.VectorExpressions.cosine_similarity(
      col("embedding"),
      atransform(col("embedding"), x => x * lit(2.0f))).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-12).count()
    assert(offOne === 0L, "cosine(v, 2v) must be 1.0 up to ulp rounding")
  }

  test("IVF top-k finds planted near-duplicates and beats LSH recall here") {
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    import org.apache.spark.sql.functions.{transform => atransform}
    val planted = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"),
        atransform(col("embedding"), x => x * 1.01f + 0.001f).as("embedding"))
    val withPlanted = e.select("vec_id", "embedding").union(planted)
    val q = e.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(withPlanted, q, "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 2)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 5L).foreach { id =>
      assert(ivf.get(id).contains(id + 10000), s"query $id missed planted dup: $ivf")
    }
    // recall vs brute force on the raw corpus with generous probing
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfAll = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5,
      nlist = 4, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivfAll).size.toDouble / brute.size
    assert(recall >= 0.2, s"ivf recall $recall")
  }

  test("IVF index: fit-once probe-many == one-shot; save/load roundtrip identical") {
    val e = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val oneShot = Similarity.ivfTopK(e, q, "vec_id", "embedding",
      k = 10, nlist = 16, nprobe = 4)
      .select("query_id", "neighbor_id", "rank")

    val idx = Similarity.ivfFit(e, "vec_id", "embedding", nlist = 16)
    val probed = Similarity.ivfProbe(idx, q, "vec_id", "embedding",
      k = 10, nprobe = 4).select("query_id", "neighbor_id", "rank")
    assert(probed.except(oneShot).isEmpty && oneShot.except(probed).isEmpty)
    // second probe against the same index (the steady-state path)
    val probed2 = Similarity.ivfProbe(idx, q, "vec_id", "embedding",
      k = 10, nprobe = 4).select("query_id", "neighbor_id", "rank")
    assert(probed2.except(probed).isEmpty)

    // persisted index: save, load, probe — byte-identical
    val dir = graft.TestSpark.tmpDir("graft-ivf-index")
    idx.save(dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val probedL = Similarity.ivfProbe(loaded, q, "vec_id", "embedding",
      k = 10, nprobe = 4).select("query_id", "neighbor_id", "rank")
    assert(probedL.except(probed).isEmpty && probed.except(probedL).isEmpty)

    // one-call version retirement, same contract as CorpusIndex.close
    assert(loaded.savedDir.contains(dir))
    IndexFamily.Ivf.close(loaded)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "close() must delete the saved IVF tree")
  }

  test("filtered IVF: predicate prunes candidates before ranking; metadata survives extension") {
    val e = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val pred = col("label") % 3 === 0

    val idx = Similarity.ivfFit(e, "vec_id", "embedding", nlist = 16,
      metaCols = Seq("label"))
    val hits = Similarity.ivfProbe(idx.filtered(pred), q,
      "vec_id", "embedding", k = 5, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    // every neighbor satisfies the predicate (the filter ran INSIDE the
    // candidate generation, not on a ranked result)
    val allowed = e.filter(pred).select("vec_id").as[Long].collect().toSet
    assert(hits.forall { case (_, n) => allowed(n) },
      "filtered probe returned a neighbor violating the predicate")

    // recall vs the filtered brute-force truth at the sim_ivf_recall floor
    val brute = Similarity.bruteForceTopK(e.filter(pred), q,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & hits).size.toDouble / brute.size
    assert(recall >= 0.7, s"filtered-IVF recall $recall below floor")

    // metadata columns ride through extendIvfIndex, so a filtered probe
    // of an extended index sees old and new vectors alike
    val half = Similarity.ivfFit(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 16, metaCols = Seq("label"))
    val ext = IndexFamily.Ivf.extend(half,
      e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
    assert(ext.assigned.columns.contains("label"))
    val extHits = Similarity.ivfProbe(ext.filtered(pred), q,
      "vec_id", "embedding", k = 5, nprobe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(extHits.forall(allowed), "extension lost the metadata filter")
    assert(extHits.exists(_ % 2 != 0), "no extension-half vector in filtered hits")

    // ...and through save/load: metadata rides the parquet tree, so the
    // production path (load a versioned index, filter, probe) gives the
    // same answer as the in-memory one — with the predicate pushed to
    // the scan of the saved `assigned` relation
    val dir = graft.TestSpark.tmpDir("graft-ivf-meta")
    idx.save(dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val loadedHits = Similarity.ivfProbe(loaded.filtered(pred), q,
      "vec_id", "embedding", k = 5, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(loadedHits == hits, "saved-index filtered probe diverged")
    // the filtered view is a narrow scan+filter — no shuffle, no join —
    // so candidate pruning happens AT the index scan, before any probe
    val scan = loaded.filtered(pred).assigned.queryExecution.executedPlan.toString
    assert(!scan.contains("Exchange") && scan.toLowerCase.contains("label"),
      s"filtered assigned must stay a narrow filtered scan:\n$scan")
    // a filtered VIEW owns no tree and no lineage: close() must not be
    // able to delete the full index, and save() of the subset must not
    // stamp the full index's parent as its own
    val view = loaded.filtered(pred)
    assert(view.savedDir.isEmpty && view.parent.isEmpty,
      "filtered view must drop savedDir and parent")
    IndexFamily.Ivf.close(loaded)
  }

  test("extendIvfIndex: frozen centroids, assignment matches a plain argmin, new vectors probe-visible") {
    val e = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "embeddings")
    val a = e.filter(col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") % 2 =!= 0)
    val idx = Similarity.ivfFit(a, "vec_id", "embedding", nlist = 8)

    // the fitted assignment must equal a plain-Scala argmin over the
    // collected centroids and vectors (squared Euclidean: float
    // differences and squares summed in double, ties to the lowest
    // cell) — the non-circular anchor for the assignment semantics that
    // fit and extension share
    val ctrs = idx.centers.select("cell", "center").as[(Int, Seq[Float])]
      .collect().sortBy(_._1)
    assert(ctrs.length == 8)
    val argminCells = a.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) =>
        id -> ctrs.minBy { case (_, c) =>
          v.indices.foldLeft(0.0) { (acc, i) => val d = v(i) - c(i); acc + d * d }
        }._1
      }.toMap
    val fittedCells = idx.assigned.select("neighbor_id", "cell")
      .as[(Long, Int)].collect().toMap
    assert(fittedCells == argminCells,
      "ivfFit's assignment must agree with the argmin over its own centroids")

    // extension: every corpus vector present exactly once, and the
    // result equals assigning the UNION with the same frozen centroids
    val extended = IndexFamily.Ivf.extend(idx, b, "vec_id", "embedding")
    assert(extended.assigned.count() == e.count())
    val extCells = extended.assigned.select("neighbor_id", "cell")
      .as[(Long, Int)].collect().toMap
    val unionCells = Similarity.assignToCells(e, idx.centers, "vec_id", "embedding")
      .select("neighbor_id", "cell").as[(Long, Int)].collect().toMap
    assert(extCells == unionCells,
      "extend(fit(A), B) must equal assigning A union B with A's centroids")

    // the extension is probe-visible: a near-copy of an EXTENSION (B)
    // vector must hit it at rank 1
    import org.apache.spark.sql.functions.{transform => atransform}
    val bId = b.orderBy("vec_id").select("vec_id").as[Long].head()
    val probe = b.filter(col("vec_id") === bId)
      .select((col("vec_id") + 90000).as("vec_id"),
        atransform(col("embedding"), x => x * 1.01f + 0.001f).as("embedding"))
    val top = Similarity.ivfProbe(extended, probe, "vec_id", "embedding",
      k = 1, nprobe = 2)
      .select("neighbor_id").as[Long].head()
    assert(top == bId, s"near-copy of extension vector $bId must be its top-1, got $top")
  }

  test("ivfProbe: an id extended twice surfaces once, with its larger cosine") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{transform => atransform}
    val e = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "embeddings")
    val idx = Similarity.ivfFit(e, "vec_id", "embedding", nlist = 8)
    // re-adding held ids is the append-only misuse: each id below 40 now
    // has two rows, the second a perturbed copy, in the same or another cell
    val twice = IndexFamily.Ivf.extend(idx, e.filter(col("vec_id") < 40).select(col("vec_id"),
      atransform(col("embedding"), (x, i) => x + when(i % 2 === 0, 0.05f).otherwise(-0.05f))
        .as("embedding")), "vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 40).select((col("vec_id") + 90000).as("vec_id"),
      atransform(col("embedding"), x => x * 1.01f + 0.001f).as("embedding"))
    val (k, nprobe) = (5, 4)
    val got = Similarity.ivfProbe(twice, queries, "vec_id", "embedding", k, nprobe)
      .as[(Long, Long, Double, Long)].collect().sorted
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length,
      "each neighbour surfaces once per query")

    // the reference: the same scored pairs, deduplicated by a
    // (query_id, neighbor_id) aggregate and ranked behind its own exchange
    val scored = twice.assigned.join(broadcast(Similarity.nearestCells(
        queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
        twice.centers, nprobe)), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions.cosine_similarity(col("q_vec"), col("c_vec"))
          .as("cosine"))
    assert(scored.count() > scored.select("query_id", "neighbor_id").distinct().count(),
      "some query must score both rows of a duplicated id")
    val want = scored.groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .as[(Long, Long, Double, Long)].collect().sorted
    assert(got.toSeq == want.toSeq)
  }

  test("removeFromIvfIndex: survivors keep their frozen-cell assignment; " +
    "retired ids vanish from probes") {
    val e = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "embeddings")
    val idx = Similarity.ivfFit(e, "vec_id", "embedding", nlist = 8)
    val rmIds = e.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val removed = IndexFamily.Ivf.remove(idx, rmIds, "vec_id", "embedding")
    // frozen-quantizer exactness: the surviving assignment equals
    // assigning the survivors with the SAME centers
    val gotCells = removed.assigned.select("neighbor_id", "cell")
      .as[(Long, Int)].collect().toMap
    val wantCells = Similarity.assignToCells(
      e.filter(col("vec_id") % 3 =!= 0), idx.centers, "vec_id", "embedding")
      .select("neighbor_id", "cell").as[(Long, Int)].collect().toMap
    assert(gotCells == wantCells,
      "remove(index, R).assigned must equal assignToCells(A \\ R, centers)")
    assert(removed.version === idx.version + 1)
    // the refresh contract: a probe that IS a retired vector no longer
    // finds it — the nearest survivor surfaces instead
    val rmId = e.filter(col("vec_id") % 3 === 0)
      .orderBy("vec_id").select("vec_id").as[Long].head()
    val hits = Similarity.ivfProbe(removed,
      e.filter(col("vec_id") === rmId), "vec_id", "embedding",
      k = 5, nprobe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.nonEmpty && !hits.contains(rmId),
      s"retired vector $rmId must never surface from the removed index")
  }

  test("removeFromLshIndex / removeFromPqIndex: retired ids vanish under " +
    "frozen hyperplanes/codebooks") {
    val e = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "embeddings")
    val rmIds = e.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val survIds = e.filter(col("vec_id") % 3 =!= 0)
      .select("vec_id").as[Long].collect().toSet

    // LSH: deterministic hyperplanes — remove(fit(A ∪ R), R) ≡ fit(A)
    // band-for-band, the embedding-index argument
    val lshAll = Similarity.lshFit(e, "vec_id", "embedding",
      planes = 8, bands = 4)
    val lshRemoved = IndexFamily.Lsh.remove(lshAll, rmIds, "vec_id", "embedding")
    val lshScratch = Similarity.lshFit(e.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", planes = 8, bands = 4)
    def bandSet(ix: Similarity.LshIndex) =
      ix.banded.select("neighbor_id", "band", "bucket")
        .as[(Long, Int, Long)].collect().toSet
    assert(bandSet(lshRemoved) == bandSet(lshScratch))
    assert(lshRemoved.version === lshAll.version + 1)

    // PQ: frozen codebooks — survivors' codes are the fitted rows
    // verbatim, retired ids absent
    val pqAll = Similarity.pqFit(e, "vec_id", "embedding", m = 8, ksub = 8)
    val pqRemoved = IndexFamily.Pq.remove(pqAll, rmIds, "vec_id", "embedding")
    assert(pqRemoved.codebooks == pqAll.codebooks)
    assert(pqRemoved.codes.select("neighbor_id").as[Long].collect().toSet
      == survIds)
    assert(pqRemoved.version === pqAll.version + 1)
  }

  test("assignToCells fails on an empty centroid table, naming it") {
    val e = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val idx = Similarity.ivfFit(e, "vec_id", "embedding", nlist = 4)
    val err = intercept[Exception](Similarity.assignToCells(e,
      idx.centers.filter(lit(false)), "vec_id", "embedding").collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("centroid table is empty")), s"got $err")
  }

  test("assignToCells ships centroids by broadcast, not as a plan literal") {
    val e = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "embeddings")
    val idx = Similarity.ivfFit(e, "vec_id", "embedding", nlist = 8)
    val assigned = Similarity.assignToCells(e, idx.centers, "vec_id", "embedding")
    // the centroid matrix must NOT ride the plan as an array literal
    // (a 64k-cell production index would serialize ~tens of MB into
    // every task binary); the broadcast-exchange transport ships it
    // once per executor instead
    val lits = assigned.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
        if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => l
    })
    assert(lits.isEmpty, s"centroid matrix leaked into the plan as a literal: $lits")
    val phys = assigned.queryExecution.executedPlan.toString
    assert(phys.contains("Broadcast"),
      s"centroids must arrive via a broadcast exchange:\n$phys")
  }

  test("filtered LSH: predicate prunes the bucket relation before the bucket join") {
    val e = graft.sources.Tables.load(spark, graft.TestSpark.Sf0001, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val pred = col("label") % 3 === 0

    val idx = Similarity.lshFit(e, "vec_id", "embedding",
      planes = 2, bands = 16, metaCols = Seq("label"))
    val hits = Similarity.lshProbe(idx.filtered(pred), q,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    // every neighbor satisfies the predicate — the filter ran INSIDE
    // candidate generation, not on a ranked result
    val allowed = e.filter(pred).select("vec_id").as[Long].collect().toSet
    assert(hits.forall { case (_, n) => allowed(n) },
      "filtered LSH probe returned a neighbor violating the predicate")

    // recall vs the filtered brute-force truth at the shared 0.7 floor
    val brute = Similarity.bruteForceTopK(e.filter(pred), q,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & hits).size.toDouble / brute.size
    assert(recall >= 0.7, s"filtered-LSH recall $recall below floor")

    // metadata rides through extendLshIndex: a filtered probe of an
    // extended index sees old and new vectors alike
    val half = Similarity.lshFit(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", planes = 2, bands = 16, metaCols = Seq("label"))
    val ext = IndexFamily.Lsh.extend(half,
      e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
    assert(ext.banded.columns.contains("label"))
    val extHits = Similarity.lshProbe(ext.filtered(pred), q,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // extend(fit(A), B) ≡ fit(A ∪ B): deterministic hyperplanes band
    // both halves identically on either path
    assert(extHits == hits, "extended filtered LSH probe diverged from full fit")

    // ...and through save/load: the production path (load a versioned
    // index, filter, probe) gives the same answer, with the predicate
    // reaching the parquet scan of the saved banded relation
    val dir = graft.TestSpark.tmpDir("graft-lsh-meta")
    IndexFamily.Lsh.save(idx, dir)
    val loaded = IndexFamily.Lsh.load(spark, dir)
    val loadedHits = Similarity.lshProbe(loaded.filtered(pred), q,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(loadedHits == hits, "saved-index filtered LSH probe diverged")
    val scan = loaded.filtered(pred).banded.queryExecution.executedPlan.toString
    assert(!scan.contains("Exchange") && scan.toLowerCase.contains("label"),
      s"filtered banded must stay a narrow filtered scan:\n$scan")
    // same view contract as IvfIndex.filtered: no tree, no lineage
    val view = loaded.filtered(pred)
    assert(view.savedDir.isEmpty && view.parent.isEmpty,
      "filtered LSH view must drop savedDir and parent")
    IndexFamily.Lsh.close(loaded)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "close() must delete the saved LSH tree")
  }
}
