package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.extensions.IndexFamily

/**
 * Physical-plan regression guards for the scale-critical plan shapes
 * (SURVEY §7.4, PLANS.md): these properties — predicate pushdown reaching
 * the scan, dimensions broadcasting, map-side combine before a single
 * shuffle, shuffle-free narrow kernels — are what make the operators hold
 * at 100 TB, and they can silently regress under a refactor while every
 * correctness oracle stays green. Each test executes the query (AQE
 * finalizes plans only at runtime) and asserts on the formatted plan.
 */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  /** Execute, then render the formatted plan (execution finalizes AQE, so
    * the tree shows the plan that actually ran). */
  private def finalPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.toRdd.count()
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  /** Count a node in the EXECUTED tree only — an executed AQE explain also
    * echoes the initial (pre-runtime-reopt) tree and a per-node detail
    * section, which would double-count. Word-bounded, so "Exchange" does
    * not match inside "BroadcastExchange". */
  private def treeCount(plan: String, pattern: String): Int =
    pattern.r.findAllIn(plan.split("== Initial Plan ==")(0)).size

  private def nodeCount(plan: String, node: String): Int =
    treeCount(plan, "\\b" + node + "\\b")

  /** Tokenize sites in a plan string: the native `tokens(` kernel or a
    * regex `split(` (the composed tokenizer's core). */
  private def tokenizeSites(plan: String): Int =
    "\\btokens\\(|\\bsplit\\(".r.findAllIn(plan).size

  test("capture window predicate reaches the parquet scan (raw-column pushdown)") {
    val plan = finalPlan("cdc_snapshot_window")
    // the half-open window must push as min/max-prunable filters on the RAW
    // physical column (long nanos or naive micros, per harness generation) —
    // a filter above the normalizing projection reaches the scan as
    // IsNotNull only and prunes nothing
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert("GreaterThan\\(ts,[^)]+\\)".r.findFirstIn(plan).nonEmpty,
      s"window lower bound must push to the scan as a raw-column literal:\n${plan.take(2000)}")
    assert("LessThanOrEqual\\(ts,[^)]+\\)".r.findFirstIn(plan).nonEmpty,
      "window upper bound must push to the scan")
  }

  test("star join: dimensions broadcast, no sort-merge, fact scan pruned") {
    val plan = finalPlan("q_join_revenue")
    assert(nodeCount(plan, "BroadcastHashJoin") >= 2,
      s"customer and nation must broadcast:\n${plan.take(2000)}")
    assert(nodeCount(plan, "SortMergeJoin") == 0,
      "no sort-merge join may appear in the star join at this scale")
    assert(nodeCount(plan, "CartesianProduct") == 0)
    // column pruning: the fact scan reads exactly the 3 referenced columns
    val factSchema = "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"
    assert(plan.contains(factSchema),
      s"lineitem scan must be pruned to 3 columns:\n${plan.take(2000)}")
  }

  test("exact dedup groups: ONE map-side-combining shuffle") {
    val plan = finalPlan("dedup_exact_groups")
    assert(nodeCount(plan, "Exchange") == 1,
      s"exactly one shuffle (on the content hash):\n${plan.take(2000)}")
    assert(nodeCount(plan, "HashAggregate") == 2,
      "partial (map-side) + final aggregate — the combining shape")
    assert(nodeCount(plan, "Sort") == 0, "hash aggregation, never a sort")
  }

  test("brute-force ANN: the probe side broadcasts, the corpus never shuffles") {
    val plan = finalPlan("sim_topk_brute")
    assert(nodeCount(plan, "BroadcastExchange") >= 1,
      s"the query set must broadcast:\n${plan.take(2000)}")
    assert(nodeCount(plan, "SortMergeJoin") == 0)
  }

  test("text kernels: zero shuffles, whole-stage codegen") {
    for (q <- Seq("text_stats", "text_langid", "text_fingerprint")) {
      val plan = finalPlan(q)
      assert(nodeCount(plan, "Exchange") == 0,
        s"$q is a narrow one-pass kernel; no shuffle allowed:\n${plan.take(1500)}")
    }
    // the formatted tree stars nodes running inside WholeStageCodegen; the
    // custom-Expression kernel projections must carry the star (text_langid
    // too: its tokenizer, BPE count, language and stopword kernels are all
    // native, with no interpreted higher-order lambda left in the Project)
    for (q <- Seq("text_stats", "text_fingerprint", "text_langid")) {
      val plan = finalPlan(q)
      assert(treeCount(plan, """\* Project""") >= 1,
        s"$q's kernel projection must stay inside whole-stage codegen:\n${plan.take(1500)}")
    }
  }

  test("domain-mix sampling: zero shuffles — mixing table broadcasts, filter is per-row") {
    val plan = finalPlan("text_domain_mix")
    // the mixture step must never shuffle the corpus: the fractions
    // table broadcasts and the md5-threshold filter evaluates per row —
    // any Exchange here re-shuffles 100 TB to sample it
    assert(nodeCount(plan, "Exchange") == 0,
      s"stratifiedSample must be shuffle-free:\n${plan.take(1500)}")
    assert(nodeCount(plan, "BroadcastHashJoin") >= 1,
      s"the mixing table must broadcast:\n${plan.take(1500)}")
  }

  test("sequence packing: exactly one shuffle (the shard key), one in-shard sort") {
    val plan = finalPlan("text_pack")
    // one Exchange on the shard key carries ALL the parallelism; a second
    // would mean the window re-partitioned on something else
    assert(nodeCount(plan, "Exchange") == 1,
      s"packSequences must shuffle once, on the shard key:\n${plan.take(1500)}")
    assert(nodeCount(plan, "Window") == 1)
  }

  test("decontamination: eval grams broadcast, the training corpus never shuffles for the join") {
    val plan = finalPlan("text_decontaminate")
    // both joins (gram semi-join, id anti-join) must broadcast — the
    // train side is the 100 TB side; the only Exchanges allowed are the
    // skinny ones BELOW the broadcasts (eval gram distinct, contaminated
    // -id distinct), never a repartition of the training rows
    assert(nodeCount(plan, "SortMergeJoin") == 0 &&
      nodeCount(plan, "ShuffledHashJoin") == 0,
      s"decontamination joins must broadcast:\n${plan.take(2000)}")
    assert(treeCount(plan, "BroadcastHashJoin LeftSemi") >= 1,
      s"gram probe must be a broadcast semi-join:\n${plan.take(2000)}")
    assert(treeCount(plan, "BroadcastHashJoin LeftAnti") >= 1,
      s"the survivor filter must be a broadcast anti-join:\n${plan.take(2000)}")
  }

  test("bloom decontamination: corpus grams pruned map-side, no shuffle before the bloom probe") {
    import org.apache.spark.sql.functions.col
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val train = d.filter(col("doc_id") % 11 =!= 0)
    val evalSet = d.filter(col("doc_id") % 11 === 0)
    // the factored map-side leg IS the scale contract: shingle → hash →
    // bloom probe with ZERO Exchange — the 100 TB corpus never shuffles
    // to discover its suspects
    val suspects = graft.extensions.CorpusOps.bloomSuspectGrams(
      train, evalSet, "doc_id", "text", shingleK = 8, fpp = 0.01)
    suspects.queryExecution.toRdd.count()
    val sPlan = suspects.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(treeCount(sPlan, "bloom_might_contain") >= 1,
      s"the broadcast bloom probe must be in the plan:\n${sPlan.take(2000)}")
    assert(nodeCount(sPlan, "Exchange") == 0,
      s"no shuffle before the bloom filter on the corpus side:\n${sPlan.take(2000)}")

    // and the full operator keeps the composition honest: bloom probe
    // present, survivor filter still a broadcast anti-join of the skinny
    // contaminated-id set against the training rows
    val plan = finalPlan("text_decontam_bloom")
    // condition text lives in the detail blocks (after the AQE tree
    // sections), so search the whole formatted string for the probe
    assert(plan.contains("bloom_might_contain"),
      s"bloom probe missing from the registered query:\n${plan.take(2000)}")
    assert(treeCount(plan, "BroadcastHashJoin LeftAnti") >= 1,
      s"the survivor filter must be a broadcast anti-join:\n${plan.take(2000)}")
  }

  test("full prep pipeline: broadcast-only joins, bounded shuffles, no cartesian") {
    val plan = finalPlan("text_pipeline_full")
    // five composed stages must not multiply shuffles: the gate and the
    // mix are narrow, so only the skinny decontamination/dedup
    // distincts, the shard window, and the final combining aggregate
    // may exchange — and every join must broadcast (the corpus side is
    // the 100 TB side at every stage)
    assert(nodeCount(plan, "CartesianProduct") == 0)
    assert(nodeCount(plan, "SortMergeJoin") == 0 &&
      nodeCount(plan, "ShuffledHashJoin") == 0,
      s"all pipeline joins must broadcast:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Exchange") <= 5,
      s"stage composition must not multiply shuffles:\n${plan.take(2000)}")
  }

  test("corpus dedup: the keep-set anti-join broadcasts the loser side") {
    val plan = finalPlan("dedup_near_corpus")
    // the corpus side must stream through a broadcast anti-join — a
    // shuffled (sort-merge) anti here would re-shuffle 100 TB of corpus
    // for a skinny loser set
    assert(treeCount(plan, "BroadcastHashJoin LeftAnti") >= 1,
      s"keepRepresentatives must anti-join via broadcast:\n${plan.take(2000)}")
  }

  test("as-of join: union+window merge shape — no join node, no row explosion") {
    val plan = finalPlan("q_asof_join")
    // the naive formulation plans the r.t <= l.t inequality as a
    // nested-loop/cartesian per key and multiplies rows by version count;
    // the merge shape has NO join operator at all — one shuffle on the
    // key, one per-partition sort, one Window carrying the last right
    // payload forward
    for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct",
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
      assert(nodeCount(plan, bad) == 0,
        s"as-of must not plan a $bad:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Window") >= 1, s"windowed merge:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Union") >= 1, "both sides union into one timeline")
    assert(nodeCount(plan, "Exchange") == 1,
      s"exactly one shuffle (hash on the join key):\n${plan.take(2000)}")
  }

  test("range join: bin-explode equi-join — no nested loop, no cartesian") {
    val plan = finalPlan("q_range_join")
    // a raw lo <= t < hi inequality join plans as BroadcastNestedLoop
    // (quadratic per key); the binning rewrite explodes intervals to
    // their bins (Generate) and hash-joins on (key, bin) with the exact
    // predicate as a residual filter
    assert(nodeCount(plan, "BroadcastNestedLoopJoin") == 0,
      s"the inequality must never reach the join operator:\n${plan.take(2000)}")
    assert(nodeCount(plan, "CartesianProduct") == 0)
    assert(nodeCount(plan, "Generate") >= 1,
      s"intervals must explode to bins:\n${plan.take(2000)}")
    assert(Seq("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
      .map(nodeCount(plan, _)).sum >= 1,
      s"bins must equi-join (hash or merge):\n${plan.take(2000)}")
  }

  test("incremental dedup probe: serves from the persisted index, anti-join broadcasts") {
    val plan = finalPlan("dedup_incremental")
    // the probe must read the corpus index from the persisted relation —
    // a probe that re-derives postings from the corpus parquet re-pays
    // the full index build on every ingest batch
    assert(treeCount(plan, "InMemoryTableScan") >= 1,
      s"probe must scan the persisted index:\n${plan.take(2000)}")
    // the terminal anti-join drops a SKINNY dup-id set from the batch:
    // broadcast, never a shuffled merge of the batch side
    assert(treeCount(plan, "BroadcastHashJoin LeftAnti") >= 1,
      s"dup-ids must broadcast into the anti-join:\n${plan.take(2000)}")
    assert(nodeCount(plan, "CartesianProduct") == 0)
  }

  test("saved-index probe: reads the on-disk index, anti-join still broadcasts") {
    val plan = finalPlan("dedup_incremental_saved")
    // the cold-start lifecycle: the index comes from parquet (a fresh
    // ingest job has no fitting session to serve an InMemoryTableScan),
    // and the probe keeps the same scale shape as the cached form —
    // broadcast anti-join, no cartesian, no corpus re-derivation
    assert(treeCount(plan, "BroadcastHashJoin LeftAnti") >= 1,
      s"dup-ids must broadcast into the anti-join:\n${plan.take(2000)}")
    assert(nodeCount(plan, "CartesianProduct") == 0)
    assert(nodeCount(plan, "BroadcastNestedLoopJoin") == 0)
  }

  test("composed pipeline: filter below the dedup semi-join, two combining shuffles") {
    val plan = finalPlan("text_pipeline")
    // gate -> dedup -> split in one plan: the dedup keep-set must
    // broadcast into a semi-join (never a shuffled merge of the corpus),
    // and the only shuffles are the two combining aggregations (dedup
    // groups, split stats)
    assert(treeCount(plan, "BroadcastHashJoin LeftSemi") >= 1,
      s"dedup keep-set must broadcast:\n${plan.take(2000)}")
    assert(nodeCount(plan, "SortMergeJoin") == 0)
    assert(nodeCount(plan, "Exchange") == 2,
      s"exactly two shuffles (group-by-text, group-by-split):\n${plan.take(2000)}")
  }

  test("sketch envelopes: split formulation — no Expand in either sketch plan") {
    // Round 12 reformulated both sketch rows to compute the DISTINCT
    // aggregates and the value-buffering aggregates (exact percentile
    // buffers) in SEPARATE subplans joined at the end: mixing them makes
    // Catalyst plan an Expand that pushes every row through the
    // percentile buffers twice (measured 4.4 s -> 2.0 s cold, PLANS.md
    // "Measurements the code comments cite"). At 100 TB the Expand
    // doubles the widest shuffle in the query. Pin the shape so the
    // regression can't silently return.
    for (q <- Seq("q_sketch_accuracy", "q_approx_sketch")) {
      val plan = finalPlan(q)
      assert(nodeCount(plan, "Expand") == 0,
        s"$q must keep DISTINCT split from value-buffering aggregates — " +
          s"an Expand means the mixed formulation is back:\n${plan.take(2000)}")
    }
  }

  test("multimodal ingest: file-parallel source, no shuffle before projection") {
    val plan = finalPlan("multimodal_ingest")
    assert(nodeCount(plan, "Exchange") == 0,
      s"binaryFile ingest + meta projection must be narrow:\n${plan.take(1500)}")
  }

  test("Rep-n battery: zero-shuffle scan projection, no Expand, no Generate") {
    // the whole within-doc repetition battery is per-row array
    // arithmetic — any Exchange/Generate here means the n-gram work
    // left the row and the operator stopped being free at 100 TB
    val plan = finalPlan("text_rep_ngrams")
    assert(nodeCount(plan, "Exchange") == 0,
      s"text_rep_ngrams must be a narrow projection:\n${plan.take(1500)}")
    assert(nodeCount(plan, "Generate") == 0 && nodeCount(plan, "Expand") == 0,
      s"n-grams must stay inside the row, not explode:\n${plan.take(1500)}")
  }

  test("Rep-n gate: interpreted metrics evaluated once — filter must NOT inline them") {
    // predicate pushdown through the metric projection inlines the
    // higher-order kernels into the filter (21 re-tokenizations per row
    // measured; 15x slower than the sibling projection row). The
    // non-deterministic barrier column pins the projection below the
    // filter; this counts the tokenize calls in the optimized plan to
    // keep it that way.
    val df = graft.SparkEntry.queries("text_rep_gate")(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    val splits = tokenizeSites(plan)
    assert(splits <= 2,
      s"tokenization appears ${splits}x — pushdown re-inlined the metrics:\n${plan.take(2000)}")
  }

  test("window-dedup census: map-side combine, shuffles only on the window hash") {
    // the census is one Generate (windows out of each doc) and then
    // aggregation keyed on win_hash ONLY — the distinct-doc count plans
    // as a two-level aggregate over (win_hash, doc_id) without an
    // Expand, and every Exchange hashes on win_hash (the bounded key);
    // an Exchange keyed on doc_id or a missing partial_ aggregate means
    // a corpus-sized unaggregated shuffle at scale
    val plan = finalPlan("text_window_dupes")
    assert(nodeCount(plan, "Expand") == 0, s"no Expand:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Generate") == 1,
      s"exactly one window explode:\n${plan.take(2000)}")
    assert(plan.contains("partial_count"),
      s"map-side combine must precede the shuffle:\n${plan.take(2000)}")
    // FormattedMode puts partitioning ARGUMENTS in the per-node detail
    // section (after both trees), so scan the whole output; the initial
    // plan's exchanges carry the same keys, making the every-shuffle
    // claim safe to check across both
    val exchanges = "hashpartitioning\\(([^,)]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.startsWith("win_hash")),
      s"every shuffle must key on win_hash, got $exchanges:\n${plan.take(2000)}")
  }

  test("boilerplate census: one line explode, shuffles keyed on the source") {
    // one Generate (the line split), map-side combine, and every
    // Exchange keyed on (source, line_hash) — the census key. An
    // Exchange on doc_id here would be a corpus-sized unaggregated
    // shuffle; an Expand would mean the distinct-doc count lost its
    // two-level aggregate plan.
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val df = graft.extensions.Dedup.boilerplateLines(
      d, "doc_id", "text", "source", minDocs = 3)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(nodeCount(plan, "Expand") == 0, s"no Expand:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Generate") == 1,
      s"exactly one line explode:\n${plan.take(2000)}")
    assert(plan.contains("partial_count"),
      s"map-side combine must precede the shuffle:\n${plan.take(2000)}")
    val exchanges = "hashpartitioning\\(([^,)]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.startsWith("source")),
      s"every shuffle must key on (source, line_hash), got $exchanges:\n${plan.take(2000)}")
  }

  test("boilerplate scrub over a threaded persisted lines relation: zero re-explode") {
    // the shared lines relation is the family's ONE explode; a consumer
    // that re-explodes (for totals or the anti-join) re-pays the corpus
    // pass — totals must come from per-row arithmetic over df
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val lines = graft.extensions.Dedup.lineRelation(
      d, "doc_id", "text", "source").persist()
    try {
      lines.count()
      val census = graft.extensions.Dedup.boilerplateLines(
        d, "doc_id", "text", "source", minDocs = 3, lines = Some(lines))
      val df = graft.extensions.Dedup.scrubBoilerplate(
        d, "doc_id", "text", "source", minDocs = 3,
        census = Some(census), lines = Some(lines))
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("InMemoryTableScan"),
        s"the threaded lines relation must be consumed from cache:\n${plan.take(2000)}")
      // an InMemoryRelation node ECHOES its cached plan (which
      // legitimately contains the one Generate) — count only LIVE
      // nodes, i.e. drop every line nested deeper than an
      // InMemoryRelation marker
      def nameCol(l: String): Int = l.indexWhere(c => c.isLetter || c == '*')
      val live = new StringBuilder
      var echoCol = -1
      plan.split("== Initial Plan ==")(0).linesIterator.foreach { l =>
        val c = nameCol(l)
        if (echoCol >= 0 && c >= 0 && c <= echoCol) echoCol = -1
        if (echoCol < 0) {
          if (l.contains("InMemoryRelation")) echoCol = c
          else { live.append(l).append('\n'); () }
        }
      }
      assert("\\bGenerate\\b".r.findAllIn(live.toString).isEmpty,
        s"scrub must not re-explode lines:\n${plan.take(2500)}")
    } finally { lines.unpersist(); () }
  }

  test("corpus diff: the full-outer join exchanges only (id, hash) — text never shuffles") {
    // both snapshots project to (doc_id, md5) BEFORE the join; an
    // Exchange keyed on anything but doc_id, or carrying the text
    // column, would ship corpus text through the wire at scale
    val plan = finalPlan("corpus_diff")
    val exchanges = "hashpartitioning\\(([^,)]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.startsWith("doc_id")),
      s"every shuffle must key on doc_id, got $exchanges:\n${plan.take(2000)}")
    // the join node's inputs are the two skinny hash projections
    val joinBlock = plan.split("\\(\\d+\\) ")
      .find(b => b.contains("Join FullOuter"))
    assert(joinBlock.isDefined, s"no full-outer join node:\n${plan.take(2000)}")
    assert(!joinBlock.get.contains("text#"),
      s"text must be projected away before the join:\n${joinBlock.get.take(1200)}")
  }

  test("BM25 top-k: no explode, no corpus-keyed shuffle, TakeOrdered not a global sort") {
    // the query-terms kernel is a narrow projection: corpus stats
    // reduce to ONE row (the only Exchange is the scalar agg's
    // SinglePartition), which re-joins by broadcast; top-k is
    // TakeOrderedAndProject (per-partition heads merged on the driver),
    // never a rangepartitioning global sort
    val plan = finalPlan("search_bm25")
    assert(nodeCount(plan, "Generate") == 0,
      s"no token explode in the BM25 kernel:\n${plan.take(2000)}")
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      s"only the scalar-stats SinglePartition exchange is allowed:\n${plan.take(2000)}")
    assert(treeCount(plan, "TakeOrderedAndProject") >= 1,
      s"top-k must plan as TakeOrderedAndProject:\n${plan.take(2000)}")
  }

  test("PQ probe on a saved index: ADC scan reads codes only (c_vec pruned until re-rank)") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 300)
    val idxDir = TestSpark.tmpDir("graft-pq-planshape")
    IndexFamily.Pq.save(graft.extensions.Similarity.pqFit(e, "vec_id", "embedding",
      m = 8, ksub = 8), idxDir)
    val loaded = IndexFamily.Pq.load(spark, idxDir)
    val df = graft.extensions.Similarity.pqProbe(loaded,
      e.filter(col("vec_id") === 0), "vec_id", "embedding",
      k = 5, rerank = 20)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // the compressed scan is PQ's whole point: the corpus-sized pass
    // reads 8 B of codes per vector, NOT the 256 B c_vec column — the
    // vectors are read only by the rerank-sized exact join
    assert(plan.contains("ReadSchema: struct<neighbor_id:bigint,codes:array<int>>"),
      s"the ADC scan must prune c_vec:\n${plan.take(3000)}")
    assert(nodeCount(plan, "SortMergeJoin") == 0,
      s"both probe joins broadcast their small side:\n${plan.take(2000)}")
    // the ADC rank window must shuffle ONLY (query_id, neighbor_id,
    // __adc): at N x Q rows a dim-float q_vec payload dominates the
    // exchange, so it is re-joined broadcast for the exact pass instead
    // (r13 judge item #6). FormattedMode prints each node's Input list
    // in its detail block — pin the __ar window's input to the three
    // skinny columns.
    val winBlock = plan.split("\\(\\d+\\) ")
      .find(b => b.startsWith("Window") && b.contains("__ar"))
    assert(winBlock.isDefined, s"no __ar Window node:\n${plan.take(2000)}")
    assert(winBlock.get.linesIterator
      .find(_.startsWith("Input")).exists(l =>
        l.contains("Input [3]") && !l.contains("q_vec")),
      s"ADC rank window must see only the skinny triple:\n${winBlock.get}")
    IndexFamily.Pq.close(loaded)
  }

  test("IVF-PQ probe on a saved index: codes-only ADC scan over the cell-partitioned tree") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 300)
    val idxDir = TestSpark.tmpDir("graft-ivfpq-planshape")
    IndexFamily.IvfPq.save(graft.extensions.Similarity.ivfPqFit(e, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 8), idxDir)
    val loaded = IndexFamily.IvfPq.load(spark, idxDir)
    val df = graft.extensions.Similarity.ivfPqProbe(loaded,
      e.filter(col("vec_id") === 0), "vec_id", "embedding",
      k = 5, nprobe = 2, rerank = 20)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // the composed scan reads codes only — `cell` is a PARTITION column
    // of the saved tree (file-level pruning key), so the data-file
    // ReadSchema must be exactly (neighbor_id, codes): c_vec pruned
    // until the rerank-sized exact join, vectors never ride the scan
    assert(plan.contains("ReadSchema: struct<neighbor_id:bigint,codes:array<int>>"),
      s"the ADC scan must prune c_vec:\n${plan.take(3000)}")
    assert(nodeCount(plan, "SortMergeJoin") == 0,
      s"cell join + both probe joins broadcast their small side:\n${plan.take(2000)}")
    // the exact re-rank read must be cell-pruned too (ADVICE r14): both
    // the codes scan AND the c_vec scan carry a live dynamic-partition-
    // pruning filter on `cell` — without it every probe row-scans every
    // cell's vector files for the rerank join
    val scanBlocks = plan.split("\\(\\d+\\) ").filter(_.startsWith("Scan parquet"))
    def livePruned(schema: String) = scanBlocks.exists(b =>
      b.contains(s"ReadSchema: struct<$schema") &&
        b.linesIterator.exists(l => l.startsWith("PartitionFilters") &&
          l.contains(" IN dynamicpruning#")))
    assert(livePruned("neighbor_id:bigint,codes:array<int>"),
      s"ADC codes scan must be DPP-pruned by the probed cells:\n${plan.take(3000)}")
    assert(livePruned("neighbor_id:bigint,c_vec:array<float>"),
      s"rerank c_vec scan must be DPP-pruned by the probed cells:\n${plan.take(3000)}")
    // same skinny-rank-exchange contract as pqProbe, PLUS the carried
    // `cell` (4 B int — r16: candidates carry their cell through the
    // rank so the rerank join keys on (cell, neighbor_id) and the c_vec
    // DPP rides the candidate broadcast instead of a second per-probe
    // cell-set broadcast). The pin stays: no q_vec — a dim-float
    // payload on the N x Q exchange is the thing this forbids.
    val winBlock = plan.split("\\(\\d+\\) ")
      .find(b => b.startsWith("Window") && b.contains("__ar"))
    assert(winBlock.isDefined, s"no __ar Window node:\n${plan.take(2000)}")
    assert(winBlock.get.linesIterator
      .find(_.startsWith("Input")).exists(l =>
        l.contains("Input [4]") && l.contains("cell") && !l.contains("q_vec")),
      s"ADC rank window must see only (query_id, neighbor_id, cell, __adc):\n${winBlock.get}")
    IndexFamily.IvfPq.close(loaded)
  }

  test("IVF probe on a saved index: one rank exchange, dedup and rank in one stage") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 300)
    val idxDir = TestSpark.tmpDir("graft-ivf-planshape")
    graft.extensions.Similarity.ivfFit(e, "vec_id", "embedding", nlist = 4).save(idxDir)
    val loaded = graft.extensions.Similarity.loadIvfIndex(spark, idxDir)
    val df = graft.extensions.Similarity.ivfProbe(loaded,
      e.filter(col("vec_id") < 4), "vec_id", "embedding", k = 5, nprobe = 2)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan match {
        case result: QueryStageExec => result.plan
        case p => p
      }
      case p => p
    }
    // two hash exchanges, both on query_id: the nearestCells window's and
    // the one the dedup aggregate and the rank window share
    assert(nodeCount(plan, "Exchange") == 2, s"two exchanges:\n${plan.take(3000)}")
    val keys = new AdaptiveSparkPlanHelper {}.collect(root) {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }
    assert(keys.size == 2 && keys.forall {
      case h: HashPartitioning => h.expressions.map(_.sql) == Seq("query_id")
      case _ => false
    }, s"both exchanges hash on query_id alone: $keys")
    assert(nodeCount(plan, "SortMergeJoin") == 0,
      s"the cell join broadcasts the probed cells:\n${plan.take(2000)}")
    // below the rank Window, the dedup aggregate runs before any stage boundary
    def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: QueryStageExec | _: Exchange => Nil
      case _ => p.children.flatMap(stage)
    })
    // the topmost Window ranks; the nearestCells one sits behind the probe broadcast
    val win = root.collectFirst { case w: WindowExec => w }
    assert(win.exists(stage(_).exists(_.isInstanceOf[BaseAggregateExec])),
      s"the dedup aggregate must sit in the rank Window's stage:\n$root")
    IndexFamily.Ivf.close(loaded)
  }

  test("classifier score: pure scan projection, zero shuffles") {
    // tokenize -> bucket -> weight-sum is all within-row arithmetic;
    // ANY Exchange here means a 100 TB corpus shuffles to be scored
    val plan = finalPlan("text_classifier_score")
    assert(nodeCount(plan, "Exchange") == 0,
      s"classifier scoring must not shuffle:\n${plan.take(2000)}")
    assert(nodeCount(plan, "BroadcastExchange") == 0)
    assert(nodeCount(plan, "Sort") == 0)
  }

  test("pipeline_curate: one combining shuffle, no sort, tokens staged once") {
    // keep-first dedup is per-column min (identical within a
    // fingerprint group), which hash-aggregates — a struct-min would
    // plan as SortAggregate and sort BOTH sides of the shuffle
    val plan = finalPlan("pipeline_curate")
    assert(nodeCount(plan, "Exchange") == 1,
      s"exactly one shuffle (on the fingerprint):\n${plan.take(2000)}")
    assert(nodeCount(plan, "HashAggregate") == 2,
      "partial (map-side) + final aggregate — the combining shape")
    assert(nodeCount(plan, "Sort") == 0, "hash aggregation, never a sort")
    assert(nodeCount(plan, "SortMergeJoin") == 0 &&
      nodeCount(plan, "BroadcastHashJoin") == 0, "dedup by agg, not self-join")
    // the rep_gate barrier contract: pushdown must not re-inline the
    // metric kernels into the gate (each inlining re-tokenizes the doc).
    // Exactly 2 tokenize sites are intrinsic: the staged __toks tokenize
    // appears once PER UNION LEG (base + planted copies — each row
    // tokenizes once, in its own leg); re-inlining would add one per
    // metric reference (~6+)
    val opt = graft.SparkEntry.queries("pipeline_curate")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val splits = tokenizeSites(opt)
    assert(splits <= 2,
      s"tokenization appears ${splits}x — pushdown re-inlined the metrics:\n${opt.take(2000)}")
  }

  test("pipeline_funnel: one pass over the corpus, skinny distinct") {
    // all four stage flags evaluate in ONE projection over one scan
    // pair (base + planted union); the only shuffles carry the
    // (fingerprint, flags) skinny stream into the distinct/final agg
    val plan = finalPlan("pipeline_funnel")
    assert(nodeCount(plan, "Exchange") <= 2,
      s"at most the distinct-agg exchange pair:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Expand") == 0,
      s"single-distinct plans without Expand:\n${plan.take(2000)}")
    assert(nodeCount(plan, "SortMergeJoin") == 0 &&
      nodeCount(plan, "CartesianProduct") == 0)
  }

  test("quota sample: bounded tree ranks, full rows never sorted") {
    // two Window levels = two skinny exchanges; the quota table and the
    // kept-key set join back by broadcast — the full-width corpus rows
    // are never sorted or shuffled (at 100 TB the sort is the killer:
    // level-1 sorts are per (stratum x bucket), level 2 sorts <=
    // fanout x quota survivors)
    val plan = finalPlan("corpus_quota_sample")
    assert(nodeCount(plan, "Exchange") == 2,
      s"two skinny rank exchanges only:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Window") == 2)
    assert(nodeCount(plan, "SortMergeJoin") == 0,
      "kept-key set must broadcast back, never sort-merge")
    assert(nodeCount(plan, "BroadcastHashJoin") == 2,
      s"quota table + kept-key set both broadcast:\n${plan.take(2000)}")
  }

  test("word freq: map-side combine then TakeOrdered — never a global sort") {
    val plan = finalPlan("corpus_word_freq")
    assert(nodeCount(plan, "Exchange") == 1,
      s"one skinny (token, partial-n) shuffle:\n${plan.take(2000)}")
    assert(nodeCount(plan, "HashAggregate") == 2,
      "partial (map-side) + final — vocabulary-sized before it moves")
    assert(nodeCount(plan, "TakeOrderedAndProject") == 1,
      s"top-k must be TakeOrdered (per-partition heads), not a sort:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Sort") == 0)
  }

  test("rarity: freq broadcasts back to the exploded stream, skinny shuffles only") {
    val plan = finalPlan("text_rarity")
    assert(nodeCount(plan, "BroadcastHashJoin") == 1,
      s"the vocabulary-sized freq table must broadcast:\n${plan.take(2000)}")
    assert(nodeCount(plan, "SortMergeJoin") == 0)
    assert(nodeCount(plan, "Exchange") == 2,
      "vocab combining agg + per-doc combining agg — nothing else moves")
    assert(nodeCount(plan, "Sort") == 0)
  }

  test("vocab coverage: ranks only the bounded top-k, never the vocabulary") {
    // the cumulative window must run AFTER the TakeOrdered cut — a
    // window over the full vocabulary is a single-task sort of every
    // distinct token at 100 TB
    val plan = finalPlan("corpus_vocab_coverage")
    assert(nodeCount(plan, "TakeOrderedAndProject") == 1,
      s"the vocabulary cut must be TakeOrdered:\n${plan.take(2000)}")
    assert(nodeCount(plan, "Window") == 1)
    assert(nodeCount(plan, "SortMergeJoin") == 0)
    assert(nodeCount(plan, "Exchange") <= 3,
      s"freq agg + total agg + the K-row window stage only:\n${plan.take(2000)}")
  }

  test("profile: one pass over the table, no joins, exactly one Expand for exact distincts") {
    val plan = finalPlan("corpus_profile")
    assert(nodeCount(plan, "Expand") == 1,
      s"exact multi-distinct pays ONE Expand (its documented price):\n${plan.take(2000)}")
    assert(nodeCount(plan, "BroadcastHashJoin") == 0 &&
      nodeCount(plan, "SortMergeJoin") == 0, "profile never joins")
    assert(nodeCount(plan, "Exchange") <= 2,
      s"single aggregation cascade:\n${plan.take(2000)}")
  }

  test("mix plan: one combining aggregate over O(strata) groups") {
    val plan = finalPlan("corpus_mix_plan")
    assert(nodeCount(plan, "Exchange") == 1,
      s"one shuffle, on the stratum key:\n${plan.take(2000)}")
    assert(nodeCount(plan, "HashAggregate") == 2,
      "partial (map-side) + final — the corpus combines before moving")
    assert(nodeCount(plan, "BroadcastHashJoin") == 1,
      "the weight table broadcasts")
  }

  test("bigram freq: zipped-slice pairing — no posexplode self-join, TakeOrdered top-k") {
    val plan = finalPlan("corpus_bigram_freq")
    assert(nodeCount(plan, "Exchange") == 1,
      s"one skinny (w1, w2, partial-n) shuffle:\n${plan.take(2000)}")
    assert(nodeCount(plan, "HashAggregate") == 2,
      "partial (map-side) + final — bigram-vocabulary-sized before it moves")
    assert(nodeCount(plan, "SortMergeJoin") == 0 &&
      nodeCount(plan, "BroadcastHashJoin") == 0,
      "adjacent pairs come from zipped offset slices, never a positional self-join")
    assert(nodeCount(plan, "TakeOrderedAndProject") == 1 &&
      nodeCount(plan, "Sort") == 0,
      s"top-k must be TakeOrdered, not a sort:\n${plan.take(2000)}")
  }

  test("collocations: unigram table broadcasts twice, total is a 1-row narrow agg") {
    val plan = finalPlan("text_collocations")
    assert(nodeCount(plan, "BroadcastHashJoin") == 2,
      s"w1 and w2 unigram sides both broadcast:\n${plan.take(2000)}")
    assert(nodeCount(plan, "BroadcastNestedLoopJoin") == 1,
      "the 1-row total_pairs crossJoin broadcasts")
    assert(nodeCount(plan, "SortMergeJoin") == 0)
    assert(nodeCount(plan, "TakeOrderedAndProject") == 1 &&
      nodeCount(plan, "Sort") == 0,
      s"top-k by lift must be TakeOrdered:\n${plan.take(2000)}")
  }

  test("bigram novelty: fitted table broadcasts back to the exploded stream") {
    val plan = finalPlan("text_bigram_novelty")
    assert(nodeCount(plan, "BroadcastHashJoin") == 1,
      s"the fitted bigram table must broadcast:\n${plan.take(2000)}")
    assert(nodeCount(plan, "SortMergeJoin") == 0)
    assert(nodeCount(plan, "Sort") == 0)
  }

  test("shard export: one hash exchange on shard, the sort is per-partition only") {
    val df = graft.extensions.CorpusOps.shardExportFrame(
      graft.sources.Tables.load(spark, dir, "documents"),
      org.apache.spark.sql.functions.col("doc_id"), 8)
    df.queryExecution.toRdd.count()
    // the simple executed-plan string prints Sort's global flag inline
    // (`Sort [keys], <global>, 0`) and the exchange's partitioning
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("hashpartitioning") &&
      !plan.contains("rangepartitioning"),
      s"the exchange is hash, not range — no global order is ever computed:\n${plan.take(2000)}")
    // the Sort must be LOCAL (global=false): a global sort would
    // range-partition the corpus for an ordering no shard reader needs
    assert("Sort \\[[^\\]]*\\], true,".r.findAllIn(plan).isEmpty,
      s"export must never pay a global sort:\n${plan.take(2000)}")
    assert("Sort \\[[^\\]]*\\], false,".r.findAllIn(plan).size == 1,
      s"the one per-partition export-order sort:\n${plan.take(2000)}")
  }

  test("shard stats + order: stats aggregate combines map-side; order windows per shard") {
    val stats = finalPlan("pipeline_shard_stats")
    assert(nodeCount(stats, "HashAggregate") + nodeCount(stats, "SortAggregate") >= 2,
      "partial + final over nShards groups")
    assert(nodeCount(stats, "Exchange") == 1,
      s"one combining shuffle on shard:\n${stats.take(2000)}")
    val order = finalPlan("pipeline_shard_order")
    assert(nodeCount(order, "Window") == 1 && nodeCount(order, "Exchange") == 1,
      s"one shuffle on shard feeding the rank window:\n${order.take(2000)}")
  }

  test("text operators tokenize natively: no Lower, no lambda over a StringSplit") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, Expression,
      Lower, StringSplit}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.functions.col
    import graft.extensions.{CorpusOps, Dedup, Search}

    // Spark's Lower builds the collation case tables on first use, and a
    // higher-order lambda over split() is the interpreted composed
    // tokenizer; both are what the native Tokens kernel replaces
    def hazards(plan: LogicalPlan): Seq[String] = {
      def overSplit(e: Expression) = e.exists(_.isInstanceOf[StringSplit])
      plan.collectWithSubqueries { case p => p.expressions }.flatten.flatMap(_.collect {
        case l: Lower => l.toString
        case f: ArrayFilter if overSplit(f.argument) => f.toString
        case t: ArrayTransform if overSplit(t.argument) => t.toString
      })
    }
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    assert(hazards(docs.select(graft.functions.TextFunctions.tokensComposed(col("text")))
      .queryExecution.optimizedPlan).size == 2, "the matcher must flag the composed tokenizer")
    val plans = Seq(
      "curationMetrics" -> CorpusOps.curationMetrics(docs, col("doc_id"), col("text")),
      "minhashDupPairs" -> Dedup.minhashDupPairs(docs, "doc_id", "text"),
      "simhashDupPairs" -> Dedup.simhashDupPairs(docs, "doc_id", "text"),
      "scrubDuplicatedWindows" -> Dedup.scrubDuplicatedWindows(docs, "doc_id", "text"),
      "bm25Fit" -> Search.bm25Fit(docs, "doc_id", "text").docFreq)
    for ((name, df) <- plans) {
      val plan = df.queryExecution.optimizedPlan
      assert(tokenizeSites(plan.toString) >= 1, s"$name must tokenize:\n$plan")
      val found = hazards(plan)
      assert(found.isEmpty, s"$name plans the composed tokenizer:\n${found.mkString("\n")}")
    }
  }

  test("dup-group resolution: the returned plan does not grow with the round count") {
    import spark.implicits._
    import graft.extensions.Dedup

    // a path 1-2-...-n takes n-2 propagation rounds to reach every node
    def path(edges: Int) = (1L to edges.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case p => p }.size
    val long = Dedup.resolveDupGroups(path(12))
    val short = Dedup.resolveDupGroups(path(1))
    assert(nodes(long) == nodes(short),
      s"12-edge plan:\n${long.queryExecution.analyzed}\n1-edge plan:\n${short.queryExecution.analyzed}")
    // the min-id closure: one component, labelled by its smallest id
    assert(long.as[(Long, Long)].collect().toMap == (1L to 13L).map(_ -> 1L).toMap)

    // too few rounds still fails loudly, and frees everything it pinned
    val before = graft.TestSpark.persistentRdds
    intercept[IllegalStateException](Dedup.resolveDupGroups(path(12), maxIters = 3))
    assert(graft.TestSpark.persistentRdds.subsetOf(before),
      "a non-converging call must leave no persistent RDD behind")
  }
}
