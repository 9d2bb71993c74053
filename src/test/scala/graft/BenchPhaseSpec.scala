package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's phase-scoped cache release only works if every query is
  * categorized: a row in the wrong phase (or the leftover slot) runs
  * under another family's pinned caches — the exact cross-family memory
  * pressure that degraded round 7's numbers 3-6x. */
class BenchPhaseSpec extends AnyFunSuite {

  test("every SparkEntry query matches exactly one bench phase") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val bad = names.map { n =>
      (n, Bench.phases.count { case (_, member, _) => member(n) })
    }.filter(_._2 != 1)
    assert(bad.isEmpty,
      s"uncategorized or doubly-categorized queries (add the family to " +
        s"Bench.phases with its cache release): $bad")
  }

  test("every oracle key is a declared query") {
    // an oracle for a nonexistent query silently checks nothing
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("truth-gate rows all exist, and every probe/serving row is steady") {
    val names = SparkEntry.queries.keySet
    // a typo in the truth-gate set would silently misfile a row's total
    val gated = names.filter(Bench.isTruthGate)
    // the two sketch-accuracy gates pay exact countDistinct/percentile
    // recomputes beside the sketches they grade — truth-gate by
    // construction (r17 judge #5), not steady rows
    val explicit = Set("sim_topk_brute", "sim_topk_ivfpq",
      "sim_topk_ivfpq_res", "sim_topk_pq", "sim_topk_ivf",
      "sim_topk_filtered_ivf", "q_approx_sketch", "q_sketch_accuracy")
    assert(explicit.subsetOf(names),
      s"truth-gate names not in queries: ${explicit -- names}")
    assert(names.filter(_.endsWith("_recall")).forall(Bench.isTruthGate))
    // the steady-state serving rows — the design-grading numbers — must
    // never be filed under the truth-gate envelope
    val steadyServing = names.filter(n => n.endsWith("_probe") ||
      n == "dedup_incremental" || n == "corpus_refresh_e2e" ||
      n == "search_bm25_batch")
    assert(steadyServing.forall(n => !Bench.isTruthGate(n)),
      s"serving rows misfiled as truth-gate: ${steadyServing.filter(Bench.isTruthGate)}")
    // the split is a partition: totals must reconcile
    val pass = Bench.Pass(1,
      gated.take(2).toSeq.map(n => (n, 1.0, Seq(2.0, 2.0, 2.0))) ++
        Seq(("q_steady", 1.0, Seq(3.0, 3.0, 3.0))),
      0.0, 0.0)
    assert(math.abs(pass.warmSteady + pass.warmTruthGate - pass.warmTotal) < 1e-9)
    // the floor instrument takes per-row warm MINIMA over steady rows
    // only: ambient only adds time, so floor <= steady always, and a
    // truth-gate row can never leak into the floor
    val floorPass = Bench.Pass(1, Seq(
      ("q_steady", 1.0, Seq(3.0, 2.5, 4.0)),
      (gated.head, 1.0, Seq(9.0, 9.0, 9.0))), 0.0, 0.0)
    assert(math.abs(floorPass.floorSteady - 2.5) < 1e-9)
    assert(floorPass.floorSteady <= floorPass.warmSteady + 1e-9)
  }

  /** Synthetic-noise sanity check for the archive picker: round 11's
    * min-load-at-pass-boundaries picker archived a pass with a 9.3 s
    * mid-pass transient on a 0.4 s query because the spike fell between
    * the two boundary load samples. Min-warm-total cannot make that
    * mistake — noise only adds time. */
  test("pickPass archives the fastest gated pass, not the lowest-boundary-load one") {
    def pass(idx: Int, warms: Seq[Double], load: Double) =
      Bench.Pass(idx, warms.zipWithIndex.map { case (w, i) =>
        (s"q$i", w, Seq(w, w, w))
      }, loadStart = load, loadEnd = load)

    // pass 2: idle at both boundaries but a mid-pass transient inflated
    // one query 0.4 -> 9.3 s; pass 3: slightly higher boundary load but
    // clean. The round-11 picker chose pass 2; the fix must choose 3.
    val noisy = pass(2, Seq(0.4, 9.3, 0.5), load = 0.1)
    val clean = pass(3, Seq(0.4, 0.4, 0.5), load = 2.0)
    val (picked, by) = Bench.pickPass(Seq(noisy, clean), loadGate = 8.0)
    assert(picked.idx == 3 && by == "min_warm_total_gated")

    // a pass measured OVER the gate is ineligible even if fastest
    val loaded = pass(4, Seq(0.3, 0.3, 0.3), load = 20.0)
    assert(Bench.pickPass(Seq(noisy, loaded), 8.0)._1.idx == 2)

    // nothing under the gate: fall back to min warm-total, flagged as such
    val (p2, by2) = Bench.pickPass(Seq(loaded.copy(idx = 5), pass(6, Seq(9.9), 30.0)), 8.0)
    assert(p2.idx == 5 && by2 == "min_warm_total_ungated")
  }

  /** A row that throws used to be timed anyway — the exception's wall
    * time landed in the totals as a fast row. */
  test("a failing row is named under errors and enters no total") {
    var calls = 0
    val (rows, failed) = Bench.timeRows(Seq(
      "q_ok" -> (() => ()),
      "q_boom" -> (() => throw new IllegalStateException("boom")),
      // cold succeeds, the first warm rep throws: still a failed row
      "q_late" -> (() => { calls += 1; if (calls > 1) sys.error("late") })))
    assert(rows.map(_._1) === Seq("q_ok"))
    assert(failed.map(_._1) === Seq("q_boom", "q_late"))
    assert(failed.head._2.contains("boom"))

    val pass = Bench.Pass(1, rows, 0.0, 0.0, errors = failed)
    val (_, cold, warms) = rows.head
    assert(pass.coldTotal === cold)
    assert(pass.warmTotal === warms.sorted.apply(1))
    assert(pass.floorSteady === warms.min)
    val line = pass.fullLine("sf", "4")
    assert(line.contains("\"errors\":[\"q_boom\",\"q_late\"]"))
    // "queries" stays the last key, and holds no failed row
    val queries = line.substring(line.lastIndexOf("\"queries\":"))
    assert(queries.count(_ == '{') == 1 && queries.endsWith("}}"))
    assert(!queries.contains("q_boom") && !queries.contains("q_late"))
  }
}
