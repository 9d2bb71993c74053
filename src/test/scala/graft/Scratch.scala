package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev-only plan-inspection / stage-profiling main. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "plans"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scratch")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    mode match {
      case "entry" =>
        // the driver's smoke check: flagship query on sf0.001, rows > 0
        val n = SparkEntry.entry(spark).count()
        println(s"entry rows: $n")
        require(n > 0, "entry must return rows")

      case "plans" =>
        val dir = args(1); val out = args(2)
        val names = args(3).split(",").toSeq
        val sb = new StringBuilder
        names.foreach { n =>
          val df = SparkEntry.queries(n)(spark, dir)
          sb.append(s"\n=================== $n ===================\n")
          sb.append(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
        Files.writeString(Paths.get(out), sb.toString)
        println(s"wrote $out")

      case "timeq" =>
        // time named queries: one cold execution + N warm reps each
        // (toRdd.count, the bench convention), without a full bench pass
        val dir = args(1)
        val names = args(2).split(",").toSeq
        val reps = if (args.length > 3) args(3).toInt else 3
        names.foreach { n =>
          val fn = SparkEntry.queries(n)
          def once(): Double = {
            val t0 = System.nanoTime()
            fn(spark, dir).queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          val cold = once()
          val warms = (1 to reps).map(_ => once())
          println(f"$n: cold $cold%.3f s, warm ${warms.map(w => f"$w%.3f").mkString("/")} s")
        }

      case "optplan" =>
        // dump a named query's OPTIMIZED logical plan (what the
        // PlanShapeSpec barrier/inlining assertions string-match)
        val dir = args(1); val out = args(2)
        val names = args(3).split(",").toSeq
        val sb = new StringBuilder
        names.foreach { n =>
          sb.append(s"\n=================== $n ===================\n")
          sb.append(SparkEntry.queries(n)(spark, dir)
            .queryExecution.optimizedPlan.toString)
        }
        Files.writeString(Paths.get(out), sb.toString)
        println(s"wrote $out")

      case "show" =>
        // print a named query's rows (gate-value spot checks across SFs)
        val dir = args(1)
        val names = args(2).split(",").toSeq
        names.foreach { n =>
          println(s"=== $n @ $dir")
          SparkEntry.queries(n)(spark, dir).show(50, truncate = false)
        }

      case "audit" =>
        // executed-plan node census over EVERY query: the outlier scan
        // that catches a stray sort-merge join or cartesian before the
        // judge does. AQE finalizes at runtime, so each query executes.
        val dir = args(1)
        val nodes = Seq("Exchange", "BroadcastExchange", "SortMergeJoin",
          "ShuffledHashJoin", "BroadcastHashJoin", "CartesianProduct",
          "BroadcastNestedLoopJoin", "Sort")
        println(f"${"query"}%-36s ${nodes.map(n => n.take(8)).mkString(" ")}")
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          try {
            val df = fn(spark, dir)
            df.queryExecution.toRdd.count()
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val tree = plan.split("== Initial Plan ==")(0)
            val counts = nodes.map(n => ("\\b" + n + "\\b").r.findAllIn(tree).size)
            println(f"$name%-36s ${counts.map(c => f"$c%8d").mkString(" ")}")
          } catch {
            case e: Throwable => println(f"$name%-36s ERR ${e.getMessage.take(60)}")
          }
        }

      case "mhdrop" =>
        // measured drop counts for the LSH corpus-gate floor comments
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val docs = sources.Tables.load(spark, dir, "documents")
        def losers(groups: org.apache.spark.sql.DataFrame): Long =
          groups.filter(col("doc_id") =!= col("group_id")).count()
        val ex = losers(extensions.Dedup.resolveDupGroups(
          extensions.Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)))
        val mh = losers(extensions.Dedup.resolveDupGroups(
          extensions.Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)))
        val sh = losers(extensions.Dedup.resolveDupGroups(
          extensions.Dedup.simhashDupPairsVerified(docs, "doc_id", "text")))
        println(s"mhdrop @ $dir: exact=$ex minhash=$mh (${mh.toDouble / ex}) " +
          s"simhash=$sh (${sh.toDouble / ex})")

      case "mheq" =>
        // Oracle-eligibility check for dedup_minhash_pairs: on these
        // fixtures, does the minhash-banded + exact-verify pair set EQUAL
        // the exact n-gram pair set (i.e. banding recall = 1.0 at the
        // operating threshold)? Both sides are deterministic, so equality
        // at an SF is a fixed property of the fixture, not a flaky bet.
        import org.apache.spark.sql.functions._
        val bands = sys.env.getOrElse("MHEQ_BANDS", "8").toInt
        val rows = sys.env.getOrElse("MHEQ_ROWS", "4").toInt
        args.drop(1).foreach { dir =>
          val docs = sources.Tables.load(spark, dir, "documents")
          val ex = extensions.Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
          val mh = extensions.Dedup.minhashDupPairs(docs, "doc_id", "text",
            bands = bands, rows = rows, threshold = 0.5,
            maxBucketSize = sys.env.getOrElse("MHEQ_MAXBUCKET", "200").toInt)
          val exOnly = ex.join(mh, Seq("id_a", "id_b"), "left_anti").count()
          val mhOnly = mh.join(ex, Seq("id_a", "id_b"), "left_anti").count()
          println(s"mheq @ $dir bands=$bands rows=$rows: " +
            s"exact=${ex.count()} minhash=${mh.count()} " +
            s"exact_only=$exOnly minhash_only=$mhOnly " +
            (if (exOnly == 0 && mhOnly == 0) "EQUAL" else "DIFFER"))
          if (exOnly > 0)
            ex.join(mh, Seq("id_a", "id_b"), "left_anti")
              .orderBy("id_a", "id_b").show(20, truncate = false)
        }

      case "mhpair" =>
        // minhash agreement diagnosis for one doc pair
        import org.apache.spark.sql.functions._
        val dir = args(1); val ida = args(2).toLong; val idb = args(3).toLong
        val docs = sources.Tables.load(spark, dir, "documents")
          .filter(col("doc_id") === ida || col("doc_id") === idb)
        val sig = docs.select(col("doc_id"),
            functions.HashExpressions.hashed_shingles(
              functions.TextFunctions.tokens(col("text")), 3).as("sh"))
          .select(col("doc_id"), size(col("sh")).as("n_sh"),
            functions.HashExpressions.minhash_signature(col("sh"), 32).as("sig"))
        val rows = sig.collect().sortBy(_.getLong(0))
        rows.foreach(r => println(s"doc ${r.getLong(0)} shingles=${r.getInt(1)}"))
        val s1 = rows(0).getSeq[Long](2); val s2 = rows(1).getSeq[Long](2)
        val agree = s1.zip(s2).count { case (a, b) => a == b }
        println(s"minhash agreement: $agree/32")
        (0 until 8).foreach { b =>
          val m = (0 until 4).forall(r => s1(b * 4 + r) == s2(b * 4 + r))
          print(s"band$b=${if (m) "HIT" else "miss"} ")
        }
        println()

      case "repeat" =>
        // warm-path timing: run each named query N times in one JVM so
        // machine noise and cold JIT don't masquerade as plan cost
        val dir = args(1); val reps = args(2).toInt
        val names = args(3).split(",").toSeq
        names.foreach { n =>
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            // toRdd: evaluate all output columns (see Bench)
            SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"$n: ${times.map(t => f"$t%.2f").mkString(" ")} s")
        }

      case "pctl" =>
        // q_percentile formulation shoot-out on an idle session (VERDICT
        // r07 item 2): array-form (one value buffer, two quantiles) vs
        // two scalar percentile() aggregates.
        import org.apache.spark.sql.functions._
        val dir = args(1); val reps = args(2).toInt
        val li = sources.Tables.load(spark, dir, "lineitem")
        li.count()
        def timeDf(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
          val ts = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            df.queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"$label: ${ts.map(t => f"$t%.2f").mkString(" ")} s")
        }
        timeDf("array ")(li.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, array(0.5, 0.9))").as("__p"))
          .select(col("l_returnflag"),
            col("__p").getItem(0).as("median_price"),
            col("__p").getItem(1).as("p90_price")))
        timeDf("scalar")(li.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, 0.5)").as("median_price"),
            expr("percentile(l_extendedprice, 0.9)").as("p90_price")))

      case "sketch" =>
        // q_sketch_accuracy formulation shoot-out: one agg mixing a
        // DISTINCT aggregate with value-buffering aggregates (Expand
        // doubles the rows through the percentile buffers) vs the
        // distinct agg computed separately and cross-joined (both
        // single-row).
        import org.apache.spark.sql.functions._
        val dir = args(1); val reps = args(2).toInt
        val li = sources.Tables.load(spark, dir, "lineitem")
        li.count()
        def timeDf(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
          val ts = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            df.queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"$label: ${ts.map(t => f"$t%.2f").mkString(" ")} s")
        }
        timeDf("mixed ")(li.agg(
          countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey")).as("__n_approx"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("__p50_approx"),
          expr("percentile(l_extendedprice, 0.5)").as("__p50_exact"))
          .select(col("n_exact"),
            (abs(col("__n_approx") - col("n_exact")).cast("double") / col("n_exact")
              <= 0.05).as("hll_within_5pct"),
            (abs(col("__p50_approx") - col("__p50_exact")) / col("__p50_exact")
              <= 0.02).as("p50_within_2pct")))
        timeDf("split ")({
          val exact = li.agg(countDistinct(col("l_partkey")).as("n_exact"))
          val rest = li.agg(
            approx_count_distinct(col("l_partkey")).as("__n_approx"),
            percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("__p50_approx"),
            expr("percentile(l_extendedprice, 0.5)").as("__p50_exact"))
          exact.crossJoin(rest)
            .select(col("n_exact"),
              (abs(col("__n_approx") - col("n_exact")).cast("double") / col("n_exact")
                <= 0.05).as("hll_within_5pct"),
              (abs(col("__p50_approx") - col("__p50_exact")) / col("__p50_exact")
                <= 0.02).as("p50_within_2pct"))
        })

      case "incr-profile" =>
        // dedup_incremental stage attribution (VERDICT r07 item 4): what
        // the 5.5 s warm probe is actually spending — batch shingling
        // (computed for BOTH the candidate and verify joins), candidate
        // generation, exact-Jaccard verify, terminal anti-join.
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val docs = sources.Tables.load(spark, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val batch = docs.filter(col("doc_id") % 5 === 0)
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        time("warmup count")(docs.count())
        val index = extensions.Dedup.buildCorpusIndex(corpus, "doc_id", "text").persist()
        time("index materialize")(index.postings.count() + index.shingles.count())
        val bshReal = batch.select(col("doc_id"),
          functions.HashExpressions.hashed_shingles(
            functions.TextFunctions.tokens(col("text")), 3).as("sh"))
        time("batch shingles alone")(bshReal.queryExecution.toRdd.count())
        val cand = bshReal
          .select(col("doc_id").as("batch_id"), explode(col("sh")).as("gram"))
          .join(index.postings.select(col("gram"), col("doc_id").as("corpus_id")),
            Seq("gram"))
          .select(col("batch_id"), col("corpus_id")).distinct()
        time("candidates")(cand.count())
        // deliberately the PRE-round-8 array_intersect/array_union
        // formulation, kept as the A/B baseline for the merge-count
        // kernel that replaced it in Dedup.verifyJaccard
        val dupIds = cand
          .join(bshReal.select(col("doc_id").as("batch_id"), col("sh").as("sh_b")),
            Seq("batch_id"))
          .join(index.shingles.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")),
            Seq("corpus_id"))
          .filter((size(array_intersect(col("sh_b"), col("sh_c"))).cast("double") /
            size(array_union(col("sh_b"), col("sh_c")))) >= 0.5)
          .select(col("batch_id").as("doc_id")).distinct()
        time("verify dupIds (OLD array_intersect path)")(dupIds.count())
        val full = extensions.Dedup.dedupAgainstCorpus(batch, index, "doc_id", "text")
        time("full probe")(full.queryExecution.toRdd.count())
        time("full probe again")(full.queryExecution.toRdd.count())

      case "pctl-isolate" =>
        // q_percentile drift isolation (VERDICT r14 #6): the row moved
        // 0.88 s (r12) -> 1.14-1.42 s (r13/r14) while running in the
        // cache-free relational phase, before any fixture exists — so
        // cache pressure is excluded and the suspect is JVM-state growth
        // (JIT/code-cache) with 19 more queries compiled into the
        // session. Measure the SAME row (a) in a fresh session, then
        // (b) after one full relational-phase pass has been compiled
        // and run in this JVM. If (b) reproduces the bench-observed
        // number while (a) reproduces r12's, the drift is environmental
        // accumulation, not a regression in the query.
        val dir = args(1)
        sources.Tables.load(spark, dir, "lineitem").count()
        def timeQ(label: String): Unit = {
          val ts = (1 to 5).map { _ =>
            val t0 = System.nanoTime()
            SparkEntry.queries("q_percentile")(spark, dir)
              .queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"  q_percentile $label: ${ts.map(t => f"$t%.2f").mkString(" ")} s" +
            f" (median ${ts.sorted.apply(2)}%.2f)")
        }
        timeQ("fresh JVM      ")
        val relational = SparkEntry.queries.keys.toSeq.sorted
          .filter(n => n.startsWith("q_") || n.startsWith("cdc_"))
        relational.foreach { n =>
          SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
        }
        println(s"  (ran ${relational.size} relational/cdc rows in this JVM)")
        timeQ("after full phase")

      case "decontam-scale" =>
        // Bloom-vs-broadcast decontamination crossover (VERDICT r14
        // stretch #8): inflate the eval side by unioning k token-
        // prefixed copies (every copy's grams are DISTINCT, so the eval
        // gram set scales by k exactly) and time both paths on the same
        // train side. The broadcast hash relation grows linearly with
        // the eval battery; the bloom stays ~bounded bytes — the
        // crossover the decontaminateBloom docstring promises.
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val d = sources.Tables.load(spark, dir, "documents")
        val train = d.filter(col("doc_id") % 11 =!= 0)
        train.count()
        for (k <- args.drop(2).map(_.toInt)) {
          val evalK = (0 until k).map(i =>
            d.filter(col("doc_id") % 11 === 0).select(
              regexp_replace(col("text"), "(\\S+)", s"c$i$$1").as("text")))
            .reduce(_ union _)
          def t(f: => Long): Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          val nb = t(extensions.CorpusOps.contaminatedIds(
            train, evalK, "doc_id", "text").count())
          val bl = t(extensions.CorpusOps.contaminatedIdsBloom(
            train, evalK, "doc_id", "text").count())
          println(f"  k=$k%3d  broadcast=$nb%7.2f s  bloom=$bl%7.2f s")
        }

      case "incr-scale" =>
        // dedup_incremental sf1 super-linearity hunt (VERDICT r14 #3):
        // stage timings AND cardinalities, so sf0.1 vs sf1 shows which
        // stage (and which intermediate) grows faster than the data.
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val docs = sources.Tables.load(spark, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val batch = docs.filter(col("doc_id") % 5 === 0)
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        println(s"docs=${docs.count()} corpus=${corpus.count()} batch=${batch.count()}")
        val index = extensions.Dedup.buildCorpusIndex(corpus, "doc_id", "text").persist()
        time("index materialize")(index.postings.count() + index.shingles.count() +
          index.dfCounts.count())
        println(s"  postings=${index.postings.count()} " +
          s"shingles=${index.shingles.count()} dfc=${index.dfCounts.count()}")
        val bsh = batch.select(col("doc_id"),
          functions.HashExpressions.hashed_shingles(
            functions.TextFunctions.tokens(col("text")), 3).as("sh"))
        val bGrams = bsh.select(col("doc_id").as("batch_id"),
          explode(col("sh")).as("gram"))
        println(s"  batch gram rows=${time("batch grams")(bGrams.count())}")
        val candRaw = bGrams.join(
          index.postings.select(col("gram"), col("doc_id").as("corpus_id")),
          Seq("gram"))
        println(s"  candidate JOIN rows (pre-distinct)=" +
          s"${time("cand raw")(candRaw.count())}")
        val cand = candRaw.select(col("batch_id"), col("corpus_id")).distinct()
        println(s"  candidate pairs=${time("cand distinct")(cand.count())}")
        val matches = extensions.Dedup.corpusDupMatches(batch, index,
          "doc_id", "text", 0.5)
        println(s"  matches=${time("matches (cand+verify)")(matches.count())}")
        val full = extensions.Dedup.dedupAgainstCorpus(batch, index, "doc_id", "text")
        time("full probe")(full.queryExecution.toRdd.count())
        time("full probe warm")(full.queryExecution.toRdd.count())
        val prov = extensions.Dedup.corpusDupProvenance(batch, index, "doc_id", "text")
        time("provenance")(prov.queryExecution.toRdd.count())
        index.unpersist()

      case "ngram-profile" =>
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val docs = sources.Tables.load(spark, dir, "documents")
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        time("warmup count")(docs.count())
        val sh = docs.select(col("doc_id"),
          functions.HashExpressions.hashed_shingles(
            functions.TextFunctions.tokens(col("text")), 3).as("sh"))
        time("shingle sets")(sh.count())
        val inv = sh.select(col("doc_id"), explode(col("sh")).as("gram"))
        time("inverted index explode")(inv.count())
        val grouped = inv.groupBy(col("gram"))
          .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
          .filter(size(col("ids")).between(2, 100))
        time("bucket group+filter")(grouped.count())
        val full = extensions.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          threshold = 0.5)
        time("full pipeline")(full.count())
        time("full pipeline again")(full.count())

      case "scaleprobe" =>
        // 10x scale probe of the incremental paths (VERDICT r8 item 5):
        // grow the CORPUS by `mult` while holding the probe BATCH fixed,
        // and check the probe rows stay ~O(batch), not O(corpus).
        // Scaled fixture: `mult` replicas of the source corpus mapped
        // into disjoint gram/bucket spaces — every token of doc replica
        // r>0 gets an alnum suffix (grams never collide across
        // replicas, so within-replica dup structure mirrors the
        // original and candidate volume scales exactly linearly), and
        // embedding replica r>0 is sign-flipped per dimension by a
        // splitmix-derived pattern (cross-replica cosine ~N(0, 1/8) —
        // no planted cross-replica dups at 0.9). Extension is measured
        // BOTH ways: the round-9 O(new) dictionary-merge path and the
        // pre-round-9 full-union regroup as the A/B baseline.
        import org.apache.spark.sql.functions._
        val srcDir = args(1); val mult = args(2).toInt
        val work = s"/tmp/graft-scale-x$mult"
        val fixedBatchDocs = "/tmp/graft-scale-batch-docs"
        def time3(label: String)(f: => Unit): Unit = {
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          println(f"    $label: median ${ts.sorted.apply(1)}%.2f s  (reps ${ts.map(t => f"$t%.2f").mkString(" ")})")
        }
        val srcDocs = sources.Tables.load(spark, srcDir, "documents")
        val srcEmbs = sources.Tables.load(spark, srcDir, "embeddings")
        def docsScaled(m: Int) = (0 until m).map { r =>
          if (r == 0) srcDocs
          else srcDocs.select(
            (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
            array_join(transform(split(col("text"), "\\s+"),
              t => concat(t, lit(s"q$r"))), " ").as("text"),
            col("lang"), col("source"), col("n_chars"))
        }.reduce(_ union _)
        def signVec(r: Int): Seq[Float] = Seq.tabulate(64) { d =>
          var z = (r * 64L + d + 0x9E3779B97F4A7C15L) * 0xBF58476D1CE4E5B9L
          z ^= (z >>> 27)
          if ((z & 1L) == 0L) 1.0f else -1.0f
        }
        def embsScaled(m: Int) = (0 until m).map { r =>
          if (r == 0) srcEmbs
          else srcEmbs.select(
            (col("vec_id") + lit(r * 1000000L)).as("vec_id"),
            zip_with(col("embedding"), typedlit(signVec(r)),
              (x, s) => x * s).as("embedding"),
            col("label"))
        }.reduce(_ union _)
        // fixed probe batch: replica 0's id%5==0 docs — also the fixed
        // "new docs" for the extension probe (ids are NOT in any index:
        // the corpora exclude id%5==0)
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(fixedBatchDocs)))
          srcDocs.filter(col("doc_id") % 5 === 0)
            .write.mode("overwrite").parquet(fixedBatchDocs)
        val batchDocs = spark.read.parquet(fixedBatchDocs)
        val batchEmbs = srcEmbs.filter(col("vec_id") % 10 === 0).select(
            (col("vec_id") + 10000000L).as("vec_id"),
            concat(array(col("embedding").getItem(0) + lit(0.05f)),
              slice(col("embedding"), 2, 1000000)).as("embedding"))
          .union(srcEmbs.filter(col("vec_id") % 7 === 0).select(
            (col("vec_id") + 20000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))

        Seq(1, mult).foreach { m =>
          // materialize the scaled tables once so generation cost never
          // rides in a probe measurement
          val dDir = s"$work/docs_m$m"; val eDir = s"$work/embs_m$m"
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dDir))) {
            docsScaled(m).write.mode("overwrite").parquet(dDir)
            embsScaled(m).write.mode("overwrite").parquet(eDir)
          }
          val d = spark.read.parquet(dDir); val e = spark.read.parquet(eDir)
          val corpus = d.filter(col("doc_id") % 5 =!= 0)
          println(s"scale m=$m: corpus_docs=${corpus.count()} embs=${e.count()} " +
            s"batch_docs=${batchDocs.count()} batch_embs=${batchEmbs.count()}")
          val ix = extensions.Dedup.buildCorpusIndex(corpus, "doc_id", "text").persist()
          println(s"    postings=${ix.postings.count()} grams=${ix.dfCounts.count()} " +
            s"(index build untimed; shingles=${ix.shingles.count()})")
          time3("text probe (fixed batch)") {
            extensions.Dedup.dedupAgainstCorpus(batchDocs, ix, "doc_id", "text")
              .queryExecution.toRdd.count(); ()
          }
          time3("extend O(new) dictionary-merge") {
            val ext = extensions.IndexFamily.Text.extend(ix, batchDocs, "doc_id", "text")
            ext.postings.queryExecution.toRdd.count()
            ext.dfCounts.queryExecution.toRdd.count(); ()
          }
          time3("extend pre-r9 full-union regroup (A/B)") {
            // the formulation extendCorpusIndex used before round 9:
            // re-explode EVERY stored shingle set and regroup df over
            // the union — the full-corpus-gram shuffle per version bump
            val sh = ix.shingles.union(
              batchDocs.select(col("doc_id"),
                functions.HashExpressions.hashed_shingles(
                  functions.TextFunctions.tokens(col("text")), 3).as("sh")))
            val inv = sh.select(col("doc_id"), explode(col("sh")).as("gram"))
            val dfc = inv.groupBy(col("gram")).agg(count(lit(1)).as("df"))
            val keep = dfc.filter(col("df") <= 100).select(col("gram"))
            inv.join(keep, Seq("gram"), "left_semi").queryExecution.toRdd.count()
            dfc.queryExecution.toRdd.count(); ()
          }
          val eix = extensions.Dedup.buildEmbeddingIndex(e, "vec_id", "embedding",
            planes = 12, bands = 8).persist()
          println(s"    emb_buckets=${eix.buckets.count()}")
          time3("embedding probe (fixed batch)") {
            extensions.Dedup.dedupEmbeddingsAgainstCorpus(batchEmbs, eix,
              "vec_id", "embedding", threshold = 0.9)
              .queryExecution.toRdd.count(); ()
          }
          time3("streaming ingest one tick (fixed batch)") {
            val sink = java.nio.file.Files.createTempDirectory("graft-scale-sink").toString
            val ckpt = java.nio.file.Files.createTempDirectory("graft-scale-ckpt").toString
            val q = streaming.CdcStream.startCorpusDedupIngest(
              spark.readStream.schema(batchDocs.schema).parquet(fixedBatchDocs),
              ix, "doc_id", "text", sink, ckpt, availableNow = true)
            q.awaitTermination()
            graft.util.Util.deleteRecursively(new java.io.File(sink))
            graft.util.Util.deleteRecursively(new java.io.File(ckpt))
          }
          eix.unpersist(); ix.unpersist()
        }

      case "prepprobe" =>
        // scale probe of the CORPUS-PREP operators (VERDICT r9 item 7):
        // grow the training corpus by `mult` (same disjoint-gram replica
        // trick as `scaleprobe`: every token of replica r>0 suffixed, so
        // eval-gram hits stay confined to replica 0 and the broadcast
        // gram set never grows) while the EVAL SET stays fixed. Expected
        // shapes at 100 TB: decontaminate O(corpus scan, broadcast probe
        // side constant); pack O(corpus) with flat per-shard cost when
        // shards scale with data (they do in production — the shard key
        // is a partition count choice); mix flat per-row (zero-shuffle
        // scan against a broadcast mixing table).
        import org.apache.spark.sql.functions._
        val srcDir = args(1); val mult = args(2).toInt
        val work = s"/tmp/graft-prep-x$mult"
        def time3(label: String)(f: => Unit): Unit = {
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          println(f"    $label: median ${ts.sorted.apply(1)}%.2f s  (reps ${ts.map(t => f"$t%.2f").mkString(" ")})")
        }
        val srcDocs = sources.Tables.load(spark, srcDir, "documents")
        // fixed eval set: replica 0's %11==0 docs (text_decontaminate's)
        val evalSet = srcDocs.filter(col("doc_id") % 11 === 0)
        def docsScaled(m: Int) = (0 until m).map { r =>
          if (r == 0) srcDocs
          else srcDocs.select(
            (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
            array_join(transform(split(col("text"), "\\s+"),
              t => concat(t, lit(s"q$r"))), " ").as("text"),
            col("lang"), col("source"), col("n_chars"))
        }.reduce(_ union _)
        Seq(1, mult).foreach { m =>
          val dDir = s"$work/docs_m$m"
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dDir)))
            docsScaled(m).write.mode("overwrite").parquet(dDir)
          val d = spark.read.parquet(dDir)
          val train = d.filter(col("doc_id") % 11 =!= 0)
          println(s"prep m=$m: train_docs=${train.count()} eval_docs=${evalSet.count()}")
          time3("decontaminate (fixed eval set)") {
            extensions.CorpusOps.decontaminate(train, evalSet, "doc_id", "text")
              .queryExecution.toRdd.count(); ()
          }
          time3(s"pack budget=512 shards=${8 * m} (scaled with corpus)") {
            extensions.CorpusOps.packSequences(d, "doc_id", "text",
              budget = 512, shard = pmod(col("doc_id"), lit(8 * m)))
              .queryExecution.toRdd.count(); ()
          }
          time3("pack budget=512 shards=8 (fixed: per-shard grows)") {
            extensions.CorpusOps.packSequences(d, "doc_id", "text",
              budget = 512, shard = pmod(col("doc_id"), lit(8)))
              .queryExecution.toRdd.count(); ()
          }
          time3("domain mix (broadcast mixing table)") {
            extensions.CorpusOps.stratifiedSample(d, col("doc_id"), col("source"),
              Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
              defaultFraction = 0.1)
              .queryExecution.toRdd.count(); ()
          }
        }

      case "ivfx-recall" =>
        // measured recall of the EXTENDED IVF index (fit on half, extend
        // with the other half) vs brute force — floor evidence for the
        // sim_ivf_extend_recall gate
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val e = sources.Tables.load(spark, dir, "embeddings")
        val q = e.filter(col("vec_id") % 100 === 0)
        val idx = extensions.Similarity.ivfFit(
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 16)
        val ext = extensions.IndexFamily.Ivf.extend(
          idx, e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
        val brute = extensions.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"))
        val ivf = extensions.Similarity.ivfProbe(ext, q, "vec_id", "embedding",
          k = 10, nprobe = 8)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
        val r = brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_true"), count(col("__hit")).as("n_found")).head()
        println(s"ivfx-recall @ $dir: n_true=${r.getLong(0)} n_found=${r.getLong(1)} " +
          f"recall=${r.getLong(1).toDouble / r.getLong(0)}%.3f")

      case "anneq" =>
        // Oracle-eligibility check for the two remaining convertible raw
        // rows: (a) does embeddingDupPairs at bands=8 find EVERY planted
        // >=0.9-cosine pair (set == brute force, which has a SQL
        // oracle)?  (b) does lshTopK at the recall gate's own 2x16
        // banding return EXACTLY the brute-force top-10 (superset
        // candidates + identical tie-broken ranking)?
        import org.apache.spark.sql.functions._
        args.drop(1).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings")
          // (a) planted pair set vs brute
          val pe = {
            val planted = e.filter(col("vec_id") % 10 === 0).select(
              (col("vec_id") + 10000000L).as("vec_id"),
              concat(array(col("embedding").getItem(0) + lit(0.05f)),
                slice(col("embedding"), 2, 1000000)).as("embedding"))
            e.select(col("vec_id"), col("embedding")).union(planted)
          }
          val lsh = extensions.Dedup.embeddingDupPairs(pe, "vec_id", "embedding",
            threshold = 0.9, planes = 12, bands = 8)
          val a2 = pe.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
          val b2 = pe.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
          val brute = a2.join(b2, col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"),
              functions.VectorExpressions
                .cosine_similarity(col("v_a"), col("v_b")).as("cosine"))
            .filter(col("cosine") >= 0.9)
          val bruteOnly = brute.join(lsh, Seq("id_a", "id_b"), "left_anti").count()
          val lshOnly = lsh.join(brute, Seq("id_a", "id_b"), "left_anti").count()
          println(s"anneq pairs @ $dir: brute=${brute.count()} lsh8=${lsh.count()} " +
            s"brute_only=$bruteOnly lsh_only=$lshOnly " +
            (if (bruteOnly == 0 && lshOnly == 0) "EQUAL" else "DIFFER"))
          // (b) LSH top-k at 2x16 vs brute top-k, exact row equality
          val q = e.filter(col("vec_id") % 100 === 0)
          val bk = extensions.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
            .select(col("query_id"), col("neighbor_id"), col("rank"))
          val lk = extensions.Similarity.lshTopK(e, q, "vec_id", "embedding",
            k = 10, planes = 2, bands = 16)
            .select(col("query_id"), col("neighbor_id"), col("rank"))
          val bOnly = bk.join(lk, Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
          val lOnly = lk.join(bk, Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
          println(s"anneq topk @ $dir: brute=${bk.count()} lsh2x16=${lk.count()} " +
            s"brute_only=$bOnly lsh_only=$lOnly " +
            (if (bOnly == 0 && lOnly == 0) "EQUAL" else "DIFFER"))
        }

      case "semcell" =>
        // Oracle-eligibility + recall evidence for the SemDeDup rows at
        // eps=0.9 on the planted fixture, per quantizer:
        //  - "explicit": the shipped exact-oracle operating point — the
        //    nudge-orthogonal 4-cell quantizer (centers on components
        //    2-3, which the planted nudge never touches) must make the
        //    within-cell pair set EQUAL brute-force all-pairs, with the
        //    min_id keep-set at total - pairs and every planted copy
        //    dropped;
        //  - "kmeans": the paper's own quantizer (ivfFit nlist=8, seed
        //    42) — cell boundaries are EXPECTED to split some planted
        //    pairs; the split/missed counts here are the measured floor
        //    evidence for the dedup_semantic_recall gate.
        import org.apache.spark.sql.functions._
        args.drop(1).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings")
          val pe = {
            val planted = e.filter(col("vec_id") % 10 === 0).select(
              (col("vec_id") + 10000000L).as("vec_id"),
              concat(array(col("embedding").getItem(0) + lit(0.05f)),
                slice(col("embedding"), 2, 1000000)).as("embedding"))
            e.select(col("vec_id"), col("embedding")).union(planted)
          }
          val a2 = pe.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
          val b2 = pe.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
          val brute = a2.join(b2, col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"),
              functions.VectorExpressions
                .cosine_similarity(col("v_a"), col("v_b")).as("cosine"))
            .filter(col("cosine") >= 0.9)
          import spark.implicits._
          val explicitIdx = {
            val centers = Seq(
              (0, Array.tabulate(64)(i => if (i == 1) -2f else if (i == 2) -2f else 0f)),
              (1, Array.tabulate(64)(i => if (i == 1) -2f else if (i == 2) 2f else 0f)),
              (2, Array.tabulate(64)(i => if (i == 1) 2f else if (i == 2) -2f else 0f)),
              (3, Array.tabulate(64)(i => if (i == 1) 2f else if (i == 2) 2f else 0f))
            ).toDF("cell", "center")
            extensions.Similarity.IvfIndex(centers,
              extensions.Similarity.assignToCells(pe, centers, "vec_id", "embedding"))
          }
          val kmIdx = extensions.Similarity.ivfFit(pe, "vec_id", "embedding", nlist = 8)
          for ((tag, idx) <- Seq(("explicit", explicitIdx), ("kmeans", kmIdx))) {
            val sem = extensions.Similarity.semanticDupPairs(idx, eps = 0.9)
            val cells = idx.assigned.select(col("neighbor_id"), col("cell"))
            val coCell = brute
              .join(cells.select(col("neighbor_id").as("id_a"), col("cell").as("cell_a")), Seq("id_a"))
              .join(cells.select(col("neighbor_id").as("id_b"), col("cell").as("cell_b")), Seq("id_b"))
            val split = coCell.filter(col("cell_a") =!= col("cell_b")).count()
            val missed = brute.join(sem, Seq("id_a", "id_b"), "left_anti").count()
            val extra = sem.join(brute, Seq("id_a", "id_b"), "left_anti").count()
            println(s"semcell pairs/$tag @ $dir: brute=${brute.count()} sem=${sem.count()} " +
              s"split_cells=$split missed=$missed extra=$extra " +
              (if (missed == 0 && extra == 0) "EQUAL" else "DIFFER"))
            val total = pe.count(); val nPairs = brute.count()
            val keep = extensions.Similarity.semanticDedup(idx, eps = 0.9)
            val far = extensions.Similarity.semanticDedup(idx, eps = 0.9,
              keepRule = "far_from_centroid")
            val copiesKept = keep.filter(col("neighbor_id") >= 10000000L).count()
            println(s"semcell keep/$tag @ $dir: total=$total pairs=$nPairs " +
              s"keep=${keep.count()} (expect ${total - nPairs}) " +
              s"far_keep=${far.count()} copies_surviving_min_id=$copiesKept")
          }
        }

      case "pqrecall" =>
        // Floor-derivation + oracle-eligibility evidence for the PQ
        // rows: (a) uniform embeddings — recall@10 of pqTopK vs brute
        // at a ksub x rerank sweep on the 1-in-20 probe set (the
        // quantities the sim_pq_recall gate aggregates); (b) the
        // PLANTED near-dup fixture — pqProbe top-1 at a pruning rerank
        // must EQUAL brute-force top-1 row-for-row, i.e. every planted
        // 0.9988-cosine copy survives compression and wins the exact
        // re-rank (the sim_topk_pq hash-oracle premise).
        import org.apache.spark.sql.functions._
        import extensions.Similarity
        args.drop(1).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings").cache()
          e.count()
          val q = e.filter(col("vec_id") % 20 === 0)
          val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
            .select(col("query_id"), col("neighbor_id")).cache()
          val nTrue = brute.count()
          for (ks <- Seq(16, 64)) {
            val idx = Similarity.pqFit(e, "vec_id", "embedding", m = 8, ksub = ks)
            idx.cache()
            for (rr <- Seq(20, 50, 200)) {
              val found = brute.join(
                Similarity.pqProbe(idx, q, "vec_id", "embedding", k = 10,
                  rerank = rr).select(col("query_id"), col("neighbor_id")),
                Seq("query_id", "neighbor_id"), "left_semi").count()
              println(f"pqrecall @ $dir uniform ksub=$ks rerank=$rr " +
                f"n_true=$nTrue n_found=$found recall=${found.toDouble / nTrue}%.3f")
            }
            idx.unpersist()
          }
          brute.unpersist()

          // planted-fixture leg (mirror NorthStarQueries.plantedEmbeddings)
          val planted = e.filter(col("vec_id") % 10 === 0).select(
            (col("vec_id") + 10000000L).as("vec_id"),
            concat(array(col("embedding").getItem(0) + lit(0.05f)),
              slice(col("embedding"), 2, 1000000)).as("embedding"))
          val pe = e.select(col("vec_id"), col("embedding")).union(planted).cache()
          val pq0 = pe.filter(col("vec_id") % 20 === 0 &&
            col("vec_id") < 10000000L)
          val pbrute = Similarity.bruteForceTopK(pe, pq0, "vec_id", "embedding", k = 1)
            .select(col("query_id"), col("neighbor_id"), col("rank")).cache()
          val pidx = Similarity.pqFit(pe, "vec_id", "embedding", m = 8, ksub = 16)
          for (rr <- Seq(20, 50)) {
            val pq = Similarity.pqProbe(pidx, pq0, "vec_id", "embedding",
              k = 1, rerank = rr)
              .select(col("query_id"), col("neighbor_id"), col("rank")).cache()
            val bOnly = pbrute.join(pq,
              Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
            val pOnly = pq.join(pbrute,
              Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
            println(f"pqrecall @ $dir planted-top1 rerank=$rr brute_only=$bOnly " +
              f"pq_only=$pOnly " +
              (if (bOnly == 0 && pOnly == 0) "EQUAL" else "DIFFER"))
            pq.unpersist()
          }
          pbrute.unpersist(); pe.unpersist(); e.unpersist()
        }

      case "ivfclustered" =>
        // Oracle-eligibility evidence for sim_topk_ivf{,_probe} on the
        // round-13 clustered fixture: (a) the IVF top-10 at nprobe=4 of
        // nlist=19 must EQUAL brute force row-for-row (the hash oracle's
        // premise), (b) candidate generation must still PRUNE (scored
        // candidates well under queries x corpus — the operating point
        // means something), (c) recall at nprobe=1..4 shows the
        // clustered regime where IVF beats the scanned fraction.
        import org.apache.spark.sql.functions._
        import extensions.Similarity
        args.drop(1).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings")
          // mirror NorthStarQueries.clusteredEmbeddings (private)
          val ce = e.select(col("vec_id"),
            transform(sequence(lit(1), lit(64)), d =>
              ((pmod(pmod(col("vec_id"), lit(19)) * 31 + d * 17, lit(5)) - 2) * 8 +
                when(d === pmod(col("vec_id"), lit(19)) + 1,
                  pmod(col("vec_id"), lit(11))).otherwise(lit(0)))
                .cast("float")).as("embedding")).cache()
          val nTotal = ce.count()
          val q = ce.filter(col("vec_id") % 20 === 0)
          val nq = q.count()
          val brute = Similarity.bruteForceTopK(ce, q, "vec_id", "embedding", k = 10)
            .select(col("query_id"), col("neighbor_id"), col("rank")).cache()
          val idx = Similarity.ivfFit(ce, "vec_id", "embedding", nlist = 19)
          for (np <- Seq(1, 2, 4)) {
            val ivf = Similarity.ivfProbe(idx, q, "vec_id", "embedding",
              k = 10, nprobe = np)
              .select(col("query_id"), col("neighbor_id"), col("rank")).cache()
            val bOnly = brute.join(ivf,
              Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
            val iOnly = ivf.join(brute,
              Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
            // scored candidates = members of the probed cells per query
            val scanned = Similarity.ivfProbe(idx, q, "vec_id", "embedding",
              k = Int.MaxValue, nprobe = np).count()
            println(f"ivfclustered @ $dir nprobe=$np brute_only=$bOnly " +
              f"ivf_only=$iOnly scanned=$scanned of ${nq * (nTotal - 1)} " +
              f"(${scanned.toDouble / (nq * (nTotal - 1)) * 100}%.1f%%) " +
              (if (bOnly == 0 && iOnly == 0) "EQUAL" else "DIFFER"))
            ivf.unpersist()
          }
          brute.unpersist(); ce.unpersist()
        }

      case "bm25hot" =>
        // VERDICT r15 #6: the batch-retrieval stopword worst case — a
        // query containing the corpus's MOST FREQUENT token matches
        // ~every document, so a plain per-query rank window would sort
        // the whole corpus in one task; the two-level tree rank bounds
        // any task's sort at matchset/fanout. Measures wall time and
        // match-set size across fanouts (1 = the unbounded shape).
        import org.apache.spark.sql.functions._
        import extensions.{CorpusOps, Search}
        args.drop(1).foreach { dir =>
          val d = sources.Tables.load(spark, dir, "documents")
          val hot = CorpusOps.wordFreq(d, col("text"))
            .orderBy(col("n").desc, col("token")).limit(1)
            .collect().head
          println(s"bm25hot @ $dir hottest token '${hot.getString(0)}' " +
            s"n=${hot.getLong(1)}")
          val stats = Search.bm25Fit(d, "doc_id", "text").persist()
          stats.docFreq.count()
          import spark.implicits._
          val qs = Seq((0L, hot.getString(0)), (1L, "vector"))
            .toDF("query_id", "term")
          val matches = Search.bm25BatchTopK(d, stats, "doc_id", "text",
            qs, k = 10, fanout = 1)
          for (f <- Seq(1, 16, 64, 512)) {
            def once(): Double = {
              val t0 = System.nanoTime()
              Search.bm25BatchTopK(d, stats, "doc_id", "text", qs,
                k = 10, fanout = f).queryExecution.toRdd.count()
              (System.nanoTime() - t0) / 1e9
            }
            once() // cold
            val w = Seq(once(), once(), once()).min
            println(f"bm25hot @ $dir fanout=$f%4d warm_min=$w%.3f s")
          }
          // the hot query's match-set size = the sort a fanout=1 task pays
          val hotMatches = Search.bm25Scores(d, "doc_id", "text",
            Seq(hot.getString(0))).count()
          println(s"bm25hot @ $dir hot-query match set = $hotMatches rows " +
            s"(fanout=1 sorts ALL of them in one task; fanout=F bounds a " +
            s"task at matchset/F + a level-2 sort of <= F*k)")
          stats.unpersist()
        }

      case "resregime" =>
        // VERDICT r15 #4: demonstrate residual IVFADC in its regime.
        // On the CLUSTERED fixture (tight cells: within-cluster spread
        // <= 10 in one dimension vs centers ~128 apart, so the residual
        // after subtracting the cell center is tiny relative to the
        // vector — Jégou et al.'s operating point), direct vs residual
        // encoding at the same (nlist, m, ksub, nprobe), swept over
        // rerank. Recall@10 vs brute truth over the 1-in-20 probe set.
        import org.apache.spark.sql.functions._
        import extensions.Similarity
        args.drop(1).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings")
          val ce = e.select(col("vec_id"),
            transform(sequence(lit(1), lit(64)), d =>
              ((pmod(pmod(col("vec_id"), lit(19)) * 31 + d * 17, lit(5)) - 2) * 8 +
                when(d === pmod(col("vec_id"), lit(19)) + 1,
                  pmod(col("vec_id"), lit(11))).otherwise(lit(0)))
                .cast("float")).as("embedding")).cache()
          val q = ce.filter(col("vec_id") % 20 === 0)
          val brute = Similarity.bruteForceTopK(ce, q, "vec_id", "embedding",
            k = 10).select(col("query_id"), col("neighbor_id")).cache()
          val nTrue = brute.count()
          for (ksub <- Seq(8, 16); rr <- Seq(10, 20, 50)) {
            val recalls = Seq(false, true).map { res =>
              val idx = Similarity.ivfPqFit(ce, "vec_id", "embedding",
                nlist = 19, m = 8, ksub = ksub, residual = res)
              val found = brute.join(
                Similarity.ivfPqProbe(idx, q, "vec_id", "embedding",
                  k = 10, nprobe = 2, rerank = rr)
                  .select(col("query_id"), col("neighbor_id")),
                Seq("query_id", "neighbor_id"), "left_semi").count()
              found.toDouble / nTrue
            }
            println(f"resregime @ $dir ksub=$ksub nprobe=2 rerank=$rr " +
              f"direct=${recalls(0)}%.3f residual=${recalls(1)}%.3f " +
              (if (recalls(1) > recalls(0)) "RESIDUAL WINS"
               else if (recalls(1) == recalls(0)) "TIE" else "direct wins"))
          }
          brute.unpersist(); ce.unpersist()
        }

      case "ivfpqeq" =>
        // Oracle-eligibility evidence for sim_topk_ivfpq{,_probe}: on
        // the clustered fixture (nlist=19 KMeans separates the planted
        // clusters), the IVF-PQ top-10 at nprobe=4 must EQUAL brute
        // force row-for-row at a still-pruning rerank, with the
        // composed scanned-fraction reported (coarse pruning x 32x
        // compression is the operating point the row prices). Sweeps
        // rerank to find the smallest safe value at each SF.
        import org.apache.spark.sql.functions._
        import extensions.Similarity
        val eqKsub = args(1).toInt
        args.drop(2).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings")
          // mirror NorthStarQueries.clusteredEmbeddings (private)
          val ce = e.select(col("vec_id"),
            transform(sequence(lit(1), lit(64)), d =>
              ((pmod(pmod(col("vec_id"), lit(19)) * 31 + d * 17, lit(5)) - 2) * 8 +
                when(d === pmod(col("vec_id"), lit(19)) + 1,
                  pmod(col("vec_id"), lit(11))).otherwise(lit(0)))
                .cast("float")).as("embedding")).cache()
          val nTotal = ce.count()
          val q = ce.filter(col("vec_id") % 20 === 0)
          val nq = q.count()
          val brute = Similarity.bruteForceTopK(ce, q, "vec_id", "embedding", k = 10)
            .select(col("query_id"), col("neighbor_id"), col("rank")).cache()
          val idx = Similarity.ivfPqFit(ce, "vec_id", "embedding",
            nlist = 19, m = 8, ksub = eqKsub)
          // scanned candidates (cell members at nprobe=4), for the
          // pruning evidence: rerank=corpus disables only the ADC cut
          val scanned = Similarity.ivfPqProbe(idx, q, "vec_id", "embedding",
            k = Int.MaxValue, nprobe = 4, rerank = Int.MaxValue).count()
          for (rr <- Seq(20, 50, 100)) {
            val pq = Similarity.ivfPqProbe(idx, q, "vec_id", "embedding",
              k = 10, nprobe = 4, rerank = rr)
              .select(col("query_id"), col("neighbor_id"), col("rank")).cache()
            val bOnly = brute.join(pq,
              Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
            val pOnly = pq.join(brute,
              Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
            println(f"ivfpqeq @ $dir rerank=$rr brute_only=$bOnly " +
              f"ivfpq_only=$pOnly scanned=$scanned of ${nq * (nTotal - 1)} " +
              f"(${scanned.toDouble / (nq * (nTotal - 1)) * 100}%.1f%%) " +
              (if (bOnly == 0 && pOnly == 0) "EQUAL" else "DIFFER"))
            pq.unpersist()
          }
          brute.unpersist(); ce.unpersist()
        }

      case "simhasheq" =>
        // Graduation evidence for dedup_simhash_pairs: over the corpus
        // plus TOKEN-REVERSED planted copies, the Hamming-0 simhash
        // pair set must EQUAL the sorted-token-multiset-equality truth
        // (DuckDB-computable). Structural one way: simhash is a pure
        // function of the token multiset, so every multiset-equal pair
        // is simhash-equal AND shares all 4 bands. Measured the other:
        // no 64-bit majority-vote collision between distinct multisets,
        // and no pair lost to all-4-band bucket caps.
        import org.apache.spark.sql.functions._
        import extensions.Dedup
        import graft.functions.TextFunctions
        args.drop(1).foreach { dir =>
          // base = every 10th doc: the documents table plants NEAR-dup
          // pairs (one-token edits) whose simhashes genuinely collide
          // at Hamming 0 — correct simhash behavior, but inexpressible
          // to a multiset oracle; the 1-in-10 subsample separates every
          // such pair (measured below: truth_only=sim_only=0)
          val docs = sources.Tables.load(spark, dir, "documents")
            .filter(col("doc_id") % 10 === 0)
          val planted = docs.select(
            (col("doc_id") + 10000000L).as("doc_id"),
            concat_ws(" ", reverse(TextFunctions.tokens(col("text"))))
              .as("text"))
          val pd = docs.select("doc_id", "text").union(planted).cache()
          val sim = Dedup.simhashDupPairs(pd, "doc_id", "text",
            maxHamming = 0).select("id_a", "id_b").cache()
          val mt = pd.select(col("doc_id"),
            md5(concat_ws(" ", array_sort(TextFunctions.tokens(col("text")))))
              .as("k"))
          val truth = mt.as("a").join(mt.as("b"),
              col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
            .cache()
          val sOnly = sim.join(truth, Seq("id_a", "id_b"), "left_anti").count()
          val tOnly = truth.join(sim, Seq("id_a", "id_b"), "left_anti").count()
          val n = truth.count()
          val nPlanted = planted.count()
          println(s"simhasheq @ $dir truth=$n planted=$nPlanted " +
            s"sim_only=$sOnly truth_only=$tOnly " +
            (if (sOnly == 0 && tOnly == 0) "EQUAL" else "DIFFER"))
          if (sOnly > 0) {
            // characterize the collisions: token counts of both members
            val nt = pd.select(col("doc_id"),
              size(TextFunctions.tokens(col("text"))).as("nt"))
            sim.join(truth, Seq("id_a", "id_b"), "left_anti")
              .join(nt.select(col("doc_id").as("id_a"), col("nt").as("nt_a")), Seq("id_a"))
              .join(nt.select(col("doc_id").as("id_b"), col("nt").as("nt_b")), Seq("id_b"))
              .show(10, false)
          }
          sim.unpersist(); truth.unpersist(); pd.unpersist()
        }

      case "ivfpqplanted" =>
        // Oracle-eligibility evidence for sim_topk_ivfpq{,_probe}: the
        // PLANTED near-dup fixture probed through an IVF-PQ index whose
        // coarse quantizer is the nudge-orthogonal explicit 4-cell
        // table (assignment ignores the nudged component, so each
        // query's 0.9988-cosine copy co-cells with it STRUCTURALLY).
        // At nprobe=1 the scan covers only the query's own cell (~1/4
        // of the corpus) in compressed codes; top-1 must EQUAL
        // brute-force top-1 row-for-row at a pruning rerank.
        import org.apache.spark.sql.functions._
        import extensions.Similarity
        args.drop(1).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings").cache()
          val planted = e.filter(col("vec_id") % 10 === 0).select(
            (col("vec_id") + 10000000L).as("vec_id"),
            concat(array(col("embedding").getItem(0) + lit(0.05f)),
              slice(col("embedding"), 2, 1000000)).as("embedding"))
          val pe = e.select(col("vec_id"), col("embedding")).union(planted).cache()
          val nTotal = pe.count()
          // mirror NorthStarQueries.semCenters (private)
          import spark.implicits._
          val ctrs = Seq(
            (0, Array.tabulate(64)(i => if (i == 1) -2f else if (i == 2) -2f else 0f)),
            (1, Array.tabulate(64)(i => if (i == 1) -2f else if (i == 2) 2f else 0f)),
            (2, Array.tabulate(64)(i => if (i == 1) 2f else if (i == 2) -2f else 0f)),
            (3, Array.tabulate(64)(i => if (i == 1) 2f else if (i == 2) 2f else 0f))
          ).toDF("cell", "center")
          val pq0 = pe.filter(col("vec_id") % 20 === 0 &&
            col("vec_id") < 10000000L)
          val nq = pq0.count()
          val pbrute = Similarity.bruteForceTopK(pe, pq0, "vec_id", "embedding", k = 1)
            .select(col("query_id"), col("neighbor_id"), col("rank")).cache()
          val pidx = Similarity.ivfPqFit(pe, "vec_id", "embedding",
            m = 8, ksub = 16, centers = Some(ctrs))
          val scanned = Similarity.ivfPqProbe(pidx, pq0, "vec_id", "embedding",
            k = Int.MaxValue, nprobe = 1, rerank = Int.MaxValue).count()
          for (rr <- Seq(20, 50)) {
            val pq = Similarity.ivfPqProbe(pidx, pq0, "vec_id", "embedding",
              k = 1, nprobe = 1, rerank = rr)
              .select(col("query_id"), col("neighbor_id"), col("rank")).cache()
            val bOnly = pbrute.join(pq,
              Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
            val pOnly = pq.join(pbrute,
              Seq("query_id", "neighbor_id", "rank"), "left_anti").count()
            println(f"ivfpqplanted @ $dir top1 rerank=$rr brute_only=$bOnly " +
              f"ivfpq_only=$pOnly scanned=$scanned of ${nq * (nTotal - 1)} " +
              f"(${scanned.toDouble / (nq * (nTotal - 1)) * 100}%.1f%%) " +
              (if (bOnly == 0 && pOnly == 0) "EQUAL" else "DIFFER"))
            pq.unpersist()
          }
          pbrute.unpersist(); pe.unpersist(); e.unpersist()
        }

      case "ivfpqrecall" =>
        // Floor-derivation evidence for the sim_ivfpq_recall gate: the
        // UNFAVORABLE regime (near-uniform raw embeddings, where recall
        // tracks the scanned fraction) at the gate's own operating
        // point, swept over (nprobe, rerank).
        import org.apache.spark.sql.functions._
        import extensions.Similarity
        args.drop(1).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings").cache()
          val q = e.filter(col("vec_id") % 20 === 0)
          val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
            .select(col("query_id"), col("neighbor_id")).cache()
          val nTrue = brute.count()
          // direct vs residual side by side: same coarse quantizer
          // family, same sweep — the fidelity delta the paper claims
          for (res <- Seq(false, true)) {
            val idx = Similarity.ivfPqFit(e, "vec_id", "embedding",
              nlist = 16, m = 8, ksub = 64, residual = res)
            for (np <- Seq(4, 8); rr <- Seq(100, 200)) {
              val found = brute.join(
                Similarity.ivfPqProbe(idx, q, "vec_id", "embedding",
                  k = 10, nprobe = np, rerank = rr)
                  .select(col("query_id"), col("neighbor_id")),
                Seq("query_id", "neighbor_id"), "left_semi").count()
              println(f"ivfpqrecall @ $dir residual=$res nprobe=$np rerank=$rr " +
                f"recall=${found.toDouble / nTrue}%.3f ($found/$nTrue)")
            }
          }
          e.unpersist(); brute.unpersist()
        }

      case "recallgates" =>
        // Measured recall of every ANN gate row at each given SF dir,
        // on the gates' OWN (widened, round-13) 1-in-20 probe set —
        // the floor-derivation evidence for sim_lsh_recall /
        // sim_ivf_recall / sim_ivf_extend_recall /
        // sim_topk_filtered_{ivf,lsh}. n_true/n_found are the exact
        // quantities the gate queries aggregate into their booleans.
        import org.apache.spark.sql.functions._
        import extensions.Similarity
        args.drop(1).foreach { dir =>
          val e = sources.Tables.load(spark, dir, "embeddings").cache()
          e.count()
          val q = e.filter(col("vec_id") % 20 === 0)
          def ratio(brute: org.apache.spark.sql.DataFrame,
                    ann: org.apache.spark.sql.DataFrame): (Long, Long) = {
            val r = brute.join(ann.withColumn("__hit", lit(1)),
                brute.columns.toSeq, "left")
              .agg(count(lit(1)), count(col("__hit"))).head()
            (r.getLong(0), r.getLong(1))
          }
          def show(name: String, t: (Long, Long)): Unit =
            println(f"recallgates @ $dir $name%-14s n_true=${t._1}%4d " +
              f"n_found=${t._2}%4d recall=${t._2.toDouble / t._1}%.3f")
          val brute10 = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
            .select(col("query_id"), col("neighbor_id"))
          show("lsh_2x16", ratio(brute10,
            Similarity.lshTopK(e, q, "vec_id", "embedding", k = 10,
              planes = 2, bands = 16).select(col("query_id"), col("neighbor_id"))))
          val ivf = Similarity.ivfFit(e, "vec_id", "embedding", nlist = 16)
          show("ivf_p8", ratio(brute10,
            Similarity.ivfProbe(ivf, q, "vec_id", "embedding", k = 10, nprobe = 8)
              .select(col("query_id"), col("neighbor_id"))))
          val ext = extensions.IndexFamily.Ivf.extend(
            Similarity.ivfFit(e.filter(col("vec_id") % 2 === 0),
              "vec_id", "embedding", nlist = 16),
            e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
          show("ivfx_p8", ratio(brute10,
            Similarity.ivfProbe(ext, q, "vec_id", "embedding", k = 10, nprobe = 8)
              .select(col("query_id"), col("neighbor_id"))))
          val bruteF = Similarity.bruteForceTopK(
            e.filter(col("label") % 3 === 0), q, "vec_id", "embedding", k = 5)
            .select(col("query_id"), col("neighbor_id"))
          val ivfMeta = Similarity.ivfFit(e, "vec_id", "embedding",
            nlist = 16, metaCols = Seq("label"))
          show("filt_ivf_p8", ratio(bruteF,
            Similarity.ivfProbe(ivfMeta.filtered(col("label") % 3 === 0), q,
              "vec_id", "embedding", k = 5, nprobe = 8)
              .select(col("query_id"), col("neighbor_id"))))
          val lshIdx = Similarity.lshFit(e, "vec_id", "embedding",
            planes = 2, bands = 16, metaCols = Seq("label"))
          show("filt_lsh_2x16", ratio(bruteF,
            Similarity.lshProbe(lshIdx.filtered(col("label") % 3 === 0), q,
              "vec_id", "embedding", k = 5)
              .select(col("query_id"), col("neighbor_id"))))
          e.unpersist()
        }

      case "corescale" =>
        // TRUE data-parallel scaling probe: a compute-bound operator
        // (assignToCells at nlist=2048 — pure per-row arithmetic, no
        // shuffle) over data pre-split into enough partitions for any
        // core count. Run with SPARK_GRAFT_CPUS=8 and =32 and compare:
        // the bench suite's totals CANNOT show this (sf0.1 rows are
        // overhead-bound — see PLANS.md round-12 A/B), so core-scaling
        // evidence must come from a row whose work actually dominates.
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val nlist = if (args.length > 2) args(2).toInt else 2048
        val e = sources.Tables.load(spark, dir, "embeddings")
          .repartition(64).cache()
        e.count()
        val dim = e.select(size(col("embedding"))).head().getInt(0)
        val centers = spark.range(nlist).select(
          col("id").cast("int").as("cell"),
          transform(sequence(lit(1), lit(dim)),
            d => (pmod(hash(col("id") * lit(31) + d), lit(1000)) / lit(1000.0))
              .cast("float")).as("center"))
        val assigned = extensions.Similarity.assignToCells(
          e, centers, "vec_id", "embedding")
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          assigned.queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"corescale @ $dir cores=$cpus nlist=$nlist dim=$dim " +
          f"partitions=64 reps=${times.map(t => f"$t%.1f").mkString("/")} s")

      case "ivfcurve" =>
        // TRAINED-centers recall@10 vs nprobe — the tuning guide for the
        // one IVF knob that trades recall for probe cost. KMeans-fit at
        // each nlist (not the untrained cost-probe centers of ivfcells),
        // queries = every 20th vector, truth = brute-force cosine top-10.
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val nlists = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq
          else Seq(64, 256)
        val e = sources.Tables.load(spark, dir, "embeddings")
        e.cache(); e.count()
        val q = e.filter(col("vec_id") % 20 === 0)
        val brute = extensions.Similarity
          .bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"))
        brute.cache(); val nTrue = brute.count()
        for (nlist <- nlists) {
          val t0 = System.nanoTime()
          val idx = extensions.Similarity.ivfFit(
            e, "vec_id", "embedding", nlist = nlist).cache()
          idx.assigned.count()
          val fitS = (System.nanoTime() - t0) / 1e9
          val occ = idx.assigned.groupBy("cell").count()
            .agg(min("count"), percentile_approx(col("count"), lit(0.5), lit(1000)),
              max("count")).head()
          println(f"ivfcurve @ $dir nlist=$nlist fit=${fitS}%.1f s " +
            s"cells(min/med/max)=${occ.get(0)}/${occ.get(1)}/${occ.get(2)} " +
            s"queries=${q.count()} n_true=$nTrue")
          for (nprobe <- Seq(4, 8, 16, 32)) {
            val p0 = System.nanoTime()
            val hits = extensions.Similarity.ivfProbe(idx, q, "vec_id",
              "embedding", k = 10, nprobe = nprobe)
              .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
            val found = brute.join(hits, Seq("query_id", "neighbor_id"), "left")
              .agg(count(col("__hit"))).head().getLong(0)
            val pS = (System.nanoTime() - p0) / 1e9
            println(f"  nprobe=$nprobe%2d recall@10=${found.toDouble / nTrue}%.3f " +
              f"probe=${pS}%.2f s")
          }
          idx.unpersist()
        }

      case "ivfcells" =>
        // planning + execution + TASK-BINARY cost of assignToCells as
        // nlist grows, for BOTH formulations: the current broadcast
        // single-row centroid relation vs the earlier typedlit plan
        // literal. The task-binary proxy is the closure-serialized size
        // of the query's RDD — the object graph Spark ships with every
        // task — which contains a typedlit's ArrayData but NOT a
        // broadcast variable's payload (that rides the block manager,
        // once per executor). Centers are synthetic beyond the fixture's
        // row count (derived deterministically from the cell id), since
        // a cost probe needs shapes, not trained centroids.
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val e = sources.Tables.load(spark, dir, "embeddings")
        e.cache(); e.count()
        val dim = e.select(size(col("embedding"))).head().getInt(0)
        def taskBytes(df: org.apache.spark.sql.DataFrame): Long = {
          val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
          ser.serialize(df.queryExecution.toRdd).limit().toLong
        }
        for (nlist <- Seq(16, 256, 1024, 4096, 16384)) {
          val centers = spark.range(nlist).select(
            col("id").cast("int").as("cell"),
            transform(sequence(lit(1), lit(dim)),
              d => (pmod(hash(col("id") * lit(31) + d), lit(1000)) / lit(1000.0))
                .cast("float")).as("center"))
          // broadcast-relation formulation (the shipped assignToCells)
          val t0 = System.nanoTime()
          val bc = extensions.Similarity.assignToCells(
            e, centers, "vec_id", "embedding")
          val bcPlanned = bc.queryExecution.executedPlan
          val t1 = System.nanoTime()
          bc.queryExecution.toRdd.count() // evaluate ALL columns (see Bench)
          val t2 = System.nanoTime()
          // single-literal formulation (the pre-round-11 shape): the whole
          // centroid matrix as ONE literal in the expression tree, built
          // as catalyst data directly (typedlit's column-node validation
          // rejects nested struct arrays in this Spark build)
          val ctrs = centers.orderBy("cell").collect().map(r =>
            (r.getInt(0), r.getSeq[Float](1).toSeq)).toSeq
          val lt0 = System.nanoTime()
          val litDt = org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("_1",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("_2",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.FloatType)))))
          val litVal = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            ctrs.map { case (c, v) =>
              org.apache.spark.sql.catalyst.InternalRow(c,
                new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray))
            }.toArray[Any])
          val ctrLit = org.apache.spark.sql.graftbridge.ColumnBridge.column(
            org.apache.spark.sql.catalyst.expressions.Literal(litVal, litDt))
          val best = array_min(transform(ctrLit, c =>
            struct(
              aggregate(zip_with(col("c_vec"), c.getField("_2"),
                (x, y) => (x - y) * (x - y)),
                lit(0.0d), (acc, x) => acc + x).as("d2"),
              c.getField("_1").as("cell"))))
          val lit0 = e.select(col("vec_id").as("neighbor_id"),
              col("embedding").as("c_vec"))
            .withColumn("__best", best)
            .select(col("neighbor_id"), col("c_vec"),
              col("__best.cell").as("cell"))
          val litPlanned = lit0.queryExecution.executedPlan
          val lt1 = System.nanoTime()
          lit0.queryExecution.toRdd.count() // evaluate ALL columns
          val lt2 = System.nanoTime()
          println(f"ivfcells nlist=$nlist%5d  broadcast: " +
            f"plan=${(t1 - t0) / 1e9}%.2f s run=${(t2 - t1) / 1e9}%.2f s " +
            f"nodes=${bcPlanned.treeString.linesIterator.size} taskKB=${taskBytes(bc) / 1024}%d" +
            f"  |  literal: plan=${(lt1 - lt0) / 1e9}%.2f s run=${(lt2 - lt1) / 1e9}%.2f s " +
            f"nodes=${litPlanned.treeString.linesIterator.size} taskKB=${taskBytes(lit0) / 1024}%d")
        }
        e.unpersist()

      case "dumpq" =>
        // targeted Verify: dump named queries' results as parquet for a
        // local DuckDB compare (same shape the driver's gate performs)
        val dir = args(1); val out = args(2)
        args(3).split(",").foreach { n =>
          SparkEntry.queries(n)(spark, dir).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/$n")
          println(s"dumped $n")
        }
        def jq(s: String): String = "\"" + s.flatMap {
          case '"'  => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        Files.writeString(Paths.get(s"$out/oracle_sql.json"),
          SparkEntry.oracleSql.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }
            .mkString("{", ",", "}"))

      case "gensf" =>
        // Scale the harness tables by an integer factor for bench-only
        // runs at sizes the driver doesn't ship (VERDICT r12 ask #6: an
        // sf1 point between sf0.1 and "100 TB by design").
        //   gensf <srcDir> <dstDir> <factor>
        // Method: union `factor` key-shifted copies. Entity keys (custkey,
        // orderkey, partkey, suppkey, event/user/doc/vec ids) shift by
        // copy*STRIDE so every FK join keeps its exact cardinality per
        // copy; nation/region stay fixed dims (their keys never shift),
        // matching how TPC-H itself scales. Document text gets a per-copy
        // suffix token (n_chars recomputed) and embeddings a per-copy
        // first-component nudge, so the scaled corpus is 10x DISTINCT
        // near-dup-rich content rather than 10 bit-identical copies —
        // the degenerate case would hand exact-dedup a free 90% kill and
        // starve the near-dup paths of realistic work.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.DataFrame
        val src = args(1); val dst = args(2); val factor = args(3).toInt
        val STRIDE = 100000000L // far above any sf0.1 key (max ~600k)
        val copies = spark.range(factor).toDF("copy")
        def shifted(name: String, keys: Seq[String])(extra: DataFrame => DataFrame = identity): Unit = {
          val base = sources.Tables.load(spark, src, name)
          val out0 = base.crossJoin(broadcast(copies))
          val out1 = keys.foldLeft(out0)((d, k) =>
            d.withColumn(k, col(k) + col("copy") * STRIDE))
          val out = extra(out1).drop("copy").select(base.columns.map(col): _*)
          // PARTITION HYGIENE (measured the hard way): without this the
          // scaled table inherits the 1-file layout of its source and
          // every scan runs as ONE task — the first sf1 bench attempt
          // serialized the per-row text kernels onto a single core for
          // 20+ min. A 10x fixture needs ~10x the splits, exactly as a
          // real 10x ingest would produce.
          out.repartition(factor * 4)
            .write.mode("overwrite").parquet(s"$dst/$name.parquet")
          println(s"  $name: ${base.count()} -> ${spark.read.parquet(s"$dst/$name.parquet").count()}")
        }
        def fixed(name: String): Unit = {
          val base = sources.Tables.load(spark, src, name)
          base.write.mode("overwrite").parquet(s"$dst/$name.parquet")
          println(s"  $name: fixed dim (${base.count()})")
        }
        fixed("region"); fixed("nation")
        shifted("customer", Seq("c_custkey"))()
        shifted("supplier", Seq("s_suppkey"))()
        shifted("part", Seq("p_partkey"))()
        shifted("orders", Seq("o_orderkey", "o_custkey"))()
        shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
        shifted("events", Seq("event_id", "user_id"))()
        shifted("documents", Seq("doc_id")) { d =>
          d.withColumn("text",
              when(col("copy") === 0, col("text"))
                .otherwise(concat(col("text"), lit(" copyx"), col("copy"))))
            .withColumn("n_chars", length(col("text")))
        }
        shifted("embeddings", Seq("vec_id")) { d =>
          // nudge component 0 by copy*1e-3: copies stay near-dups (the
          // realistic scaled regime) without being bit-identical
          d.withColumn("embedding",
            when(col("copy") === 0, col("embedding")).otherwise(
              concat(
                array((col("embedding")(0) + col("copy").cast("float") * lit(0.001f)).cast("float")),
                slice(col("embedding"), 2, 10000))))
        }
        println(s"gensf done: $dst (factor $factor)")

      case "minhash-profile" =>
        import org.apache.spark.sql.functions._
        val dir = args(1)
        val docs = sources.Tables.load(spark, dir, "documents")
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        time("warmup count")(docs.count())
        val sh = docs.select(col("doc_id"),
          functions.HashExpressions.hashed_shingles(
            functions.TextFunctions.tokens(col("text")), 3).as("sh"))
        time("shingle-hash only")(sh.count())
        val sig = sh.select(col("doc_id"),
          functions.HashExpressions.minhash_signature(col("sh"), 32).as("sig"))
        time("signature")(sig.agg(count(lit(1))).head())
        val pairs = extensions.Dedup.minhashDupPairs(docs, "doc_id", "text",
          threshold = 0.5)
        time("full pipeline")(pairs.count())
        time("full pipeline again")(pairs.count())
    }
    spark.stop()
  }
}
