package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HashExpressions, Redact, TextExpressions, TextFunctions, VectorExpressions}

/**
 * The engine's SQL surface, as a standard [[SparkSessionExtensions]]
 * injector — the production deployment shape
 * (`--conf spark.sql.extensions=graft.GraftSqlExtensions`): every
 * kernel expression and §2.11 scalar entry point becomes a
 * `graft_`-prefixed SQL function, so the operators compose from pure
 * `spark.sql(...)` with no Scala in the loop. The same function table
 * also registers onto a LIVE session via [[GraftSqlExtensions.register]]
 * (the notebook/REPL path, where extensions can no longer be injected).
 *
 * All builders resolve to the SAME Column compositions / native
 * Catalyst expressions the DataFrame API uses, so SQL-surface results
 * are bit-identical to the oracle-pinned queries (spec-pinned by
 * SqlSurfaceSpec running two oracle queries through spark.sql only).
 * Structural hyperparameters (shingle k, minhash n, LSH planes) must be
 * integer LITERALS — they are plan-shape constants, exactly as in the
 * Scala API, and a non-literal is refused at analysis time.
 */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSqlExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftSqlExtensions", name), builder))
    }
    GraftSqlExtensions.tableFunctions.foreach { case (name, builder) =>
      ext.injectTableFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftSqlExtensions", name), builder))
    }
  }
}

object GraftSqlExtensions {

  private def intArg(fn: String, e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an INT literal (it is a plan-shape constant), got $other")
  }

  private def strArg(fn: String, e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a STRING literal, got $other")
  }

  private def arity(fn: String, exprs: Seq[Expression], ns: Int*): Unit =
    require(ns.contains(exprs.size),
      s"$fn takes ${ns.mkString(" or ")} arguments, got ${exprs.size}")

  /** Lift a 1-Column composition into a SQL function builder. */
  private def lift(name: String)(f: Column => Column): (String, Seq[Expression] => Expression) =
    name -> { exprs: Seq[Expression] =>
      arity(name, exprs, 1)
      ColumnBridge.resolvedExpression(f(ColumnBridge.column(exprs.head)))
    }

  /** The one function table both injection paths share. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // text analysis (Column kernels: native Catalyst expressions for the
    // tokenizer, BPE count, lowercase and language ID, builtins for the
    // rest; builtin higher-order lambdas run interpreted)
    lift("graft_tokens")(TextFunctions.tokens),
    lift("graft_lang_id")(TextFunctions.langId),
    lift("graft_quality_score")(TextFunctions.qualityScore),
    lift("graft_token_count_ws")(TextFunctions.tokenCountWs),
    lift("graft_token_count_bpe")(TextFunctions.tokenCountBpe),
    lift("graft_fingerprint")(TextFunctions.fingerprintMd5),
    lift("graft_punct_ratio")(TextFunctions.punctRatio),
    // PII (codegen'd regex battery)
    lift("graft_redact_pii")(Redact.redactPii),
    lift("graft_email_count")(Redact.emailCount),
    lift("graft_phone_count")(Redact.phoneCount),
    lift("graft_ipv4_count")(Redact.ipv4Count),
    // deterministic corpus split: graft_hash_split(key[, trainTo, valTo])
    "graft_hash_split" -> { exprs: Seq[Expression] =>
      arity("graft_hash_split", exprs, 1, 3)
      val key = ColumnBridge.column(exprs.head)
      val split =
        if (exprs.size == 1) TextFunctions.hashSplit(key)
        else TextFunctions.hashSplit(key,
          strArg("graft_hash_split", exprs(1), "trainTo"),
          strArg("graft_hash_split", exprs(2), "valTo"))
      ColumnBridge.resolvedExpression(split)
    },
    // native Catalyst kernels (tokens-array / vector hot loops)
    "graft_stopword_hits" -> { exprs: Seq[Expression] =>
      arity("graft_stopword_hits", exprs, 1)
      TextExpressions.StopwordHits(exprs.head)
    },
    "graft_simhash" -> { exprs: Seq[Expression] =>
      arity("graft_simhash", exprs, 1)
      HashExpressions.SimHash64(exprs.head)
    },
    "graft_minhash" -> { exprs: Seq[Expression] =>
      arity("graft_minhash", exprs, 2)
      HashExpressions.MinHashSignature(exprs.head,
        intArg("graft_minhash", exprs(1), "numHashes"))
    },
    "graft_hashed_shingles" -> { exprs: Seq[Expression] =>
      arity("graft_hashed_shingles", exprs, 2)
      HashExpressions.HashedShingles(exprs.head,
        intArg("graft_hashed_shingles", exprs(1), "k"))
    },
    "graft_cosine_similarity" -> { exprs: Seq[Expression] =>
      arity("graft_cosine_similarity", exprs, 2)
      VectorExpressions.CosineSimilarity(exprs.head, exprs(1))
    },
    "graft_sign_lsh_bucket" -> { exprs: Seq[Expression] =>
      arity("graft_sign_lsh_bucket", exprs, 2, 3)
      VectorExpressions.SignLshBucket(exprs.head,
        intArg("graft_sign_lsh_bucket", exprs(1), "planes"),
        if (exprs.size > 2) intArg("graft_sign_lsh_bucket", exprs(2), "planeOffset")
        else 0)
    })

  private def doubleArg(fn: String, e: Expression, what: String): Double =
    e match {
      // a bare SQL literal like 0.5 parses as DECIMAL; 0.5D as DOUBLE —
      // accept both spellings of the same plan-shape constant
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case Literal(v: Double, DoubleType) => v
      case Literal(v: Int, IntegerType) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a numeric literal, got $other")
    }

  private def plan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.logical

  /** The TABLE-function half of the surface: whole-operator entry points
    * a pure-SQL user puts in a FROM clause — retrieval against saved
    * BM25 stats, incremental dedup against a saved corpus index, quota
    * sampling — closing the "can score but not retrieve" gap the scalar
    * half left (VERDICT r16 #3). Corpus/batch inputs arrive as
    * table/view NAMES resolved lazily through the session catalog, so
    * the embedded plan composes with the outer query (pushdown, AQE)
    * exactly as the DataFrame API's would; index/stats trees arrive as
    * directory paths and load per invocation (the cold-start serving
    * shape — a session serving many queries should CACHE TABLE a view
    * over the TVF, or use the Scala handle API). Results are
    * bit-identical to the API operators because each builder IS the API
    * operator's plan (spec-pinned by SqlSurfaceSpec). */
  val tableFunctions: Seq[(String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    // graft_bm25_topk(corpusTable, idCol, textCol, statsDir, termsCsv[, k])
    "graft_bm25_topk" -> { exprs: Seq[Expression] =>
      val fn = "graft_bm25_topk"
      arity(fn, exprs, 5, 6)
      val spark = SparkSession.active
      val terms = strArg(fn, exprs(4), "termsCsv")
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      plan(graft.extensions.Search.bm25TopKFitted(
        spark.table(strArg(fn, exprs.head, "corpusTable")),
        graft.extensions.IndexFamily.Bm25.load(spark,
          strArg(fn, exprs(3), "statsDir")),
        strArg(fn, exprs(1), "idCol"), strArg(fn, exprs(2), "textCol"),
        terms,
        k = if (exprs.size > 5) intArg(fn, exprs(5), "k") else 20))
    },
    // graft_dedup_against_corpus(batchTable, idCol, textCol, indexDir[, threshold])
    "graft_dedup_against_corpus" -> { exprs: Seq[Expression] =>
      val fn = "graft_dedup_against_corpus"
      arity(fn, exprs, 4, 5)
      val spark = SparkSession.active
      plan(graft.extensions.Dedup.dedupAgainstCorpus(
        spark.table(strArg(fn, exprs.head, "batchTable")),
        graft.extensions.IndexFamily.Text.load(spark,
          strArg(fn, exprs(3), "indexDir")),
        strArg(fn, exprs(1), "idCol"), strArg(fn, exprs(2), "textCol"),
        threshold =
          if (exprs.size > 4) doubleArg(fn, exprs(4), "threshold") else 0.5))
    },
    // graft_ann_topk(queryTable, idCol, vecCol, indexDir[, k, nprobe]) —
    // ANN retrieval against a SAVED IvfIndex tree: cell-partition-pruned
    // scan of the nprobe nearest cells per query, exact cosine rank
    // within them (the ivfProbe plan verbatim, so the SQL result is
    // bit-identical to the API's)
    "graft_ann_topk" -> { exprs: Seq[Expression] =>
      val fn = "graft_ann_topk"
      arity(fn, exprs, 4, 5, 6)
      val spark = SparkSession.active
      plan(graft.extensions.Similarity.ivfProbe(
        graft.extensions.Similarity.loadIvfIndex(spark,
          strArg(fn, exprs(3), "indexDir")),
        spark.table(strArg(fn, exprs.head, "queryTable")),
        strArg(fn, exprs(1), "idCol"), strArg(fn, exprs(2), "vecCol"),
        k = if (exprs.size > 4) intArg(fn, exprs(4), "k") else 10,
        nprobe = if (exprs.size > 5) intArg(fn, exprs(5), "nprobe") else 4))
    },
    // graft_annpq_topk(queryTable, idCol, vecCol, indexDir[, k, nprobe,
    // rerank]) — the COMPRESSED-index sibling of graft_ann_topk: ANN
    // retrieval against a saved IvfPqIndex (IVFADC) tree, direct or
    // residual encoding read from the tree's own meta. The builder IS
    // the ivfPqProbe plan, so the cell-partition DPP prune, the
    // broadcast ADC tables and the candidate-borne rerank prune all
    // carry over and the SQL result is bit-identical to the API's.
    "graft_annpq_topk" -> { exprs: Seq[Expression] =>
      val fn = "graft_annpq_topk"
      arity(fn, exprs, 4, 5, 6, 7)
      val spark = SparkSession.active
      plan(graft.extensions.Similarity.ivfPqProbe(
        graft.extensions.IndexFamily.IvfPq.load(spark,
          strArg(fn, exprs(3), "indexDir")),
        spark.table(strArg(fn, exprs.head, "queryTable")),
        strArg(fn, exprs(1), "idCol"), strArg(fn, exprs(2), "vecCol"),
        k = if (exprs.size > 4) intArg(fn, exprs(4), "k") else 10,
        nprobe = if (exprs.size > 5) intArg(fn, exprs(5), "nprobe") else 4,
        rerank = if (exprs.size > 6) intArg(fn, exprs(6), "rerank") else 50))
    },
    // graft_lsh_topk(queryTable, idCol, vecCol, indexDir[, k]) — the
    // banded-candidate sibling: sign-LSH top-k against a saved LshIndex
    // tree (only bucket-sharing candidates are scored; the probe side
    // broadcasts). With graft_ann_topk / graft_annpq_topk / graft_pq_topk
    // this completes saved-tree SQL retrieval for every ANN family.
    "graft_lsh_topk" -> { exprs: Seq[Expression] =>
      val fn = "graft_lsh_topk"
      arity(fn, exprs, 4, 5)
      val spark = SparkSession.active
      plan(graft.extensions.Similarity.lshProbe(
        graft.extensions.IndexFamily.Lsh.load(spark,
          strArg(fn, exprs(3), "indexDir")),
        spark.table(strArg(fn, exprs.head, "queryTable")),
        strArg(fn, exprs(1), "idCol"), strArg(fn, exprs(2), "vecCol"),
        k = if (exprs.size > 4) intArg(fn, exprs(4), "k") else 10))
    },
    // graft_pq_topk(queryTable, idCol, vecCol, indexDir[, k, rerank]) —
    // whole-corpus ADC scan against a saved PqIndex tree (codes-only
    // compressed scan + exact re-rank of the top `rerank`)
    "graft_pq_topk" -> { exprs: Seq[Expression] =>
      val fn = "graft_pq_topk"
      arity(fn, exprs, 4, 5, 6)
      val spark = SparkSession.active
      plan(graft.extensions.Similarity.pqProbe(
        graft.extensions.IndexFamily.Pq.load(spark,
          strArg(fn, exprs(3), "indexDir")),
        spark.table(strArg(fn, exprs.head, "queryTable")),
        strArg(fn, exprs(1), "idCol"), strArg(fn, exprs(2), "vecCol"),
        k = if (exprs.size > 4) intArg(fn, exprs(4), "k") else 10,
        rerank = if (exprs.size > 5) intArg(fn, exprs(5), "rerank") else 50))
    },
    // graft_corpus_diff(oldTable, newTable, idCol, textCol) — what a
    // crawl refresh owes downstream, from pure SQL: per-id added /
    // removed / changed / same (two skinny (id, md5) projections, one
    // full-outer join; the corpusDiff plan verbatim)
    "graft_corpus_diff" -> { exprs: Seq[Expression] =>
      val fn = "graft_corpus_diff"
      arity(fn, exprs, 4)
      val spark = SparkSession.active
      plan(graft.extensions.CorpusOps.corpusDiff(
        spark.table(strArg(fn, exprs.head, "oldTable")),
        spark.table(strArg(fn, exprs(1), "newTable")),
        strArg(fn, exprs(2), "idCol"), strArg(fn, exprs(3), "textCol")))
    },
    // graft_vector_diff(oldTable, newTable, idCol, vecCol) — the
    // embedding twin (md5-over-JSON content hash, float-exact)
    "graft_vector_diff" -> { exprs: Seq[Expression] =>
      val fn = "graft_vector_diff"
      arity(fn, exprs, 4)
      val spark = SparkSession.active
      plan(graft.extensions.CorpusOps.vectorDiff(
        spark.table(strArg(fn, exprs.head, "oldTable")),
        spark.table(strArg(fn, exprs(1), "newTable")),
        strArg(fn, exprs(2), "idCol"), strArg(fn, exprs(3), "vecCol")))
    },
    // graft_quota_sample(table, keyCol, strataCol, quotasCsv[, defaultQuota])
    // quotasCsv: 'stratum:quota,stratum:quota' (e.g. 'en:100,de:50')
    "graft_quota_sample" -> { exprs: Seq[Expression] =>
      val fn = "graft_quota_sample"
      arity(fn, exprs, 4, 5)
      val spark = SparkSession.active
      val quotas = strArg(fn, exprs(3), "quotasCsv")
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .map { kv =>
          val i = kv.lastIndexOf(':')
          require(i > 0 && i < kv.length - 1,
            s"$fn: quotasCsv entries are 'stratum:quota', got '$kv'")
          kv.substring(0, i) -> kv.substring(i + 1).trim.toInt
        }.toMap
      plan(graft.extensions.CorpusOps.quotaSample(
        spark.table(strArg(fn, exprs.head, "table")),
        org.apache.spark.sql.functions.col(strArg(fn, exprs(1), "keyCol")),
        org.apache.spark.sql.functions.col(strArg(fn, exprs(2), "strataCol")),
        quotas,
        defaultQuota =
          if (exprs.size > 4) intArg(fn, exprs(4), "defaultQuota") else 0))
    })

  /** Register the same tables onto a LIVE session (post-creation, where
    * `spark.sql.extensions` can no longer apply). */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    tableFunctions.foreach { case (name, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
