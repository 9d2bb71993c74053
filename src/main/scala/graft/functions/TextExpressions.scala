package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the text-analysis hot loops — same
 * rationale as [[HashExpressions]]: the builtin-composed forms
 * (`filter(split(lower(t), …))`, `filter(tokens, array_contains(profile,
 * _))` per language) run their lambdas interpreted, per element and with
 * no common-subexpression elimination; these do the work in one pass
 * through a static JIT-compiled kernel ([[TextKernels]]), and stay inside
 * WholeStageCodegen via static-call `doGenCode`.
 *
 * The lowercasing expressions never call Spark's `lower`: in Spark 4.1
 * its first use builds `CollationAwareUTF8String`'s title-case table
 * (one ICU `toTitleCase` with a fresh word `BreakIterator` per code
 * point, gigabytes of allocation per JVM), which UTF8_BINARY lowercasing
 * never reads. Like Spark's `Lower`, they read
 * `spark.sql.icu.caseMappings.enabled` when they are built.
 *
 * The Column-composed `*Composed` forms in [[TextFunctions]] remain the
 * reference semantics; `TextFunctionsSpec` pins both paths to identical
 * results.
 */
object TextExpressions {

  private def icuCaseMappings: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** Spark's UTF8_BINARY `lower`, bit for bit ([[TextKernels.lowercase]]). */
  case class Lowercase(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    private val icu = icuCaseMappings
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "lowercase"

    override def nullSafeEval(input: Any): Any =
      TextKernels.lowercase(input.asInstanceOf[UTF8String], icu)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.lowercase($c, $icu)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Lowercased word tokens — lowercase, split on runs of non-letter,
    * non-number code points, drop empties — in one pass
    * ([[TextKernels.tokens]]). */
  case class Tokens(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    private val icu = icuCaseMappings
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "tokens"

    override def nullSafeEval(input: Any): Any =
      TextKernels.tokens(input.asInstanceOf[UTF8String], icu)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokens($c, $icu)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Rolling space-joined `n`-grams of a token array
    * ([[TextKernels.tokenNgrams]]). Never NULL: a NULL or too-short array
    * has no grams, as in the composed form. */
  case class TokenNgrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "token_ngrams"

    override def checkInputDataTypes(): TypeCheckResult = ExprChecks.all(
      ExprChecks.requireArrayOf(prettyName, child.dataType, StringType),
      ExprChecks.requireParam(prettyName, n >= 1, s"n must be >= 1, got $n"))

    override def eval(input: InternalRow): Any =
      TextKernels.tokenNgrams(child.eval(input).asInstanceOf[ArrayData], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        ArrayData ${ev.value} = graft.functions.TextKernels.tokenNgrams(
          ${c.isNull} ? null : ${c.value}, $n);""", isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** BPE-ish token count ([[TextKernels.tokenCountBpe]]). A NULL text
    * counts like `size` of a NULL array: -1 under legacy `sizeOfNull`,
    * else NULL — read when built, as `Size` reads it. */
  case class TokenCountBpe(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    private val legacySizeOfNull = SQLConf.get.legacySizeOfNull
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = !legacySizeOfNull && child.nullable
    override def prettyName: String = "token_count_bpe"

    override def eval(input: InternalRow): Any = child.eval(input) match {
      case null => if (legacySizeOfNull) -1L else null
      case s => TextKernels.tokenCountBpe(s.asInstanceOf[UTF8String])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = ${if (legacySizeOfNull) "false" else c.isNull.toString};
        long ${ev.value} = ${c.isNull} ? -1L
          : graft.functions.TextKernels.tokenCountBpe(${c.value});""")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Cavnar-Trenkle-style profile argmax over a tokens array<string>. */
  case class LangIdExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "lang_id"

    override def checkInputDataTypes(): TypeCheckResult =
      ExprChecks.requireArrayOf(prettyName, child.dataType, StringType)

    override def nullSafeEval(input: Any): Any =
      TextKernels.langId(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.langId($c)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Stopword hit count (with multiplicity) over a tokens array<string>. */
  case class StopwordHits(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "stopword_hits"

    override def checkInputDataTypes(): TypeCheckResult =
      ExprChecks.requireArrayOf(prettyName, child.dataType, StringType)

    override def nullSafeEval(input: Any): Any =
      java.lang.Integer.valueOf(TextKernels.stopwordHits(input.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.stopwordHits($c)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def lowercase(text: Column): Column =
    ColumnBridge.column(Lowercase(ColumnBridge.expression(text)))

  def tokens(text: Column): Column =
    ColumnBridge.column(Tokens(ColumnBridge.expression(text)))

  def token_ngrams(tokens: Column, n: Int): Column =
    ColumnBridge.column(TokenNgrams(ColumnBridge.expression(tokens), n))

  def token_count_bpe(text: Column): Column =
    ColumnBridge.column(TokenCountBpe(ColumnBridge.expression(text)))

  def lang_id(tokens: Column): Column =
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(tokens)))

  def stopword_hits(tokens: Column): Column =
    ColumnBridge.column(StopwordHits(ColumnBridge.expression(tokens)))

  /** Register both as SQL functions on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lang_id", exprs => LangIdExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "stopword_hits", exprs => StopwordHits(exprs.head), "scala_udf")
  }
}
