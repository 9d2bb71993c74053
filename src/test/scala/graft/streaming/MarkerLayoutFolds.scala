package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.extensions.{IndexFamily, Versioned}

/** The fixture behind [[MarkerLayoutSpec]]: small indexes of all seven
  * families, fresh one-batch sink trees, and the compaction entry point
  * each (family, leg) runs. Kept apart from the spec so the spec's
  * literal layout table never changes when the entry points do. */
object MarkerLayoutFolds {

  private def docs(spark: SparkSession): DataFrame =
    graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") < 45).select(col("doc_id"), col("text"))

  private def vecs(spark: SparkSession): DataFrame =
    graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 68).select(col("vec_id"), col("embedding"))

  private def isText(family: String): Boolean = Set("text", "bm25")(family)

  /** One fresh `batch=0` tree per leg: accept rows are new ids, upsert
    * rows amend served ids (with the old image for the text families),
    * retract rows retire other served ids. */
  def writeTrees(spark: SparkSession, family: String): Map[String, String] = {
    val trees = Seq("accept", "upsert", "retract")
      .map(t => t -> TestSpark.tmpDir(s"graft-layout-$family-$t")).toMap
    fillTrees(spark, family, trees)
    trees
  }

  /** (Over)write the `batch=0` rows of [[writeTrees]]'s trees, the id
    * column named `idAs` when given. */
  def fillTrees(spark: SparkSession, family: String, trees: Map[String, String],
                idAs: Option[String] = None): Unit = {
    def write(t: String, df: DataFrame): Unit =
      idAs.fold(df)(df.withColumnRenamed(df.columns.head, _))
        .write.mode("overwrite").parquet(s"${trees(t)}/batch=0")
    if (isText(family)) {
      val d = docs(spark)
      write("accept", d.filter(col("doc_id") >= 40))
      write("upsert", d.filter(col("doc_id") < 5).select(col("doc_id"),
        concat(col("text"), lit(" amended")).as("text"),
        col("text").as("old_text")))
      write("retract", d.filter(col("doc_id").between(10, 14)))
    } else {
      val v = vecs(spark)
      write("accept", v.filter(col("vec_id") >= 64))
      write("upsert", v.filter(col("vec_id") < 4).select(col("vec_id"),
        reverse(col("embedding")).as("embedding")))
      write("retract", v.filter(col("vec_id").between(10, 13))
        .select(col("vec_id")))
    }
  }

  /** Non-default hyperparameters that keep the fixture's fits small. */
  private val hyper: Map[String, Map[String, Any]] = Map(
    "ivf" -> Map("nlist" -> 4),
    "ivfpq" -> Map("nlist" -> 4, "m" -> 8, "ksub" -> 16),
    "pq" -> Map("m" -> 8, "ksub" -> 16))

  /** Run the (family, leg) compaction over `trees` against a freshly
    * fitted in-memory index of the served set. */
  def fold(spark: SparkSession, family: String, leg: String,
           trees: Map[String, String]): Unit = {
    val served = if (isText(family)) docs(spark).filter(col("doc_id") < 40)
                 else vecs(spark).filter(col("vec_id") < 64)
    val (a, u, r) = (trees("accept"), trees("upsert"), trees("retract"))
    val (id, c) = if (isText(family)) ("doc_id", "text") else ("vec_id", "embedding")
    def run[I <: Versioned](implicit fam: IndexFamily[I]): Unit = {
      val ix = fam.fit(served, id, c, hyper.getOrElse(family, Map.empty))
      val old = if (fam.retractsByImage) Some("old_text") else None
      leg match {
        case "accept" => CdcStream.compactAccepted(spark, a, ix, id, c)
        case "upsert" => CdcStream.compact(spark, None, Some(u), None, ix, id, c, old)
        case "retract" => CdcStream.compact(spark, None, None, Some(r), ix, id, c)
        case "net" => CdcStream.compact(spark, Some(a), Some(u), Some(r), ix, id, c, old)
      }
      ()
    }
    run(IndexFamily.named(family).get)
  }
}
