package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY §2 + north-star
  * extensions), one entry per operator; `oracleSql` holds the DuckDB
  * equivalent for every SQL-expressible query (column names aligned).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The CDC core:
    * windowed snapshot (S1/F1/P1/P3) + current-state dedup (W1) in one plan. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    CdcQueries.defs("cdc_current_state")(spark, dir)
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CdcQueries.defs ++ RelationalQueries.defs ++ NorthStarQueries.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CdcQueries.oracles ++ RelationalQueries.oracles ++ NorthStarQueries.oracles

  /** Release every fixture the query suites pin, in every session
    * (persisted relations, fitted indexes, the lookup engine) and delete
    * their temp trees — the four [[Fixtures]] phases at once. The
    * bench/verify mains call this before stopping the session; a
    * long-lived service embedding `queries` must call it when a corpus
    * version is retired. */
  def clearCaches(): Unit = Fixtures.phases.foreach(Fixtures.release)
}
