package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale the harness tables by an integer factor for bench-only runs at
 * sizes the fixtures don't ship (an sf1 point between sf0.1 and "100 TB by
 * design"; `scripts/bench_sf1.sh` generates its fixture with it).
 *
 *   Test/runMain graft.GenSf <srcDir> <dstDir> <factor>
 *
 * Method: union `factor` key-shifted copies. Entity keys (custkey,
 * orderkey, partkey, suppkey, event/user/doc/vec ids) shift by
 * copy*STRIDE so every FK join keeps its exact cardinality per copy;
 * nation/region stay fixed dims (their keys never shift), matching how
 * TPC-H itself scales. Document text gets a per-copy suffix token
 * (n_chars recomputed) and embeddings a per-copy first-component nudge, so
 * the scaled corpus is 10x DISTINCT near-dup-rich content rather than 10
 * bit-identical copies — the degenerate case would hand exact-dedup a free
 * 90% kill and starve the near-dup paths of realistic work.
 */
object GenSf {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-gensf")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val src = args(0); val dst = args(1); val factor = args(2).toInt
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
    spark.stop()
  }
}
