package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The program sees only the files they write;
  * the generators keep the ground truth the output checks compare to. */
object Gen {
  def writeRows(spark: SparkSession, rows: Seq[Row], schema: StructType,
                path: String, mode: String = "append", files: Int = 1): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).repartition(files)
      .write.mode(mode).parquet(path)
  }

  /** The document vocabulary of the repo's generated `documents` table
    * (31 words, drawn uniformly there). */
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
}

/** One captured source row version of an events-shaped table. */
final case class Ev(id: Long, tsMicros: Long, user: Long, etype: String,
                    cents: Long, k: Int) {
  def row: Row = {
    val ts = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(Math.floorDiv(tsMicros, 1000000L),
        Math.floorMod(tsMicros, 1000000L) * 1000L))
    Row(id, ts, user, etype, cents / 100.0, s"""{"k": $k}""")
  }
}

/**
 * Events-shaped source tables for `cdc_replicate`. Table `i` grows at
 * `scale(i)` (1 to 4) times the base rate, so per-table costs differ. Each
 * batch holds inserts of fresh keys and updates of older keys; every
 * version of a key has a later `ts` than the one before, so the latest
 * version by `ts` is the expected current state.
 */
final class CdcGen(seed: Long, val nTables: Int, baseInit: Int,
                   baseIns: Int, baseUpd: Int, users: Int) {
  private val rnd = new SplittableRandom(seed)
  val names: IndexedSeq[String] = (0 until nTables).map(i => f"ev$i%02d")
  def scale(i: Int): Int = 1 + i % 4
  private val versions = Array.fill(nTables)(mutable.ArrayBuffer[Ev]())
  private val nextId = Array.fill(nTables)(0L)

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val types = Array("view", "click", "purchase", "signup", "error")

  private def event(id: Long, lo: Long, hi: Long): Ev =
    Ev(id, lo + 1 + rnd.nextLong(hi - lo), 1 + rnd.nextLong(users),
      types(rnd.nextInt(types.length)), rnd.nextLong(100000L), rnd.nextInt(100))

  /** Rows of table `i` landing in `(lo, hi]` (micros): inserts, then
    * updates of distinct keys that existed before this batch. */
  def batch(i: Int, lo: Long, hi: Long, initial: Boolean): Seq[Ev] = {
    val nIns = (if (initial) baseInit else baseIns) * scale(i)
    val nUpd = if (initial) 0 else baseUpd * scale(i)
    val existing = nextId(i)
    val ins = (0 until nIns).map(j => event(existing + j, lo, hi))
    nextId(i) += nIns
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < math.min(nUpd.toLong, existing)) keys += rnd.nextLong(existing)
    val upd = keys.toSeq.map(k => event(k, lo, hi))
    val out = ins ++ upd
    versions(i) ++= out
    out
  }

  def rowsIn(i: Int, loMicros: Long, hiMicros: Long): Long =
    versions(i).count(e => e.tsMicros > loMicros && e.tsMicros <= hiMicros)

  def totalRows: Long = versions.map(_.size.toLong).sum

  /** Latest version per key among versions with `ts <= upTo`. */
  def stateAt(i: Int, upToMicros: Long): Map[Long, Ev] = {
    val m = mutable.LongMap[Ev]()
    versions(i).foreach { e =>
      if (e.tsMicros <= upToMicros && m.get(e.id).forall(_.tsMicros < e.tsMicros)) m(e.id) = e
    }
    m.toMap
  }

  def liveKeys: Long = nextId.sum
}

/**
 * A document corpus for `curation_batch`: `docs` base documents of 30 to 80
 * words drawn from [[Gen.Vocab]], plus planted duplicates. A share
 * `exactRate` of base documents gets one byte-identical copy and a share
 * `nearRate` gets one near copy with one word replaced per 25 words. Every
 * copy has a higher id than its original, so dedup keeps the original.
 */
final class CorpusGen(seed: Long, docs: Int, exactRate: Double, nearRate: Double) {
  private val rnd = new SplittableRandom(seed)
  private def words(n: Int) = Array.fill(n)(Gen.Vocab(rnd.nextInt(Gen.Vocab.length)))

  val base: IndexedSeq[Array[String]] = (0 until docs).map(_ => words(30 + rnd.nextInt(51)))
  /** copy id -> original id */
  val exactCopies = mutable.LinkedHashMap[Long, Long]()
  val nearCopies = mutable.LinkedHashMap[Long, Long]()
  val texts: IndexedSeq[(Long, String)] = {
    val out = mutable.ArrayBuffer[(Long, String)]()
    base.indices.foreach(i => out += ((i.toLong, base(i).mkString(" "))))
    var next = docs.toLong
    base.indices.foreach { i =>
      if (rnd.nextDouble() < exactRate) {
        exactCopies(next) = i.toLong
        out += ((next, base(i).mkString(" "))); next += 1
      }
      if (rnd.nextDouble() < nearRate) {
        val w = base(i).clone()
        val at = mutable.LinkedHashSet[Int]()
        while (at.size < math.max(1, w.length / 25)) at += rnd.nextInt(w.length)
        at.foreach { j =>
          w(j) = Gen.Vocab((Gen.Vocab.indexOf(w(j)) + 1 + rnd.nextInt(Gen.Vocab.length - 1)) %
            Gen.Vocab.length)
        }
        nearCopies(next) = i.toLong
        out += ((next, w.mkString(" "))); next += 1
      }
    }
    out.toIndexedSeq
  }

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  def rows: Seq[Row] = texts.map { case (id, t) => Row(id, t) }

  /** Seeded query sets: each query is three distinct vocabulary words. */
  def queries(batch: Int, n: Int): Seq[(Long, Seq[String])] = {
    val r = new SplittableRandom(seed * 7919L + batch)
    (0 until n).map { q =>
      val terms = mutable.LinkedHashSet[String]()
      while (terms.size < 3) terms += Gen.Vocab(r.nextInt(Gen.Vocab.length))
      (q.toLong, terms.toSeq)
    }
  }
}

/**
 * A clustered vector corpus for `vector_maintain`: `dim`-dimensional
 * vectors around `clusters` random unit centres with per-coordinate noise
 * `sigma`. The noise keeps any two vectors far below the ingest gate's
 * 0.95 cosine, so every insert is novel and the live set is known exactly.
 * Change files mix inserts of fresh ids, updates (a new vector for a live
 * id) and deletes of distinct live ids.
 */
final class VecGen(seed: Long, initial: Int, val dim: Int, clusters: Int, sigma: Double) {
  private val rnd = new SplittableRandom(seed)
  /** Box-Muller on a seeded stream. */
  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
  private val centres: Array[Array[Double]] = Array.fill(clusters) {
    val c = Array.fill(dim)(gauss(rnd))
    val nrm = math.sqrt(c.map(x => x * x).sum)
    c.map(_ / nrm)
  }
  private def near(r: SplittableRandom): Array[Float] = {
    val c = centres(r.nextInt(clusters))
    Array.tabulate(dim)(d => (c(d) + sigma * gauss(r)).toFloat)
  }
  def vector(): Array[Float] = near(rnd)

  val live = mutable.LinkedHashMap[Long, Array[Float]]()
  private var nextId = 0L
  (0 until initial).foreach { _ => live(nextId) = vector(); nextId += 1 }

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val changeSchema: StructType = schema.add(StructField("op", StringType))

  def corpusRows: Seq[Row] = live.toSeq.map { case (id, v) => Row(id, v.toSeq) }

  /** One change file's rows; applies the change to [[live]]. */
  def changes(inserts: Int, updates: Int, deletes: Int): Seq[Row] = {
    val ids = live.keys.toIndexedSeq
    val touched = mutable.LinkedHashSet[Long]()
    while (touched.size < updates + deletes) touched += ids(rnd.nextInt(ids.size))
    val (upd, del) = touched.toSeq.splitAt(updates)
    val rows = mutable.ArrayBuffer[Row]()
    (0 until inserts).foreach { _ =>
      val v = vector(); live(nextId) = v
      rows += Row(nextId, v.toSeq, "insert"); nextId += 1
    }
    upd.foreach { id => val v = vector(); live(id) = v; rows += Row(id, v.toSeq, "update") }
    del.foreach { id => rows += Row(id, live(id).toSeq, "delete"); live.remove(id) }
    rows.toSeq
  }

  /** Seeded query vectors drawn like the corpus, with negative ids. */
  def queries(batch: Long, n: Int): Seq[(Long, Array[Float])] = {
    val r = new SplittableRandom(seed * 1000003L + batch)
    (0 until n).map(q => (-(batch * n + q) - 1, near(r)))
  }
}
