package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Fold-equivalence properties of the MERGE compaction: for ANY partition
  * of the data into batches, applied in ANY order, the folded state equals
  * the direct latest-per-key recompute (max_by over a total order is
  * associative + commutative + idempotent — the property that makes
  * at-least-once replays and out-of-order window completion safe). */
class CompactedStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def events = graft.sources.Tables.load(spark, TestSpark.Sf0001, "events")
  private val conf = CompactedState.Config(
    Seq("user_id"), "ts", Seq("event_id"), numBuckets = 8)

  private def recompute = CurrentState.latestByKeyAgg(
    events, Seq("user_id"), "ts", Seq("event_id"))

  test("random batch partitions, shuffled application order == recompute") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val nBatches = 2 + rnd.nextInt(4)
      // deterministic random partition of rows into batches by id hash
      val salt = rnd.nextInt(1000)
      val batches = (0 until nBatches).map { b =>
        events.filter(pmod(xxhash64(col("event_id"), lit(salt)), lit(nBatches)) === b)
      }
      val order = rnd.shuffle((0 until nBatches).toList)
      val dir = TestSpark.tmpDir(s"graft-compact-prop-$seed")
      order.foreach(b => CompactedState.upsert(spark, dir, batches(b), conf))
      val folded = CompactedState.read(spark, dir).get
      assert(folded.count() == recompute.count(), s"seed=$seed order=$order")
      assert(folded.except(recompute).isEmpty && recompute.except(folded).isEmpty,
        s"seed=$seed order=$order")
    }
  }

  test("duplicate batch application (at-least-once) is a no-op") {
    val dir = TestSpark.tmpDir("graft-compact-prop-dup")
    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 === 1)
    CompactedState.upsert(spark, dir, half1, conf)
    CompactedState.upsert(spark, dir, half2, conf)
    CompactedState.upsert(spark, dir, half1, conf) // replay
    val folded = CompactedState.read(spark, dir).get
    assert(folded.except(recompute).isEmpty && recompute.except(folded).isEmpty)
    // vacuum keeps only the latest version per bucket; contents unchanged
    CompactedState.vacuum(spark, dir)
    val vacuumed = CompactedState.read(spark, dir).get
    assert(vacuumed.except(folded).isEmpty && folded.except(vacuumed).isEmpty)
  }

  test("vacuum retain=2 keeps a one-version grace; a pre-vacuum reader still resolves") {
    val dir = TestSpark.tmpDir("graft-compact-retain")
    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 === 1)
    CompactedState.upsert(spark, dir, half1, conf)
    val held = CompactedState.read(spark, dir).get // listing pinned at v=1
    val heldExpect = CurrentState.latestByKeyAgg(
      half1, Seq("user_id"), "ts", Seq("event_id")).count()
    CompactedState.upsert(spark, dir, half2, conf)
    CompactedState.vacuum(spark, dir, retain = 2)
    // the held reader's files survived the vacuum (one-tick grace)...
    assert(held.count() == heldExpect)
    // ...and a fresh reader serves the merged current state
    val fresh = CompactedState.read(spark, dir).get
    assert(fresh.except(recompute).isEmpty && recompute.except(fresh).isEmpty)
    // retain=1 then reclaims the superseded version
    CompactedState.vacuum(spark, dir, retain = 1)
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).foreach { b =>
        assert(b.listFiles().count(f => f.getName.startsWith("v=")) == 1)
      }
  }

  test("corrupt _meta fails with its own error, distinct from a numBuckets mismatch") {
    val dir = TestSpark.tmpDir("graft-compact-corrupt")
    CompactedState.upsert(spark, dir, events, conf)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_meta"),
      "{\"numBuc".getBytes("UTF-8")) // truncated mid-write
    // drop the checksummed-FS sidecar: the out-of-band corruption above
    // would otherwise surface as a ChecksumException before parsing
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/._meta.crc"))
    val up = intercept[IllegalStateException] {
      CompactedState.upsert(spark, dir, events.limit(5), conf)
    }
    assert(up.getMessage.contains("corrupt _meta"))
    assert(!up.getMessage.contains("numBuckets mismatch"))
    val look = intercept[IllegalStateException] {
      CompactedState.lookup(spark, dir, conf, Seq(1L))
    }
    assert(look.getMessage.contains("corrupt _meta"))
  }

  /** `bucket=<b>/v=<n>` -> its parquet file count, for every version dir. */
  private def versionFiles(dir: String): Map[String, Int] =
    TestSpark.parquetFiles(dir).filter(_._1.startsWith("bucket="))

  private def bucketOf = pmod(xxhash64(col("user_id")), lit(conf.numBuckets.toLong))

  private def assertOneFilePerTouchedBucket(tag: String): Unit = {
    val dir = TestSpark.tmpDir(s"graft-compact-shape-$tag")
    CompactedState.upsert(spark, dir, events, conf)
    val first = versionFiles(dir)
    assert(first.keySet == (0 until conf.numBuckets).map(b => s"bucket=$b/v=1").toSet, s"$tag: $first")
    assert(first.values.forall(_ == 1), s"$tag: one data file per touched bucket: $first")
    // a batch touching two buckets publishes exactly those two, one file
    // each; every other bucket keeps its single version
    CompactedState.upsert(spark, dir, events.filter(bucketOf.isin(1L, 5L)), conf)
    val second = versionFiles(dir)
    assert(second -- first.keySet == Map("bucket=1/v=2" -> 1, "bucket=5/v=2" -> 1), s"$tag: $second")
    assert(first.keySet.subsetOf(second.keySet), s"$tag: $second")
    val folded = CompactedState.read(spark, dir).get
    assert(folded.except(recompute).isEmpty && recompute.except(folded).isEmpty, tag)
  }

  test("each touched bucket is written as one file, untouched buckets gain no version (AQE on)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assertOneFilePerTouchedBucket("aqe")
  }

  test("each touched bucket is written as one file without AQE's coalescing") {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try assertOneFilePerTouchedBucket("noaqe")
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("merge with an empty touched set writes neither _meta nor a version") {
    val dir = TestSpark.tmpDir("graft-compact-empty")
    CompactedState.upsert(spark, dir, events.filter(lit(false)), conf)
    CompactedState.merge(spark, dir, events.limit(0), conf, Set.empty)
    assert(new java.io.File(dir).list().isEmpty)
    assert(CompactedState.read(spark, dir).isEmpty)
  }

  test("vacuum reclaims an orphaned stage dir below the newest version, never one at it") {
    val dir = TestSpark.tmpDir("graft-compact-orphan")
    CompactedState.upsert(spark, dir, events.filter(col("event_id") % 2 === 0), conf)
    CompactedState.upsert(spark, dir, events.filter(col("event_id") % 2 === 1), conf)
    assert(versionFiles(dir).keySet.contains("bucket=3/v=2"))
    // a publish that crashed after its write left _stage_v1 behind; a
    // stage at the newest version may be a publish still in flight
    val orphan = new java.io.File(s"$dir/_stage_v1/__b=3")
    val inFlight = new java.io.File(s"$dir/_stage_v2/__b=3")
    Seq(orphan, inFlight).foreach { d =>
      assert(d.mkdirs())
      java.nio.file.Files.copy(
        new java.io.File(s"$dir/bucket=3/v=2").listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
        new java.io.File(d, "part-00000.parquet").toPath)
    }
    val before = CompactedState.read(spark, dir).get.collect().toSet
    CompactedState.vacuum(spark, dir, retain = 2)
    assert(!new java.io.File(s"$dir/_stage_v1").exists(), "the orphaned stage must be reclaimed")
    assert(inFlight.exists(), "a stage at the newest version must survive")
    assert(CompactedState.read(spark, dir).get.collect().toSet == before)
  }
}
