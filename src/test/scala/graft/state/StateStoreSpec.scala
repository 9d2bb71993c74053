package graft.state

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** StateStore durability + read-path contracts: every commit replaces
  * the one JSON catalog file in one step, so a crash leaves the last
  * commit readable; reads parse that file on the driver and start no
  * Spark job; an earlier build's parquet catalog migrates on first read. */
class StateStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = graft.util.Util.utcTs(s)

  private def mkState(name: String, dsn: Int = 1) = TableState(
    name = name, schemaName = "main", nmsColumn = "ts", pKeyColumn = Some("id"),
    schemaJson = None, nms = ts("2024-01-01 00:00:00"), lastRowCount = 10L,
    dsn = dsn, lastShovedOn = None)

  private def catalogFile(dir: String) = java.nio.file.Paths.get(dir, "nmstables.json")

  test("crash before the rename: a leftover temp catalog is ignored and the last commit reads back") {
    val dir = TestSpark.tmpDir("graft-store-crash")
    val store = new StateStore(spark, dir)
    store.upsert(Seq(mkState("events"), mkState("orders")))
    // a commit that died after staging its temp file, before the rename
    java.nio.file.Files.write(java.nio.file.Paths.get(dir,
      s".nmstables.json.${java.util.UUID.randomUUID()}.tmp"), "[{\"na".getBytes("UTF-8"))
    val rows = new StateStore(spark, dir).read().collect()
    assert(rows.map(_.name).toSet == Set("events", "orders"))
    // and the next commit publishes over it as usual
    store.commit(1, "events", ts("2024-02-01 00:00:00"), 20L, ts("2024-02-01 00:00:00"))
    assert(new StateStore(spark, dir).read().collect()
      .find(_.name == "events").get.lastRowCount == 20L)
  }

  test("reads between writes parse the catalog file: no Spark job") {
    val dir = TestSpark.tmpDir("graft-store-reads")
    val store = new StateStore(spark, dir)
    store.upsert(Seq(mkState("events"), mkState("orders")))
    val sibling = new StateStore(spark, dir)
    val (_, sites) = TestSpark.jobSites {
      (1 to 5).foreach(_ => assert(store.read().collect().length == 2))
      (1 to 3).foreach(_ => assert(store.readForDsn(1).collect().length == 2))
      assert(sibling.read().collect().length == 2)
    }
    assert(sites.isEmpty, s"catalog reads started jobs: $sites")
    assert(store.catalogScans.get() == 0L && sibling.catalogScans.get() == 0L)

    // a commit through one store is what the other reads next, and a
    // watermark round-trips at microsecond precision
    val nms = ts("2024-03-01 00:00:00")
    nms.setNanos(123456000)
    sibling.commit(1, "events", nms, 42L, ts("2024-03-01 00:00:00"))
    val after = store.read().collect().find(_.name == "events").get
    assert(after.lastRowCount == 42L && after.nms == nms)
  }

  test("concurrent multi-DSN commits never lose updates through the memo") {
    // two engines (separate StateStore instances, same path — the
    // multi-DSN deployment) commit interleaved; the per-path lock must
    // serialize read-modify-rewrite cycles so every commit survives
    val dir = TestSpark.tmpDir("graft-store-race")
    val a = new StateStore(spark, dir)
    val b = new StateStore(spark, dir)
    a.upsert((1 to 6).map(i => mkState(s"t$i", dsn = 1 + i % 2)))

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new Runnable {
        def run(): Unit = (1 to 10).foreach { r =>
          a.commit(1, "t2", ts("2024-03-01 00:00:00"), r.toLong,
            ts("2024-03-01 00:00:00"))
        }
      })
      val fb = pool.submit(new Runnable {
        def run(): Unit = (1 to 10).foreach { r =>
          b.commit(2, "t3", ts("2024-03-02 00:00:00"), (100 + r).toLong,
            ts("2024-03-02 00:00:00"))
        }
      })
      fa.get(); fb.get()
    } finally pool.shutdown()

    val fin = new StateStore(spark, dir).read().collect()
    assert(fin.length == 6, "no row lost or duplicated under concurrent commits")
    assert(fin.find(s => s.name == "t2" && s.dsn == 1).get.lastRowCount == 10L)
    assert(fin.find(s => s.name == "t3" && s.dsn == 2).get.lastRowCount == 110L)
    // untouched rows still carry their seed state
    assert(fin.count(_.lastShovedOn.isEmpty) == 4)
  }

  test("an out-of-band catalog replacement is seen by the next read") {
    val dir = TestSpark.tmpDir("graft-store-ext")
    val store = new StateStore(spark, dir)
    store.upsert(Seq(mkState("events")))
    assert(store.read().count() == 1)
    // an operator restores another catalog file (a backup, a repair)
    val other = TestSpark.tmpDir("graft-store-ext2")
    new StateStore(spark, other).upsert(Seq(mkState("events"), mkState("orders")))
    java.nio.file.Files.copy(catalogFile(other), catalogFile(dir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.copy(java.nio.file.Paths.get(other, ".nmstables.json.crc"),
      java.nio.file.Paths.get(dir, ".nmstables.json.crc"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(store.read().count() == 2)
  }

  test("crash between aside and publish: read() recovers the aside catalog") {
    // an earlier build's rename-aside publish died between moving its
    // parquet catalog aside and publishing the new one: only the aside
    // holds the last durable catalog, and the first read migrates it
    val dir = TestSpark.tmpDir("graft-store-aside")
    import spark.implicits._
    Seq(mkState("events"), mkState("orders")).toDS().coalesce(1)
      .write.parquet(s"$dir/nmstables.old")
    val store = new StateStore(spark, dir)
    assert(store.read().collect().map(_.name).toSet == Set("events", "orders"))
    assert(store.catalogScans.get() == 1L)
    assert(new StateStore(spark, dir).read().count() == 2)
  }

  test("an earlier build's parquet catalog migrates on first read; catalogScans counts that read once") {
    val dir = TestSpark.tmpDir("graft-store-legacy")
    val shoved = ts("2024-01-02 03:04:05")
    shoved.setNanos(987654000)
    val legacy = Seq(mkState("events").copy(schemaJson = Some("{\"type\":\"struct\"}"),
      lastShovedOn = Some(shoved)), mkState("orders", dsn = 2).copy(pKeyColumn = None))
    import spark.implicits._
    legacy.toDS().coalesce(1).write.parquet(s"$dir/nmstables")

    val store = new StateStore(spark, dir)
    assert(store.read().collect().toSeq.sortBy(_.name) == legacy)
    assert(store.catalogScans.get() == 1L && store.catalogWrites.get() == 1L)
    assert(java.nio.file.Files.exists(catalogFile(dir)), "published as JSON")
    // later reads, in this store or a fresh one, parse the JSON file
    assert(store.readForDsn(2).collect().map(_.name).toSeq == Seq("orders"))
    assert(store.catalogScans.get() == 1L)
    val fresh = new StateStore(spark, dir)
    assert(fresh.read().collect().toSeq.sortBy(_.name) == legacy)
    assert(fresh.catalogScans.get() == 0L)
  }
}
