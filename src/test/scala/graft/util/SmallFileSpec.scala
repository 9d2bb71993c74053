package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The two properties every metadata file rests on: a crash before the
  * publish leaves the old file readable, and of concurrent
  * publish-if-absent calls exactly one wins. */
class SmallFileSpec extends AnyFunSuite {
  private val fs = org.apache.hadoop.fs.FileSystem.getLocal(new Configuration())

  private def text(b: Option[Array[Byte]]) = b.map(new String(_, UTF_8))

  test("a temp file left by a crash before the rename is ignored; the old bytes read back") {
    val dir = TestSpark.tmpDir("graft-smallfile-crash")
    val p = new Path(dir, "stamp.json")
    assert(SmallFile.read(fs, p).isEmpty)
    SmallFile.replace(fs, p, "old".getBytes(UTF_8))
    // a replace that died after staging its temp file, before the rename
    Files.write(Paths.get(dir, s".stamp.json.${java.util.UUID.randomUUID()}.tmp"),
      "new, trunc".getBytes(UTF_8))
    assert(text(SmallFile.read(fs, p)) == Some("old"))
    SmallFile.replace(fs, p, "newer".getBytes(UTF_8))
    assert(text(SmallFile.read(fs, p)) == Some("newer"))
    // replace leaves no temp file of its own behind
    assert(Option(new java.io.File(dir).list()).get.count(_.endsWith(".tmp")) == 1)
  }

  test("publishIfAbsent: of two threads publishing one path, exactly one wins and both read its bytes") {
    val dir = TestSpark.tmpDir("graft-smallfile-race")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 20).foreach { round =>
      val p = new Path(dir, s"lease$round")
      val gate = new java.util.concurrent.CountDownLatch(1)
      val calls = Seq("a", "b").map { who =>
        pool.submit(new java.util.concurrent.Callable[(String, Boolean, String)] {
          def call() = {
            gate.await()
            val won = SmallFile.publishIfAbsent(fs, p, who.getBytes(UTF_8))
            (who, won, text(SmallFile.read(fs, p)).get)
          }
        })
      }
      gate.countDown()
      val outcomes = calls.map(_.get())
      val winners = outcomes.filter(_._2)
      assert(winners.size == 1, s"round $round: $outcomes")
      assert(outcomes.forall(_._3 == winners.head._1), s"round $round: $outcomes")
    } finally pool.shutdown()
    // a later publish finds the name taken and leaves the winner in place
    assert(!SmallFile.publishIfAbsent(fs, new Path(dir, "lease1"), "c".getBytes(UTF_8)))
    assert(new java.io.File(dir).list().forall(n => n.startsWith("lease")))
  }
}
