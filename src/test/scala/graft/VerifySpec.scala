package graft

import org.scalatest.funsuite.AnyFunSuite

/** A query that throws used to vanish from the correctness dump while
  * the main still exited 0, so a checker over the dump could not tell a
  * failed query from one it was never asked about. */
class VerifySpec extends AnyFunSuite {

  test("a failing query is named, and the others are still dumped") {
    val spark = TestSpark.spark
    val out = TestSpark.tmpDir("graft-verify")
    try {
      val failed = Verify.dump(spark, TestSpark.Sf0001, out, Seq(
        "q_ok" -> ((s, _) => s.range(3).toDF()),
        "q_boom" -> ((_, _) => throw new IllegalStateException("boom")),
        "q_after" -> ((s, _) => s.range(2).toDF())))
      assert(failed === Seq("q_boom"))
      assert(spark.read.parquet(s"$out/q_ok").count() === 3L)
      assert(spark.read.parquet(s"$out/q_after").count() === 2L)
      assert(!new java.io.File(s"$out/q_boom").exists)
    } finally graft.util.Util.deleteRecursively(new java.io.File(out))
  }
}
