package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a failing query's stale dump is deleted and listed in failed.txt") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toString
    // dumps an earlier run left behind: a compare against them would PASS
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$out/q_boom")
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$out/q_late")
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      // throws while building its DataFrame
      "q_boom" -> ((_, _) => throw new IllegalStateException("boom")),
      // throws only when the write executes it
      "q_late" -> ((s, _) => s.range(3).selectExpr("assert_true(id < 0) AS x")))
    val failed = Verify.dump(spark, TestSpark.sf, out, queries)

    assert(failed.map(_._1) == Seq("q_boom", "q_late"))
    assert(failed.head._2 == "boom")
    def exists(name: String) = new java.io.File(s"$out/$name").exists()
    assert(!exists("q_boom") && !exists("q_late"),
      "a failed query's stale dump survived")
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    val listed = scala.io.Source.fromFile(s"$out/failed.txt").getLines()
      .map(_.takeWhile(_ != '\t')).toSeq
    assert(listed == Seq("q_boom", "q_late"))
  }
}
