package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The two primitives CLI `load` stands on: the concurrent [[Wave]] and
  * the landed-row count read from parquet footers.
  */
class LoadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft_load").toString

  test("a wave keeps input order, runs in the caller's job group, and allows no tasks") {
    assert(Wave.run(Seq(300, 0, 100)) { ms => Thread.sleep(ms); ms } == Seq(300, 0, 100))
    assert(Wave.run(Seq.empty[Int])(identity) == Nil)
    spark.sparkContext.setJobGroup("wave-spec", "wave-spec")
    try assert(Wave.run(1 to 3)(_ =>
      spark.sparkContext.getLocalProperty("spark.jobGroup.id")) == Seq.fill(3)("wave-spec"))
    finally spark.sparkContext.clearJobGroup()
  }

  test("a failing write fails the wave only after every other write landed") {
    val dir = tmp()
    val boom = spark.range(1)
      .select(when(col("id") >= 0, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    val tables = Seq("a" -> spark.range(1000).toDF("id"), "bad" -> boom,
      "c" -> spark.range(500).toDF("id"))
    val e = intercept[Exception](Wave.run(tables) { case (n, df) =>
      // still running when the failure lands: a wave that returned on the
      // first failure would leave this table half-written
      if (n == "a") Thread.sleep(1500)
      df.write.parquet(s"$dir/$n")
    })
    assert(e.getMessage.contains("boom"), e.getMessage)
    for ((n, rows) <- Seq("a" -> 1000L, "c" -> 500L)) {
      assert(Files.exists(Paths.get(s"$dir/$n/_SUCCESS")), n)
      assert(spark.read.parquet(s"$dir/$n").count() == rows, n)
    }
  }

  test("footerRowCount counts exactly the files a parquet scan reads") {
    val dir = s"${tmp()}/t"
    spark.range(10).write.parquet(dir)
    // a crashed writer's leftovers and a hidden file: Spark's file index
    // skips both, so a footer count must too
    spark.range(7).write.parquet(s"$dir/_temporary/0/_temporary/attempt_0")
    val stray = s"${tmp()}/stray"
    spark.range(3).coalesce(1).write.parquet(stray)
    val part = scala.util.Using.resource(Files.list(Paths.get(stray)))(_.iterator()
      .asScala.find(_.getFileName.toString.endsWith(".parquet")).get)
    Files.copy(part, Paths.get(s"$dir/.x.parquet"))
    assert(spark.read.parquet(dir).count() == 10)
    assert(Tables.footerRowCount(spark, dir) == 10)
  }

  test("no main source opens a parquet footer through the one-argument open") {
    // that overload builds a fresh Hadoop Configuration per file; a call
    // passes unless its arguments close on the same line after a comma
    val call = "ParquetFileReader.open("
    def oneArg(line: String): Boolean = {
      val i = line.indexOf(call)
      i >= 0 && {
        val args = line.substring(i + call.length)
        val depth = args.scanLeft(0)((d, c) => d + (if (c == '(') 1 else if (c == ')') -1 else 0))
        val close = depth.indexWhere(_ < 0)
        close < 0 || !args.take(close - 1).zip(depth).exists { case (c, d) => c == ',' && d == 0 }
      }
    }
    val hits = TestSpark.mainSourceHits(skip = "")((_, line) => oneArg(line))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
