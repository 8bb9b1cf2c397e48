package graft

import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

class MemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_memo").toString

  test("an in-place rewrite that adds a column is visible to the next Tables.load") {
    import spark.implicits._
    val dir = tmp()
    Seq(1L, 2L).toDF("o_orderkey").write.parquet(Tables.path(dir, "orders"))
    assert(Tables.load(spark, dir, "orders").columns.toSeq == Seq("o_orderkey"))
    Seq((1L, 7), (2L, 8)).toDF("o_orderkey", "o_new")
      .write.mode("overwrite").parquet(Tables.path(dir, "orders"))
    val df = Tables.load(spark, dir, "orders")
    assert(df.columns.toSeq == Seq("o_orderkey", "o_new"))
    assert(df.orderBy("o_orderkey").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 7), (2L, 8)))
  }

  test("a second Tables.load of an unchanged path starts no Spark job") {
    import spark.implicits._
    val dir = tmp()
    Seq(1L, 2L).toDF("o_orderkey").write.parquet(Tables.path(dir, "orders"))
    // the first load infers the footer schema: the listener sees its job
    assert(TestSpark.jobsOf(Tables.load(spark, dir, "orders")) > 0)
    assert(TestSpark.jobsOf(Tables.load(spark, dir, "orders")) == 0)
  }

  test("spread re-counts partitions after its input is rewritten") {
    val dir = s"${tmp()}/t"
    val want = spark.sparkContext.defaultParallelism
    // a projection over the scan, the shape of most spread inputs
    def roundRobin: Boolean =
      Tables.spread(Tables.parquetImmutable(spark, dir).select("id")).queryExecution.sparkPlan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .exists(_.isInstanceOf[RoundRobinPartitioning])
    spark.range(100).coalesce(1).write.parquet(dir)
    assert(roundRobin, "a one-file input should be spread")
    spark.range(100).repartition(want).write.mode("overwrite").parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == want)
    assert(!roundRobin, "a stale partition count spread an already-split input")
  }

  test("the memo holds at most its bound, evicts LRU, and reads stay correct") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "o_note")
      .write.parquet(Tables.path(dir, "orders"))
    assert(Tables.load(spark, dir, "orders").columns.length == 2)
    val bound = Tables.Memo.Bound
    (0 until bound).foreach(i => Tables.Memo.getOrElseUpdate(("filler", i))(i))
    assert(Tables.Memo.size == bound)
    // touching an entry makes it most recently used: the next put evicts
    // the next-oldest filler instead
    assert(Tables.Memo.get[Int](("filler", 0)).contains(0))
    Tables.Memo.put(("filler", bound), bound)
    assert(Tables.Memo.size == bound)
    assert(Tables.Memo.get[Int](("filler", 0)).contains(0))
    assert(Tables.Memo.get[Int](("filler", 1)).isEmpty)
    // the table's schema entry was evicted: the next load re-infers it
    val df = Tables.load(spark, dir, "orders")
    assert(Tables.Memo.size <= bound)
    assert(df.columns.toSeq == Seq("o_orderkey", "o_note"))
    assert(df.orderBy("o_orderkey").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }
}
