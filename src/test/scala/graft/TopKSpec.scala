package graft

import graft.plans.{TopK, TopKPerGroupExec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Descending, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class TopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("custom TopKPerGroup matches the window formulation exactly") {
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val custom = TopK.perGroup(orders, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val windowed = orders
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    assert(custom.collect().toSeq == windowed.collect().toSeq)
  }

  test("plans one partial TopKPerGroup below the group-key exchange, no sort of the input") {
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val df = TopK.perGroup(orders, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc), 2)
    df.collect() // finalize the adaptive plan
    // AQE prints final + initial sections; inspect the final plan only.
    // Physical nodes render without the Exec suffix; a node's subtree is
    // printed after it.
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("TopKPerGroup \\[".r.findAllIn(plan).size == 1, s"expected one partial pass in:\n$plan")
    val at = plan.indexOf("TopKPerGroup [")
    val exchange = plan.indexOf("Exchange hashpartitioning")
    assert(exchange >= 0 && exchange < at, s"group-key exchange expected above the partial pass:\n$plan")
    assert(!plan.substring(at).contains("Sort "), s"bounded heaps must not sort the input:\n$plan")
  }

  test("k larger than any group returns everything; k=1 returns the max row") {
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val all = TopK.perGroup(orders, Seq(col("o_custkey")),
      Seq(col("o_orderkey").asc), 1000000)
    assert(all.count() == orders.count())
    val best = TopK.perGroup(orders, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 1)
    val expected = orders.groupBy("o_custkey").count().count()
    assert(best.count() == expected)
  }

  test("a budget small enough to flush every partition still merges to the window's answer") {
    val k = 3
    // an 8-byte-field row is 24 bytes and its key 16, so 400 bytes hold
    // the heaps of about 5 groups; every partition has more groups
    val budget = 400L
    // interleaved groups: the first flush keeps what it read, so the rest
    // of the partition passes through. Contiguous groups: every flush
    // reduces its groups to k rows.
    for (groupOf <- Seq("id % 97", "id DIV 40")) {
      val input = spark.range(0, 10000, 1, 4)
        .selectExpr(s"$groupOf AS g", "(id * 7919) % 10007 AS v") // v is unique
      val out = input.queryExecution.executedPlan.output
      val Seq(g, v) = out
      val order = Seq(SortOrder(v, Descending))
      val stats = input.queryExecution.toRdd.mapPartitions { it =>
        val rows = it.map(_.copy()).toArray
        val kept = TopKPerGroupExec.pass(Seq(g), order, k, out)(rows.iterator, budget).size
        Iterator((rows.length, rows.map(_.getLong(0)).distinct.length, kept))
      }.collect()
      assert(stats.length == 4)
      stats.foreach { case (read, groups, kept) =>
        // one pass over the whole partition keeps at most groups × k rows
        assert(kept > groups * k, s"$groupOf: no flush in a partition of $groups groups")
        if (groupOf.contains("DIV")) assert(kept < read, s"$groupOf: flushes must still reduce")
      }
      val partial = input.queryExecution.toRdd.mapPartitions(
        TopKPerGroupExec.pass(Seq(g), order, k, out)(_, budget)
          .map(r => Row(r.getLong(0), r.getLong(1))))
      val schema = StructType(Seq(StructField("g", LongType), StructField("v", LongType)))
      val w = Window.partitionBy("g").orderBy(col("v").desc)
      def topK(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).collect().toSet
      assert(topK(spark.createDataFrame(partial, schema)) == topK(input))
    }
  }
}
