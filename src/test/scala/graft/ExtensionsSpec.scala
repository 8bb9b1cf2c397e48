package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKPerGroup

/** Drives the `spark.sql.extensions=graft.GraftExtensions` deployment path
  * end to end: a session built ONLY from that config string (the
  * spark-submit contract — no register() calls, no experimental-strategy
  * mutation) must expose the SQL functions and plan the custom operator.
  */
class ExtensionsSpec extends AnyFunSuite {

  // `spark.sql.extensions` is a STATIC conf: spark-submit bakes it into the
  // SparkContext's conf and every getOrCreate applies it. The shared test
  // JVM already created its context without it, so the spec drives the same
  // SparkSessionExtensions hook through builder.withExtensions — the code
  // path is identical from `GraftExtensions.apply` down.
  private def withExtendedSession[A](f: SparkSession => A): A = {
    val orig = TestSpark.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  test("the config-string class name resolves to the extensions hook") {
    // what `--conf spark.sql.extensions=graft.GraftExtensions` instantiates.
    // ACTUALLY APPLY it to a real SparkSessionExtensions: an erased
    // Function1 isInstanceOf check passes for any Function1 and would let
    // a wrong-typed refactor slip through to a submit-time ClassCastException
    val cls = Class.forName("graft.GraftExtensions")
    val inst = cls.getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    inst(ext) // must not throw — registers functions/strategy/rule
  }

  test("config-string session exposes vec_dot / vec_cosine in plain SQL") {
    withExtendedSession { s =>
      val row = s.sql(
        """SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
          |       vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c""".stripMargin)
        .head()
      assert(row.getDouble(0) == 32.0)
      assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
      // NULL parity with the HOF fold the docstring promises identity
      // with: zip_with pads a shorter array with nulls and a null
      // product nulls the whole aggregate — so a null element or a
      // length mismatch must yield NULL here too, never a silent 0.0
      // read / truncated dot
      val nulls = s.sql(
        """SELECT vec_dot(array(1.0D, CAST(NULL AS DOUBLE), 3.0D),
          |               array(1.0D, 2.0D, 3.0D)) AS ne,
          |       vec_dot(array(1.0D, 2.0D), array(1.0D, 2.0D, 3.0D)) AS lm,
          |       vec_cosine(array(1.0D, CAST(NULL AS DOUBLE)),
          |                  array(1.0D, 0.0D)) AS ce""".stripMargin).head()
      assert(nulls.isNullAt(0), "null element must null the dot")
      assert(nulls.isNullAt(1), "length mismatch must null the dot")
      assert(nulls.isNullAt(2), "null element must null the cosine")
      // and the HOF form agrees on the same inputs
      val hof = s.sql(
        """SELECT aggregate(zip_with(array(1.0D, CAST(NULL AS DOUBLE), 3.0D),
          |  array(1.0D, 2.0D, 3.0D), (x, y) -> x * y), 0D,
          |  (acc, v) -> acc + v) AS e""".stripMargin).head()
      assert(hof.isNullAt(0))
      // wrong element types are an ANALYSIS error, not a runtime one
      val err = intercept[Exception](
        s.sql("SELECT vec_dot(array(1, 2), array(3, 4))").head())
      assert(err.getMessage.contains("array<float|double>"),
        err.getMessage)
    }
  }

  test("config-string session exposes the mg_topk aggregate in plain SQL") {
    withExtendedSession { s =>
      val got = s.sql(
        """SELECT mg_topk(toks, 4) AS hh FROM VALUES
          |  (array('a','a','b')), (array('a','c')), (array('a','b')) AS t(toks)""".stripMargin)
        .selectExpr("explode(hh) AS e").selectExpr("e.item", "e.est")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // 'a' has true count 5 of n=7 tokens; MG(k=4) must surface it and
      // undercount by at most n/k
      assert(got.contains("a") && got("a") >= 5 - 7 / 4)
    }
  }

  test("config-string session exposes winnow_fps in plain SQL") {
    withExtendedSession { s =>
      val fps = s.sql(
        "SELECT winnow_fps(array('a','b','c','d','e','f','g','h','i'), 4, 5) AS f")
        .head().getSeq[String](0)
      // 9 tokens -> 6 grams -> 2 windows of 5 -> <= 2 distinct fingerprints
      assert(fps.nonEmpty && fps.size <= 2)
      assert(fps.forall(_.matches("[0-9a-f]{16}")))
    }
  }

  test("winnow_fps skips grams touching null tokens instead of crashing") {
    withExtendedSession { s =>
      // array() with a CAST(NULL) element is containsNull=true — the shape
      // that used to NPE in compute(). Nulls at 1 and 6 kill every gram
      // overlapping them; the surviving grams still window deterministically.
      val fps = s.sql(
        """SELECT winnow_fps(
          |  array('a', CAST(NULL AS STRING), 'c','d','e','f',
          |        CAST(NULL AS STRING), 'h','i','j','k','l','m'), 4, 2) AS f""".stripMargin)
        .head().getSeq[String](0)
      assert(fps.nonEmpty && fps.forall(_.matches("[0-9a-f]{16}")))
      // all-null tokens -> zero surviving grams -> empty, not a crash
      val empty = s.sql(
        """SELECT winnow_fps(array(CAST(NULL AS STRING), CAST(NULL AS STRING),
          |  CAST(NULL AS STRING), CAST(NULL AS STRING), CAST(NULL AS STRING),
          |  CAST(NULL AS STRING)), 4, 2) AS f""".stripMargin)
        .head().getSeq[String](0)
      assert(empty.isEmpty)
      // and the kept grams equal the fingerprints of the same token stream
      // with null-touching grams pre-dropped: here only 'h'..'m' form
      // contiguous non-null 4-grams after the second null
      val tail = s.sql(
        "SELECT winnow_fps(array('h','i','j','k','l','m'), 4, 2) AS f")
        .head().getSeq[String](0)
      assert(tail.forall(fps.contains), s"tail=$tail fps=$fps")
    }
  }

  test("wp_encode_all greedily longest-matches, falls back per code point") {
    withExtendedSession { s =>
      def enc(toksSql: String, vocabSql: String): Seq[String] =
        s.sql(s"SELECT wp_encode_all($toksSql, $vocabSql) AS p")
          .head().getSeq[String](0)
      // longest match wins over shorter prefixes; remainder re-matches
      assert(enc("array('abcde')", "array('ab','abcd','a','b','c','d','e')")
        == Seq("abcd", "e"))
      // vocab gap: the uncovered position emits its single code point
      assert(enc("array('axb')", "array('a','b')") == Seq("a", "x", "b"))
      // null tokens skipped, empty tokens contribute nothing
      assert(enc("array('ab', CAST(NULL AS STRING), '')", "array('a','b')")
        == Seq("a", "b"))
      // non-literal vocab is rejected at analysis, not at runtime
      val e = intercept[Exception](s.sql(
        "SELECT wp_encode_all(array('a'), array(CAST(rand() AS STRING)))")
        .collect())
      assert(e.getMessage.contains("foldable"), e.getMessage)
    }
  }

  test("injected planner strategy plans TopKPerGroup without experimental registration") {
    withExtendedSession { s =>
      val df = s.range(0, 100).selectExpr("id % 5 AS g", "id AS v")
      val plan = TopKPerGroup(
        Seq(GraftSqlBridge.expression(col("g"))),
        Seq(org.apache.spark.sql.catalyst.expressions.SortOrder(
          GraftSqlBridge.expression(col("v")),
          org.apache.spark.sql.catalyst.expressions.Descending)),
        2, GraftSqlBridge.logicalPlan(df))
      import org.apache.spark.sql.expressions.{Window => W}
      val out = GraftSqlBridge.ofRows(s, plan)
        .withColumn("rn", row_number().over(W.partitionBy("g").orderBy(col("v").desc)))
        .filter(col("rn") <= 2)
        .drop("rn")
      assert(s.experimental.extraStrategies.isEmpty,
        "the extensions path must not rely on experimental strategies")
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val expect = (0L until 5L).flatMap(g => Seq((g, 90L + g), (g, 95L + g))).sorted
      assert(rows.toSeq == expect)
      // AQE wraps the tree; inspect the finalized plan's rendering
      val planStr = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert("TopKPerGroup \\[".r.findAllIn(planStr).size == 1,
        s"expected one partial TopKPerGroup in:\n$planStr")
    }
  }

  test("optimizer rule rewrites the row_number window idiom into bounded heaps") {
    withExtendedSession { s =>
      import org.apache.spark.sql.expressions.{Window => W}
      // unique order key (id) → fully deterministic expected rows
      val df = s.range(0, 1000).selectExpr("id % 7 AS g", "id AS v", "id * 2 AS w")
      val idiom = df
        .withColumn("rn", row_number().over(W.partitionBy("g").orderBy(col("v").desc)))
        .filter(col("rn") <= 3)
        .drop("rn")
      idiom.collect() // finalize AQE
      val planStr = idiom.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert("TopKPerGroup \\[".r.findAllIn(planStr).size == 1,
        s"window idiom should plan one partial TopKPerGroup under the window:\n$planStr")
      val got = idiom.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val expect = (0L until 1000L).groupBy(_ % 7).toSeq.flatMap { case (g, ids) =>
        ids.sorted(Ordering[Long].reverse).take(3).map(v => (g, v, v * 2))
      }.sorted
      assert(got == expect)
    }
  }

  test("rewrite declines when the rank column is kept or the function is rank()") {
    withExtendedSession { s =>
      import org.apache.spark.sql.expressions.{Window => W}
      def finalPlan(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      // ties at every rank: rank()/dense_rank() may return more than k rows
      val df = s.range(0, 100).selectExpr("id % 5 AS g", "id % 3 AS v")
      val w = W.partitionBy("g").orderBy("v")
      val rankedKept = df.withColumn("rk", rank().over(w)).filter(col("rk") <= 1)
      assert(rankedKept.count() == 34, "rank() keeps every tie at rank 1")
      val p1 = finalPlan(rankedKept)
      assert(!p1.contains("TopKPerGroup"), s"rank column kept — must stay a window:\n$p1")

      val ranked = df.withColumn("rk", rank().over(w)).filter(col("rk") <= 2).drop("rk")
      ranked.collect()
      val p2 = finalPlan(ranked)
      assert(!p2.contains("TopKPerGroup"), s"rank() keeps ties — must stay a window:\n$p2")

      val dense = df.withColumn("dr", dense_rank().over(w)).filter(col("dr") <= 1).drop("dr")
      dense.collect()
      val p3 = finalPlan(dense)
      assert(!p3.contains("TopKPerGroup"), s"dense_rank() keeps ties — must stay a window:\n$p3")
    }
  }

  test("rewrite keeps the row-number column and float group keys exact") {
    withExtendedSession { s =>
      import org.apache.spark.sql.expressions.{Window => W}
      def finalPlan(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      val df = s.range(0, 100).selectExpr("id % 5 AS g", "id AS v")
      // the window above the partial pass still computes rn, so it may stay
      val keepRn = df
        .withColumn("rn", row_number().over(W.partitionBy("g").orderBy("v")))
        .filter(col("rn") <= 2)
      val kept = keepRn.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(kept == (0L until 5L).flatMap(g => Seq((g, g, 1), (g, g + 5, 2))).toSet)
      val p1 = finalPlan(keepRn)
      assert(p1.contains("TopKPerGroup"), s"rn kept in output — still rewritten:\n$p1")

      // floating-point group keys: the partial pass may split -0.0 and 0.0
      // into two heaps, but the window above normalizes its keys, so they
      // stay ONE group
      val fdf = s.range(0, 8).selectExpr(
        "CAST(IF(id % 2 = 0, 0.0, -0.0) AS DOUBLE) AS g", "id AS v")
      val fk = fdf
        .withColumn("rn", row_number().over(W.partitionBy("g").orderBy("v")))
        .filter(col("rn") <= 3).drop("rn")
      assert(fk.count() == 3, "-0.0 and 0.0 must be ONE group of top-3")
      assert(fk.collect().map(_.getLong(1)).sorted.toSeq == Seq(0L, 1L, 2L))
      val p3 = finalPlan(fk)
      assert(p3.contains("TopKPerGroup"), s"float keys are rewritten too:\n$p3")
    }
  }
}
