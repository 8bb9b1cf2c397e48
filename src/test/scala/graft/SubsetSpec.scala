package graft

import graft.model.{FK, RelGraph, TableMeta}
import graft.operators.Subset
import graft.spec.SpecJson
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SubsetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("plan builds the expected mixed tree for the full-closure spec") {
    val spec = SpecJson.parse(
      "from: customer\nlimit: 10\njoin_depth: 5\nbackref_depth: 2\nbackref_limit: 5\n")
    val p = Subset.plan(spec, RelGraph.tpch)
    val edges = p.edges.map(e => (e.from, e.to, e.backref)).toSet
    // note: no supplier→nation edge — it is the reverse of the
    // nation→supplier backref and edges are never re-traversed backwards;
    // the phase-3 re-closure still pulls those nations (oracle-verified)
    assert(edges == Set(
      ("customer", "nation", false), ("customer", "orders", true),
      ("nation", "region", false), ("nation", "supplier", true),
      ("orders", "lineitem", true),
      ("lineitem", "part", false), ("lineitem", "supplier", false)))
    assert(p.renderTree.contains("customer"))
    assert(p.renderTree.contains("backref"))
  }

  test("exclude prunes subtrees; include keeps only the direct path") {
    val ex = Subset.plan(
      SpecJson.parse("from: customer\nexclude: [lineitem, supplier]\n"), RelGraph.tpch)
    assert(!ex.tables.contains("lineitem") && !ex.tables.contains("supplier"))

    val inc = Subset.plan(
      SpecJson.parse("from: customer\ninclude: [region]\n"), RelGraph.tpch)
    assert(inc.tables.toSet == Set("customer", "nation", "region"))
  }

  test("backref depth zero stops child traversal") {
    val p = Subset.plan(
      SpecJson.parse("from: customer\nbackref_depth: 0\njoin_depth: 5\n"), RelGraph.tpch)
    assert(p.tables.toSet == Set("customer", "nation", "region"))
  }

  test("dotted filters sharing an FK-path prefix join each hop once") {
    import org.apache.spark.sql.functions._
    // nation.* and region.* from customer both walk customer→nation:
    // re-joining nation under the same alias used to throw
    // AMBIGUOUS_REFERENCE for any spec like this
    val spec = SpecJson.parse(
      """
        |from: customer
        |limit: null
        |where:
        |  $and:
        |    - nation.n_name: {$like: 'NATION_1%'}
        |    - region.r_name: {$like: 'A%'}
        |""".stripMargin)
    val got = Subset.applyRootQuery(spark, TestSpark.sf, spec, RelGraph.tpch)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    // independent recomputation with explicit single joins
    val want = Tables.load(spark, TestSpark.sf, "customer")
      .join(Tables.load(spark, TestSpark.sf, "nation")
        .filter(col("n_name").like("NATION_1%")),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.load(spark, TestSpark.sf, "region")
        .filter(col("r_name").like("A%")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty, s"got ${got.size} want ${want.size}")
  }

  test("extraction maintains referential integrity on real data") {
    val spec = SpecJson.parse(
      "from: customer\nwhere:\n  c_mktsegment: BUILDING\nlimit: 8\n" +
        "join_depth: 5\nbackref_depth: 2\nbackref_limit: 4\n")
    val e = Subset.extract(spark, TestSpark.sf, spec)
    val t = e.tables
    assert(t("customer").count() == 8)

    def keys(tbl: String, c: String): Set[Long] =
      t(tbl).select(c).collect().map(_.getAs[Number](0).longValue()).toSet
    // every FK of every selected row resolves inside the extraction
    assert(keys("orders", "o_custkey").subsetOf(keys("customer", "c_custkey")))
    assert(keys("lineitem", "l_orderkey").subsetOf(keys("orders", "o_orderkey")))
    assert(keys("lineitem", "l_partkey").subsetOf(keys("part", "p_partkey")))
    assert(keys("lineitem", "l_suppkey").subsetOf(keys("supplier", "s_suppkey")))
    assert(keys("customer", "c_nationkey").subsetOf(keys("nation", "n_nationkey")))
    assert(keys("supplier", "s_nationkey").subsetOf(keys("nation", "n_nationkey")))
    assert(keys("nation", "n_regionkey").subsetOf(keys("region", "r_regionkey")))
    // backref cap respected
    val maxPerCust = t("orders").groupBy("o_custkey").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxPerCust <= 4)
  }

  /** Spark jobs and summary rows of four closures: q_subset_full's spec
    * (level 2 mixes fresh `part` with already-selected `supplier`), an
    * orders root that re-pulls `nation` at level 2, a part root whose
    * re-closure re-pulls `orders`, and an unbounded supplier root whose
    * uncapped lineitem backref holds 1,215 order keys, past the literal
    * cap, so `orders` takes a semi-join; its root, with no limit, is not
    * sorted. A closure rewrite that moves either number updates the pin
    * and says why. Each spec runs once unmeasured first, so the parquet
    * schema reads of a cold memo are not counted.
    */
  private val pinned = Seq(
    ("from: customer\nwhere:\n  c_mktsegment: AUTOMOBILE\nlimit: 10\n" +
      "join_depth: 5\nbackref_depth: 2\nbackref_limit: 5\n", 7, Seq(
        ("customer", 10L, 452L), ("lineitem", 178L, 97846L), ("nation", 15L, 206L),
        ("orders", 50L, 22435L), ("part", 121L, 12265L), ("region", 5L, 10L),
        ("supplier", 10L, 45L))),
    ("from: orders\nlimit: 20\njoin_depth: 5\nbackref_depth: 1\nbackref_limit: 3\n", 6, Seq(
        ("customer", 20L, 1445L), ("lineitem", 51L, 6061L), ("nation", 19L, 234L),
        ("orders", 20L, 190L), ("part", 45L, 4537L), ("region", 5L, 10L),
        ("supplier", 10L, 45L))),
    ("from: part\nlimit: 20\njoin_depth: 2\nbackref_depth: 1\nbackref_limit: 3\n", 2, Seq(
        ("lineitem", 60L, 7646L), ("orders", 56L, 6266L), ("part", 20L, 190L),
        ("supplier", 10L, 45L))),
    ("from: supplier\nwhere: {s_nationkey: {$in: [3, 8, 12, 20]}}\nlimit: null\n" +
      "join_depth: 2\nbackref_depth: 1\nbackref_limit: null\n", 5, Seq(
        ("lineitem", 2415L, 2082894L), ("nation", 4L, 43L), ("orders", 1215L, 907380L),
        ("part", 200L, 19900L), ("region", 3L, 5L), ("supplier", 4L, 20L))))

  test("closure job counts and summaries stay pinned") {
    def run(yaml: String) = Subset.extract(spark, TestSpark.sf, SpecJson.parse(yaml))
    for ((yaml, jobs, rows) <- pinned) {
      run(yaml)
      var e: Subset.Extraction = null
      val n = TestSpark.jobsOf { e = run(yaml) }
      val got = Subset.summary(e).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got == rows, s"summary of $yaml")
      assert(n == jobs, s"jobs of $yaml")
    }
  }

  test("summary checksums a PK-less table on its synthesized key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-subset").toString
    // the first column is not the synthesized key: `item_id` ends in _id
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("seq", "item_id")
      .write.parquet(Tables.path(dir, "items"))
    val e = Subset.extract(spark, dir, SpecJson.parse("from: items\n"))
    val row = Subset.summary(e).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(row.toSeq == Seq(("items", 3L, 60L)))
  }

  /** `got` and `want` hold the same rows, each as often. */
  private def sameRows(what: String, got: DataFrame, want: DataFrame): Unit = {
    val w = want.select(got.columns.map(col).toIndexedSeq: _*)
    assert(got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty,
      s"$what: got ${got.count()} rows, want ${w.count()}")
  }

  test("a key set past the literal cap pulls through the broadcast fallback") {
    val load = (t: String) => Tables.load(spark, TestSpark.sf, t)
    val e = Subset.extract(spark, TestSpark.sf,
      SpecJson.parse("from: lineitem\nlimit: 5000\njoin_depth: 1\nbackref_depth: 0\n"))
    // independent recomputation: the root by PK order, then one semi-join
    // per parent
    val pk = RelGraph.tpch.pkOf("lineitem", Nil)
    val root = load("lineitem").orderBy(pk.map(col): _*).limit(5000).cache()
    assert(root.select("l_orderkey").distinct().count() > Subset.LiteralKeyCap)
    assert(e.tables.keySet == Set("lineitem", "orders", "part", "supplier"))
    sameRows("lineitem", e.tables("lineitem"), root)
    for (FK(Seq(c), parent, Seq(pc)) <- RelGraph.tpch.joinEdges("lineitem"))
      sameRows(parent, e.tables(parent), {
        val p = load(parent); p.join(root, p(pc) === root(c), "left_semi")
      })
  }

  test("string, composite, double, nullable and self-referencing keys match explicit joins") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-keys").toString
    def put(t: String, df: DataFrame): Unit = df.write.parquet(Tables.path(dir, t))
    put("acct", (0 until 6).map(i => (s"a$i", i.toLong)).toDF("acct_id", "a_tier"))
    put("branch", Seq(("oslo", 1, "n"), ("oslo", 2, "s"), ("rome", 1, "c"), ("rome", 3, "e"))
      .toDF("b_city", "b_no", "b_name"))
    // the parent holds −0.0 where children hold 0.0: equal as join keys
    put("rate", Seq((-0.0, "zero"), (1.5, "low"), (2.5, "high")).toDF("r_val", "r_name"))
    put("promo", (1L to 5L).map(i => (i, s"p$i")).toDF("promo_id", "p_name"))
    put("txn", (1L to 40L).map { i =>
      val (city, no) = Seq(("oslo", 1), ("rome", 3), ("oslo", 2))((i % 3).toInt)
      (i, s"a${i % 6}", city, no, if (i % 2 == 0) 0.0 else 1.5,
        if (i % 4 == 0) None else Some(i % 5 + 1))
    }.toDF("txn_id", "acct_ref", "t_city", "t_no", "t_rate", "promo_ref"))
    // a boss chain one hop deep: 1501..3000 report to 1..1500
    put("emp", (1L to 3000L).map(i => (i, if (i > 1500) Some(i - 1500) else None))
      .toDF("emp_id", "boss"))
    val graph = RelGraph(Map(
      "acct" -> TableMeta("acct", Seq("acct_id")),
      "branch" -> TableMeta("branch", Seq("b_city", "b_no")),
      "rate" -> TableMeta("rate", Seq("r_val")),
      "promo" -> TableMeta("promo", Seq("promo_id")),
      "txn" -> TableMeta("txn", Seq("txn_id"), Seq(
        FK(Seq("acct_ref"), "acct", Seq("acct_id")),
        FK(Seq("t_city", "t_no"), "branch", Seq("b_city", "b_no")),
        FK(Seq("t_rate"), "rate", Seq("r_val")),
        FK(Seq("promo_ref"), "promo", Seq("promo_id")))),
      "emp" -> TableMeta("emp", Seq("emp_id"), Seq(FK(Seq("boss"), "emp", Seq("emp_id"))))))
    assert(Subset.literalKeyType(StringType) && Subset.literalKeyType(DecimalType(12, 2)))
    assert(Subset.literalKeyType(DoubleType) && !Subset.literalKeyType(StringType("UTF8_LCASE")))
    val load = (t: String) => Tables.load(spark, dir, t)
    def run(yaml: String) = Subset.extract(spark, dir, SpecJson.parse(yaml), graph).tables
    def semi(parent: String, fk: FK, child: DataFrame): DataFrame = {
      val p = load(parent)
      p.join(child, fk.parentCols.zip(fk.childCols)
        .map { case (pc, c) => p(pc) === child(c) }.reduce(_ && _), "left_semi")
    }
    def firstByPk(t: String, where: org.apache.spark.sql.Column, n: Int): DataFrame =
      load(t).where(where).orderBy(graph.pkOf(t, Nil).map(col): _*).limit(n).cache()

    // join edges from a txn root: a string key, a composite key, a double
    // key and a nullable key, each to its own parent
    val txn = firstByPk("txn", col("txn_id") <= 12, 8)
    val got = run("from: txn\nwhere: {txn_id: {$lte: 12}}\nlimit: 8\njoin_depth: 1\nbackref_depth: 0\n")
    sameRows("txn", got("txn"), txn)
    for (fk <- graph.joinEdges("txn")) sameRows(fk.parent, got(fk.parent), semi(fk.parent, fk, txn))
    assert(got("rate").where(col("r_val") === 0.0).count() == 1)
    assert(got("promo").count() < 5)

    // capped backrefs on a string key and on a composite key: the first two
    // children per parent in child-PK order
    for ((root, fk) <- Seq("acct" -> graph.joinEdges("txn").head, "branch" -> graph.joinEdges("txn")(1))) {
      val parents = firstByPk(root, org.apache.spark.sql.functions.lit(true), 2)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(fk.childCols.map(col): _*)
        .orderBy("txn_id")
      val kids = semi("txn", FK(fk.parentCols, "txn", fk.childCols), parents)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .where(col("rn") <= 2).drop("rn")
      val e = run(s"from: $root\nlimit: 2\njoin_depth: 0\nbackref_depth: 1\nbackref_limit: 2\n")
      sameRows(s"$root root", e(root), parents)
      sameRows(s"txn under $root", e("txn"), kids)
    }

    // one step pulls `leaf` twice while it is empty: a capped backref from
    // `mid` and a literal join from `side`, overlapping on leaf 1 and 2
    put("top", Seq(1L, 2L).toDF("top_id"))
    put("mid", Seq((1L, 1L), (2L, 2L)).toDF("mid_id", "mid_top"))
    put("side", Seq((1L, 1L, 1L), (2L, 2L, 2L)).toDF("side_id", "side_top", "side_leaf"))
    put("leaf", Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L)).toDF("leaf_id", "leaf_mid"))
    val tree = RelGraph(Map(
      "top" -> TableMeta("top", Seq("top_id")),
      "mid" -> TableMeta("mid", Seq("mid_id"), Seq(FK(Seq("mid_top"), "top", Seq("top_id")))),
      "side" -> TableMeta("side", Seq("side_id"), Seq(
        FK(Seq("side_top"), "top", Seq("top_id")), FK(Seq("side_leaf"), "leaf", Seq("leaf_id")))),
      "leaf" -> TableMeta("leaf", Seq("leaf_id"), Seq(FK(Seq("leaf_mid"), "mid", Seq("mid_id"))))))
    val twice = Subset.extract(spark, dir, SpecJson.parse(
      "from: top\nlimit: 2\njoin_depth: 5\nbackref_depth: 2\nbackref_limit: 5\n"), tree)
    assert(twice.plan.edges.filter(_.to == "leaf").map(_.level).toSet == Set(1))
    sameRows("leaf pulled twice", twice.tables("leaf"), load("leaf"))

    // a self-referencing FK: 1,200 boss keys take the semi-join; the 100
    // keys of an unbounded spec pull literally
    val self = graph.joinEdges("emp").head
    for ((lo, limit) <- Seq(1500 -> "1200", 2900 -> "null")) {
      val root = load("emp").where(col("emp_id") > lo).orderBy("emp_id")
      val r = if (limit == "null") root.cache() else root.limit(limit.toInt).cache()
      val e = run(s"from: emp\nwhere: {emp_id: {$$gt: $lo}}\nlimit: $limit\njoin_depth: 1\n")
      sameRows(s"emp above $lo", e("emp"), r.unionByName(semi("emp", self, r)))
    }

    // double keys on both sides of the cap, joined and backref'd: −0.0
    // matches 0.0 and NaN matches NaN, as in a join. The −0.0 and NaN
    // parents sit in parquet files of their own, so a pushed-down filter
    // that missed them would skip the file.
    for (part <- Seq(Seq(-0.0), Seq(Double.NaN), (1 to 1500).map(_.toDouble)))
      part.toDF("f_val").coalesce(1).write.mode("append").parquet(Tables.path(dir, "fx"))
    put("obs", ((1L, 0.0) +: (2L, Double.NaN) +: (3L, -0.0) +:
      (4L to 1503L).map(i => (i, (i - 3).toDouble))).toDF("obs_id", "o_val"))
    val fx = RelGraph(Map("fx" -> TableMeta("fx", Seq("f_val")),
      "obs" -> TableMeta("obs", Seq("obs_id"), Seq(FK(Seq("o_val"), "fx", Seq("f_val"))))))
    val val2fx = fx.joinEdges("obs").head
    for ((limit, n) <- Seq("6" -> 5L, "null" -> 1502L)) {
      val e = Subset.extract(spark, dir, SpecJson.parse(
        s"from: obs\nlimit: $limit\njoin_depth: 1\nbackref_depth: 0\n"), fx).tables
      val obs = load("obs").orderBy("obs_id")
      val root = (if (limit == "null") obs else obs.limit(limit.toInt)).cache()
      sameRows(s"fx under $limit obs", e("fx"), semi("fx", val2fx, root))
      assert(e("fx").count() == n, s"fx under $limit obs")
    }
    val byVal = load("fx").orderBy("f_val")
    for ((spec, root, n) <- Seq(("limit: 2", byVal.limit(2), 3L),
        ("limit: 2\norder-by: [-f_val]", load("fx").orderBy(col("f_val").desc).limit(2), 2L),
        ("limit: null", byVal, 1503L))) {
      val e = Subset.extract(spark, dir, SpecJson.parse(
        s"from: fx\n$spec\njoin_depth: 0\nbackref_depth: 1\nbackref_limit: null\n"), fx).tables
      val r = root.cache()
      sameRows(s"fx root, $spec", e("fx"), r)
      sameRows(s"obs under fx, $spec", e("obs"),
        semi("obs", FK(val2fx.parentCols, "obs", val2fx.childCols), r))
      assert(e("obs").count() == n, s"obs under fx, $spec")
    }
  }
}
