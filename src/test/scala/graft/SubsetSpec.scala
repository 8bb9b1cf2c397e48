package graft

import graft.model.RelGraph
import graft.operators.Subset
import graft.spec.SpecJson
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

  /** Spark jobs and summary rows of three closures: q_subset_full's spec
    * (level 2 mixes fresh `part` with already-selected `supplier`), an
    * orders root that re-pulls `nation` at level 2, and a part root whose
    * re-closure re-pulls `orders`. A closure rewrite that moves either
    * number updates the pin and says why. Each spec runs once unmeasured
    * first, so the parquet schema reads of a cold memo are not counted.
    */
  private val pinned = Seq(
    ("from: customer\nwhere:\n  c_mktsegment: AUTOMOBILE\nlimit: 10\n" +
      "join_depth: 5\nbackref_depth: 2\nbackref_limit: 5\n", 32, Seq(
        ("customer", 10L, 452L), ("lineitem", 178L, 97846L), ("nation", 15L, 206L),
        ("orders", 50L, 22435L), ("part", 121L, 12265L), ("region", 5L, 10L),
        ("supplier", 10L, 45L))),
    ("from: orders\nlimit: 20\njoin_depth: 5\nbackref_depth: 1\nbackref_limit: 3\n", 26, Seq(
        ("customer", 20L, 1445L), ("lineitem", 51L, 6061L), ("nation", 19L, 234L),
        ("orders", 20L, 190L), ("part", 45L, 4537L), ("region", 5L, 10L),
        ("supplier", 10L, 45L))),
    ("from: part\nlimit: 20\njoin_depth: 2\nbackref_depth: 1\nbackref_limit: 3\n", 10, Seq(
        ("lineitem", 60L, 7646L), ("orders", 56L, 6266L), ("part", 20L, 190L),
        ("supplier", 10L, 45L))))

  test("closure job counts and summaries stay pinned") {
    def run(yaml: String) = Subset.extract(spark, TestSpark.sf, SpecJson.parse(yaml))
    for ((yaml, jobs, rows) <- pinned) {
      run(yaml)
      var e: Subset.Extraction = null
      val n = TestSpark.jobsOf { e = run(yaml) }
      val got = Subset.summary(e).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(n == jobs, s"jobs of $yaml")
      assert(got == rows, s"summary of $yaml")
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
}
