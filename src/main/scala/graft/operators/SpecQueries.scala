package graft.operators

import graft.Q
import graft.model.RelGraph
import graft.spec.SpecJson
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SURVEY §2a (query-language surface) + §2b (subset closure) — each entry is
  * a YAML spec in the reference's own query language, executed through
  * [[graft.spec.SpecJson]] → [[Subset]], with a hand-derived DuckDB oracle.
  */
object SpecQueries {

  private def rootQ(yaml: String): (SparkSession, String) => DataFrame =
    (s, dir) => Q.tsToDate(Subset.applyRootQuery(s, dir, SpecJson.parse(yaml), RelGraph.tpch))

  private def subsetQ(yaml: String): (SparkSession, String) => DataFrame =
    (s, dir) => Subset.summary(Subset.extract(s, dir, SpecJson.parse(yaml)))

  /** Orders projection used by oracles (timestamps emitted as DATE). */
  private val ordersCols =
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority"

  val pack: Seq[Q] = Seq(

    Q("q_filter_eq",
      "SELECT * FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey")(
      rootQ("""
        |from: customer
        |where:
        |  c_mktsegment: BUILDING
        |order-by: c_custkey
        |limit: null
        |""".stripMargin)),

    Q("q_filter_range",
      s"SELECT $ordersCols FROM orders WHERE o_totalprice >= 1000 AND o_totalprice < 50000 ORDER BY o_orderkey")(
      rootQ("""
        |from: orders
        |where:
        |  o_totalprice: {$gte: 1000, $lt: 50000}
        |order-by: o_orderkey
        |limit: null
        |""".stripMargin)),

    Q("q_filter_like",
      "SELECT * FROM part WHERE p_name LIKE '%widget%' ORDER BY p_partkey")(
      rootQ("""
        |from: part
        |where:
        |  p_name: {$like: '%widget%'}
        |order-by: p_partkey
        |limit: null
        |""".stripMargin)),

    Q("q_filter_in",
      "SELECT * FROM nation WHERE n_name IN ('NATION_1','NATION_5','NATION_7') ORDER BY n_nationkey")(
      rootQ("""
        |from: nation
        |where:
        |  n_name: {$in: [NATION_1, NATION_5, NATION_7]}
        |order-by: n_nationkey
        |limit: null
        |""".stripMargin)),

    Q("q_filter_bool",
      """SELECT * FROM customer
        | WHERE (c_mktsegment = 'BUILDING' AND c_acctbal >= 2000)
        |    OR NOT (c_nationkey IN (0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20))
        | ORDER BY c_custkey""".stripMargin)(
      rootQ("""
        |from: customer
        |where:
        |  $or:
        |    - $and:
        |        - c_mktsegment: BUILDING
        |        - c_acctbal: {$gte: 2000}
        |    - $not:
        |        c_nationkey: {$in: [0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20]}
        |order-by: c_custkey
        |limit: null
        |""".stripMargin)),

    Q("q_filter_dotted",
      """SELECT c.* FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        | WHERE n.n_name = 'NATION_3' ORDER BY c_custkey""".stripMargin)(
      rootQ("""
        |from: customer
        |where:
        |  nation.n_name: NATION_3
        |order-by: c_custkey
        |limit: null
        |""".stripMargin)),

    // two-hop dotted reference: lineitem → supplier → nation (the filter
    // compiler BFSes the FK path and joins each hop)
    Q("q_filter_dotted2",
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, l.l_extendedprice, l.l_quantity
        | FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |   JOIN nation n ON s.s_nationkey = n.n_nationkey
        | WHERE n.n_name LIKE 'NATION_1%' AND l.l_quantity >= 45
        | ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice""".stripMargin)(
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        Subset.applyRootQuery(s, dir, SpecJson.parse("""
          |from: lineitem
          |where:
          |  $and:
          |    - nation.n_name: {$like: 'NATION_1%'}
          |    - l_quantity: {$gte: 45}
          |order-by: [l_orderkey, l_linenumber]
          |limit: null
          |""".stripMargin), RelGraph.tpch)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_extendedprice"), col("l_quantity"))
      }),

    Q("q_order_limit",
      s"SELECT $ordersCols FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15")(
      rootQ("""
        |from: orders
        |order-by: [-o_totalprice, o_orderkey]
        |limit: 15
        |""".stripMargin)),

    Q("q_offset",
      s"SELECT $ordersCols FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 100")(
      rootQ("""
        |from: orders
        |order-by: o_orderkey
        |offset: 100
        |limit: 20
        |""".stripMargin)),

    // ---- §2b subset closure (summaries: tbl, n_rows, key_sum) ----

    Q("q_subset_root",
      """WITH root AS (SELECT * FROM customer WHERE c_mktsegment = 'MACHINERY' ORDER BY c_custkey LIMIT 20)
        |SELECT 'customer' AS tbl, count(*) AS n_rows, CAST(coalesce(sum(c_custkey),0) AS BIGINT) AS key_sum FROM root
        |ORDER BY tbl""".stripMargin)(
      subsetQ("""
        |from: customer
        |where:
        |  c_mktsegment: MACHINERY
        |limit: 20
        |join_depth: 0
        |backref_depth: 0
        |""".stripMargin)),

    Q("q_subset_parents",
      """WITH li AS (SELECT * FROM lineitem WHERE l_quantity >= 30 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice LIMIT 50),
        |ord AS (SELECT * FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM li)),
        |part_sel AS (SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM li)),
        |supp AS (SELECT * FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM li)),
        |cust AS (SELECT * FROM customer WHERE c_custkey IN (SELECT o_custkey FROM ord)),
        |nat AS (SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM cust UNION SELECT s_nationkey FROM supp)),
        |reg AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nat))
        |SELECT * FROM (
        |  SELECT 'lineitem' AS tbl, count(*) AS n_rows, CAST(coalesce(sum(l_orderkey + l_linenumber + l_partkey + l_suppkey),0) AS BIGINT) AS key_sum FROM li
        |  UNION ALL SELECT 'orders', count(*), CAST(coalesce(sum(o_orderkey),0) AS BIGINT) FROM ord
        |  UNION ALL SELECT 'part', count(*), CAST(coalesce(sum(p_partkey),0) AS BIGINT) FROM part_sel
        |  UNION ALL SELECT 'supplier', count(*), CAST(coalesce(sum(s_suppkey),0) AS BIGINT) FROM supp
        |  UNION ALL SELECT 'customer', count(*), CAST(coalesce(sum(c_custkey),0) AS BIGINT) FROM cust
        |  UNION ALL SELECT 'nation', count(*), CAST(coalesce(sum(n_nationkey),0) AS BIGINT) FROM nat
        |  UNION ALL SELECT 'region', count(*), CAST(coalesce(sum(r_regionkey),0) AS BIGINT) FROM reg
        |) ORDER BY tbl""".stripMargin)(
      subsetQ("""
        |from: lineitem
        |where:
        |  l_quantity: {$gte: 30}
        |limit: 50
        |join_depth: 5
        |backref_depth: 0
        |""".stripMargin)),

    Q("q_subset_children",
      """WITH root AS (SELECT * FROM customer WHERE c_mktsegment = 'AUTOMOBILE' ORDER BY c_custkey LIMIT 5),
        |ord AS (SELECT * FROM (
        |  SELECT o.*, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |  FROM orders o WHERE o_custkey IN (SELECT c_custkey FROM root)) WHERE rn <= 3),
        |li AS (SELECT * FROM (
        |  SELECT l.*, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
        |  FROM lineitem l WHERE l_orderkey IN (SELECT o_orderkey FROM ord)) WHERE rn <= 3)
        |SELECT * FROM (
        |  SELECT 'customer' AS tbl, count(*) AS n_rows, CAST(coalesce(sum(c_custkey),0) AS BIGINT) AS key_sum FROM root
        |  UNION ALL SELECT 'orders', count(*), CAST(coalesce(sum(o_orderkey),0) AS BIGINT) FROM ord
        |  UNION ALL SELECT 'lineitem', count(*), CAST(coalesce(sum(l_orderkey + l_linenumber + l_partkey + l_suppkey),0) AS BIGINT) FROM li
        |) ORDER BY tbl""".stripMargin)(
      subsetQ("""
        |from: customer
        |where:
        |  c_mktsegment: AUTOMOBILE
        |limit: 5
        |join_depth: 0
        |backref_depth: 2
        |backref_limit: 3
        |""".stripMargin)),

    Q("q_subset_backref_limit",
      """WITH root AS (SELECT * FROM supplier ORDER BY s_suppkey LIMIT 2),
        |li AS (SELECT * FROM (
        |  SELECT l.*, row_number() OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
        |  FROM lineitem l WHERE l_suppkey IN (SELECT s_suppkey FROM root)) WHERE rn <= 5)
        |SELECT * FROM (
        |  SELECT 'supplier' AS tbl, count(*) AS n_rows, CAST(coalesce(sum(s_suppkey),0) AS BIGINT) AS key_sum FROM root
        |  UNION ALL SELECT 'lineitem', count(*), CAST(coalesce(sum(l_orderkey + l_linenumber + l_partkey + l_suppkey),0) AS BIGINT) FROM li
        |) ORDER BY tbl""".stripMargin)(
      subsetQ("""
        |from: supplier
        |limit: 2
        |join_depth: 0
        |backref_depth: 1
        |backref_limit: 5
        |""".stripMargin)),

    Q("q_subset_exclude",
      """WITH root AS (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey LIMIT 10),
        |ord AS (SELECT * FROM (
        |  SELECT o.*, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |  FROM orders o WHERE o_custkey IN (SELECT c_custkey FROM root)) WHERE rn <= 5),
        |nat AS (SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM root)),
        |reg AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nat))
        |SELECT * FROM (
        |  SELECT 'customer' AS tbl, count(*) AS n_rows, CAST(coalesce(sum(c_custkey),0) AS BIGINT) AS key_sum FROM root
        |  UNION ALL SELECT 'orders', count(*), CAST(coalesce(sum(o_orderkey),0) AS BIGINT) FROM ord
        |  UNION ALL SELECT 'nation', count(*), CAST(coalesce(sum(n_nationkey),0) AS BIGINT) FROM nat
        |  UNION ALL SELECT 'region', count(*), CAST(coalesce(sum(r_regionkey),0) AS BIGINT) FROM reg
        |) ORDER BY tbl""".stripMargin)(
      subsetQ("""
        |from: customer
        |where:
        |  c_mktsegment: BUILDING
        |limit: 10
        |join_depth: 5
        |backref_depth: 2
        |backref_limit: 5
        |exclude: [lineitem, supplier]
        |""".stripMargin)),

    Q("q_subset_include",
      """WITH root AS (SELECT * FROM customer WHERE c_mktsegment = 'HOUSEHOLD' ORDER BY c_custkey LIMIT 5),
        |nat AS (SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM root)),
        |reg AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nat))
        |SELECT * FROM (
        |  SELECT 'customer' AS tbl, count(*) AS n_rows, CAST(coalesce(sum(c_custkey),0) AS BIGINT) AS key_sum FROM root
        |  UNION ALL SELECT 'nation', count(*), CAST(coalesce(sum(n_nationkey),0) AS BIGINT) FROM nat
        |  UNION ALL SELECT 'region', count(*), CAST(coalesce(sum(r_regionkey),0) AS BIGINT) FROM reg
        |) ORDER BY tbl""".stripMargin)(
      subsetQ("""
        |from: customer
        |where:
        |  c_mktsegment: HOUSEHOLD
        |limit: 5
        |include: [region]
        |""".stripMargin)),

    // Unbounded closure: no root limit and an uncapped backref. At sf0.01
    // lineitem's 1,202 order keys pass the literal cap, so orders takes a
    // semi-join while part (947 keys) still pulls literally; at sf0.001
    // every pull is literal.
    Q("q_subset_unbounded",
      """WITH root AS (SELECT * FROM supplier WHERE s_nationkey IN (12, 20)),
        |nat AS (SELECT * FROM nation WHERE n_nationkey IN (SELECT s_nationkey FROM root)),
        |li AS (SELECT * FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM root)),
        |reg AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nat)),
        |ord AS (SELECT * FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM li)),
        |part_sel AS (SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM li))
        |SELECT * FROM (
        |  SELECT 'supplier' AS tbl, count(*) AS n_rows, CAST(coalesce(sum(s_suppkey),0) AS BIGINT) AS key_sum FROM root
        |  UNION ALL SELECT 'nation', count(*), CAST(coalesce(sum(n_nationkey),0) AS BIGINT) FROM nat
        |  UNION ALL SELECT 'lineitem', count(*), CAST(coalesce(sum(l_orderkey + l_linenumber + l_partkey + l_suppkey),0) AS BIGINT) FROM li
        |  UNION ALL SELECT 'region', count(*), CAST(coalesce(sum(r_regionkey),0) AS BIGINT) FROM reg
        |  UNION ALL SELECT 'orders', count(*), CAST(coalesce(sum(o_orderkey),0) AS BIGINT) FROM ord
        |  UNION ALL SELECT 'part', count(*), CAST(coalesce(sum(p_partkey),0) AS BIGINT) FROM part_sel
        |) ORDER BY tbl""".stripMargin)(
      subsetQ("""
        |from: supplier
        |where:
        |  s_nationkey: {$in: [12, 20]}
        |limit: null
        |join_depth: 2
        |backref_depth: 1
        |backref_limit: null
        |""".stripMargin)),

    // Full mixed closure: parents + capped backrefs + parent re-closure of
    // pulled children. Level-by-level derivation documented in Subset.scala;
    // nat0 is the nation selection as of end of level 0 (the snapshot the
    // level-1 supplier backref reads).
    Q("q_subset_full",
      """WITH root AS (SELECT * FROM customer WHERE c_mktsegment = 'AUTOMOBILE' ORDER BY c_custkey LIMIT 10),
        |ord AS (SELECT * FROM (
        |  SELECT o.*, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |  FROM orders o WHERE o_custkey IN (SELECT c_custkey FROM root)) WHERE rn <= 5),
        |nat0 AS (SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM root)),
        |li AS (SELECT * FROM (
        |  SELECT l.*, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
        |  FROM lineitem l WHERE l_orderkey IN (SELECT o_orderkey FROM ord)) WHERE rn <= 5),
        |supp_backref AS (SELECT * FROM (
        |  SELECT s.*, row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) AS rn
        |  FROM supplier s WHERE s_nationkey IN (SELECT n_nationkey FROM nat0)) WHERE rn <= 5),
        |supp AS (SELECT * FROM supplier WHERE s_suppkey IN (
        |  SELECT s_suppkey FROM supp_backref UNION SELECT l_suppkey FROM li)),
        |part_sel AS (SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM li)),
        |nat AS (SELECT * FROM nation WHERE n_nationkey IN (
        |  SELECT n_nationkey FROM nat0 UNION SELECT s_nationkey FROM supp)),
        |reg AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nat))
        |SELECT * FROM (
        |  SELECT 'customer' AS tbl, count(*) AS n_rows, CAST(coalesce(sum(c_custkey),0) AS BIGINT) AS key_sum FROM root
        |  UNION ALL SELECT 'orders', count(*), CAST(coalesce(sum(o_orderkey),0) AS BIGINT) FROM ord
        |  UNION ALL SELECT 'lineitem', count(*), CAST(coalesce(sum(l_orderkey + l_linenumber + l_partkey + l_suppkey),0) AS BIGINT) FROM li
        |  UNION ALL SELECT 'supplier', count(*), CAST(coalesce(sum(s_suppkey),0) AS BIGINT) FROM supp
        |  UNION ALL SELECT 'part', count(*), CAST(coalesce(sum(p_partkey),0) AS BIGINT) FROM part_sel
        |  UNION ALL SELECT 'nation', count(*), CAST(coalesce(sum(n_nationkey),0) AS BIGINT) FROM nat
        |  UNION ALL SELECT 'region', count(*), CAST(coalesce(sum(r_regionkey),0) AS BIGINT) FROM reg
        |) ORDER BY tbl""".stripMargin)(
      subsetQ("""
        |from: customer
        |where:
        |  c_mktsegment: AUTOMOBILE
        |limit: 10
        |join_depth: 5
        |backref_depth: 2
        |backref_limit: 5
        |""".stripMargin))
  )
}
