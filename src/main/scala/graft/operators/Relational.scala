package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2c — the analytic-operator surface the extracted subsets feed.
  * Everything is plain DataFrame API so Catalyst owns the physical plan:
  * partial aggregation, broadcast of small dimensions, pushdown and pruning
  * come for free; `.explain` checks live in the test suite.
  *
  * Cross-engine determinism rules (§5): money math in DECIMAL (doubles only
  * for min/max/compare), every result totally ordered, computed columns
  * aliased identically to the DuckDB oracle, integer "micro" fixed-point
  * division (`div` / `//`) instead of decimal division for averages.
  *
  * Money OUTPUT columns are BIGINT micro-units (×1e6), never DECIMAL: the
  * driver reads Spark parquet through pandas (DECIMAL → `Decimal('24851.00')`)
  * but DuckDB results through `.df()` (DECIMAL → float64 `24851.0`), so any
  * decimal value with a trailing zero hash-mismatches. Integer micros
  * stringify identically everywhere and stay exact (2-decimal money ×1e6 is
  * integral). The ×1e6 happens per row BEFORE the sum — summing BIGINTs —
  * because DuckDB caps decimals at 38 digits and `SUM(decimal)*1000000`
  * overflows that width.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  import graft.Q.{micros, sqlMicros}

  /** Σ micros of price×(1−discount) for 2-decimal money doubles, in
    * primitive long arithmetic with ×10² overflow headroom. Per row,
    * cents(p)·(100−cents(d)) is the product's exact integer value in its
    * own 10⁻⁴-money-unit grain (2-dec × 2-dec = 4-dec, computed exactly —
    * ≡ `cast(dec(p) * (1-d)::decimal(4,2) * 1e6 as long)` without the
    * per-row BigDecimal, see [[graft.Q.cents]]); the ×100 to micros
    * happens once AFTER aggregation, so the sum buffer overflows only
    * beyond the domain the declared BIGINT micros output can express
    * (the [[graft.Q.sumMicros]] rule). */
  private def sumDiscMicros(price: String, disc: String): Column =
    sum(Q.cents(col(price)) * (lit(100L) - Q.cents(col(disc)))) * 100L

  val pack: Seq[Q] = Seq(

    // 19. group-by aggregation (the TPC-H Q1 shape)
    Q("q1_agg",
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(${sqlMicros("l_quantity")}) AS BIGINT) AS sum_qty_micros,
        |  CAST(SUM(${sqlMicros("l_extendedprice")}) AS BIGINT) AS sum_base_price_micros,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_disc_price_micros,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Q.sumMicros($"l_quantity").as("sum_qty_micros"),
          Q.sumMicros($"l_extendedprice").as("sum_base_price_micros"),
          sumDiscMicros("l_extendedprice", "l_discount")
            .as("sum_disc_price_micros"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")),

    // 19b. stats: min/max/count-distinct/fixed-point avg
    Q("q_agg_stats",
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 1000000 AS BIGINT) // COUNT(*) AS BIGINT) AS avg_qty_micro
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"l_suppkey").as("n_supp"),
          min($"l_extendedprice").as("min_price"),
          max($"l_extendedprice").as("max_price"),
          (sum(Q.cents($"l_quantity")) * 10000L).as("__sumq"))
        .withColumn("avg_qty_micro", expr("__sumq div n")).drop("__sumq")
        .orderBy($"l_returnflag")),

    // 20. many-to-one join, small dim broadcast
    Q("q_join_mt1",
      """SELECT p_brand,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * 1000000 AS BIGINT)) AS BIGINT) AS revenue_micros
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)(
      (s, dir) => t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(
          count(lit(1)).as("n_items"),
          sumDiscMicros("l_extendedprice", "l_discount")
            .as("revenue_micros"))
        .orderBy($"p_brand")),

    // 20b. 3-way fact ⋈ dim ⋈ dim
    Q("q_join_3way",
      s"""SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(${sqlMicros("l_extendedprice")}) AS BIGINT) AS total_price_micros
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)(
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n_lines"),
          Q.sumMicros($"l_extendedprice").as("total_price_micros"))
        .orderBy($"c_mktsegment")),

    // 20b. TPC-H Q5-shaped 6-way join — the classic "local supplier
    // volume" plan: region→nation prune BROADCAST down the snowflake,
    // supplier broadcast, and the one genuinely big join
    // (lineitem⋈orders⋈customer) shuffled on its keys; the
    // c_nationkey = s_nationkey residual is what keeps this a join-graph
    // workout rather than three independent lookups. Revenue in exact
    // integer micros (sum(extprice·(1-disc))).
    Q("q_tpch_q5", {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * 1000000 AS BIGINT)"
      s"""SELECT n_name, CAST(SUM($rev) AS BIGINT) AS revenue_micros
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
         |GROUP BY n_name ORDER BY revenue_micros DESC, n_name""".stripMargin
    })(
      (s, dir) => {
        val asiaNations = broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")).filter($"r_name" === "ASIA"),
            $"n_regionkey" === $"r_regionkey"))
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders")
            .filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1997-01-01"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "supplier")),
            $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .join(asiaNations, $"s_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(sumDiscMicros("l_extendedprice", "l_discount")
            .as("revenue_micros"))
          .orderBy($"revenue_micros".desc, $"n_name")
      }),

    // 20c. TPC-H Q3 shape (shipping priority): the OTHER canonical
    // big-join benchmark — a date-windowed customer⋈orders⋈lineitem chain
    // where the final answer is a top-10 over grouped revenue. The
    // segment filter prunes customer before its (broadcastable) join;
    // orders and lineitem carry pushed-down date filters into their
    // scans; the top-10 plans as TakeOrderedAndProject (per-partition
    // heaps, one tiny final merge — no global sort of the aggregate).
    Q("q_tpch_q3", {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * 1000000 AS BIGINT)"
      s"""SELECT l_orderkey, CAST(SUM($rev) AS BIGINT) AS revenue_micros,
         |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < DATE '1997-06-01' AND l_shipdate > DATE '1997-06-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue_micros DESC, l_orderkey LIMIT 10""".stripMargin
    })(
      (s, dir) => {
        t(s, dir, "lineitem").filter($"l_shipdate" > "1997-06-01")
          .join(t(s, dir, "orders").filter($"o_orderdate" < "1997-06-01"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING"),
            $"o_custkey" === $"c_custkey")
          .groupBy($"l_orderkey", $"o_orderdate".cast("date").as("o_orderdate"),
            $"o_orderpriority")
          .agg(sumDiscMicros("l_extendedprice", "l_discount")
            .as("revenue_micros"))
          .select($"l_orderkey", $"revenue_micros", $"o_orderdate",
            $"o_orderpriority")
          .orderBy($"revenue_micros".desc, $"l_orderkey")
          .limit(10)
      }),

    // 21. semi / anti join
    Q("q_semi_join",
      """SELECT * FROM customer WHERE c_custkey IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 40000)
        |ORDER BY c_custkey""".stripMargin)(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").filter($"o_totalprice" > 40000),
          $"c_custkey" === $"o_custkey", "left_semi")
        .orderBy($"c_custkey")),

    Q("q_anti_join",
      """SELECT * FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin)(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
        .orderBy($"c_custkey")),

    // 22. distinct / union / except
    Q("q_distinct",
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)(
      (s, dir) => t(s, dir, "customer")
        .select($"c_nationkey", $"c_mktsegment").distinct()
        .orderBy($"c_nationkey", $"c_mktsegment")),

    Q("q_union",
      """SELECT c_nationkey AS nkey FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nkey""".stripMargin)(
      (s, dir) => t(s, dir, "customer").select($"c_nationkey".as("nkey"))
        .union(t(s, dir, "supplier").select($"s_nationkey".as("nkey")))
        .distinct().orderBy($"nkey")),

    Q("q_except",
      """SELECT c_nationkey AS nkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier ORDER BY nkey""".stripMargin)(
      (s, dir) => t(s, dir, "customer").select($"c_nationkey".as("nkey"))
        .except(t(s, dir, "supplier").select($"s_nationkey".as("nkey")))
        .orderBy($"nkey")),

    // 23. window functions: rank + running aggregate + lag
    Q("q_window_rank",
      """SELECT o_orderkey, o_orderstatus, o_totalprice, rnk FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CAST(rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders) WHERE rnk <= 10
        |ORDER BY o_orderstatus, rnk, o_orderkey""".stripMargin)(
      (s, dir) => {
        val w = Window.partitionBy($"o_orderstatus")
          .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
            rank().over(w).cast("long").as("rnk"))
          .filter($"rnk" <= 10)
          .orderBy($"o_orderstatus", $"rnk", $"o_orderkey")
      }),

    Q("q_window_running",
      s"""SELECT o_custkey, o_orderkey,
        |  CAST(SUM(${sqlMicros("o_totalprice")}) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total_micros,
        |  CAST(lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS prev_orderkey
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)(
      (s, dir) => {
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
        t(s, dir, "orders")
          .select($"o_custkey", $"o_orderkey",
            (sum(Q.cents($"o_totalprice"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              * 10000L).as("running_total_micros"),
            lag($"o_orderkey", 1).over(w).as("prev_orderkey"))
          .orderBy($"o_custkey", $"o_orderkey")
      }),

    // 23b. ntile bucketing: equal-frequency quartiles of customers by
    // account balance within each market segment — the windowed form of
    // equi-depth bucketing (q_histogram is the aggregate form). ntile
    // semantics (earlier buckets take the remainder) are identical in
    // Spark and DuckDB given the same total order, so the rollup
    // hash-checks; the (c_acctbal, c_custkey) order key makes ties
    // deterministic. One shuffle by segment; the rollup reuses it.
    Q("q_ntile",
      s"""WITH t AS (
         |  SELECT c_mktsegment,
         |    ntile(4) OVER (PARTITION BY c_mktsegment
         |                   ORDER BY c_acctbal, c_custkey) AS quartile,
         |    ${sqlMicros("c_acctbal")} AS bal
         |  FROM customer)
         |SELECT c_mktsegment, CAST(quartile AS BIGINT) AS quartile,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(MIN(bal) AS BIGINT) AS min_micros,
         |  CAST(MAX(bal) AS BIGINT) AS max_micros
         |FROM t GROUP BY c_mktsegment, quartile
         |ORDER BY c_mktsegment, quartile""".stripMargin)(
      (s, dir) => {
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"c_acctbal", $"c_custkey")
        t(s, dir, "customer")
          .select($"c_mktsegment", micros($"c_acctbal").as("bal"),
            ntile(4).over(w).cast("long").as("quartile"))
          .groupBy($"c_mktsegment", $"quartile")
          .agg(count(lit(1)).as("n"), min($"bal").as("min_micros"),
            max($"bal").as("max_micros"))
          .orderBy($"c_mktsegment", $"quartile")
      }),

    // 23c. grouped mode (most frequent value) with a DETERMINISTIC tie
    // rule (highest count, then smallest value) — the built-in `mode`
    // aggregate is non-deterministic under ties on both engines, so the
    // portable form is the count + rank-window composition; the rank
    // window rides the (group, value)-count aggregate's tiny output,
    // never the raw scan.
    Q("q_mode",
      """WITH c AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, qty AS mode_qty, n AS n_rows
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY n DESC, qty) AS rn FROM c)
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin)(
      (s, dir) => {
        val c = t(s, dir, "lineitem")
          .groupBy($"l_returnflag", $"l_quantity".cast("long").as("qty"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"l_returnflag")
          .orderBy($"n".desc, $"qty")
        c.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"l_returnflag", $"qty".as("mode_qty"), $"n".as("n_rows"))
          .orderBy($"l_returnflag")
      }),

    // 24. top-k per group, no global sort
    Q("q_topk_per_group",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)(
      (s, dir) => {
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        t(s, dir, "orders")
          .select($"o_custkey", $"o_orderkey", $"o_totalprice",
            row_number().over(w).as("rn"))
          .filter($"rn" <= 3).drop("rn")
          .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
      }),

    // 24b. the same top-k through the custom TopKPerGroup operator
    // (per-partition heaps under the native row_number window, which
    // does the exchange and final merge; see graft.plans.TopKPerGroup) —
    // oracle-checked against the window answer
    Q("q_topk_custom",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)(
      (s, dir) => graft.plans.TopK.perGroup(
        t(s, dir, "orders").select($"o_custkey", $"o_orderkey", $"o_totalprice"),
        Seq($"o_custkey"),
        Seq($"o_totalprice".desc, $"o_orderkey".asc), 3)
        .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")),

    // 25. CASE / conditional buckets
    Q("q_case_bucket",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 200000 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 AS BIGINT)) AS BIGINT) AS total_micros
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)(
      (s, dir) => t(s, dir, "orders")
        .withColumn("bucket",
          when($"o_totalprice" < 50000, "small")
            .when($"o_totalprice" < 200000, "medium")
            .otherwise("large"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"),
          Q.sumMicros($"o_totalprice").as("total_micros"))
        .orderBy($"bucket")),

    // 26. date/time functions
    Q("q_date_agg",
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(${sqlMicros("o_totalprice")}) AS BIGINT) AS total_micros
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin)(
      (s, dir) => t(s, dir, "orders")
        .groupBy(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
        .agg(count(lit(1)).as("n_orders"),
          Q.sumMicros($"o_totalprice").as("total_micros"))
        .orderBy($"yr", $"mo")),

    // 27. string functions
    Q("q_string_ops",
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  substr(p_name, 1, 5) AS name_prefix,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  p_brand || '/' || p_type AS brand_type,
        |  regexp_replace(p_name, ' ', '_', 'g') AS name_snake
        |FROM part ORDER BY p_partkey""".stripMargin)(
      (s, dir) => t(s, dir, "part")
        .select($"p_partkey",
          upper($"p_name").as("name_upper"),
          substring($"p_name", 1, 5).as("name_prefix"),
          length($"p_name").as("name_len"),
          concat($"p_brand", lit("/"), $"p_type").as("brand_type"),
          regexp_replace($"p_name", " ", "_").as("name_snake"))
        .orderBy($"p_partkey")),

    // 28. pivot ≡ conditional aggregation
    Q("q_pivot_events",
      """SELECT user_id,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)(
      (s, dir) => t(s, dir, "events")
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"user_id")),

    // 29. tumbling-window event aggregation (batch twin of the streaming op)
    Q("q_events_window",
      s"""SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(${sqlMicros("value")}) AS BIGINT) AS total_value_micros
        |FROM events GROUP BY 1, 2 ORDER BY minute, event_type""".stripMargin)(
      (s, dir) => t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("minute", $"ts"), "yyyy-MM-dd HH:mm").as("minute"),
          $"event_type")
        .agg(count(lit(1)).as("n"),
          Q.sumMicros($"value").as("total_value_micros"))
        .orderBy($"minute", $"event_type")),

    // 30. gap-based sessionization (30-min inactivity)
    Q("q_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts) > 1800000000
        |      OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin)(
      (s, dir) => {
        val w = Window.partitionBy($"user_id").orderBy($"ts")
        // ts is TimestampNTZ (ns parquet); cast→timestamp is instant-preserving
        // under the fixed UTC session timezone, then unix_micros is exact.
        val us = unix_micros($"ts".cast("timestamp"))
        t(s, dir, "events")
          .select($"user_id", $"ts", us.as("us"))
          .withColumn("prev_us", lag($"us", 1).over(w))
          .withColumn("new_sess",
            when($"prev_us".isNull || $"us" - $"prev_us" > 1800000000L, 1)
              .otherwise(0))
          .groupBy($"user_id")
          .agg(sum($"new_sess").cast("long").as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy($"user_id")
      }),

    // §2c.24t — UNPIVOT/melt: wide metric columns → long (key, value) rows,
    // the inverse of q_pivot_events and the standard reshape before a
    // generic per-metric aggregation or export. Spark's native `unpivot`
    // is a zero-shuffle Expand (each input row emits one row per value
    // column map-side); the only exchanges here are the two pre-aggregates.
    Q("q_unpivot",
      """WITH c AS (
        |  SELECT n_name, CAST(COUNT(c_custkey) AS BIGINT) AS value
        |  FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |s AS (
        |  SELECT n_name, CAST(COUNT(s_suppkey) AS BIGINT) AS value
        |  FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, 'n_customers' AS metric, value FROM c
        |UNION ALL
        |SELECT n_name, 'n_suppliers' AS metric, value FROM s
        |ORDER BY n_name, metric""".stripMargin)(
      (s, dir) => {
        val nation = t(s, dir, "nation").select($"n_nationkey", $"n_name")
        val cust = t(s, dir, "customer").groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n_customers"))
        val supp = t(s, dir, "supplier").groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n_suppliers"))
        nation
          .join(cust, $"n_nationkey" === $"c_nationkey", "left")
          .join(supp, $"n_nationkey" === $"s_nationkey", "left")
          .select($"n_name",
            coalesce($"n_customers", lit(0L)).as("n_customers"),
            coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
          .unpivot(Array($"n_name"), Array($"n_customers", $"n_suppliers"),
            "metric", "value")
          .orderBy($"n_name", $"metric")
      }),

    // §2e.49 inspect: per-table row counts (dbcut `inspect`/count_all)
    Q("q_inspect_counts",
      Tables.all.map(n => s"SELECT '$n' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows FROM $n")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY tbl"))(
      (s, dir) => Tables.all.sorted.map { n =>
        t(s, dir, n).agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("tbl"), $"n_rows")
      }.reduce(_ unionByName _).orderBy($"tbl"))
  )

  // $"col" sugar without a SparkSession-bound implicits import
  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
