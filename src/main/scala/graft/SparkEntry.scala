package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All oracle-checked query packs, one per SURVEY §2 group. Cached:
    * building the packs constructs 156 Q objects with their oracle-SQL
    * strings, and `queries(name)` sits inside Bench/Profile's timed
    * region — a `def` re-paid that construction on every lookup. */
  lazy val packs: Seq[Q] =
    operators.SpecQueries.pack ++ operators.Relational.pack ++
      operators.Analytic.pack ++ operators.Inspect.pack ++
      operators.TextAnalysis.pack ++ operators.Dedup.pack ++
      operators.Similarity.pack ++ operators.Skew.pack ++
      operators.Search.pack ++ operators.Lakehouse.pack ++
      operators.RuntimeFilter.pack ++ operators.Multimodal.pack

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_subset_full")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    packs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
