package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.model.RelGraph
import graft.operators.Subset
import graft.spec.{QuerySpec, SpecJson}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Multi-query extraction jobs — the reference's config file holds a LIST of
  * queries; `--only-tables` keeps queries whose root is in the set and
  * `--last-only` keeps just the last one
  * (`/root/reference/dbcut/cli/operations.py:14-24`). Per-table results from
  * all selected queries merge into one destination set (union, PK-dedup).
  */
object Job {

  final case class JobConfig(
      queries: Seq[QuerySpec],
      onlyTables: Seq[String] = Nil,
      lastOnly: Boolean = false)

  /** Parse a job config: a YAML document with a `queries:` list (each entry
    * a dbcut query) and optional `only_tables` / `last_only` /
    * `global_exclude`. `global_exclude` (reference `configuration.py:25`,
    * merged per query at `parser.py:135-137`) is a config-level exclude
    * list folded into EVERY query's exclude — how a user bans an audit
    * table corpus-wide without repeating it per query. A scalar value is
    * accepted as a one-element list, like the per-query key.
    */
  def parseConfig(text: String): JobConfig = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = mapper.readTree(text)
    require(root.hasNonNull("queries"), "job config needs a 'queries' list")
    val globalExclude = Option(root.get("global_exclude")).filter(!_.isNull)
      .map(n =>
        if (n.isArray) n.elements().asScala.toSeq.map(_.asText())
        else Seq(n.asText()))
      .getOrElse(Nil)
    val queries = root.get("queries").elements().asScala.toSeq
      .map(n => SpecJson.parse(mapper.writeValueAsString(n)))
      .map(q => q.copy(exclude = (q.exclude ++ globalExclude).distinct))
    val only = Option(root.get("only_tables")).map(n =>
      if (n.isArray) n.elements().asScala.toSeq.map(_.asText())
      else n.asText().split(",").toSeq).getOrElse(Nil)
    val last = Option(root.get("last_only")).exists(_.asBoolean(false))
    JobConfig(queries, only, last)
  }

  /** dbcut's query selection: only-tables filter by root, then last-only. */
  def selectQueries(cfg: JobConfig): Seq[QuerySpec] = {
    val filtered =
      if (cfg.onlyTables.nonEmpty) cfg.queries.filter(q => cfg.onlyTables.contains(q.from))
      else cfg.queries
    if (cfg.lastOnly) filtered.takeRight(1) else filtered
  }

  /** Run every selected query and merge the extractions per table. With a
    * `cacheRoot`, each query goes through [[QueryCache]] (dbcut's per-query
    * result cache; `force` ≡ --force-refresh) — pass None for --no-cache.
    */
  def run(spark: SparkSession, sfDir: String, cfg: JobConfig,
          graph: RelGraph = RelGraph.tpch,
          cacheRoot: Option[String] = None,
          force: Boolean = false): Map[String, DataFrame] = {
    val merged = scala.collection.mutable.Map.empty[String, DataFrame]
    for (spec <- selectQueries(cfg)) {
      val tables = cacheRoot match {
        case Some(c) => QueryCache.extract(spark, sfDir, spec, c, graph, force)._1
        case None => Subset.extract(spark, sfDir, spec, graph).tables
      }
      for ((name, df) <- tables)
        merged(name) = merged.get(name).fold(df)(Subset.merge(graph, name)(_, df))
    }
    merged.toMap
  }
}
