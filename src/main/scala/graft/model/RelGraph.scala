package graft.model

/** A foreign-key edge: `childCols` in the child table reference
  * `parentCols` (usually the PK) in `parent`.
  */
final case class FK(childCols: Seq[String], parent: String, parentCols: Seq[String])

/** Per-table relationship metadata: primary key + outgoing FK edges. */
final case class TableMeta(name: String, pk: Seq[String], fks: Seq[FK] = Nil)

/** Declarative relationship graph — graft's analogue of dbcut's SQLAlchemy
  * automap reflection (`/root/reference/dbcut/database.py:166-211`). Parquet
  * carries no FK metadata, so the graph ships as data, with naming-convention
  * inference ([[RelGraph.inferFks]]) standing in for reflection and
  * [[RelGraph.synthesizePk]] mirroring dbcut's PK synthesis for PK-less
  * tables (`database.py:411-428`).
  */
final case class RelGraph(tables: Map[String, TableMeta]) {

  def meta(name: String): TableMeta =
    tables.getOrElse(name, sys.error(s"unknown table: $name"))

  /** The columns that key `table`: its declared PK, or else the key
    * [[RelGraph.synthesizePk]] picks from `columns` (read only for a table
    * the graph does not declare). Every PK-dedupe and checksum uses it.
    */
  def pkOf(table: String, columns: => Seq[String]): Seq[String] =
    tables.get(table).map(_.pk).getOrElse(RelGraph.synthesizePk(columns))

  /** Many-to-one ("join") edges out of `table`: its own FKs. */
  def joinEdges(table: String): Seq[FK] = meta(table).fks

  /** One-to-many ("backref") edges into `table`: (childTable, fk) pairs where
    * some other table's FK points at `table`. Deterministic order by child name.
    */
  def backrefEdges(table: String): Seq[(String, FK)] =
    tables.values.toSeq.sortBy(_.name).flatMap { t =>
      t.fks.filter(_.parent == table).map(fk => (t.name, fk))
    }

  /** Graph with the given tables removed entirely (dbcut `exclude`). */
  def excluding(names: Set[String]): RelGraph =
    RelGraph(tables.collect {
      case (n, m) if !names(n) =>
        n -> m.copy(fks = m.fks.filterNot(fk => names(fk.parent)))
    })

  /** Graph restricted to the given tables (dbcut `include`: only direct paths
    * to named tables survive — expressed here as an induced subgraph over
    * root + include set; edges touching dropped tables vanish).
    */
  def onlyTables(keep: Set[String]): RelGraph =
    RelGraph(tables.collect {
      case (n, m) if keep(n) =>
        n -> m.copy(fks = m.fks.filter(fk => keep(fk.parent)))
    })

  /** Child-before-parent topological order of the many-to-one DAG, used by the
    * parent re-closure pass and FK-ordered sinks. Cycles (self-FKs etc.) fall
    * back to name order for the cyclic remainder.
    */
  def reverseTopological: Seq[String] = {
    val names = tables.keySet
    // dependsOn(t) = parents of t that are in the graph
    def parents(t: String): Set[String] =
      meta(t).fks.map(_.parent).filter(names).toSet - t
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val placed = scala.collection.mutable.Set.empty[String]
    var remaining = names.toSeq.sorted
    var progressed = true
    // parents placed LAST: child-before-parent == reverse topo of FK DAG
    while (remaining.nonEmpty && progressed) {
      progressed = false
      val (ready, rest) = remaining.partition { t =>
        backrefEdges(t).map(_._1).forall(c => placed(c) || c == t)
      }
      if (ready.nonEmpty) { progressed = true; ready.foreach { t => order += t; placed += t } }
      remaining = rest
    }
    order.toSeq ++ remaining
  }

  /** Parent-before-child order (for FK-safe insertion into a destination). */
  def topological: Seq[String] = reverseTopological.reverse
}

object RelGraph {

  /** PK synthesis for tables without declared keys — mirrors dbcut's fallback
    * (`/root/reference/dbcut/database.py:411-428`): prefer `id`, then `uuid`,
    * then any `*_id`/`*key` column, then the first column.
    */
  def synthesizePk(cols: Seq[String]): Seq[String] = {
    val lower = cols.map(c => c -> c.toLowerCase)
    lower.collectFirst { case (c, "id") => c }
      .orElse(lower.collectFirst { case (c, "uuid") => c })
      .orElse(lower.collectFirst { case (c, l) if l.endsWith("_id") => c })
      .orElse(lower.collectFirst { case (c, l) if l.endsWith("key") => c })
      .orElse(cols.headOption)
      .toSeq
  }

  /** Naming-convention FK inference — the reflection analogue for schemaless
    * columnar data: a column named `<x>_<suffix>` matches a parent whose
    * single-column PK shares the `<suffix>` tail (TPC-H style: `l_orderkey`
    * → `o_orderkey` of `orders`).
    *
    * Guard rails (inference must err toward MISSING an edge, never toward
    * inventing one — a spurious FK makes the closure pull unrelated rows):
    *   - the shared tail must be ≥ 3 chars: a bare "id" tail would link
    *     every `*_id` column to every `*_id`-keyed table (a cyclic mesh
    *     over e.g. event_id/doc_id/vec_id);
    *   - the tail must identify EXACTLY ONE parent — an ambiguous match
    *     infers nothing rather than guessing;
    *   - a table's own PK column never becomes an FK out of it.
    */
  def inferFks(schemas: Map[String, Seq[String]], pks: Map[String, Seq[String]]): Map[String, Seq[FK]] = {
    def tail(c: String): String = c.toLowerCase.dropWhile(_ != '_').stripPrefix("_")
    schemas.map { case (table, cols) =>
      val ownPk = pks.getOrElse(table, Nil).toSet
      val fks = for {
        c <- cols
        if !ownPk.contains(c)
        t = tail(c)
        if t.length >= 3
        candidates = pks.toSeq.sortBy(_._1).filter { case (parent, ppk) =>
          parent != table && ppk.size == 1 && tail(ppk.head) == t &&
            c != ppk.head
        }
        if candidates.size == 1
      } yield FK(Seq(c), candidates.head._1, candidates.head._2)
      table -> fks
    }
  }

  /** The driver testdata star schema (TPC-H-ish; see /root/repo/TESTDATA.md). */
  val tpch: RelGraph = RelGraph(Map(
    "region" -> TableMeta("region", Seq("r_regionkey")),
    "nation" -> TableMeta("nation", Seq("n_nationkey"),
      Seq(FK(Seq("n_regionkey"), "region", Seq("r_regionkey")))),
    "customer" -> TableMeta("customer", Seq("c_custkey"),
      Seq(FK(Seq("c_nationkey"), "nation", Seq("n_nationkey")))),
    "supplier" -> TableMeta("supplier", Seq("s_suppkey"),
      Seq(FK(Seq("s_nationkey"), "nation", Seq("n_nationkey")))),
    "part" -> TableMeta("part", Seq("p_partkey")),
    "orders" -> TableMeta("orders", Seq("o_orderkey"),
      Seq(FK(Seq("o_custkey"), "customer", Seq("c_custkey")))),
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data; the
    // extended key below is verified unique at every SF and keeps windowed
    // backref caps + dedup deterministic across engines.
    "lineitem" -> TableMeta("lineitem",
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"),
      Seq(
        FK(Seq("l_orderkey"), "orders", Seq("o_orderkey")),
        FK(Seq("l_partkey"), "part", Seq("p_partkey")),
        FK(Seq("l_suppkey"), "supplier", Seq("s_suppkey")))),
    "events" -> TableMeta("events", Seq("event_id")),
    "documents" -> TableMeta("documents", Seq("doc_id")),
    "embeddings" -> TableMeta("embeddings", Seq("vec_id"))
  ))
}
