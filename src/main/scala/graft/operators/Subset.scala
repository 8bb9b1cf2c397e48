package graft.operators

import graft.Tables
import graft.model.{FK, RelGraph}
import graft.spec._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Referentially-consistent subset extraction — the heart of the reference
  * (`/root/reference/dbcut/query.py:146-239,352-445`), re-expressed as
  * distributed semi-join closure instead of ORM eager-loading.
  *
  * Semantics (deliberately cleaner than the reference's generator walk, and
  * documented as the engine contract):
  *
  *  1. Root rows: `where` (dotted refs joined), default-PK `order-by`,
  *     `offset`, `limit`.
  *  2. Traversal tree: BFS over the FK graph from the root. A table's edges
  *     are expanded the first time it is reached. A many-to-one ("join") edge
  *     at distance d from the root is followed iff d < joinDepth; a
  *     one-to-many ("backref") edge iff d < backrefDepth and the child table
  *     has not been reached yet. An FK edge is never traversed twice (in
  *     particular never backwards along the edge it was reached by) — this
  *     mirrors `already_seen_relationships` + `already_browse_models` in
  *     `query.py:352-445`.
  *  3. Row collection runs level-by-level with snapshot semantics: every edge
  *     at distance d pulls from the selections as they stood at the end of
  *     level d-1, making the result independent of edge enumeration order.
  *     Join edge T→P adds `P ⋉ fkKeys(sel(T))`; backref edge T→C adds
  *     `C ⋉ pkKeys(sel(T))` capped at `backrefLimit` rows per parent in
  *     child-PK order (the reference's per-parent backref window,
  *     `query.py:458-476`).
  *  4. Parent re-closure: after the walk, one child-before-parent pass over
  *     all join edges between included tables re-pulls parents, so *every*
  *     selected row's FK targets are present whenever the parent table is in
  *     the tree. The reference only eager-loads along first-discovered tree
  *     paths and can leave dangling FKs (it reinjects with FK checks
  *     disabled, `cli/operations.py:84-139`); graft guarantees integrity.
  *
  * Scale posture: the closure runs in steps — one per BFS level, one per
  * re-closure rank batch — and each step checkpoints every table it
  * touched in one concurrent wave, which stops lineage growth. A bounded
  * spec (a root `limit`, and every planned backref capped) bounds every
  * key set by construction (root `limit` × `backrefLimit` fan-out), so it
  * runs keyed: the job that checkpoints a table also collects its key
  * columns to the driver — never whole rows — and a pull is a literal
  * `InSet` filter on the table's scan; a sink, which no pull reads, keeps
  * that filter lazy and runs no job. An edge falls back to a broadcast
  * semi-join against the checkpointed source selection when its key set
  * exceeds [[LiteralKeyCap]], when a key column is float, double or a
  * collated string, or when child and parent key types differ. Any other
  * spec collects nothing to the driver: every pull is a semi-join against
  * the distinct source keys, planned by AQE at runtime.
  */
object Subset {

  /** One selected edge of the traversal tree. */
  final case class TreeEdge(from: String, to: String, fk: FK, backref: Boolean, level: Int)

  /** Driver-side plan: which tables/edges participate, before any data moves. */
  final case class ExtractionPlan(root: String, edges: Seq[TreeEdge], graph: RelGraph) {
    def tables: Seq[String] = (root +: edges.map(_.to)).distinct

    /** ASCII relation tree, the analogue of dbcut's rendered tree. */
    def renderTree: String = {
      val children = edges.groupBy(_.from)
      val sb = new StringBuilder
      // each edge renders ONCE: the single-arrival-edge filter alone does
      // not terminate on MUTUAL FK edges (A→B and B→A both plan; walk
      // would alternate between them forever — estimate crashed with a
      // StackOverflowError on such schemas while the extraction itself
      // completed fine)
      val seen = scala.collection.mutable.Set.empty[TreeEdge]
      def walk(t: String, prefix: String, arrived: Option[TreeEdge]): Unit = {
        val label = arrived match {
          case Some(e) if e.backref => s"$t  (backref via ${e.fk.childCols.mkString(",")})"
          case Some(e)              => s"$t  (join via ${e.fk.childCols.mkString(",")})"
          case None                 => t
        }
        sb.append(prefix).append(label).append('\n')
        val kids = children.getOrElse(t, Nil)
          .filter(e => !seen(e) && arrived.forall(_.fk != e.fk))
        seen ++= kids
        kids.zipWithIndex.foreach { case (e, i) =>
          val last = i == kids.size - 1
          val pad = prefix.replace("├── ", "│   ").replace("└── ", "    ")
          walk(e.to, pad + (if (last) "└── " else "├── "), Some(e))
        }
      }
      walk(root, "", None)
      sb.toString
    }
  }

  final case class Extraction(spec: QuerySpec, plan: ExtractionPlan,
      tables: Map[String, DataFrame],
      phaseMillis: Map[String, Long] = Map.empty)

  /** Phase 1 — walk the FK graph on the driver (metadata only) and decide the
    * tree: which edges are followed, at which level.
    */
  def plan(spec: QuerySpec, graph0: RelGraph): ExtractionPlan = {
    val graph = if (spec.exclude.nonEmpty) graph0.excluding(spec.exclude.toSet) else graph0
    val unlimited = spec.include.nonEmpty
    val joinDepth = if (unlimited) Int.MaxValue else spec.joinDepth
    val backrefDepth = if (unlimited) Int.MaxValue else spec.backrefDepth

    val reached = scala.collection.mutable.Set(spec.from)
    val expanded = scala.collection.mutable.Set.empty[String]
    val traversed = scala.collection.mutable.Set.empty[(String, FK)] // (childTable, fk)
    val edges = scala.collection.mutable.ArrayBuffer.empty[TreeEdge]
    // a table absent from the FK graph (a standalone table like
    // `documents`, or the root itself when `exclude` named it) has no
    // edges — root-only extraction, the same case applyRootQuery and
    // extract already synthesize PKs for; graph.joinEdges would sys.error
    def joinsOf(t: String): Seq[FK] =
      if (graph.tables.contains(t)) graph.joinEdges(t) else Nil
    var level = 0
    var frontier = Seq(spec.from)
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[String]
      for (t <- frontier if !expanded(t)) {
        expanded += t
        if (level < joinDepth)
          for (fk <- joinsOf(t) if !traversed((t, fk))) {
            traversed += ((t, fk))
            edges += TreeEdge(t, fk.parent, fk, backref = false, level)
            if (!reached(fk.parent)) { reached += fk.parent; next += fk.parent }
            else if (!expanded(fk.parent)) next += fk.parent
          }
        if (level < backrefDepth)
          for ((child, fk) <- graph.backrefEdges(t) if !reached(child) && !traversed((child, fk))) {
            traversed += ((child, fk))
            edges += TreeEdge(t, child, fk, backref = true, level)
            reached += child; next += child
          }
      }
      frontier = next.distinct.toSeq
      level += 1
    }

    var plan0 = ExtractionPlan(spec.from, edges.toSeq, graph)
    if (spec.include.nonEmpty) plan0 = pruneToInclude(plan0, spec.include.toSet)
    plan0
  }

  /** dbcut `include`: keep only edges on a direct path from the root to one of
    * the named tables (`query.py:188-214` builds only those relation paths).
    */
  private def pruneToInclude(p: ExtractionPlan, include: Set[String]): ExtractionPlan = {
    val byFrom = p.edges.groupBy(_.from)
    val keep = scala.collection.mutable.Set.empty[TreeEdge]
    def walk(t: String, pathEdges: List[TreeEdge], seen: Set[String]): Unit = {
      if (include(t)) keep ++= pathEdges
      for (e <- byFrom.getOrElse(t, Nil) if !seen(e.to)) walk(e.to, e :: pathEdges, seen + e.to)
    }
    walk(p.root, Nil, Set(p.root))
    p.copy(edges = p.edges.filter(keep))
  }

  /** Root query: `where` with dotted-relation joins, deterministic ordering
    * (user keys then PK tiebreak), `offset`, `limit`. Global order+limit plans
    * as TakeOrderedAndProject — no full sort materialization at scale.
    */
  def applyRootQuery(spark: SparkSession, sfDir: String, spec: QuerySpec, graph: RelGraph): DataFrame = {
    val root = Tables.load(spark, sfDir, spec.from).alias(spec.from)
    val rootCols = root.columns

    val filtered = spec.where match {
      case None => root
      case Some(cond) =>
        val dotted = FilterCompiler.dottedTables(cond) - spec.from
        // inner-join each referenced relation along its FK path (many-to-one
        // joins preserve multiplicity: each row has at most one parent).
        // Two dotted refs sharing a path PREFIX (nation.* and region.*
        // from customer both walk customer→nation) must join the shared
        // hop ONCE — re-joining it under the same alias made every
        // reference to it ambiguous. A table reachable via two DIFFERENT
        // paths (a diamond: nation via customer vs via supplier) binds
        // different rows per path, so silently sharing would conflate
        // them — that case errors loudly instead.
        val joinedVia =
          scala.collection.mutable.Map.empty[String, List[(String, FK)]]
        val joined = dotted.toSeq.sorted.foldLeft(root) { (df, other) =>
          joinPath(spec.from, other, graph) match {
            case Some(path) =>
              path.zipWithIndex.foldLeft(df) {
                case (acc, ((childTbl, fk), i)) =>
                  val prefix = path.take(i + 1)
                  joinedVia.get(fk.parent) match {
                    case Some(p) if p == prefix => acc // shared prefix hop
                    case Some(_) => sys.error(
                      s"dotted ref to ${fk.parent} is ambiguous: reachable " +
                        s"via multiple FK paths from ${spec.from}")
                    case None =>
                      joinedVia(fk.parent) = prefix
                      val parent =
                        Tables.load(spark, sfDir, fk.parent).alias(fk.parent)
                      val on = fk.childCols.zip(fk.parentCols).map {
                        case (c, p) =>
                          col(s"$childTbl.$c") === col(s"${fk.parent}.$p")
                      }.reduce(_ && _)
                      acc.join(parent, on, "inner")
                  }
              }
            case None => sys.error(s"no FK path from ${spec.from} to $other")
          }
        }
        val resolve: String => Column = f =>
          if (f.contains(".")) col(f) else col(s"${spec.from}.$f")
        joined.filter(FilterCompiler.compile(cond, resolve))
          .select(rootCols.map(c => col(s"${spec.from}.$c")).toIndexedSeq: _*)
    }

    val pk = graph.pkOf(spec.from, rootCols.toSeq)
    val userKeys = spec.orderBy.map(k => if (k.desc) col(k.field).desc else col(k.field).asc)
    val orderCols = userKeys ++ pk.filterNot(p => spec.orderBy.exists(_.field == p)).map(col(_).asc)
    val ordered = filtered.orderBy(orderCols: _*)
    // offset/limit are Long in the spec (mlalchemy parity) but Spark's
    // operators take Int — refuse loudly past the range instead of the
    // silent .toInt wrap (limit(5e9.toInt) would quietly return the
    // wrong row count)
    def asInt(name: String, v: Long): Int = {
      require(v >= 0 && v <= Int.MaxValue,
        s"$name $v out of supported range [0, ${Int.MaxValue}]")
      v.toInt
    }
    val offset = spec.offset.fold(ordered)(o =>
      ordered.offset(asInt("offset", o)))
    spec.limit.fold(offset)(l => offset.limit(asInt("limit", l)))
  }

  /** Many-to-one FK path root→target as (childTable, fk) hops, if one exists. */
  private def joinPath(from: String, target: String, graph: RelGraph): Option[List[(String, FK)]] = {
    def bfs(frontier: List[(String, List[(String, FK)])], seen: Set[String]): Option[List[(String, FK)]] =
      frontier match {
        case Nil => None
        case (t, path) :: rest =>
          if (t == target) Some(path.reverse)
          else {
            val nexts = graph.joinEdges(t).filterNot(fk => seen(fk.parent))
              .map(fk => (fk.parent, (t, fk) :: path))
            bfs(rest ++ nexts, seen ++ nexts.map(_._1))
          }
      }
    bfs(List((from, Nil)), Set(from))
  }

  /** Fold `add` into table `t`'s selection `cur`: their union, deduped on
    * `t`'s PK. The closure's steps and [[graft.sources.Job.run]]'s
    * cross-query merge both fold through it.
    */
  def merge(graph: RelGraph, t: String)(cur: DataFrame, add: DataFrame): DataFrame =
    cur.unionByName(add).dropDuplicates(graph.pkOf(t, cur.columns.toSeq))

  /** Most distinct keys one literal `InSet` pull carries. Past it a
    * broadcast semi-join is cheaper: on local[4], a 1k-key filter beat
    * the join (146 vs 157 ms), a 10k-key one took 1.5× its time, a
    * 100k-key one 3.7×.
    */
  private[graft] val LiteralKeyCap = 1000

  /** Whether key columns of type `t` may pull through a literal `InSet`.
    * A collated string may not: its equality is not binary. Nor may a
    * float or double key, whose join equality normalizes −0.0 to 0.0 and
    * NaN to NaN; Spark 4.1's `InSet` happens to match both the same way,
    * but the semi-join guarantees it by construction.
    */
  private[graft] def literalKeyType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType | StringType |
         DateType | TimestampType | TimestampNTZType | _: DecimalType => true
    case _ => false
  }

  /** One pull into `to`: its rows whose `toCols` match the `fromCols` of
    * `from`'s selection, capped per parent when it is a backref.
    */
  private final case class Pull(from: String, to: String, fromCols: Seq[String],
      toCols: Seq[String], backref: Boolean)

  /** An addition to a target's selection. `keys`, when present, are the
    * keys of a literal join pull, none of them selected before.
    */
  private final case class Add(df: DataFrame, keys: Option[Set[Seq[Any]]] = None)

  private def pullOf(e: TreeEdge): Pull =
    if (e.backref) Pull(e.from, e.to, e.fk.parentCols, e.fk.childCols, backref = true)
    else Pull(e.from, e.to, e.fk.childCols, e.fk.parentCols, backref = false)

  /** Phases 2+3 — run the closure and return per-table selected rows.
    *
    * The closure runs in steps: each BFS level, and each rank batch of the
    * re-closure, is one step. A step plans its pulls per target in sorted
    * order on the caller thread, so results stay deterministic, then
    * materializes every table it touched in ONE concurrent wave: each is
    * its own small Spark job, and submitting them from one thread
    * serializes the cluster — on local[n] that is per-job overhead ×
    * #tables of wall clock, on a real cluster it is idle executors.
    *
    * Keyed (see the header), the driver holds each materialized table's
    * key columns: its FK columns to included parents, and the columns its
    * backrefs and incoming FKs match. A join pull carries only keys its
    * target has not selected, and the pulls into one target on the same
    * columns fold into one filter; a pull with no such key runs nothing.
    * A sink — a table no pull reads, whose incoming FKs all match one set
    * of columns — keeps a literal pull lazy: the driver already knows the
    * keys it asked for, and the consumer's job evaluates the filter.
    * Unkeyed, a pull is a semi-join against the distinct source keys and
    * every checkpoint is eager.
    */
  def extract(spark: SparkSession, sfDir: String, spec: QuerySpec,
              graph: RelGraph = RelGraph.tpch): Extraction = {
    // phase profiler (dbcut --profiler analogue): every step materializes
    // what it touched, so per-phase wall times reflect real compute, not
    // just plan building
    val phase = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      phase(name) = (System.nanoTime() - t0) / 1000000; r
    }
    val p = timed("plan")(plan(spec, graph))
    // one scan plan per table: literal filters never self-join, and the
    // analyzer re-instances the scan a fallback semi-join meets twice
    val loads = scala.collection.mutable.Map.empty[String, DataFrame]
    def load(t: String): DataFrame = loads.getOrElseUpdate(t, Tables.load(spark, sfDir, t))
    val sel = scala.collection.mutable.Map.empty[String, DataFrame]
    // selection versions, bumped once per step that changes a table: lets
    // the re-closure pass skip join edges that phase 2 already evaluated
    // against the final child selection
    val version = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val joinEdgeSeenAt = scala.collection.mutable.Map.empty[(String, FK), Int]
    val included = p.tables.toSet
    def joinsOf(t: String): Seq[FK] =
      if (p.graph.tables.contains(t)) p.graph.joinEdges(t).filter(fk => included(fk.parent))
      else Nil

    // Keyed only when the spec truly bounds every key set: a root limit
    // AND bounded backref fan-out (no backref edge in the PLAN, or a
    // per-parent cap). Decided from the planned edges, not the raw spec
    // depths — `include` overrides backrefDepth to unlimited inside
    // plan(), so a spec declaring backrefDepth=0 can still traverse
    // uncapped backrefs, and holding that key set is exactly the
    // driver-OOM this guard exists to prevent. Otherwise leave the join
    // strategy to AQE, which broadcasts at runtime if the set turns out
    // small and falls back to a shuffled hash join if not.
    val keyed = spec.limit.isDefined &&
      (!p.edges.exists(_.backref) || spec.backrefLimit.isDefined)
    def backrefCols(t: String): Seq[Seq[String]] =
      p.edges.filter(e => e.backref && e.from == t).map(_.fk.parentCols)
    def incomingCols(t: String): Seq[Seq[String]] =
      p.tables.flatMap(joinsOf).filter(_.parent == t).map(_.parentCols).distinct
    val keyCols: Map[String, Seq[String]] =
      if (!keyed) Map.empty
      else p.tables.map(t => t -> (joinsOf(t).flatMap(_.childCols) ++
        backrefCols(t).flatten ++ incomingCols(t).flatten).distinct).toMap
    // A sink is a table no pull ever reads: no FK to an included parent,
    // no backref from it, and one set of columns its incoming FKs match.
    // Its key columns are those, so a literal pull into it tells the
    // driver its keys without a job, and its selection can stay a lazy
    // filter on its scan, evaluated by the job that consumes it.
    val sinks: Set[String] = keyCols.keySet.filter(t =>
      joinsOf(t).isEmpty && backrefCols(t).isEmpty && incomingCols(t).size == 1)
    // keyed: keyCols(t) of every row selected in t (for a sink, of every
    // key requested from it)
    val held = scala.collection.mutable.Map.empty[String, Array[Row]]
    def heldKeys(t: String, cols: Seq[String]): Set[Seq[Any]] = {
      val ix = cols.map(keyCols(t).indexOf(_))
      held.getOrElse(t, Array.empty[Row]).iterator.map(r => ix.map(r.get))
        .filterNot(_.contains(null)).toSet
    }

    /** Checkpoint `df` as `t`'s selection: one Spark job, plus any its
      * exchanges plan. Keyed, the checkpoint stays lazy and the action
      * that collects `t`'s key columns fills its blocks: rows stay on the
      * executors, and only key columns reach the driver.
      */
    def materialize(t: String, df: DataFrame): (DataFrame, Array[Row]) =
      if (!keyed) (df.localCheckpoint(), Array.empty)
      else {
        val cp = df.localCheckpoint(eager = false)
        (cp, cp.select(keyCols(t).map(col): _*).collect())
      }

    def semiJoin(pl: Pull, keys: DataFrame): DataFrame = {
      val target = load(pl.to)
      val on = pl.toCols.zip(pl.fromCols).map { case (tc, fc) =>
        target(tc) === keys(fc)
      }.reduce(_ && _)
      target.join(keys, on, "left_semi")
    }

    /** A backref pull keeps at most `backrefLimit` children per parent,
      * in child-PK order. Keyed, a child read in one scan split needs no
      * exchange for the window: one partition already clusters its
      * parents, so it coalesces instead of shuffling.
      */
    def capped(pl: Pull, pulled: DataFrame): DataFrame = spec.backrefLimit match {
      case Some(lim) if pl.backref =>
        val w = Window.partitionBy(pl.toCols.map(col): _*)
          .orderBy(p.graph.pkOf(pl.to, load(pl.to).columns.toSeq).map(col(_).asc): _*)
        val in =
          if (keyed && Tables.scanPartitions(load(pl.to)) == 1) pulled.coalesce(1) else pulled
        in.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= lim).drop("__rn")
      case _ => pulled
    }

    /** Keyed fallback: a broadcast semi-join against the checkpointed
      * source selection.
      */
    def fallback(pl: Pull): DataFrame =
      capped(pl, semiJoin(pl, broadcast(sel(pl.from).select(pl.fromCols.map(col): _*))))

    /** Keyed additions to `t` from its pulls. */
    def keyedAdds(t: String, pulls: Seq[Pull]): Seq[Add] = {
      val target = load(t)
      def literal(ps: Seq[Pull], keys: Set[Seq[Any]]): Boolean =
        keys.size <= LiteralKeyCap && ps.forall(pl => pl.toCols.zip(pl.fromCols).forall {
          case (tc, fc) =>
            val tt = target.schema(tc).dataType
            literalKeyType(tt) && sel(pl.from).schema(fc).dataType == tt
        })
      def filtered(cols: Seq[String], keys: Set[Seq[Any]]): DataFrame =
        target.where(GraftSqlBridge.inSet(cols.map(target(_)),
          cols.map(target.schema(_).dataType), keys))
      val (backrefs, joins) = pulls.partition(_.backref)
      val joinAdds = joins.groupBy(_.toCols).toSeq.sortBy(_._1.mkString(",")).flatMap {
        case (cols, ps) =>
          val have = heldKeys(t, cols)
          val missing = ps.flatMap(pl => heldKeys(pl.from, pl.fromCols)).toSet -- have
          if (missing.isEmpty) Nil
          else if (literal(ps, missing)) Seq(Add(filtered(cols, missing), Some(missing)))
          else ps.filterNot(pl => heldKeys(pl.from, pl.fromCols).subsetOf(have))
            .map(pl => Add(fallback(pl)))
      }
      joinAdds ++ backrefs.flatMap { pl =>
        val keys = heldKeys(pl.from, pl.fromCols)
        if (keys.isEmpty) None
        else if (literal(Seq(pl), keys)) Some(Add(capped(pl, filtered(pl.toCols, keys))))
        else Some(Add(fallback(pl)))
      }
    }

    /** AQE path: a semi-join against the distinct source keys. */
    def aqePull(pl: Pull): DataFrame =
      capped(pl, semiJoin(pl,
        sel(pl.from).select(pl.fromCols.map(col): _*).na.drop().distinct()))

    /** One closure step over `pulls`, planned against the selections as
      * they stand before it. A target's additions are unioned into its
      * selection, deduped through [[merge]] unless they provably hold no
      * row twice: a lone addition to an empty target, or one literal
      * join pull of only unselected keys. Then every touched table is
      * materialized in one wave and its version bumped once — selections
      * are tiny by construction, and every later plan (next step,
      * summary) restarts from checkpointed blocks instead of one deep AQE
      * lineage. Keyed, a target that nothing reaches takes an empty
      * selection, and a sink that takes one literal join pull keeps its
      * selection lazy; neither runs a job. Returns the targets that took
      * a lone pull into an empty selection.
      */
    def step(pulls: Seq[Pull]): Set[String] = {
      val byTarget = pulls.groupBy(_.to).toSeq.sortBy(_._1)
      val fresh = byTarget.collect { case (t, Seq(_)) if !sel.contains(t) => t }.toSet
      val planned = byTarget.map { case (t, ps) =>
        t -> (if (keyed) keyedAdds(t, ps) else ps.map(pl => Add(aqePull(pl))))
      }
      val merged = planned.collect { case (t, adds) if adds.nonEmpty =>
        val dfs = sel.get(t).toSeq ++ adds.map(_.df)
        (t, adds, if (adds.size == 1 && (!sel.contains(t) || adds.head.keys.isDefined))
          dfs.reduce(_ unionByName _) else dfs.reduceLeft(merge(p.graph, t)))
      }
      for ((t, adds) <- planned if adds.isEmpty && !sel.contains(t)) {
        sel(t) = load(t).where(lit(false)); version(t) += 1
      }
      val (lazySinks, touched) = merged.partition { case (t, adds, _) =>
        sinks(t) && adds.size == 1 && adds.head.keys.isDefined
      }
      for ((t, adds, df) <- lazySinks) {
        sel(t) = df; version(t) += 1
        held(t) = held.getOrElse(t, Array.empty[Row]) ++ adds.head.keys.get.map(Row.fromSeq)
      }
      graft.Wave.run(touched) { case (t, _, df) => t -> materialize(t, df) }
        .foreach { case (t, (df, keys)) => sel(t) = df; held(t) = keys; version(t) += 1 }
      fresh
    }

    timed("root") {
      val (df, keys) = materialize(spec.from,
        applyRootQuery(spark, sfDir, spec, p.graph))
      sel(spec.from) = df; held(spec.from) = keys; version(spec.from) = 1
    }

    // Phase 2: level-by-level with snapshot semantics — every pull of a
    // level is planned against the selections as of the previous level.
    for ((lvl, levelEdges) <- p.edges.groupBy(_.level).toSeq.sortBy(_._1))
      timed(s"level_$lvl") {
        val ordered = levelEdges.sortBy(e => (e.from, e.to))
        ordered.foreach { e =>
          if (!sel.contains(e.from)) sys.error(s"edge source ${e.from} not yet selected")
          if (!e.backref) joinEdgeSeenAt((e.from, e.fk)) = version(e.from)
        }
        val fresh = step(ordered.map(pullOf))
        // A backref pull that alone CREATES its child's selection also
        // proves the reverse join edge complete: every pulled row's FK
        // value is a PK of the (monotone, union-only) parent selection it
        // was pulled by. Recording it lets the re-closure skip the no-op
        // re-pull.
        ordered.foreach(e =>
          if (e.backref && fresh(e.to)) joinEdgeSeenAt((e.to, e.fk)) = version(e.to))
      }

    // Phase 3: parent re-closure (child-before-parent), guarantees RI for
    // every included parent table. Edges whose phase-2 pull already saw the
    // child's final selection are provably complete — skip them.
    //
    // Tables are processed in RANK batches rather than one at a time:
    // rank(t) = longest included child-chain below t, so no included join
    // edge can link two tables of equal rank (an edge c→t forces
    // rank(t) > rank(c)) — a batch's pulls read selections only earlier
    // batches could have touched, making them mutually independent, so
    // each batch is one step; on the TPC-H graph this folds {orders, part,
    // supplier} into a single wave. Results are identical to the serial
    // child-before-parent walk.
    timed("reclosure") {
      val inc = p.graph.reverseTopological.filter(included)
      val rank = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      for (t <- inc) {
        // children appear before t in reverseTopological, so their ranks
        // are already assigned
        val childRanks = inc.filter(c =>
          p.graph.joinEdges(c).exists(_.parent == t)).flatMap(rank.get)
        rank(t) = if (childRanks.isEmpty) 0 else childRanks.max + 1
      }
      for ((_, batch) <- rank.toSeq.groupBy(_._2).toSeq.sortBy(_._1))
        step(for {
          t <- batch.map(_._1).sorted if sel.contains(t)
          fk <- joinsOf(t) if !joinEdgeSeenAt.get((t, fk)).contains(version(t))
        } yield Pull(t, fk.parent, fk.childCols, fk.parentCols, backref = false))
    }

    Extraction(spec, p, sel.toMap, phase.toMap)
  }

  /** Oracle-friendly one-DataFrame digest of a whole extraction: per table,
    * row count and a PK checksum. Deterministic and cheap to compare.
    */
  def summary(e: Extraction): DataFrame = {
    // ONE tagged union + ONE group-by instead of a single-partition
    // aggregate per table: the per-table form paid one AQE stage (a
    // scheduler round-trip) per table; here every table's rows map to
    // (tbl, per-row key contribution) and a single tbl-keyed aggregate
    // folds them all in one wave. A zero-weight seed row per table keeps
    // empty selections in the output (the group-by would otherwise drop
    // them), with sum(__w) standing in for count.
    val spark = e.tables.head._2.sparkSession
    val parts = e.tables.toSeq.sortBy(_._1).map { case (name, df) =>
      val pk = e.plan.graph.pkOf(name, df.columns.toSeq)
      // integral key parts only: double→long casts round differently across
      // engines, so non-integral PK components stay out of the checksum
      val integral = pk.filter { c =>
        df.schema(c).dataType match {
          case LongType | IntegerType | ShortType => true
          case _ => false
        }
      }
      // a PK with no integral part (string/UUID keys) checksums as 0 —
      // count-only row, not an empty-reduce crash
      val keySum = integral.map(c => col(c).cast("long"))
        .reduceOption(_ + _).getOrElse(lit(0L))
      val rows = df.select(lit(name).as("tbl"), keySum.as("__ks"),
        lit(1L).as("__w"))
      val seed = spark.range(1).select(lit(name).as("tbl"),
        lit(null).cast("long").as("__ks"), lit(0L).as("__w"))
      rows.unionByName(seed)
    }
    parts.reduce(_ unionByName _)
      .groupBy("tbl")
      .agg(sum(col("__w")).as("n_rows"),
        coalesce(sum(col("__ks")), lit(0L)).as("key_sum"))
      .orderBy("tbl")
  }
}
