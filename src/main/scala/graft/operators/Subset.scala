package graft.operators

import graft.Tables
import graft.model.{FK, RelGraph}
import graft.spec._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
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
  * touched in one concurrent wave, which stops lineage growth. The job
  * that checkpoints a table also counts its rows and gathers the distinct
  * keys of each column set a pull reads or matches, never whole rows: at
  * most [[LiteralKeyCap]] + 1 per partition and set. A set within the cap
  * is held on the driver, and a pull through it is a literal `InSet`
  * filter on the target's scan; a sink, which no pull reads, keeps that
  * filter lazy and runs no job. Any other pull (a set past the cap, a
  * collated-string key, key types that differ) is a semi-join against
  * the checkpointed source selection, planned by AQE.
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

  /** Root query: `where` with dotted-relation joins, then `offset` and
    * `limit` over a deterministic order (user keys then PK tiebreak); with
    * neither, the rows come unordered. Global order+limit plans as
    * TakeOrderedAndProject — no full sort materialization at scale.
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
    // an extraction is a set: the order only picks which rows a limit or
    // an offset keeps, and sorting an unbounded root costs a range sample
    // and a shuffle the closure never reads
    val ordered =
      if (spec.limit.isEmpty && spec.offset.isEmpty) filtered
      else filtered.orderBy(orderCols: _*)
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

  /** Most distinct keys the driver holds per column set of a selection,
    * and so the most one literal `InSet` pull carries. Past it a
    * semi-join is cheaper: on local[4], a 1k-key filter beat a broadcast
    * join (146 vs 157 ms), a 10k-key one took 1.5× its time, a 100k-key
    * one 3.7×.
    */
  private[graft] val LiteralKeyCap = 1000

  /** Whether key columns of type `t` may pull through a literal `InSet`.
    * A collated string may not: its equality is not binary. A float or
    * double may: held keys are normalized as join keys are, and Spark
    * 4.1's `InSet` matches a 0.0 key to −0.0 and a NaN key to NaN.
    */
  private[graft] def literalKeyType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | StringType | DateType | TimestampType | TimestampNTZType |
         _: DecimalType => true
    case _ => false
  }

  /** Distinct non-null keys of one column set, as catalyst values. */
  private type Keys = Set[GenericInternalRow]

  /** One partition's row count and, per column set (ordinals and types in
    * its rows), at most `cap` + 1 of its distinct non-null keys, so a set
    * past the cap shows as one. Float keys are normalized as join keys
    * are: adding 0.0 turns −0.0 into 0.0, and every NaN compares equal.
    */
  private def partitionKeys(sets: Seq[Seq[(Int, DataType)]], cap: Int)(
      rows: Iterator[InternalRow]): (Long, Seq[Keys]) = {
    val keys = sets.map(cols => (cols, scala.collection.mutable.HashSet.empty[GenericInternalRow]))
    var n = 0L
    for (r <- rows) {
      n += 1
      for ((cols, ks) <- keys if ks.size <= cap && cols.forall(c => !r.isNullAt(c._1)))
        ks += new GenericInternalRow(cols.map { case (i, t) =>
          r.get(i, t) match {
            case d: Double => d + 0.0d
            case f: Float => f + 0.0f
            case v => v
          }
        }.toArray[Any])
    }
    (n, keys.map(_._2.toSet))
  }

  /** One pull into `to`: its rows whose `toCols` match the `fromCols` of
    * `from`'s selection, capped per parent when it is a backref.
    */
  private final case class Pull(from: String, to: String, fromCols: Seq[String],
      toCols: Seq[String], backref: Boolean)

  /** An addition to a target's selection. `keys`, when present, are the
    * keys of a literal join pull, none of them selected before.
    */
  private final case class Add(df: DataFrame, keys: Option[Keys] = None)

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
    * A table's key sets (see the header) are its FK columns to included
    * parents, and the columns its backrefs and incoming FKs match. The
    * join pulls into one target on the same columns fold into one pull,
    * which carries only keys the target has not selected when its keys on
    * those columns are held; a pull with no such key runs nothing. A sink
    * (a table no pull reads, whose incoming FKs all match one set of
    * columns) keeps a literal pull lazy: the driver already knows the keys
    * it asked for, and the consumer's job evaluates the filter.
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
    // analyzer re-instances the scan a semi-join meets twice
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
    def backrefCols(t: String): Seq[Seq[String]] =
      p.edges.filter(e => e.backref && e.from == t).map(_.fk.parentCols)
    def incomingCols(t: String): Seq[Seq[String]] =
      p.tables.flatMap(joinsOf).filter(_.parent == t).map(_.parentCols).distinct
    val keySets: Map[String, Seq[Seq[String]]] = p.tables.map(t => t ->
      (joinsOf(t).map(_.childCols) ++ backrefCols(t) ++ incomingCols(t)).distinct).toMap
    // A sink is a table no pull ever reads: no FK to an included parent,
    // no backref from it, and one set of columns its incoming FKs match.
    // A literal pull into it tells the driver its keys without a job, and
    // its selection can stay a lazy filter on its scan, evaluated by the
    // job that consumes it.
    val sinks: Set[String] = keySets.keySet.filter(t =>
      joinsOf(t).isEmpty && backrefCols(t).isEmpty && keySets(t).size == 1)
    // per selected table and key set: its keys, None past the cap (for a
    // sink, every key asked of it); a table not selected has none
    val held = scala.collection.mutable.Map.empty[String, Map[Seq[String], Option[Keys]]]
    def heldKeys(t: String, cols: Seq[String]): Option[Keys] =
      held.get(t).fold(Option(Set.empty[GenericInternalRow]))(_.getOrElse(cols, None))
    def bounded(keys: Keys): Option[Keys] = Some(keys).filter(_.size <= LiteralKeyCap)

    /** Checkpoint `df` as `t`'s selection, as `Dataset.localCheckpoint`
      * does, in one Spark job that also counts its rows and gathers its
      * key sets: rows stay on the executors.
      */
    def materialize(t: String, df: DataFrame): (DataFrame, Map[Seq[String], Option[Keys]]) = {
      val (sets, schema) = (keySets(t), df.schema)
      val fields = sets.map(_.map(c => (schema.fieldIndex(c), schema(c).dataType)))
      val rdd = df.queryExecution.toRdd.map(_.copy()).localCheckpoint()
      val parts = spark.sparkContext.runJob(rdd, partitionKeys(fields, LiteralKeyCap) _)
      (GraftSqlBridge.ofCheckpoint(df, rdd, parts.map(_._1).sum),
        sets.indices.map(i => sets(i) -> bounded(parts.flatMap(_._2(i)).toSet)).toMap)
    }

    /** Materialize each of `selections` in one concurrent wave. */
    def settle(selections: Seq[(String, DataFrame)]): Unit =
      graft.Wave.run(selections) { case (t, df) => t -> materialize(t, df) }
        .foreach { case (t, (df, keys)) => sel(t) = df; held(t) = keys; version(t) += 1 }

    /** A backref pull keeps at most `backrefLimit` children per parent,
      * in child-PK order. A child read in one scan split needs no
      * exchange for the window: one partition already clusters its
      * parents, so it coalesces instead of shuffling.
      */
    def capped(pl: Pull, pulled: DataFrame): DataFrame = spec.backrefLimit match {
      case Some(lim) if pl.backref =>
        val w = Window.partitionBy(pl.toCols.map(col): _*)
          .orderBy(p.graph.pkOf(pl.to, load(pl.to).columns.toSeq).map(col(_).asc): _*)
        val in = if (Tables.scanPartitions(load(pl.to)) == 1) pulled.coalesce(1) else pulled
        in.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= lim).drop("__rn")
      case _ => pulled
    }

    /** Additions to `t` from its pulls: the join pulls on one set of
      * columns as one pull, each backref as its own. A pull whose keys are
      * held, within the cap and of a literal type is an `InSet` filter;
      * any other is a semi-join against the checkpointed source selection.
      */
    def adds(t: String, pulls: Seq[Pull]): Seq[Add] = {
      val target = load(t)
      def types(df: DataFrame, cols: Seq[String]) = cols.map(df.schema(_).dataType)
      // the pulls of one group share their target columns
      def literal(ps: Seq[Pull], keys: Keys): Boolean = keys.size <= LiteralKeyCap &&
        types(target, ps.head.toCols).forall(literalKeyType) &&
        ps.forall(pl => types(sel(pl.from), pl.fromCols) == types(target, pl.toCols))
      def semiJoin(pl: Pull): DataFrame = {
        val keys = sel(pl.from)
        capped(pl, target.join(keys, pl.toCols.zip(pl.fromCols)
          .map { case (tc, fc) => target(tc) === keys(fc) }.reduce(_ && _), "left_semi"))
      }
      val (backrefs, joins) = pulls.partition(_.backref)
      (joins.groupBy(_.toCols).toSeq.sortBy(_._1.mkString(",")) ++
        backrefs.map(pl => (pl.toCols, Seq(pl)))).flatMap { case (cols, ps) =>
        // a backref window needs every parent key, selected children's too
        val have = if (ps.head.backref) None else heldKeys(t, cols)
        val wanted = ps.map(pl => heldKeys(pl.from, pl.fromCols))
        val missing = if (wanted.contains(None)) None
          else Some(wanted.flatten.flatten.toSet -- have.getOrElse(Set.empty))
        missing match {
          case Some(m) if m.isEmpty => Nil
          // keys missing from a complete held set match no selected row,
          // so the union needs no dedup (the embedded-uniqueness argument
          // of Entity Integrity, Referential Integrity, and Query
          // Optimization with Embedded Uniqueness Constraints, ICDE 2019)
          case Some(m) if literal(ps, m) => Seq(Add(capped(ps.head, target.where(
            GraftSqlBridge.inSet(cols.map(target(_)), m))), have.map(_ => m)))
          case _ => ps.map(pl => Add(semiJoin(pl)))
        }
      }
    }

    /** One closure step over `pulls`, planned against the selections as
      * they stand before it. A target's additions are unioned into its
      * selection, deduped through [[merge]] unless they provably hold no
      * row twice: a lone addition to an empty target, or one literal
      * join pull of only unselected keys. Then every touched table is
      * materialized in one wave and its version bumped once — every later
      * plan (next step, summary) restarts from checkpointed blocks instead
      * of one deep AQE lineage. A target that nothing reaches takes an
      * empty selection, and a sink that takes one literal join pull keeps
      * its selection lazy; neither runs a job. Returns the targets that
      * took a lone pull into an empty selection.
      */
    def step(pulls: Seq[Pull]): Set[String] = {
      val byTarget = pulls.groupBy(_.to).toSeq.sortBy(_._1)
      val fresh = byTarget.collect { case (t, Seq(_)) if !sel.contains(t) => t }.toSet
      val planned = byTarget.map { case (t, ps) => t -> adds(t, ps) }
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
        val cols = keySets(t).head
        sel(t) = df; version(t) += 1
        held(t) = Map(cols -> heldKeys(t, cols).flatMap(k => bounded(k ++ adds.head.keys.get)))
      }
      settle(touched.map { case (t, _, df) => (t, df) })
      fresh
    }

    timed("root")(settle(Seq(spec.from -> applyRootQuery(spark, sfDir, spec, p.graph))))

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
