package graft.operators

import graft.Tables
import graft.model.{FK, RelGraph}
import graft.spec._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

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
  * Scale posture: key sets are bounded by construction (root `limit` ×
  * `backrefLimit` fan-out), so every closure step is a semi-join against a
  * small key set — AQE turns those into broadcast joins at runtime. The
  * closure runs in steps — one per BFS level, one per re-closure rank batch
  * — and each step checkpoints every table it touched in one concurrent
  * wave, which stops lineage growth; nothing is ever collected to the
  * driver.
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
    val rootCols = Tables.load(spark, sfDir, spec.from).columns

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

  /** Phases 2+3 — run the closure and return per-table selected rows.
    *
    * The closure runs in steps: each BFS level, and each rank batch of the
    * re-closure, is one step. A step folds its pulls into their targets in
    * sorted edge order on the caller thread, so results stay deterministic,
    * then checkpoints every table it touched in ONE concurrent wave: each
    * checkpoint is its own small Spark job, and submitting them from one
    * thread serializes the cluster — on local[n] that is per-job overhead ×
    * #tables of wall clock, on a real cluster it is idle executors.
    */
  def extract(spark: SparkSession, sfDir: String, spec: QuerySpec,
              graph: RelGraph = RelGraph.tpch): Extraction = {
    // phase profiler (dbcut --profiler analogue): localCheckpoint is eager,
    // so per-phase wall times reflect real compute, not just plan building
    val phase = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      phase(name) = (System.nanoTime() - t0) / 1000000; r
    }
    val p = timed("plan")(plan(spec, graph))
    val load: String => DataFrame = name => Tables.load(spark, sfDir, name)
    val sel = scala.collection.mutable.Map[String, DataFrame](
      spec.from -> timed("root")(
        applyRootQuery(spark, sfDir, spec, p.graph).localCheckpoint()))
    // selection versions, bumped once per step that touches a table: lets
    // the re-closure pass skip join edges that phase 2 already evaluated
    // against the final child selection
    val version = scala.collection.mutable.Map(spec.from -> 1).withDefaultValue(0)
    val joinEdgeSeenAt = scala.collection.mutable.Map.empty[(String, FK), Int]

    // Broadcast the key side only when the spec truly bounds it: a root
    // limit AND bounded backref fan-out (no backref edge in the PLAN, or
    // a per-parent cap). Decided from the planned edges, not the raw
    // spec depths — `include` overrides backrefDepth to unlimited inside
    // plan(), so a spec declaring backrefDepth=0 can still traverse
    // uncapped backrefs, and broadcasting that key set is exactly the
    // driver-OOM this guard exists to prevent. Otherwise leave the join
    // strategy to AQE, which broadcasts at runtime if the set turns out
    // small and falls back to a shuffled hash join if not.
    val boundedKeys = spec.limit.isDefined &&
      (!p.edges.exists(_.backref) || spec.backrefLimit.isDefined)
    def keySide(keys: DataFrame): DataFrame =
      if (boundedKeys) broadcast(keys) else keys

    /** Lazy plan for the parents of `src`'s rows: parent ⋉ child-FK keys. */
    def parentsOf(src: DataFrame, fk: FK): DataFrame = {
      val keys = src.select(fk.childCols.map(col): _*).na.drop().distinct()
      val parent = load(fk.parent)
      val on = fk.childCols.zip(fk.parentCols).map { case (c, pc) =>
        keys(c) === parent(pc)
      }.reduce(_ && _)
      parent.join(keySide(keys), on, "left_semi")
    }

    /** Lazy plan for one edge pull against a source-selection snapshot. */
    def pullEdge(e: TreeEdge, src: DataFrame): DataFrame =
      if (!e.backref) parentsOf(src, e.fk)
      else {
        // backref edge: children of selected parents, capped per parent
        val keys = src.select(e.fk.parentCols.map(col): _*).distinct()
        val child = load(e.to)
        val on = e.fk.childCols.zip(e.fk.parentCols).map { case (c, pc) =>
          child(c) === keys(pc)
        }.reduce(_ && _)
        val pulled = child.join(keySide(keys), on, "left_semi")
        spec.backrefLimit match {
          case Some(lim) =>
            val w = Window.partitionBy(e.fk.childCols.map(col): _*)
              .orderBy(p.graph.pkOf(e.to, child.columns.toSeq).map(col(_).asc): _*)
            pulled.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") <= lim).drop("__rn")
          case None => pulled
        }
      }

    /** One closure step over (target, pull) pairs in sorted edge order. A
      * table with no selection that gets one pull takes the plain pull;
      * every other target merges its pulls in. Then every touched table is
      * checkpointed in one wave and its version bumped once — selections
      * are tiny by construction, and every later plan (next step, summary)
      * restarts from checkpointed blocks instead of one deep AQE lineage.
      * Returns the targets that took a plain pull.
      */
    def step(pulls: Seq[(String, DataFrame)]): Set[String] = {
      val byTarget = pulls.groupBy(_._1).toSeq.sortBy(_._1)
      val fresh = byTarget.collect { case (t, Seq(_)) if !sel.contains(t) => t }.toSet
      val merged = byTarget.map { case (t, adds) =>
        t -> (sel.get(t).toSeq ++ adds.map(_._2)).reduceLeft(merge(p.graph, t))
      }
      graft.Wave.run(merged) { case (t, df) => t -> df.localCheckpoint() }
        .foreach { case (t, df) => sel(t) = df; version(t) += 1 }
      fresh
    }

    // Phase 2: level-by-level with snapshot semantics — every pull of a
    // level is planned against the selections as of the previous level.
    for ((lvl, levelEdges) <- p.edges.groupBy(_.level).toSeq.sortBy(_._1))
      timed(s"level_$lvl") {
        val ordered = levelEdges.sortBy(e => (e.from, e.to))
        ordered.foreach(e =>
          if (!e.backref) joinEdgeSeenAt((e.from, e.fk)) = version(e.from))
        val fresh = step(ordered.map(e => e.to -> pullEdge(e,
          sel.getOrElse(e.from, sys.error(s"edge source ${e.from} not yet selected")))))
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
    val included = p.tables.toSet
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
          fk <- p.graph.joinEdges(t)
          if included(fk.parent) && !joinEdgeSeenAt.get((t, fk)).contains(version(t))
        } yield fk.parent -> parentsOf(sel(t), fk))
    }

    Extraction(spec, p, sel.toMap, phase.toMap)
  }

  /** Oracle-friendly one-DataFrame digest of a whole extraction: per table,
    * row count and a PK checksum. Deterministic and cheap to compare.
    */
  def summary(e: Extraction): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
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
