package graftbench

import graft.{Cli, SparkEntry, Tables}
import graft.model.RelGraph
import graft.operators.Subset
import graft.sources.Versioned
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One workload run of the benchmark, in one JVM.
  *
  * {{{
  * graftbench.Harness <workload> <workDir> <dataDir> <seconds> <trace 0|1> <result.json>
  * }}}
  *
  * `workDir` holds the seeded inputs `run.py` wrote — `cycle` (ops per op
  * cycle, then the least number of cycles to time), `queries.jsonl`, `warm.jsonl` and `snapshot.jsonl` (one dbcut
  * query per line) for `extract`, `order.txt` and `pack_queries.txt` for `pack` — and
  * receives every file the run writes: catalog copies, destinations, index
  * roots, Spark scratch. The result is one JSON object that `run.py` checks
  * and turns into metrics.
  */
object Harness {
  val SetupReps = 3
  val WarmOps = 2
  val SnapshotProbeOps = 4

  val Modules: Seq[(String, Seq[graft.Q])] = Seq(
    "SpecQueries" -> graft.operators.SpecQueries.pack,
    "Relational" -> graft.operators.Relational.pack,
    "Analytic" -> graft.operators.Analytic.pack,
    "Inspect" -> graft.operators.Inspect.pack,
    "TextAnalysis" -> graft.operators.TextAnalysis.pack,
    "Dedup" -> graft.operators.Dedup.pack,
    "Similarity" -> graft.operators.Similarity.pack,
    "Skew" -> graft.operators.Skew.pack,
    "Search" -> graft.operators.Search.pack,
    "Lakehouse" -> graft.operators.Lakehouse.pack,
    "RuntimeFilter" -> graft.operators.RuntimeFilter.pack,
    "Multimodal" -> graft.operators.Multimodal.pack)
  lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** The standing-index families the CLI `index` command builds and times. */
  val IndexFamilies: Seq[String] = Seq("minhash_sigs", "cluster_labels",
    "simhash_sigs", "winnow_postings", "keepers", "truth_pairs",
    "truth_sampled", "dup_chunks", "substr_postings", "rare_grams",
    "dup_grams", "bigram_model", "unigrams", "dsir_features",
    "embed_buckets", "embed_pairs", "minhash_incr", "ivf", "pq")

  /** Pack queries whose job counts are reported one by one. */
  val TrackedQueries: Seq[String] = Seq("q_subset_full", "q_subset_parents",
    "q_inspect_diff", "q_bpe_merges", "q_trimmed_mean")

  final case class OpRec(index: Int, ok: Boolean, secs: Double, err: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, workS, dataDir, secondsS, traceS, resultPath) = args
    val work = Paths.get(workS).toAbsolutePath.toString
    val h = new Harness(workload, work, dataDir, secondsS.toDouble, traceS == "1")
    val out = try h.run() catch {
      case e: Throwable =>
        e.printStackTrace()
        Map[String, Any]("fatal" -> describe(e))
    } finally h.stop()
    Files.writeString(Paths.get(resultPath), Json(out))
  }

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
    (if (root eq e) msg else s"$msg (root: ${root.getClass.getName}: ${root.getMessage})")
      .linesIterator.take(3).mkString(" | ").take(600)
  }

  def now(): Double = System.nanoTime() / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def listFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(f => f.toString -> Files.size(f)).toMap)

  def dirBytes(p: Path): Long = listFiles(p).values.sum

  def lines(p: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toIndexedSeq.filter(_.nonEmpty)
}

final class Harness(workload: String, work: String, dataDir: String,
                    seconds: Double, trace: Boolean) {
  import Harness._

  private val cores = Runtime.getRuntime.availableProcessors
  private val graph = RelGraph.tpch
  private var spark: SparkSession = _
  private var recorder: JobRecorder = _
  private val recorders = ArrayBuffer.empty[JobRecorder]
  private var spans: Spans = _
  private val allSpans = ArrayBuffer.empty[Spans]
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val phaseSecs = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private lazy val Seq(cycle, minCycles) = lines(s"$work/cycle").map(_.trim.toInt)

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** A fresh session with `graft.Bench`'s confs; every path Spark or graft
    * writes to points into this run's work dir.
    */
  private def newSession(tag: String): Unit = {
    stop()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.index.root", s"$work/index_$tag")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    recorder = new JobRecorder
    recorders += recorder
    spark.sparkContext.addSparkListener(recorder)
    spans = new Spans(spark.sparkContext)
    allSpans += spans
  }

  /** Copy the seeded catalog, so each set-up reads files no memo has seen. */
  private def catalog(tag: String): String = {
    val dst = Paths.get(s"$work/catalog_$tag")
    Files.createDirectories(dst)
    scala.util.Using.resource(Files.list(Paths.get(dataDir)))(_.iterator().asScala.toSeq)
      .foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
    dst.toString
  }

  private def phase[T](name: String)(f: => T): T = {
    val t0 = now()
    try spans(name)(f) finally phaseSecs(name) += now() - t0
  }

  /** Fixed scan+aggregate reading, diagnostic only: the median of three
    * after one throwaway run.
    */
  private def sentinel(src: String): Double = phase("sentinel") {
    def once(): Double = {
      val t0 = now()
      Tables.load(spark, src, "lineitem").groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .write.mode("overwrite").format("noop").save()
      now() - t0
    }
    once()
    median(Seq(once(), once(), once()))
  }

  /** A dbcut config for one query: source, destination, the query. The
    * query line is JSON, which is valid YAML flow syntax.
    */
  private def writeConfig(name: String, src: String, dest: String, query: String): String = {
    val p = Paths.get(s"$work/configs/$name.yml")
    Files.createDirectories(p.getParent)
    Files.writeString(p,
      s"""databases:
         |  source_dir: $src
         |  destination_dir: $dest
         |queries:
         |  - $query
         |""".stripMargin)
    p.toString
  }

  private def cli(config: String, commands: String*): Seq[String] =
    Cli.run(spark, Cli.Options(configPath = config, quiet = true, commands = commands))

  private def attempt(i: Int)(f: => Unit): OpRec = {
    val t0 = now()
    try { f; OpRec(i, ok = true, now() - t0, "") }
    catch { case e: Throwable => OpRec(i, ok = false, now() - t0, describe(e)) }
    finally spark.catalog.clearCache()
  }

  /** The closed loop: whole op cycles, back to back, at least `minCycles`
    * of them and until at least `seconds` have passed — every run measures
    * the same op mix.
    */
  private def timedLoop(op: Int => Unit): Seq[OpRec] = phase("timed") {
    val recs = ArrayBuffer.empty[OpRec]
    val t0 = now()
    var i = 0
    while (i < minCycles * cycle || now() - t0 < seconds)
      for (_ <- 0 until cycle) { recs += attempt(i)(op(i)); i += 1 }
    out("timed_s") = now() - t0
    recs.toSeq
  }

  private def opsJson(recs: Seq[OpRec]): Seq[Map[String, Any]] =
    recs.map(r => Map("i" -> r.index, "ok" -> r.ok, "s" -> r.secs, "err" -> r.err))

  def run(): Map[String, Any] = {
    workload match {
      case "extract" => runExtract()
      case "pack" => runPack()
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (trace) {
      // share of every job this process ran whose job group is one of our
      // spans (a group the library set itself would not count)
      org.apache.spark.BusAccess.drain(spark.sparkContext)
      val every = recorders.toSeq.flatMap(_.jobs.values().asScala)
      val paths = allSpans.flatMap(_.closed.map(_.path)).toSet
      val named = every.count(j => paths(j.group))
      layers("trace.unattributed_jobs") = every.size - named
      layers("trace.attributed_share") = named.toDouble / math.max(1, every.size)
      out("layers") = layers.toMap
    }
    out("phase_s") = phaseSecs.toMap
    out.toMap
  }

  // ---------------------------------------------------------------- extract

  private lazy val querySpecs = lines(s"$work/queries.jsonl")

  private def runExtract(): Unit = {
    // set-up, repeated: a fresh session over a fresh catalog copy, then the
    // warm-up ops; the last rep's session and catalog serve the timed loop
    val times = ArrayBuffer.empty[Double]
    var src = ""
    for (r <- 0 until SetupReps) {
      val t0 = now()
      newSession(s"r$r")
      src = spans("setup") {
        val s = catalog(s"r$r")
        for ((q, k) <- lines(s"$work/warm.jsonl").zipWithIndex)
          cli(writeConfig(s"warm_${r}_$k", s, s"$work/dest_warm/${r}_$k", q), "flush", "load")
        s
      }
      times += now() - t0
    }
    phaseSecs("setup") = times.sum
    out("setup_reps_s") = times.toSeq
    out("setup_s") = median(times.toSeq)

    def dest(i: Int) = s"$work/dest/op_$i"
    def op(i: Int): Unit =
      cli(writeConfig(s"op_$i", src, dest(i), querySpecs(i)), "flush", "load")
    val before = sentinel(src)
    if (trace) {
      val plain = tracedPasses(cycle, op, i => tracedExtract(src, i, s"$work/dest_traced/op_$i"))
      snapshotProbe(src)
      checkDests(plain, src, dest)
    } else {
      val recs = timedLoop(op)
      out("ops") = opsJson(recs)
      checkDests(recs, src, dest)
    }
    out("sentinel_s") = Seq(before, sentinel(src))
  }

  /** `f` over `xs`, four at a time, results in order. Output checks run
    * this way: they are independent, and one thread leaves cores idle
    * between their many small jobs.
    */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Output check, outside the timed region: CLI `check` on every op's
    * destination.
    */
  private def checkDests(recs: Seq[OpRec], src: String, dest: Int => String): Unit =
    phase("check") {
      out("checked_dests") = inParallel(recs.filter(_.ok).map(_.index)) { i =>
        val ls = cli(writeConfig(s"check_$i", src, dest(i), querySpecs(i)), "check")
        Map("i" -> i, "dest" -> dest(i), "query" -> querySpecs(i),
          "verdict" -> ls.lastOption.getOrElse(""),
          "violations" -> ls.filter(_.contains("VIOLATIONS")))
      }
    }

  private val extractions = ArrayBuffer.empty[Subset.Extraction]
  private var loadBytes = 0L

  /** The extract op decomposed into the public calls the CLI chain makes
    * for a one-query config (`Job.run` of one query is `Subset.extract`;
    * `load` writes each table in FK order and counts it back), each under
    * its own span.
    */
  private def tracedExtract(src: String, i: Int, dest: String): Unit = {
    val cfgPath = writeConfig(s"traced_$i", src, dest, querySpecs(i))
    spans("cli.flush")(cli(cfgPath, "flush"))
    val cfg = spans("job.parseConfig")(Cli.parseConfig(Files.readString(Paths.get(cfgPath))))
    val spec = cfg.job.queries.head
    spans("subset.plan")(Subset.plan(spec, graph))
    val ex = spans("subset.extract")(Subset.extract(spark, cfg.sourceDir, spec, graph))
    extractions += ex
    spans("load.write") {
      val order = graph.topological.filter(ex.tables.contains)
      order.foreach(n => ex.tables(n).write.mode(SaveMode.Overwrite).parquet(s"$dest/$n"))
      order.foreach(n => spark.read.parquet(s"$dest/$n").count())
    }
    loadBytes += dirBytes(Paths.get(dest))
  }

  /** The versioned layer, traced: CLI `snapshot changes vacuum` ops into one
    * destination over an orders window that slides per op, decomposed into
    * spans, then CLI `check` (with its `versioned_rowcount` rule) on the
    * final state.
    */
  private def snapshotProbe(src: String): Unit = phase("snapshot_probe") {
    val specs = lines(s"$work/snapshot.jsonl")
    val dest = s"$work/snap"
    for (k <- 0 until WarmOps)
      cli(writeConfig(s"snap_warm_$k", src, dest, specs(k)), "snapshot", "changes", "vacuum")
    val vroot = Paths.get(s"$dest/versioned")
    for (k <- 0 until SnapshotProbeOps) spans(s"snap$k") {
      val cfgPath = writeConfig(s"snap_$k", src, dest, specs(WarmOps + k))
      val cfg = Cli.parseConfig(Files.readString(Paths.get(cfgPath)))
      val ex = Subset.extract(spark, cfg.sourceDir, cfg.job.queries.head, graph)
      val before = listFiles(vroot)
      spans("versioned.commit") {
        graph.topological.filter(ex.tables.contains).foreach(n =>
          Versioned.commit(ex.tables(n), s"$dest/versioned/$n"))
      }
      val added = listFiles(vroot) -- before.keys
      layers("versioned.files") += added.size
      layers("versioned.bytes_written") += added.values.sum
      spans("cli.changes")(cli(cfgPath, "changes"))
      spans("cli.vacuum")(cli(cfgPath, "vacuum"))
      spark.catalog.clearCache()
    }
    layers("versioned.commit_ms") = spanMs("snapshot_probe", "versioned.commit")
    layers("versioned.changes_ms") = spanMs("snapshot_probe", "cli.changes")
    layers("versioned.vacuum_ms") = spanMs("snapshot_probe", "cli.vacuum")
    out("snapshot_check") = cli(writeConfig("snap_check", src, dest, specs(WarmOps)), "check")
  }

  /** Total wall of the spans named `name` under the top-level span `root`. */
  private def spanMs(root: String, name: String): Double =
    spans.closed.filter(s => s.path.startsWith(s"$root/") && s.path.endsWith(s"/$name"))
      .map(_.ms).sum.toDouble

  // ------------------------------------------------------------------- pack

  /** The fixed pack subset (`run.py` owns the list). */
  private lazy val packQueries = lines(s"$work/pack_queries.txt")
  private lazy val packOrder = lines(s"$work/order.txt")

  private def runQuery(src: String, q: String): Unit =
    SparkEntry.queries(q)(spark, src).write.mode("overwrite").format("noop").save()

  private def runPack(): Unit = {
    // set-up: a fresh session and catalog, then one untimed pass over the
    // subset, which builds the standing indexes its queries probe (into a
    // fresh index root) and warms the JVM. It is not repeated: one set-up
    // is a third of a pack run. The traced run first builds every family
    // with CLI `index`, for the per-family build times.
    val t0 = now()
    newSession("r0")
    val src = spans("setup") {
      val s = catalog("r0")
      if (trace) {
        val cfg = writeConfig("index", s, s"$work/packdest", "{from: region}")
        out("index_lines") = cli(cfg, "index").filter(_.startsWith("index:"))
      }
      out("setup_failed") = packQueries.map(q => q -> attempt(-1)(runQuery(s, q)))
        .collect { case (q, r) if !r.ok => q -> r.err }.toMap
      s
    }
    val setup = now() - t0
    phaseSecs("setup") = setup
    out("setup_reps_s") = Seq(setup)
    out("setup_s") = setup
    val before = sentinel(src)
    if (trace) tracedPasses(cycle, i => runQuery(src, packOrder(i)),
      i => tracedQuery(src, packOrder(cycle + i)))
    else {
      val recs = timedLoop(i => runQuery(src, packOrder(i)))
      out("ops") = opsJson(recs)
    }
    out("sentinel_s") = Seq(before, sentinel(src))
    out("stored_bytes") = dirBytes(Paths.get(s"$work/index_r0"))
    out("corpus_bytes") = dirBytes(Paths.get(src))
    out("source_dir") = src
    // output check: every subset query's result, for the DuckDB oracle
    // compare `run.py` makes
    phase("check") {
      val vdir = s"$work/verify"
      val failed = inParallel(packQueries) { q =>
        try {
          SparkEntry.queries(q)(spark, src).coalesce(1).write.mode("overwrite")
            .parquet(s"$vdir/$q")
          None
        } catch { case e: Throwable => Some(q -> describe(e)) }
      }.flatten
      spark.catalog.clearCache()
      Files.writeString(Paths.get(s"$vdir/queries.txt"), packQueries.sorted.mkString("\n"))
      Files.writeString(Paths.get(s"$vdir/oracle_sql.json"), Json(
        packQueries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
      out("verify_dir") = vdir
      out("verify_failed") = failed.toMap
    }
  }

  /** One pack query split into the query function call (driver-side eager
    * work), planning, and the noop write.
    */
  private def tracedQuery(src: String, q: String): Unit = {
    val m = moduleOf(q)
    val t0 = now()
    spans(s"pack.$m")(spans(q) {
      val df = spans("eager")(SparkEntry.queries(q)(spark, src))
      val t1 = now()
      spans("plan")(df.queryExecution.executedPlan)
      val t2 = now()
      spans("exec")(df.write.mode("overwrite").format("noop").save())
      layers("pack.eager_ms") += (t1 - t0) * 1000
      layers("pack.plan_ms") += (t2 - t1) * 1000
      layers("pack.exec_ms") += (now() - t2) * 1000
    })
    layers(s"pack.$m.wall_ms") += (now() - t0) * 1000
  }

  // ------------------------------------------------------------------ trace

  /** The traced run does a fixed amount of work, so job counts repeat for a
    * seed: `n` ops as the timed loop runs them, then `n` ops decomposed into
    * spans around graft's public calls. Per-layer figures come from the
    * second pass; the difference of the two totals is the tracing overhead.
    */
  private def tracedPasses(n: Int, plain: Int => Unit, traced: Int => Unit): Seq[OpRec] = {
    val plainRecs = phase("untraced")((0 until n).map(i => attempt(i)(plain(i))))
    val t0 = System.currentTimeMillis()
    val tracedRecs = phase("traced")((0 until n).map(i => spans(s"op$i")(attempt(i)(traced(i)))))
    val t1 = System.currentTimeMillis()
    out("ops") = opsJson(plainRecs ++ tracedRecs)
    val jobs = recorder.between(spark.sparkContext, t0, t1)
    val wall = math.max(1L, t1 - t0)
    val L = layers
    L("spark.jobs") = jobs.size
    L("spark.stages") = jobs.map(_.nStages).sum
    L("spark.tasks") = jobs.map(_.tasks).sum
    L("spark.task_run_ms") = jobs.map(_.runMs).sum
    L("spark.task_cpu_ms") = jobs.map(_.cpuNs).sum / 1e6
    L("spark.task_gc_ms") = jobs.map(_.gcMs).sum
    L("spark.shuffle_bytes") = jobs.map(_.shuffleBytes).sum
    L("spark.busy_ratio") = jobs.map(_.runMs).sum.toDouble / (wall * cores)
    L("spark.driver_gap_ms") = wall - covered(jobs, t1)
    L("tables.schema_jobs") = jobs.count(isSchemaJob)
    val phases = extractions.toSeq.map(_.phaseMillis)
    L("subset.plan_ms") = phases.map(_.getOrElse("plan", 0L)).sum
    L("subset.root_ms") = phases.map(_.getOrElse("root", 0L)).sum
    L("subset.levels_ms") = phases.map(_.filter(_._1.startsWith("level_")).values.sum).sum
    L("subset.reclosure_ms") = phases.map(_.getOrElse("reclosure", 0L)).sum
    val subsetJobs = jobs.count(groupHas(_, "subset.extract"))
    L("subset.jobs") = subsetJobs
    val tables = extractions.map(_.tables.size).sum
    L("subset.jobs_per_table") = if (tables == 0) 0 else subsetJobs.toDouble / tables
    L("load.write_ms") = spanMs("traced", "load.write")
    L("load.bytes") = loadBytes
    val idx = indexBuildMs()
    IndexFamilies.foreach(f => L(s"index.build_ms.$f") = idx.getOrElse(f, 0.0))
    for ((m, _) <- Modules) {
      L(s"pack.$m.wall_ms") += 0
      L(s"pack.$m.jobs") = jobs.count(groupHas(_, s"pack.$m"))
    }
    for (k <- Seq("pack.eager_ms", "pack.plan_ms", "pack.exec_ms")) L(k) += 0
    for (q <- TrackedQueries) L(s"pack.jobs.$q") = jobs.count(groupHas(_, q))
    for (k <- Seq("commit_ms", "changes_ms", "vacuum_ms", "files", "bytes_written"))
      L(s"versioned.$k") += 0 // set by the snapshot probe on extract
    // self time: traced op wall not covered by a named child span
    val opSpans = spans.closed.filter(_.parent == "traced").map(_.path).toSet
    val opMs = spans.closed.filter(s => opSpans(s.path)).map(_.ms).sum
    val childMs = spans.closed.filter(s => opSpans(s.parent)).map(_.ms).sum
    L("trace.self_ms") = opMs - childMs
    L("trace.overhead_ms") = (tracedRecs.map(_.secs).sum - plainRecs.map(_.secs).sum) * 1000
    plainRecs
  }

  /** Wall time covered by at least one job, clipped at `t1`. */
  private def covered(jobs: Seq[JobRec], t1: Long): Long = {
    var total = 0L; var s = 0L; var e = 0L
    for (j <- jobs.sortBy(_.startMs)) {
      val end = if (j.endMs < 0) t1 else math.min(j.endMs, t1)
      if (j.startMs > e) { total += e - s; s = j.startMs; e = end }
      else e = math.max(e, end)
    }
    total + (e - s)
  }

  private def groupHas(j: JobRec, part: String): Boolean = j.group.split('/').contains(part)

  /** A 1-task job launched by a reader call: Spark's parquet footer/schema
    * inference, the work graft's schema memo exists to skip.
    */
  private def isSchemaJob(j: JobRec): Boolean =
    j.tasks == 1 && j.nStages == 1 &&
      Seq("parquet at ", "load at ", "json at ", "orc at ").exists(j.callSite.startsWith)

  /** Per-family build times from the CLI `index` line (`name=1.2s`). */
  private def indexBuildMs(): Map[String, Double] =
    out.get("index_lines").map(_.asInstanceOf[Seq[String]]).getOrElse(Nil)
      .flatMap(l => "([a-z_]+)=([0-9.]+)s".r.findAllMatchIn(l)
        .map(m => m.group(1) -> m.group(2).toDouble * 1000))
      .toMap
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, options).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
