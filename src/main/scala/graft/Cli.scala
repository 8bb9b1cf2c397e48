package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.model.RelGraph
import graft.operators.{Inspect, Subset}
import graft.sources.{Export, Job, QueryCache, SqlDump}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

/** The dbcut command-line surface re-expressed over the Spark engine: a
  * chained multi-command driven by a YAML config file
  * (`/root/reference/dbcut/cli/main.py:39-55` — `dbcut load inspect dumpsql`
  * runs the commands in order against one shared context; global options
  * `--no-cache`, `--force-refresh`, `--last-only`, `--only`, `--quiet`,
  * `-y` from `cli/context.py:30-49` and `commands/cmd_load.py`).
  *
  * Config file (the dbcut.yml analogue — source/destination URIs become
  * directories of parquet tables):
  * {{{
  * databases:
  *   source_dir: /data/sf0.01        # the catalog to extract FROM
  *   destination_dir: /tmp/dest      # where load/dump commands write
  * cache: /tmp/graft-cache           # optional; absent ⇒ no caching
  * queries:                          # the dbcut query list
  *   - from: customer
  *     where: {c_mktsegment: BUILDING}
  *     limit: 10
  * }}}
  *
  * `runMain graft.Cli -c graft.yml load inspect dumpjson`
  */
object Cli {

  val CommandNames: Seq[String] =
    Seq("load", "flush", "clear", "inspect", "estimate", "dumpsql", "dumpjson",
      "dumporc", "models", "snapshot", "changes", "vacuum", "check",
      "purgecache", "index")

  final case class Options(
      configPath: String = "graft.yml",
      noCache: Boolean = false,
      forceRefresh: Boolean = false,
      lastOnly: Boolean = false,
      onlyTables: Seq[String] = Nil,
      quiet: Boolean = false,
      profiler: Boolean = false,
      record: Option[String] = None,
      recordMode: sources.Recorder.Mode = sources.Recorder.Once,
      recordDir: String = sources.Recorder.DefaultDir,
      commands: Seq[String] = Nil)

  /** Logging surface (reference `configuration.py:17-20`): numeric level
    * 1=ERROR 2=WARN 3=INFO (default) 4=DEBUG gates what reaches the
    * console and the log file; `log_file` `:stderr:`/`:stdout:` mean
    * console-only (the default), any other value appends FORMATTED lines
    * to that path; `log_format` understands the python-logging tokens
    * `%(levelname)Ns` / `%(asctime)s` / `%(name)s` / `%(message)s`.
    */
  final case class LogCfg(
      level: Int = 3,
      file: String = ":stderr:",
      format: String = "[%(levelname)8s] [%(asctime)s] [%(name)s]: %(message)s")

  final case class Config(
      sourceDir: String,
      destDir: String,
      cacheDir: Option[String],
      indexRoot: Option[String],
      dialect: SqlDump.Dialect,
      log: LogCfg,
      job: Job.JobConfig)

  /** Chained-command argument parser: global options may appear anywhere;
    * every bare word must be a known command and runs in the order given.
    */
  def parseArgs(args: Seq[String]): Options = {
    @annotation.tailrec
    def go(rest: List[String], acc: Options): Options = rest match {
      case Nil => acc
      case ("-c" | "--config") :: v :: t => go(t, acc.copy(configPath = v))
      case "--no-cache" :: t => go(t, acc.copy(noCache = true))
      case "--force-refresh" :: t => go(t, acc.copy(forceRefresh = true))
      case ("-l" | "--last-only") :: t => go(t, acc.copy(lastOnly = true))
      case "--only" :: v :: t =>
        go(t, acc.copy(onlyTables = acc.onlyTables ++ v.split(",").toSeq))
      case ("-q" | "--quiet") :: t => go(t, acc.copy(quiet = true))
      case "--profiler" :: t => go(t, acc.copy(profiler = true))
      case "--record" :: v :: t => go(t, acc.copy(record = Some(v)))
      case "--record-mode" :: v :: t =>
        go(t, acc.copy(recordMode = sources.Recorder.mode(v)))
      case "--record-dir" :: v :: t => go(t, acc.copy(recordDir = v))
      case ("-y" | "--force-yes") :: t => go(t, acc) // non-interactive already
      case cmd :: t if CommandNames.contains(cmd) =>
        go(t, acc.copy(commands = acc.commands :+ cmd))
      // registered-query runner: `query:q_name` executes one q_* against
      // source_dir; with --record it fixtures/replays through the cassette
      case cmd :: t if cmd.startsWith("query:") =>
        go(t, acc.copy(commands = acc.commands :+ cmd))
      case other :: _ =>
        throw new IllegalArgumentException(
          s"unknown argument '$other' (commands: ${CommandNames.mkString(", ")})")
    }
    val opts = go(args.toList, Options())
    require(opts.commands.nonEmpty,
      s"no command given (commands: ${CommandNames.mkString(", ")})")
    opts
  }

  /** `${VAR}` expansion for config path values — the reference expands
    * environment variables in its database URIs and loads a `.env` file
    * next to the config (`/root/reference/dbcut/cli/context.py:52-60`,
    * `utils.py` `expand_env_variables`). Lookup order: real environment
    * first, then the `.env` overlay; an unknown variable is left verbatim
    * (expandvars semantics), so a literal `${...}` in a path survives.
    */
  private val EnvVar = "\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r
  def expandEnv(v: String, extraEnv: Map[String, String] = Map.empty): String =
    EnvVar.replaceAllIn(v, m => java.util.regex.Matcher.quoteReplacement(
      sys.env.getOrElse(m.group(1),
        extraEnv.getOrElse(m.group(1), m.matched))))

  /** KEY=VALUE lines of a `.env` file sitting next to the config file
    * (comments and blanks skipped); empty when there is none.
    */
  def loadDotEnv(configPath: String): Map[String, String] = {
    val dir = Paths.get(configPath).toAbsolutePath.getParent
    val p = if (dir == null) null else dir.resolve(".env")
    if (p == null || !Files.isRegularFile(p)) Map.empty
    else Files.readAllLines(p).asScala.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim }
      .toMap
  }

  /** Parse the YAML config: `databases.source_dir` / `destination_dir`,
    * optional `cache`, and the query list via [[Job.parseConfig]] (which
    * also honors in-file `only_tables` / `last_only`). Path values may be
    * env-templated (`source_dir: ${DATA_ROOT}/sf0.01`) — see [[expandEnv]].
    */
  def parseConfig(text: String, extraEnv: Map[String, String] = Map.empty): Config = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = mapper.readTree(text)
    require(root.hasNonNull("databases"), "config needs a 'databases' section")
    val dbs = root.get("databases")
    require(dbs.hasNonNull("source_dir") && dbs.hasNonNull("destination_dir"),
      "databases section needs source_dir and destination_dir")
    // optional destination dialect for SQL dumps (the reference derives it
    // from the destination URI scheme; parquet dirs have none, so it's an
    // explicit key): ansi (default) | mysql | postgresql | sqlite
    val dialect = Option(dbs.get("sql_dialect")).filter(!_.isNull)
      .map(_.asText()).getOrElse("ansi")
    require(SqlDump.dialects.contains(dialect),
      s"unknown sql_dialect '$dialect' (one of ${SqlDump.dialects.keys.toSeq.sorted.mkString(", ")})")
    Config(
      sourceDir = expandEnv(dbs.get("source_dir").asText(), extraEnv),
      destDir = expandEnv(dbs.get("destination_dir").asText(), extraEnv),
      cacheDir = Option(root.get("cache")).filter(!_.isNull)
        .map(n => expandEnv(n.asText(), extraEnv)),
      indexRoot = Option(root.get("index_root")).filter(!_.isNull)
        .map(n => expandEnv(n.asText(), extraEnv)),
      dialect = SqlDump.dialects(dialect),
      log = {
        val d = LogCfg()
        LogCfg(
          level = Option(root.get("log_level")).filter(!_.isNull)
            .map(_.asInt(d.level)).getOrElse(d.level),
          file = Option(root.get("log_file")).filter(!_.isNull)
            .map(n => expandEnv(n.asText(), extraEnv)).getOrElse(d.file),
          format = Option(root.get("log_format")).filter(!_.isNull)
            .map(_.asText()).getOrElse(d.format))
      },
      job = Job.parseConfig(text))
  }

  /** Run the parsed command chain. Returns the per-command log lines (also
    * printed unless --quiet) — the test harness asserts on these.
    */
  def run(spark: SparkSession, opts: Options,
          graph: RelGraph = RelGraph.tpch): Seq[String] = {
    val cfg = parseConfig(Files.readString(Paths.get(opts.configPath)),
      loadDotEnv(opts.configPath))
    val job = cfg.job.copy(
      onlyTables = if (opts.onlyTables.nonEmpty) opts.onlyTables else cfg.job.onlyTables,
      lastOnly = opts.lastOnly || cfg.job.lastOnly)
    // standing indexes must live on shared storage (Tables.indexRoot): a CLI
    // run has one by construction — the destination_dir — so default the
    // session's index root there unless the config or caller pinned one.
    // Scoped to this run (restored below): callers sharing the session keep
    // their own root.
    val prevIndexRoot = spark.conf.getOption("spark.graft.index.root")
    if (prevIndexRoot.forall(_.isEmpty))
      spark.conf.set("spark.graft.index.root",
        cfg.indexRoot.getOrElse(s"${cfg.destDir}/_graft_index"))
    // log_level 4 opens up Spark's own INFO stream; ≤1 quiets it to
    // errors. Scoped like the index root: the session may outlive this
    // CLI call, so the previous root level is restored on the way out.
    val prevLogLevel =
      if (cfg.log.level >= 4 || cfg.log.level <= 1)
        Some(org.apache.logging.log4j.LogManager.getRootLogger
          .asInstanceOf[org.apache.logging.log4j.core.Logger].getLevel.name())
      else None
    if (cfg.log.level >= 4) spark.sparkContext.setLogLevel("INFO")
    else if (cfg.log.level <= 1) spark.sparkContext.setLogLevel("ERROR")
    try runCommands(spark, opts, cfg, job, graph)
    finally {
      prevIndexRoot match {
        case Some(v) => spark.conf.set("spark.graft.index.root", v)
        case None => spark.conf.unset("spark.graft.index.root")
      }
      prevLogLevel.foreach(spark.sparkContext.setLogLevel)
    }
  }

  private def runCommands(spark: SparkSession, opts: Options, cfg: Config,
                          job: Job.JobConfig, graph: RelGraph): Seq[String] = {
    val toFile = Some(cfg.log.file)
      .filterNot(f => f == ":stderr:" || f == ":stdout:" || f.isEmpty)
    toFile.foreach { f =>
      val p = Paths.get(f).toAbsolutePath
      if (p.getParent != null) Files.createDirectories(p.getParent)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // `out` (the API/test contract) always carries every raw line; the
    // console and log file are gated by log_level, and the file gets
    // log_format-formatted lines
    def log(s: String): Unit = {
      out += s
      if (cfg.log.level >= 3) {
        if (!opts.quiet) println(s)
        toFile.foreach(f => Files.writeString(Paths.get(f),
          formatLogLine(cfg.log.format, "INFO", "graft.cli", s) + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND))
      }
    }

    // ONE recorder session per run: the whole command chain (extraction
    // + any number of query:<name> fixtures) shares the cassette under
    // the iteration-keyed protocol. A per-command session would break
    // chaining — the second command would find the cassette the first
    // just saved and either write-protect against it (ONCE) or clear it
    // (ALL). Saved once at the end of the run.
    val recorder: Option[sources.Recorder] = opts.record.map(name =>
      new sources.Recorder(spark, name, opts.recordMode, opts.recordDir))

    // one shared extraction per run (like dbcut's per-context load): the
    // first command that needs tables computes it, the rest reuse it.
    // --record NAME routes it through the session cassette (sources/
    // Record.scala): first run records the fixture, later runs replay it
    // with the source offline (the reference's contrib recorder workflow).
    lazy val extracted: Map[String, DataFrame] = recorder match {
      case Some(rec) =>
        sources.Recorder.extraction(rec)(Job.run(
          spark, cfg.sourceDir, job, graph,
          cacheRoot = cfg.cacheDir.filter(_ => !opts.noCache),
          force = opts.forceRefresh))
      case None => Job.run(
        spark, cfg.sourceDir, job, graph,
        cacheRoot = cfg.cacheDir.filter(_ => !opts.noCache),
        force = opts.forceRefresh)
    }
    def fkOrder(tables: Map[String, DataFrame]): Seq[String] =
      graph.topological.filter(tables.contains) ++
        tables.keys.filterNot(graph.topological.contains).toSeq.sorted
    // directory streams close eagerly (Using): leaked DirectoryStreams
    // only release on GC and a long session would exhaust fds
    def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
      scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
    def destTables(): Map[String, DataFrame] = {
      val dir = Paths.get(cfg.destDir)
      if (!Files.isDirectory(dir)) Map.empty
      else listDir(dir)
        .filter(p => Files.isDirectory(p) && Files.exists(p.resolve("_SUCCESS")))
        .map(p => p.getFileName.toString -> spark.read.parquet(p.toString))
        .toMap
    }

    try {
    for (cmd <- opts.commands) {
    val t0 = System.nanoTime()
    cmd match {
      case q if q.startsWith("query:") =>
        // run one registered query against source_dir; with --record the
        // result rides the cassette — record once against live data,
        // replay forever with the corpus offline (CI fixtures for any
        // q_* result, the recorder extended past table extractions)
        val qn = q.stripPrefix("query:")
        require(SparkEntry.queries.contains(qn),
          s"unknown registered query '$qn'")
        val df = recorder match {
          case Some(rec) =>
            sources.Recorder.registeredQuery(rec, qn, cfg.sourceDir)
          case None => SparkEntry.queries(qn)(spark, cfg.sourceDir)
        }
        log(s"query $qn: ${df.count()} rows")
      case "load" =>
        // one concurrent write wave: the rows land with no FK enforcement
        // (integrity comes from the closure, verified after the fact by
        // `check`), so the per-table writes are independent. Each count is
        // read back from the landed files' footers — no Spark job, and a
        // write that lost rows still shows.
        val order = fkOrder(extracted)
        val counts = Wave.run(order) { n =>
          val dir = s"${cfg.destDir}/$n"
          Tables.writer(extracted(n)).mode(SaveMode.Overwrite).parquet(dir)
          s"$n=${Tables.footerRowCount(spark, dir)}"
        }
        log(s"load: ${counts.mkString(", ")}")
      case "flush" =>
        // dbcut flush: drop + recreate the destination (cmd_flush.py)
        val dir = Paths.get(cfg.destDir)
        if (Files.exists(dir))
          scala.util.Using.resource(Files.walk(dir))(
            _.iterator().asScala.toSeq).reverse.foreach(Files.deleteIfExists(_))
        Files.createDirectories(dir)
        log("flush: destination dropped and recreated")
      case "clear" =>
        // dbcut clear: delete rows, keep schema
        val tables = destTables()
        fkOrder(tables).reverse.foreach(n =>
          Export.clear(tables(n), s"${cfg.destDir}/$n"))
        log(s"clear: truncated ${tables.size} tables")
      case "inspect" =>
        val src = Tables.relational
          .filter(n => Files.exists(Paths.get(Tables.path(cfg.sourceDir, n))))
          .map(n => n -> Tables.load(spark, cfg.sourceDir, n)).toMap
        val rows = Inspect.diff(src, destTables()).orderBy("tbl").collect()
        log(f"${"table"}%-12s ${"src"}%10s ${"dest"}%10s ${"diff"}%10s")
        rows.foreach(r => log(
          f"${r.getString(0)}%-12s ${r.getLong(1)}%10d ${r.getLong(2)}%10d ${r.getLong(3)}%10d"))
      case "estimate" =>
        // dbcut --estimate: what a load WOULD touch, without moving data —
        // the driver-side traversal plan (relation tree) plus source row
        // counts read from parquet footers only (the stats-table analogue
        // of the reference's information_schema estimate)
        for (spec <- Job.selectQueries(job)) {
          val plan = Subset.plan(spec, graph)
          log(s"estimate: root=${plan.root}")
          plan.renderTree.linesIterator.foreach(l => log(s"  $l"))
          plan.tables.sorted.foreach { n =>
            val p = Tables.path(cfg.sourceDir, n)
            // a missing source fails here as `load` would fail on it — a
            // count of -1 would read as a plan that loads nothing
            if (!Files.exists(Paths.get(p)))
              throw new IllegalArgumentException(s"estimate: source table $n missing at $p")
            log(f"  $n%-12s <= ${Tables.footerRowCount(spark, p)}%d source rows")
          }
        }
      case "dumpsql" =>
        val order = fkOrder(extracted)
        order.foreach { n =>
          val pk = graph.pkOf(n, extracted(n).columns.toSeq)
          // FK clauses only toward tables that are in the dump — a
          // REFERENCES to an absent table would make the file unloadable
          val fks = graph.tables.get(n).map(_.fks).getOrElse(Nil)
            .filter(fk => extracted.contains(fk.parent))
            .map(fk => SqlDump.FkClause(fk.childCols, fk.parent, fk.parentCols))
          SqlDump.dump(n, extracted(n), s"${cfg.destDir}/sql/$n", pk, fks,
            cfg.dialect)
        }
        log(s"dumpsql: ${order.size} tables (${cfg.dialect.name}) -> ${cfg.destDir}/sql")
      case "dumpjson" =>
        val order = fkOrder(extracted)
        Wave.run(order)(n => Tables.writer(extracted(n).coalesce(1)).mode(SaveMode.Overwrite)
          .json(s"${cfg.destDir}/json/$n.json"))
        log(s"dumpjson: ${order.size} tables -> ${cfg.destDir}/json")
      case "dumporc" =>
        val order = fkOrder(extracted)
        Wave.run(order)(n => Tables.writer(extracted(n)).mode(SaveMode.Overwrite)
          .orc(s"${cfg.destDir}/orc/$n"))
        log(s"dumporc: ${order.size} tables -> ${cfg.destDir}/orc")
      case "models" =>
        // the reference materializes ORM model classes per reflected table
        // (generated_models registry); the CLI face here emits the source +
        // the dialect DDL script for the extracted schema
        val order = fkOrder(extracted)
        val catalog = order.map(n => n -> extracted(n).schema)
        graft.sources.ModelGen.writeModule(
          s"${cfg.destDir}/models/Models.scala", "graft.generated", catalog, graph)
        Files.write(Paths.get(s"${cfg.destDir}/models/schema.sql"),
          graft.sources.ModelGen.ddlScript(catalog.toMap, graph, cfg.dialect)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        log(s"models: ${order.size} case classes + DDL (${cfg.dialect.name}) " +
          s"-> ${cfg.destDir}/models")
      case "snapshot" =>
        // versioned load: each extraction commits as the next version of
        // destination_dir/versioned/<table> — repeated runs build history
        // a reader can time-travel through (sources/Versioned.scala).
        // Each table has its own commit log, so the commits run as one
        // write wave, like load. A multi-table snapshot is not atomic
        // either way: a run that fails part-way leaves some tables at the
        // new version and the rest at the old, so every table's outcome
        // is logged before the failed ones fail the command
        val order = fkOrder(extracted)
        val outcomes = order.zip(Wave.attempt(order) { n =>
          graft.sources.Versioned.commit(extracted(n), s"${cfg.destDir}/versioned/$n")
        })
        val committed = outcomes.collect { case (n, Success(v)) => s"$n=v$v" }
        val failed = outcomes.collect { case (n, Failure(e)) => n -> e }
        log(s"snapshot: ${committed.mkString(", ")}")
        failed.foreach { case (n, e) => log(s"snapshot: $n failed: $e") }
        if (failed.nonEmpty) {
          val e = new IllegalStateException(s"snapshot: ${failed.map(_._1).mkString(", ")} " +
            s"failed to commit (${committed.size} of ${order.size} tables committed)",
            failed.head._2)
          failed.tail.foreach(f => e.addSuppressed(f._2))
          throw e
        }
      case "vacuum" =>
        val root = Paths.get(s"${cfg.destDir}/versioned")
        if (!Files.isDirectory(root)) log("vacuum: no versioned tables")
        else {
          val rows = listDir(root)
            .filter(Files.isDirectory(_))
            .sortBy(_.getFileName.toString)
            .map { p =>
              // graceMs=0: the chained CLI is the table's only writer in
              // this process, so no in-flight commit can race the reclaim
              val deleted = graft.sources.Versioned
                .vacuum(spark, p.toString, keepVersions = 3, graceMs = 0L)
              s"${p.getFileName}:${deleted.size}"
            }
          log(s"vacuum (keep 3): ${rows.mkString(", ")} data dirs dropped")
        }
      case "changes" =>
        // CDF inspection over the versioned destination tables: the
        // row-level change feed of the LATEST commit per table
        // (Versioned.changesKeyed — computed from the commit's manifest
        // delta, never two full-version scans), summarized by change
        // type. The operational answer to "what did the last snapshot
        // actually change". Composite PKs feed the multi-key form; only
        // a table with NO declared PK points at the API (no key to merge
        // images on). The tables' feeds run as one wave; their lines are
        // logged afterwards, in table order.
        val root = Paths.get(s"${cfg.destDir}/versioned")
        if (!Files.isDirectory(root)) log("changes: no versioned tables")
        else Wave.run(listDir(root).filter(Files.isDirectory(_))
          .sortBy(_.getFileName.toString)) { p =>
            val table = p.getFileName.toString
            val vs = graft.sources.Versioned.versions(spark, p.toString)
            val pk = graph.tables.get(table).map(_.pk).getOrElse(Nil)
            if (vs.size < 2)
              s"changes $table: v${vs.lastOption.getOrElse(0)} " +
                "(no prior version)"
            else if (pk.isEmpty)
              s"changes $table: no declared PK — no key to merge " +
                "images on; use Versioned.changesKeyed with your own key"
            else {
              val (a, b) = (vs(vs.size - 2), vs.last)
              val byType = graft.sources.Versioned
                .changesKeyed(spark, p.toString, a, b, pk)
                .groupBy("_change_type").count()
                .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
                .sorted
              s"changes $table v$a->v$b: " +
                (if (byType.isEmpty) "none" else byType.mkString(", "))
            }
          }.foreach(log)
      case "check" =>
        // post-load data-quality gate over the DESTINATION: rules derive
        // from the FK graph (PK uniqueness + not-null, FK referential
        // integrity toward co-loaded parents) — the integrity dbcut
        // preserves by construction, verified after the fact on whatever
        // actually landed
        val tables = destTables()
        val vroot = Paths.get(s"${cfg.destDir}/versioned")
        if (tables.isEmpty && !Files.isDirectory(vroot))
          log("check: destination has no tables")
        else {
          var bad = 0L
          fkOrder(tables).foreach { n =>
            val df = tables(n)
            val meta = graph.tables.get(n)
            val pk = graph.pkOf(n, df.columns.toSeq).filter(df.columns.contains)
            val rules =
              pk.map(Inspect.DqNotNull(_)) ++
                (if (pk.nonEmpty) Seq(Inspect.DqUnique(pk)) else Nil) ++
                meta.map(_.fks).getOrElse(Nil)
                  // drift-proof like the PK rules above: a destination
                  // written by an older run may lack an FK column (or its
                  // parent the PK columns) — skip that rule instead of
                  // crashing the whole gate on an unresolved column
                  .filter(fk => tables.contains(fk.parent) &&
                    fk.childCols.forall(df.columns.contains) &&
                    fk.parentCols.forall(tables(fk.parent).columns.contains))
                  .map(fk => Inspect.DqRef(fk.childCols, tables(fk.parent),
                    fk.parentCols, fk.parent))
            if (rules.nonEmpty) {
              val rows = Inspect.dqChecks(df, rules).orderBy("rule").collect()
              rows.foreach { r =>
                val v = r.getLong(1)
                bad += v
                log(f"check $n%-10s ${r.getString(0)}%-34s ${if (v == 0) "ok" else s"$v VIOLATIONS"}")
              }
            }
          }
          // versioned-table manifest invariant: the logical row count
          // (nRows — maintained WITHOUT scans, through footer counts and
          // DV sidecar sizes) must equal what read() actually returns.
          // This is the deploy-time tripwire for exactly the class of
          // bug a mutating table can develop (a stale deletion-vector
          // sidecar masking a live row, a miscounted replace): cheap at
          // gate scale, one deliberate count() per table at production
          // scale.
          if (Files.isDirectory(vroot))
            listDir(vroot).filter(Files.isDirectory(_))
              .sortBy(_.getFileName.toString).foreach { p =>
                val d = p.toString
                if (graft.sources.Versioned.versions(spark, d).nonEmpty) {
                  val m = graft.sources.Versioned.manifest(spark, d)
                  // an unreadable table (e.g. fully emptied AND its
                  // schema-bearing ancestor vacuumed away) is itself a
                  // reported violation, never an aborted gate — a crash
                  // here would skip every table sorted after this one
                  val verdict =
                    try {
                      val got = graft.sources.Versioned.read(spark, d).count()
                      if (got == m.nRows) "ok"
                      else { bad += math.abs(got - m.nRows)
                        s"read=$got manifest=${m.nRows} VIOLATIONS" }
                    } catch { case e: Exception =>
                      bad += 1
                      s"unreadable (${e.getMessage.takeWhile(_ != '\n')}) VIOLATIONS"
                    }
                  log(f"check ${p.getFileName}%-10s ${s"versioned_rowcount(v${m.version})"}%-34s $verdict")
                }
              }
          log(s"check: ${if (bad == 0) "all rules passed" else s"$bad total violations"}")
        }
      case "purgecache" =>
        cfg.cacheDir match {
          case Some(c) => QueryCache.purge(c); log(s"purgecache: $c purged")
          case None => log("purgecache: no cache configured")
        }
      case "index" =>
        // build/refresh every standing corpus index for source_dir under
        // the session's index root — the ingestion-time job the
        // build-once/probe-many operators assume has already run. Each
        // build is stamp-keyed and idempotent: a re-run on an unchanged
        // corpus is a handful of _SUCCESS existence checks.
        import graft.operators.{Dedup, Similarity, TextAnalysis}
        val srcDir = cfg.sourceDir
        val builds: Seq[(String, () => Unit)] = Seq(
          "minhash_sigs" -> (() => Dedup.corpusSigs(spark, srcDir).count()),
          "cluster_labels" -> (() => Dedup.corpusClusterLabels(spark, srcDir).count()),
          "simhash_sigs" -> (() => Dedup.corpusSimhashSigs(spark, srcDir).count()),
          "winnow_postings" -> (() => Dedup.corpusWinnowPostings(spark, srcDir).count()),
          "keepers" -> (() => Dedup.corpusKeepers(spark, srcDir).count()),
          "truth_pairs" -> (() => Dedup.corpusTruthPairs(spark, srcDir).count()),
          "truth_sampled" -> (() => Dedup.sampledTruthPairs(spark, srcDir).count()),
          "dup_chunks" -> (() => Dedup.corpusDupChunks(spark, srcDir).count()),
          "substr_postings" -> (() => Dedup.corpusSubstrPostings(spark, srcDir).count()),
          "rare_grams" -> (() => Dedup.corpusRareGramPostings(spark, srcDir).count()),
          "dup_grams" -> (() => TextAnalysis.corpusDupGrams(spark, srcDir).count()),
          "bigram_model" -> (() => TextAnalysis.corpusBigramModel(spark, srcDir).count()),
          "unigrams" -> (() => TextAnalysis.corpusUnigramCounts(spark, srcDir).count()),
          "dsir_features" -> (() =>
            TextAnalysis.corpusDsirFeatures(spark, srcDir).count()),
          "embed_buckets" -> (() =>
            Similarity.corpusEmbedBuckets(spark, srcDir).count()),
          "embed_pairs" -> (() =>
            Similarity.corpusEmbedPairs(spark, srcDir).count()),
          "minhash_incr" -> (() =>
            Dedup.buildMinhashIndex(spark, srcDir, Dedup.IncrMod): Unit),
          "ivf" -> (() => Similarity.buildIvfIndex(spark, srcDir): Unit),
          "pq" -> (() => Similarity.buildPqIndex(spark, srcDir): Unit))
        val lines = builds.map { case (name, build) =>
          val b0 = System.nanoTime()
          build()
          f"$name=${(System.nanoTime() - b0) / 1e9}%.1fs"
        }
        // reclaim predecessors an append-refresh superseded (7-day
        // concurrent-reader grace — a young dir is never deleted)
        val vacuumed = graft.index.StandingIndex.vacuumIndexes(spark, srcDir)
        log(s"index: ${lines.mkString(", ")}, " +
          s"vacuumed=${vacuumed.size} superseded -> " +
          spark.conf.getOption("spark.graft.index.root")
            .getOrElse(Tables.indexRoot(spark, srcDir)))
    }
    // dbcut --profiler: per-operation wall timings (profiler_stats)
    if (opts.profiler)
      log(f"[profile] $cmd: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    } finally recorder.foreach(_.save())
    out.toSeq
  }

  /** Render one log line per the python-logging style `log_format`:
    * `%(levelname)s` / `%(asctime)s` / `%(name)s` / `%(message)s`, each
    * with optional printf-style width (`%(levelname)8s` right-pads to 8,
    * `-8` left-pads). Unknown tokens pass through verbatim.
    */
  private val LogToken = "%\\((levelname|asctime|name|message)\\)(-?\\d*)s".r
  def formatLogLine(fmt: String, level: String, name: String,
                    message: String): String = {
    val asctime = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    LogToken.replaceAllIn(fmt, m => {
      val v = m.group(1) match {
        case "levelname" => level
        case "asctime" => asctime
        case "name" => name
        case "message" => message
      }
      val padded = m.group(2) match {
        // a bare "-" (python's left-align flag with no width,
        // "%(levelname)-s") is a no-op, not a NumberFormatException
        case "" | "-" => v
        case w if w.startsWith("-") => v.padTo(-w.toInt, ' ')
        case w => " " * math.max(0, w.toInt - v.length) + v
      }
      java.util.regex.Matcher.quoteReplacement(padded)
    })
  }

  val usage: String =
    s"""usage: graft.Cli [-c CONFIG.yml] [options] COMMAND [COMMAND...]
       |commands (chained left to right, sharing one extraction):
       |  ${CommandNames.mkString(" ")}
       |  query:<q_name>      run one registered query against source_dir
       |                      (with --record: fixture/replay its result)
       |options:
       |  -c, --config FILE   YAML config (default graft.yml)
       |  --only T1,T2        run only queries rooted at the given tables
       |  -l, --last-only     run only the last query
       |  --no-cache          bypass the query-result cache
       |  --force-refresh     recompute cached queries
       |  --record NAME       record/replay the extraction through cassette
       |                      NAME (VCR fixtures; see sources/Record.scala)
       |  --record-mode MODE  ONCE (default) | ALL | NONE
       |  --record-dir DIR    cassette directory (default graft_records)
       |  -q, --quiet         suppress output
       |  --profiler          log per-command wall timings
       |  -y, --force-yes     non-interactive (accepted for compatibility)""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args.contains("-h") || args.contains("--help")) {
      println(usage)
      return
    }
    val spark =
      Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), shufflePartitions = "8")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, parseArgs(args.toSeq))
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}"); sys.exit(2)
    }
    finally spark.stop()
  }
}
