package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end drive of the chained CLI against real sf0.001 parquet —
  * the dbcut session shape: load, inspect the src/dest diff, dump SQL and
  * JSON, purge the cache, flush. Replaces the old Demo walkthrough.
  */
class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeConfig(dir: String, body: String): String = {
    val p = Paths.get(dir, "graft.yml")
    Files.writeString(p, body)
    p.toString
  }

  private def tmp(): String =
    Files.createTempDirectory("graft-cli").toString

  test("chained load + inspect + dumps runs end-to-end from a config file") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |cache: $work/cache
         |queries:
         |  - from: customer
         |    where:
         |      c_mktsegment: BUILDING
         |    limit: 5
         |    join_depth: 5
         |    backref_depth: 1
         |    backref_limit: 3
         |    exclude: [lineitem]
         |""".stripMargin)
    val out = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "load", "inspect", "dumpsql", "dumpjson", "dumporc")))

    // load wrote parquet per reached table, parents included
    val loaded = out.find(_.startsWith("load:")).get
    assert(loaded.contains("customer=5"))
    assert(loaded.contains("nation=") && loaded.contains("region="))
    assert(!loaded.contains("lineitem"), "excluded table must not load")
    assert(Files.exists(Paths.get(s"$work/dest/customer/_SUCCESS")))

    // inspect prints a src/dest/diff row per source table with dest counts
    val inspectRows = out.filter(_.matches("^\\w+ +\\d+ +\\d+ +-?\\d+$"))
    assert(inspectRows.exists(_.startsWith("customer")))
    val cust = inspectRows.find(_.startsWith("customer")).get.trim.split("\\s+")
    assert(cust(2) == "5") // dest count
    assert(cust(1).toLong - cust(2).toLong == cust(3).toLong)

    // dumps on disk: DDL+INSERT text and JSON lines
    val sqlDir = s"$work/dest/sql/customer"
    assert(Files.exists(Paths.get(sqlDir)))
    val stmts = spark.read.text(sqlDir).collect().map(_.getString(0))
    assert(stmts.exists(_.startsWith("CREATE TABLE customer")))
    assert(stmts.count(_.startsWith("INSERT INTO customer")) == 5)
    val js = spark.read.json(s"$work/dest/json/customer.json")
    assert(js.count() == 5)
    val orc = spark.read.orc(s"$work/dest/orc/customer")
    assert(orc.count() == 5)

    // the cache was populated by the load
    assert(scala.util.Using.resource(Files.list(Paths.get(s"$work/cache")))(_.count()) == 1)
  }

  test("load starts one Spark job per table and counts what landed") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |queries:
         |  - from: customer
         |    limit: 5
         |    join_depth: 5
         |    backref_depth: 1
         |    backref_limit: 2
         |    exclude: [lineitem]
         |""".stripMargin)
    val args = Seq("-c", cfgPath, "--quiet", "--record", "load_jobs",
      "--record-dir", s"$work/rec")
    Cli.run(spark, Cli.parseArgs(args :+ "load"))
    // the second run replays the recorded extraction from local rows, which
    // starts no Spark job: every job counted is load's own
    var out = Seq.empty[String]
    val jobs = TestSpark.jobsOf {
      out = Cli.run(spark, Cli.parseArgs(args ++ Seq("flush", "load")))
    }
    val counts = out.find(_.startsWith("load: ")).get.stripPrefix("load: ")
      .split(", ").toSeq.map { kv =>
        val Array(t, n) = kv.split("=")
        t -> n.toLong
      }
    assert(counts.map(_._1).toSet == Set("region", "nation", "customer", "orders"))
    assert(jobs == counts.size)
    for ((t, n) <- counts)
      assert(spark.read.parquet(s"$work/dest/$t").count() == n, t)
  }

  test("a table that fails to write fails load after the others landed") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |cache: $work/cache
         |log_file: $work/graft.log
         |queries:
         |  - from: customer
         |    limit: 5
         |    join_depth: 5
         |    backref_depth: 0
         |""".stripMargin)
    val args = Seq("-c", cfgPath, "--quiet")
    Cli.run(spark, Cli.parseArgs(args :+ "load"))
    // a cache hit reads each table lazily from the cache entry; a file whose
    // key column disagrees in type with the others makes region's scan, and
    // so its write, fail
    val entry = scala.util.Using.resource(Files.list(Paths.get(s"$work/cache")))(
      _.iterator().next())
    val region = entry.resolve("region").toString
    spark.read.parquet(region)
      .withColumn("r_regionkey", org.apache.spark.sql.functions.col("r_regionkey").cast("string"))
      .write.mode("append").parquet(region)
    val log = Paths.get(s"$work/graft.log")
    Files.delete(log)
    intercept[Exception](Cli.run(spark, Cli.parseArgs(args ++ Seq("flush", "load"))))
    for (t <- Seq("customer", "nation"))
      assert(Files.exists(Paths.get(s"$work/dest/$t/_SUCCESS")), t)
    val logged = Files.readAllLines(log).asScala
    assert(logged.exists(_.contains("flush:")))
    assert(!logged.exists(_.contains("load:")), logged)
  }

  test("a table that fails to commit fails snapshot after logging every outcome") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |cache: $work/cache
         |log_file: $work/graft.log
         |queries:
         |  - from: customer
         |    limit: 5
         |    join_depth: 5
         |    backref_depth: 0
         |""".stripMargin)
    val args = Seq("-c", cfgPath, "--quiet")
    Cli.run(spark, Cli.parseArgs(args :+ "load"))
    // as in the load case above: a cached region file whose key column
    // disagrees in type makes region's scan, and so its commit, fail
    val entry = scala.util.Using.resource(Files.list(Paths.get(s"$work/cache")))(
      _.iterator().next())
    val region = entry.resolve("region").toString
    spark.read.parquet(region)
      .withColumn("r_regionkey", org.apache.spark.sql.functions.col("r_regionkey").cast("string"))
      .write.mode("append").parquet(region)
    val log = Paths.get(s"$work/graft.log")
    Files.delete(log)
    val e = intercept[IllegalStateException](Cli.run(spark, Cli.parseArgs(args :+ "snapshot")))
    assert(e.getMessage.startsWith("snapshot: region failed to commit"), e.getMessage)
    assert(e.getMessage.contains("2 of 3 tables committed"), e.getMessage)
    assert(e.getCause != null)
    val logged = Files.readAllLines(log).asScala
    assert(logged.exists(l => l.contains("snapshot: ") && l.contains("nation=v1") &&
      l.contains("customer=v1")), logged)
    assert(logged.exists(l => l.contains("snapshot: region failed: ") &&
      l.contains(e.getCause.getClass.getName)), logged)
    for (t <- Seq("customer", "nation"))
      assert(graft.sources.Versioned.versions(spark, s"$work/dest/versioned/$t") == Seq(1), t)
    assert(graft.sources.Versioned.versions(spark, s"$work/dest/versioned/region").isEmpty)
  }

  test("models command emits case-class source and an FK-ordered DDL script") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |  sql_dialect: mysql
         |queries:
         |  - from: customer
         |    limit: 5
         |    join_depth: 5
         |""".stripMargin)
    val out = Cli.run(spark, Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "models")))
    assert(out.exists(_.startsWith("models: ")))

    val src = Files.readString(Paths.get(s"$work/dest/models/Models.scala"))
    assert(src.contains("final case class Customer("))
    assert(src.contains("final case class Nation("))
    assert(src.contains("\"customer\" -> (\"Customer\", Seq(\"c_custkey\"))"))

    val ddl = Files.readString(Paths.get(s"$work/dest/models/schema.sql"))
    assert(ddl.indexOf("CREATE TABLE `region`") >= 0)
    assert(ddl.indexOf("CREATE TABLE `region`") < ddl.indexOf("CREATE TABLE `nation`"))
    assert(ddl.indexOf("CREATE TABLE `nation`") < ddl.indexOf("CREATE TABLE `customer`"))
    assert(ddl.contains("FOREIGN KEY (`c_nationkey`) REFERENCES `nation` (`n_nationkey`)"))
  }

  test("cache hit on second run, purgecache empties it, flush drops dest") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |cache: $work/cache
         |queries:
         |  - from: supplier
         |    limit: 2
         |    join_depth: 1
         |    backref_depth: 0
         |""".stripMargin)
    Cli.run(spark, Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "load")))
    val key = scala.util.Using.resource(Files.list(Paths.get(s"$work/cache")))(_.iterator().next())
    val countsMtime = Files.getLastModifiedTime(key.resolve("_counts"))
    // second run must hit the cache (counts sidecar untouched)
    Cli.run(spark, Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "load")))
    assert(Files.getLastModifiedTime(key.resolve("_counts")) == countsMtime)
    // --force-refresh recomputes
    Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "--force-refresh", "load")))
    assert(Files.getLastModifiedTime(key.resolve("_counts")) != countsMtime)

    val out = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "purgecache", "flush")))
    assert(out.exists(_.startsWith("purgecache:")))
    assert(scala.util.Using.resource(Files.list(Paths.get(s"$work/cache")))(_.count()) == 0)
    assert(scala.util.Using.resource(Files.list(Paths.get(s"$work/dest")))(_.count()) == 0)
  }

  test("only/last-only select queries; clear truncates but keeps schema") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |queries:
         |  - from: customer
         |    limit: 3
         |    join_depth: 0
         |    backref_depth: 0
         |  - from: supplier
         |    limit: 2
         |    join_depth: 0
         |    backref_depth: 0
         |""".stripMargin)
    // --only customer: supplier query skipped; --profiler logs timings
    val out1 = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "--profiler", "--only", "customer", "load")))
    assert(out1.head == "load: customer=3")
    assert(out1.exists(_.matches("\\[profile\\] load: \\d+\\.\\d+ s")))
    // --last-only: only the supplier query runs (no cache configured)
    val out2 = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "--last-only", "flush", "load")))
    assert(out2.last == "load: supplier=2")
    // --only naming no query root: nothing to load, and still a load line
    val out2b = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "--only", "region", "load")))
    assert(out2b == Seq("load: "))
    // clear keeps the table dir but empties it
    val out3 = Cli.run(spark, Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "clear")))
    assert(out3.head == "clear: truncated 1 tables")
    assert(spark.read.parquet(s"$work/dest/supplier").count() == 0)
    assert(spark.read.parquet(s"$work/dest/supplier").columns.nonEmpty)
  }

  test("estimate previews the traversal and footer counts without loading") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |queries:
         |  - from: customer
         |    where:
         |      c_mktsegment: BUILDING
         |    limit: 5
         |    include: [region]
         |""".stripMargin)
    val out = Cli.run(spark, Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "estimate")))
    assert(out.head == "estimate: root=customer")
    // the relation tree names the traversal path
    assert(out.exists(_.contains("nation")) && out.exists(_.contains("region")))
    // footer counts are the FULL source sizes (sf0.001: 150 customers)
    assert(out.exists(_.matches("\\s*customer\\s+<= 150 source rows")))
    // nothing moved: no destination directory was created
    assert(!Files.exists(Paths.get(s"$work/dest")))
  }

  test("estimate fails loudly, naming the table and path, on a missing source") {
    val work = tmp()
    val src = Files.createDirectories(Paths.get(work, "src"))
    // the root is there; its parent `nation` is not
    Files.createSymbolicLink(src.resolve("customer.parquet"),
      Paths.get(Tables.path(TestSpark.sf, "customer")))
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: $src
         |  destination_dir: $work/dest
         |queries:
         |  - from: customer
         |    limit: 5
         |    include: [region]
         |""".stripMargin)
    val e = intercept[IllegalArgumentException](
      Cli.run(spark, Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "estimate"))))
    assert(e.getMessage.contains("nation") &&
      e.getMessage.contains(Tables.path(src.toString, "nation")), e.getMessage)
  }

  test("config paths expand ${VAR} from the environment and a sibling .env") {
    val work = tmp()
    Files.writeString(Paths.get(work, ".env"),
      s"""# dotenv overlay, lower precedence than the real environment
         |GRAFT_SRC=${TestSpark.sf}
         |GRAFT_WORK=$work
         |""".stripMargin)
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: $${GRAFT_SRC}
         |  destination_dir: $${GRAFT_WORK}/dest
         |queries:
         |  - from: region
         |    limit: 1
         |    join_depth: 0
         |    backref_depth: 0
         |""".stripMargin)
    val cfg = Cli.parseConfig(
      Files.readString(Paths.get(cfgPath)), Cli.loadDotEnv(cfgPath))
    assert(cfg.sourceDir == TestSpark.sf)
    assert(cfg.destDir == s"$work/dest")
    // a real environment variable wins over the .env overlay; an unknown
    // variable is left verbatim (expandvars semantics)
    val realVar = sys.env.keys.find(k => k.matches("[A-Za-z_][A-Za-z0-9_]*")).get
    assert(Cli.expandEnv(s"$${$realVar}", Map(realVar -> "overlay"))
      == sys.env(realVar))
    assert(Cli.expandEnv("${GRAFT_NOT_SET_ANYWHERE}/x") == "${GRAFT_NOT_SET_ANYWHERE}/x")
    // and the expanded config drives a real load end to end
    val out = Cli.run(spark, Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "load")))
    assert(out.head == "load: region=1")
  }

  test("snapshot commits versions; vacuum retains only recent history") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |queries:
         |  - from: region
         |""".stripMargin)
    val args = Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "snapshot"))
    val out1 = Cli.run(spark, args)
    assert(out1.exists(_.startsWith("snapshot: ")), s"got $out1")
    assert(out1.head.contains("region=v1"))
    // second run commits v2; v1 stays readable (time travel)
    val out2 = Cli.run(spark, args)
    assert(out2.head.contains("region=v2"))
    val dir = s"$work/dest/versioned/region"
    assert(graft.sources.Versioned.versions(spark, dir) == Seq(1, 2))
    assert(graft.sources.Versioned.read(spark, dir, Some(1)).count() ==
      graft.sources.Versioned.read(spark, dir).count())
    // 2 more snapshots -> 4 versions; vacuum keeps the newest 3
    Cli.run(spark, args); Cli.run(spark, args)
    val outV = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "vacuum")))
    assert(outV.head.startsWith("vacuum (keep 3): ") &&
      outV.head.contains("region:1"), s"got $outV")
    assert(graft.sources.Versioned.versions(spark, dir) == Seq(2, 3, 4))
    // the changes command reads the latest commit's feed: two identical
    // snapshots are a full physical rewrite but NO logical change — the
    // feed must suppress every carried-identical row
    val outC = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "changes")))
    assert(outC.contains("changes region v3->v4: none"), s"got $outC")
    assert(outC.forall(_.endsWith(": none")), s"got $outC")
  }

  test("changes summarizes composite-PK tables through the multi-key feed") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |queries:
         |  - from: lineitem
         |    limit: 30
         |    join_depth: 0
         |    backref_depth: 0
         |""".stripMargin)
    val args = Cli.parseArgs(Seq("-c", cfgPath, "--quiet", "snapshot"))
    Cli.run(spark, args); Cli.run(spark, args)
    // lineitem's PK is composite — the command must key the feed on the
    // full tuple (changesKeyed), not deflect to the API: two identical
    // snapshots are a pure physical rewrite, so the feed suppresses all
    val outC = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "changes")))
    assert(outC.contains("changes lineitem v1->v2: none"), s"got $outC")
    // and a real change shows up with its type counted: commit a v3 with
    // one line's quantity bumped
    val dir = s"$work/dest/versioned/lineitem"
    val cur = graft.sources.Versioned.read(spark, dir)
    val bumped = cur.withColumn("l_quantity",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions
          .row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy("l_orderkey", "l_linenumber", "l_partkey",
              "l_suppkey", "l_extendedprice")) === 1,
        org.apache.spark.sql.functions.col("l_quantity") + 1)
        .otherwise(org.apache.spark.sql.functions.col("l_quantity")))
    graft.sources.Versioned.commit(bumped, dir)
    val outC2 = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "changes")))
    assert(outC2.contains(
      "changes lineitem v2->v3: update_postimage=1, update_preimage=1"),
      s"got $outC2")
    // a STREAM-APPLIED composite batch: the CDC apply path merges on the
    // 5-col tuple (Cdc.applyBatchKeyed — the foreachBatch body the
    // streaming sink drives; v4 migrates the snapshot table to the
    // composite bucket layout), and the CLI feed reads the stream-applied
    // commit the same multi-key way
    import org.apache.spark.sql.functions.{col, lit}
    val pk = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_extendedprice")
    val one = graft.sources.Versioned.read(spark, dir)
      .orderBy(pk.map(col): _*).limit(1)
    val upd = one.select(pk.map(col) :+ lit("U").as("op") :+
      (col("l_quantity") + 7L).as("new_l_quantity") :+ lit(1L).as("seq"): _*)
    graft.streaming.Cdc.applyBatchKeyed(upd, dir, pk, Seq("l_quantity"),
      "seq", epochId = Some(0L), appId = Some("click"), nBuckets = 4)
    val outC3 = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "changes")))
    assert(outC3.contains(
      "changes lineitem v3->v4: update_postimage=1, update_preimage=1"),
      s"got $outC3")
    // and a stream-applied pure delete lands as a composite DV commit
    // whose feed delta the CLI reads back as exactly one delete
    val del = one.select(pk.map(col) :+ lit("D").as("op") :+
      lit(0L).as("new_l_quantity") :+ lit(2L).as("seq"): _*)
    graft.streaming.Cdc.applyBatchKeyed(del, dir, pk, Seq("l_quantity"),
      "seq", epochId = Some(1L), appId = Some("click"), nBuckets = 4)
    assert(graft.sources.Versioned.manifest(spark, dir).dvs.nonEmpty,
      "the composite pure-delete did not commit a deletion vector")
    val outC4 = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "changes")))
    assert(outC4.contains("changes lineitem v4->v5: delete=1"), s"got $outC4")
    // the check gate audits the DV'd table's manifest invariant:
    // read().count() must equal the manifest's nRows bookkeeping even
    // while a deletion-vector sidecar hides rows
    val outChk = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "check")))
    assert(outChk.exists(l => l.startsWith("check lineitem") &&
      l.contains("versioned_rowcount(v5)") && l.endsWith("ok")),
      s"got $outChk")
    assert(outChk.contains("check: all rules passed"), s"got $outChk")
  }

  test("check derives PK/FK rules from the graph and passes on a clean load") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |queries:
         |  - from: customer
         |    limit: 5
         |    join_depth: 5
         |    backref_depth: 0
         |""".stripMargin)
    val out = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "load", "check")))
    assert(out.exists(_ == "check: all rules passed"), s"got $out")
    // customer loaded with nation+region parents: its FK rule must be there
    assert(out.exists(l => l.startsWith("check customer") &&
      l.contains("ref(c_nationkey->nation)") && l.endsWith("ok")), s"got $out")
    assert(out.exists(l => l.startsWith("check customer") &&
      l.contains("unique(c_custkey)")), s"got $out")
    // empty tables (post-clear) must report ok, not NPE on a NULL SUM
    val out2 = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "clear", "check")))
    assert(out2.exists(_ == "check: all rules passed"), s"got $out2")
  }

  test("log_file/log_format/log_level drive the logging surface") {
    val work = tmp()
    def cfg(level: Int) = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |log_level: $level
         |log_file: $work/logs/graft.log
         |log_format: "[%(levelname)8s] [%(name)s]: %(message)s"
         |queries:
         |  - from: region
         |    limit: 2
         |    join_depth: 0
         |    backref_depth: 0
         |""".stripMargin)
    val out = Cli.run(spark, Cli.parseArgs(Seq("-c", cfg(3), "--quiet", "load")))
    // the API contract stays raw lines; the file gets formatted ones
    assert(out.exists(_.startsWith("load: ")))
    val logPath = Paths.get(s"$work/logs/graft.log")
    val lines = Files.readAllLines(logPath)
    assert(lines.size == 1 && lines.get(0).startsWith("[    INFO] [graft.cli]: load: "),
      lines.toString)
    // level 2 suppresses INFO from the file but not from the return value
    Files.delete(logPath)
    val out2 = Cli.run(spark, Cli.parseArgs(Seq("-c", cfg(2), "--quiet", "load")))
    assert(out2.exists(_.startsWith("load: ")))
    assert(!Files.exists(logPath), "INFO line must not reach the file at level 2")
    // the format renderer itself: padding and unknown tokens
    assert(Cli.formatLogLine("%(levelname)8s|%(name)-6s|%(message)s x %(other)s",
      "WARN", "abc", "m") == "    WARN|abc   |m x %(other)s")
  }

  test("index command builds every standing corpus index idempotently") {
    val work = tmp()
    val cfgPath = writeConfig(work,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $work/dest
         |queries:
         |  - from: region
         |    limit: 1
         |""".stripMargin)
    // the ingestion-time job: builds (or confirms) all 12 index families
    // under the session's index root; stamp-keyed, so the second run is
    // pure existence checks
    spark.conf.unset("spark.graft.index.root") // default (warm) root
    val out = Cli.run(spark, Cli.parseArgs(
      Seq("-c", cfgPath, "--quiet", "index")))
    val line = out.find(_.startsWith("index: ")).get
    for (n <- Seq("minhash_sigs", "cluster_labels", "simhash_sigs",
        "winnow_postings", "keepers", "truth_pairs", "dup_chunks",
        "substr_postings", "dup_grams", "minhash_incr", "ivf", "pq"))
      assert(line.contains(s"$n="), s"missing $n in: $line")
    // the indexes actually answer: a probe query runs warm
    assert(graft.operators.Dedup.corpusClusterLabels(spark, TestSpark.sf)
      .count() > 0)
  }

  test("argument parser rejects unknown words and requires a command") {
    intercept[IllegalArgumentException](Cli.parseArgs(Seq("loda")))
    intercept[IllegalArgumentException](Cli.parseArgs(Seq("-c", "x.yml")))
    val o = Cli.parseArgs(Seq("--only", "a,b", "--only", "c", "-y", "load", "inspect"))
    assert(o.onlyTables == Seq("a", "b", "c"))
    assert(o.commands == Seq("load", "inspect"))
  }
}
