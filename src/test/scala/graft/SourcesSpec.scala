package graft

import graft.model.RelGraph
import graft.sources.{Export, Jdbc, QueryCache, SqlDump}
import graft.spec.SpecJson
import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Per-file (min, max) footer statistics of a numeric column — one
    * walker for every layout test (disjoint ranges, spread, read-amp).
    */
  private def footerStats(dir: String, c: String): Seq[(Double, Double)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val stats = r.getFooter.getBlocks.asScala
            .map(_.getColumns.asScala.find(_.getPath.toDotString == c).get.getStatistics)
          (stats.map(_.genericGetMin.asInstanceOf[Number].doubleValue).min,
            stats.map(_.genericGetMax.asInstanceOf[Number].doubleValue).max)
        } finally r.close()
      }
  }

  test("SqlDump renders DDL and escaped INSERT literals") {
    import spark.implicits._
    val df = Seq((1L, "it's", 2.5), (2L, null.asInstanceOf[String], 3.0))
      .toDF("id", "name", "score")
    // tuple-derived columns of primitive type are non-nullable
    assert(SqlDump.ddl("t", df, Seq("id")) ==
      """CREATE TABLE t (
        |  id BIGINT NOT NULL,
        |  name TEXT,
        |  score DOUBLE PRECISION NOT NULL,
        |  PRIMARY KEY (id)
        |);""".stripMargin)
    val stmts = SqlDump.insertStatements("t", df.orderBy("id"))
      .collect().map(_.getString(0))
    assert(stmts(0) == "INSERT INTO t (id, name, score) VALUES (1, 'it''s', 2.5);")
    assert(stmts(1) == "INSERT INTO t (id, name, score) VALUES (2, NULL, 3.0);")
  }

  test("SqlDump dialects render types, quoting, literals, and FK toggles") {
    import spark.implicits._
    val df = Seq((1, "x", true, 1.5)).toDF("id", "name", "ok", "score")
    val fks = Seq(SqlDump.FkClause(Seq("name"), "parent", Seq("p_name")))

    val my = SqlDump.ddl("t", df, Seq("id"), fks, SqlDump.MySql)
    assert(my.contains("`id` INTEGER AUTO_INCREMENT NOT NULL"))
    assert(my.contains("`name` LONGTEXT"))
    assert(my.contains("`ok` TINYINT(1) NOT NULL"))
    assert(my.contains("`score` DOUBLE NOT NULL"))
    assert(my.contains("FOREIGN KEY (`name`) REFERENCES `parent` (`p_name`)"))

    val pg = SqlDump.ddl("t", df, Seq("id"), fks, SqlDump.Postgres)
    assert(pg.contains("\"id\" SERIAL NOT NULL"))
    assert(pg.contains("\"score\" DOUBLE PRECISION NOT NULL"))
    assert(pg.contains("FOREIGN KEY (\"name\") REFERENCES \"parent\" (\"p_name\")"))

    val lite = SqlDump.ddl("t", df, Seq("id"), Nil, SqlDump.Sqlite)
    assert(lite.contains("\"ok\" INTEGER NOT NULL")) // bool → INTEGER affinity
    assert(lite.contains("\"score\" REAL NOT NULL"))

    // boolean literal syntax differs per dialect
    val ansiIns = SqlDump.insertStatements("t", df, SqlDump.Ansi)
      .collect()(0).getString(0)
    val myIns = SqlDump.insertStatements("t", df, SqlDump.MySql)
      .collect()(0).getString(0)
    assert(ansiIns.contains("TRUE") && myIns.contains(", 1,"))

    // MySQL treats backslash as an escape inside string literals: it must
    // be doubled or values corrupt ('C:\tmp' -> tab) and a trailing
    // backslash eats the closing quote (an injection, not a typo)
    val slashed = Seq(Tuple1("C:\\tmp\\")).toDF("s")
    assert(SqlDump.insertStatements("t", slashed, SqlDump.MySql)
      .collect()(0).getString(0).contains("'C:\\\\tmp\\\\'"))
    assert(SqlDump.insertStatements("t", slashed, SqlDump.Ansi)
      .collect()(0).getString(0).contains("'C:\\tmp\\'")) // standard SQL: verbatim

    // binary literals: X'..' (ansi/mysql) vs '\x..' (postgres)
    val bdf = Seq(Tuple1(Array[Byte](0xde.toByte, 0xad.toByte))).toDF("b")
    assert(SqlDump.insertStatements("t", bdf, SqlDump.Ansi)
      .collect()(0).getString(0).contains("X'DEAD'"))
    assert(SqlDump.insertStatements("t", bdf, SqlDump.Postgres)
      .collect()(0).getString(0).contains("'\\xDEAD'"))

    // dump file order: prologue, DDL, INSERTs, epilogue
    val dir = Files.createTempDirectory("sqldump-my").toString + "/out"
    SqlDump.dump("t", df, dir, Seq("id"), Nil, SqlDump.MySql)
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.head == "SET FOREIGN_KEY_CHECKS = 0;")
    assert(lines.last == "SET FOREIGN_KEY_CHECKS = 1;")
    assert(lines.exists(_.startsWith("CREATE TABLE `t`")))
    assert(lines.count(_.startsWith("INSERT INTO `t`")) == 1)
  }

  test("SqlDump type hints: enum, unsigned, collation, length per dialect") {
    import org.apache.spark.sql.types._
    import SqlDump.TypeHints
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("status", StringType, nullable = false,
        metadata = TypeHints.Hints(enumValues = Seq("new", "it's done")).metadata),
      StructField("qty", IntegerType, nullable = false,
        metadata = TypeHints.Hints(unsigned = true).metadata),
      StructField("name", StringType, nullable = true,
        metadata = TypeHints.Hints(length = Some(25),
          collation = Some("utf8mb4_bin")).metadata)))

    val my = SqlDump.ddl("t", schema, Seq("id"), Nil, SqlDump.MySql)
    assert(my.contains("`status` ENUM('new', 'it''s done') NOT NULL"))
    assert(my.contains("`qty` INT UNSIGNED NOT NULL"))
    assert(my.contains("`name` VARCHAR(25) COLLATE utf8mb4_bin"))

    // no native enum/unsigned elsewhere: sized VARCHAR + CHECK, widened int + CHECK
    val ansi = SqlDump.ddl("t", schema, Seq("id"), Nil, SqlDump.Ansi)
    assert(ansi.contains("status VARCHAR(9) CHECK (status IN ('new', 'it''s done')) NOT NULL"))
    assert(ansi.contains("qty BIGINT CHECK (qty >= 0) NOT NULL"))
    assert(ansi.contains("name VARCHAR(25) COLLATE utf8mb4_bin"))

    val pg = SqlDump.ddl("t", schema, Seq("id"), Nil, SqlDump.Postgres)
    assert(pg.contains("\"qty\" BIGINT CHECK (\"qty\" >= 0) NOT NULL"))
    assert(pg.contains("\"name\" VARCHAR(25) COLLATE \"utf8mb4_bin\""))

    // sqlite: bare collation keyword; COLLATE binds to the TYPE, before the
    // CHECK — postgres/ansi grammar rejects a COLLATE after a constraint
    val liteSchema = StructType(Seq(
      StructField("s", StringType, nullable = true,
        metadata = TypeHints.Hints(enumValues = Seq("a", "b"),
          collation = Some("NOCASE")).metadata)))
    val lite = SqlDump.ddl("t", liteSchema, Nil, Nil, SqlDump.Sqlite)
    assert(lite.contains("\"s\" VARCHAR(1) COLLATE NOCASE CHECK (\"s\" IN ('a', 'b'))"))

    // unsigned BIGINT needs DECIMAL(20,0) to hold the full range portably
    val u64 = StructType(Seq(StructField("n", LongType, nullable = false,
      metadata = TypeHints.Hints(unsigned = true).metadata)))
    assert(SqlDump.ddl("t", u64, Nil, Nil, SqlDump.Ansi)
      .contains("n DECIMAL(20,0) CHECK (n >= 0) NOT NULL"))
    assert(SqlDump.ddl("t", u64, Nil, Nil, SqlDump.MySql)
      .contains("`n` BIGINT UNSIGNED NOT NULL"))

    // reflection edge: raw JDBC type names parse into hints
    assert(TypeHints.fromTypeName("INT UNSIGNED").unsigned)
    assert(TypeHints.fromTypeName("ENUM('a','b c')").enumValues == Seq("a", "b c"))
    assert(TypeHints.fromTypeName("VARCHAR(25)").length.contains(25L))
    assert(TypeHints.fromTypeName("CHAR(16)").length.contains(16L))
    assert(TypeHints.fromTypeName("TEXT") == TypeHints.Hints())
    // enum values may contain commas and doubled-quote escapes; and value
    // TEXT must not trip the unsigned detector
    val tricky = TypeHints.fromTypeName("ENUM('a,b','it''s','UNSIGNED')")
    assert(tricky.enumValues == Seq("a,b", "it's", "UNSIGNED"))
    assert(!tricky.unsigned)

    // unsigned hint survives onto a single-int auto-increment PK
    val upk = StructType(Seq(StructField("id", IntegerType, nullable = false,
      metadata = TypeHints.Hints(unsigned = true).metadata)))
    assert(SqlDump.ddl("t", upk, Seq("id"), Nil, SqlDump.MySql)
      .contains("`id` INT UNSIGNED AUTO_INCREMENT NOT NULL"))
  }

  test("SqlDump.dump writes header then rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sqldump").toString + "/out"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    SqlDump.dump("t", df, dir, Seq("id"))
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.head.startsWith("CREATE TABLE t"))
    assert(lines.count(_.startsWith("INSERT INTO t")) == 2)
  }

  test("compact rewrites a fragmented table into few files, losslessly") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    val orders = Tables.load(spark, TestSpark.sf, "orders")
    orders.repartition(32).write.parquet(dir)
    val before = spark.read.parquet(dir).inputFiles.length
    assert(before >= 32)
    val (nBefore, nAfter) = Export.compact(spark, dir)
    assert(nBefore == before && nAfter == 1) // tiny table → one target file
    assert(spark.read.parquet(dir).inputFiles.length == 1)
    assert(spark.read.parquet(dir).count() == orders.count())
    assert(!Files.exists(java.nio.file.Paths.get(dir + "__compact_tmp")))
  }

  test("sortedParquet writes disjoint key ranges per file (file-skip layout)") {
    val dir = Files.createTempDirectory("sorted").toString + "/t"
    Export.sortedParquet(Tables.load(spark, TestSpark.sf, "orders"),
      dir, "o_orderkey", numFiles = 4)
    val ranges = footerStats(dir, "o_orderkey").sortBy(_._1)
    assert(ranges.length == 4)
    // disjoint: every file's max < the next file's min
    ranges.sliding(2).foreach { case Seq((_, max1), (min2, _)) =>
      assert(max1 < min2, s"overlapping file ranges: $max1 vs $min2")
    }
  }

  test("zorderParquet keeps footer stats tight on BOTH columns at once") {
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val zDir = Files.createTempDirectory("zorder").toString + "/t"
    val sDir = Files.createTempDirectory("lex").toString + "/t"
    Export.zorderParquet(li, zDir, Seq("l_orderkey", "l_partkey"), numFiles = 8)
    Export.sortedParquet(li, sDir, "l_orderkey", numFiles = 8)

    // lossless
    val (a, b) = (spark.read.parquet(zDir), spark.read.parquet(sDir))
    assert(a.count() == li.count())
    def qsum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum((col("l_quantity") * 100).cast("long"))).head().getLong(0)
    assert(qsum(a) == qsum(b))

    // per-file [min,max] width of a column, summed over files — the footer
    // stats a pushed-down predicate prunes with
    def spread(dir: String, c: String): Double =
      footerStats(dir, c).map { case (mn, mx) => mx - mn }.sum
    // lexicographic: leading column tight, second column spans the full
    // range in EVERY file. Z-order: both columns must beat that second-
    // column blowup by a wide margin (each file covers a hyper-rectangle)
    val lexPart = spread(sDir, "l_partkey")
    val zPart = spread(zDir, "l_partkey")
    val zOrd = spread(zDir, "l_orderkey")
    val lexOrd = spread(sDir, "l_orderkey")
    assert(zPart < 0.6 * lexPart,
      s"z-order did not tighten the second column: $zPart vs lex $lexPart")
    // the leading column pays for the trade: a 1/8 Z-curve segment spans
    // roughly half the square (measured ~4.7x the full range summed over
    // 8 files, vs 8x for a layout ignoring the column) — every file must
    // still be meaningfully tighter than full-range
    val fullOrd = lexOrd // lex files partition the range: sum ≈ full range
    assert(zOrd < 0.75 * 8 * fullOrd,
      s"z-order first-column spread as bad as ignoring it: $zOrd vs 8x$fullOrd")
  }

  test("quantile z-order cells keep a SKEWED column prunable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // value SPACING exponentially skewed (doubling), count per distinct
    // uniform: equi-width cells dump ~80% of the distinct values (all
    // below max/64) into cell 0, so the skewed column stops steering the
    // curve for most rows; equi-depth cells ignore spacing entirely
    val df = spark.range(60000)
      .select(pow(lit(2.0), col("id") % 32).cast("double").as("skew"),
        (col("id") % 1000).cast("double").as("uni"))
    val eqDir = Files.createTempDirectory("zeq").toString + "/t"
    val qDir = Files.createTempDirectory("zq").toString + "/t"
    Export.zorderParquet(df, eqDir, Seq("skew", "uni"), numFiles = 64,
      bitsPerCol = 6)
    Export.zorderParquet(df, qDir, Seq("skew", "uni"), numFiles = 64,
      bitsPerCol = 6, quantileCells = true)
    // read amplification of a point predicate on the skewed column: how
    // many files' [min,max] contain each distinct value, averaged over
    // rows (values are uniform per row here). Value-width spread is the
    // WRONG metric for skew — equi-width cells are value-width-optimal by
    // construction; what they lose is row-balanced pruning: the 40% of
    // rows crammed into the low cells stop steering the curve and their
    // values show up in most files.
    val values = (0 until 32).map(i => math.pow(2.0, i))
    def readAmp(dir: String): Double = {
      val rs = footerStats(dir, "skew")
      values.map(v => rs.count { case (mn, mx) => v >= mn && v <= mx }).sum /
        values.size.toDouble
    }
    val eqAmp = readAmp(eqDir)
    val qAmp = readAmp(qDir)
    info(f"files read per point lookup: equi-width $eqAmp%.2f vs quantile $qAmp%.2f of 64")
    assert(qAmp < 0.7 * eqAmp,
      s"quantile cells did not cut read amplification: $qAmp vs $eqAmp")
    // both layouts stay byte-lossless
    assert(spark.read.parquet(qDir).count() == 60000)
  }

  test("Tables catalog round-trips csv and json with schema control") {
    val nation = Tables.load(spark, TestSpark.sf, "nation")
    val base = Files.createTempDirectory("tables-fmt").toString
    for (fmt <- Seq("csv", "json")) {
      Tables.write(nation, s"$base/$fmt", fmt)
      // explicit schema: no inference pass, exact types back
      val back = Tables.read(spark, s"$base/$fmt", fmt, Some(nation.schema))
      assert(back.schema == nation.schema, s"$fmt schema")
      assert(back.count() == nation.count(), s"$fmt rows")
      val a = nation.orderBy("n_nationkey").collect().map(_.toSeq)
      val b = back.orderBy("n_nationkey").collect().map(_.toSeq)
      assert(a.toSeq == b.toSeq, s"$fmt content")
    }
    // headerful csv also reads standalone (ad-hoc path, inference)
    val inferred = Tables.read(spark, s"$base/csv", "csv")
    assert(inferred.columns.toSeq == nation.columns.toSeq)
  }

  test("QueryCache caches by canonical spec and purges") {
    val root = Files.createTempDirectory("qcache").toString
    val spec = SpecJson.parse("from: nation\nlimit: 5\njoin_depth: 1\nbackref_depth: 0\n")
    val (t1, hit1) = QueryCache.extract(spark, TestSpark.sf, spec, root)
    assert(!hit1 && t1("nation").count() == 5)
    val (t2, hit2) = QueryCache.extract(spark, TestSpark.sf, spec, root)
    assert(hit2 && t2("nation").count() == 5)
    // the `_counts` marker holds each table's landed row count and was
    // published whole: no temp is left next to it
    import scala.jdk.CollectionConverters._
    val entry = java.nio.file.Paths.get(root,
      QueryCache.cacheKey(spec, TestSpark.sf, RelGraph.tpch))
    val counts = Files.readAllLines(entry.resolve("_counts")).asScala
      .map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
    assert(counts.keySet == t1.keySet)
    counts.foreach { case (n, c) =>
      assert(c == spark.read.parquet(entry.resolve(n).toString).count(), n)
    }
    val siblings = scala.util.Using.resource(Files.list(entry))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    assert(siblings == t1.keySet + "_counts", s"cache entry holds $siblings")
    // same query text, different formatting → same key
    val spec2 = SpecJson.parse("{\"from\": \"nation\", \"limit\": 5, \"join_depth\": 1, \"backref_depth\": 0}")
    assert(QueryCache.cacheKey(spec, TestSpark.sf, RelGraph.tpch) ==
      QueryCache.cacheKey(spec2, TestSpark.sf, RelGraph.tpch))
    QueryCache.purge(root)
    val (_, hit3) = QueryCache.extract(spark, TestSpark.sf, spec, root)
    assert(!hit3)
  }

  test("Jdbc option assembly and validation") {
    val full = Jdbc.options(Jdbc.ReadSpec(
      url = "jdbc:postgresql://host/db", table = "lineitem",
      partitionColumn = Some("l_orderkey"),
      lowerBound = Some(0L), upperBound = Some(1000000L), numPartitions = 16))
    assert(full("partitionColumn") == "l_orderkey")
    assert(full("numPartitions") == "16" && full("fetchsize") == "10000")
    intercept[IllegalArgumentException] {
      Jdbc.options(Jdbc.ReadSpec("u", "t", partitionColumn = Some("c")))
    }
    intercept[IllegalArgumentException] {
      Jdbc.options(Jdbc.ReadSpec("u", "t", partitionColumn = Some("c"),
        lowerBound = Some(0L), upperBound = Some(1L), predicates = Seq("x > 1")))
    }
    assert(Jdbc.loadOrder(RelGraph.tpch, Set("lineitem", "orders", "customer")) ==
      Seq("customer", "orders", "lineitem"))
  }

  test("Export writes parquet in FK order and clear truncates") {
    val spec = SpecJson.parse("from: supplier\nlimit: 2\njoin_depth: 5\nbackref_depth: 0\n")
    val e = graft.operators.Subset.extract(spark, TestSpark.sf, spec)
    val dir = Files.createTempDirectory("export").toString
    val paths = Export.parquet(e, dir)
    assert(paths.size == e.tables.size)
    // FK order: region dir sorts before nation before supplier
    val names = paths.map(_.split('/').last.drop(3))
    assert(names.indexOf("region") < names.indexOf("nation"))
    assert(names.indexOf("nation") < names.indexOf("supplier"))
    val cleared = dir + "/cleared"
    Export.clear(e.tables("supplier"), cleared)
    assert(spark.read.parquet(cleared).count() == 0)
  }

  test("Export round-trips ORC losslessly with pushdown on the read side") {
    val spec = SpecJson.parse("from: supplier\nlimit: 2\njoin_depth: 5\nbackref_depth: 0\n")
    val e = graft.operators.Subset.extract(spark, TestSpark.sf, spec)
    val dir = Files.createTempDirectory("export_orc").toString
    val paths = Export.orc(e, dir)
    // same FK order as the parquet sink
    val names = paths.map(_.split('/').last.drop(3))
    assert(names.indexOf("region") < names.indexOf("nation"))
    // lossless: every table reads back row-identical
    for ((path, name) <- paths.zip(names)) {
      val back = spark.read.orc(path)
      val orig = e.tables(name)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        orig.schema.map(f => (f.name, f.dataType)), s"$name schema drifted")
      assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty,
        s"$name rows drifted through ORC")
    }
    // scan-side posture: a point predicate reaches the ORC reader
    val nation = spark.read.orc(paths(names.indexOf("nation")))
      .filter(col("n_name") === "FRANCE")
    val plan = nation.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("n_name"),
      s"no pushdown into ORC scan:\n$plan")
  }
}
