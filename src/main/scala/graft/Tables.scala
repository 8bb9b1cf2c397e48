package graft

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.spark.sql.{DataFrame, DataFrameWriter, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Table catalog over a scale-factor directory of parquet files.
  *
  * The reference (dbcut, `/root/reference/dbcut/database.py:166-211`) reflects
  * a live RDBMS via SQLAlchemy automap; graft's analogue is a directory of
  * columnar files plus declarative relationship metadata ([[graft.model.RelGraph]]).
  * Reads are plain `spark.read.parquet` so Catalyst keeps full pushdown/pruning.
  */
object Tables {
  /** All driver-provided test tables (TPC-H-ish star schema + pipeline tables). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** The relational (FK-linked) subset used by subset extraction. */
  val relational: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** The one JVM-global metadata memo: an LRU map that evicts its least
    * recently used entry past [[Memo.Bound]] entries. The parquet schema
    * memo, [[scanPartitions]]' partition counts and `Versioned`'s version
    * schemas share it, their keys tagged apart. File metadata is checked
    * against a [[listing]] token of the frame being built, so an in-place
    * rewrite re-derives instead of serving stale metadata. Values are computed
    * outside the lock (they may run Spark jobs); racing misses both
    * compute the same value.
    */
  private[graft] object Memo {
    val Bound = 1024
    private val entries = new java.util.LinkedHashMap[Product, Any](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Product, Any]): Boolean =
        this.size > Bound
    }
    def get[V](key: Product): Option[V] =
      entries.synchronized(Option(entries.get(key)).map(_.asInstanceOf[V]))
    def put(key: Product, value: Any): Unit = entries.synchronized { entries.put(key, value) }
    def getOrElseUpdate[V](key: Product)(compute: => V): V =
      get[V](key).getOrElse { val v = compute; put(key, v); v }
    def size: Int = entries.synchronized(entries.size)
  }

  /** Sorted root paths and a digest of (path, length, mtime) over every
    * file of `df`'s file relations, taken from the listing their
    * FileIndex already holds — no IO, no Spark job. None when `df` reads
    * anything but file relations.
    */
  private[graft] def listing(df: DataFrame): Option[(Seq[String], String)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val rels = df.queryExecution.analyzed.collect { case lr: LogicalRelation => lr.relation }
    val locs = rels.collect { case h: HadoopFsRelation => h.location }
    if (locs.isEmpty || locs.size < rels.size) return None
    val md = java.security.MessageDigest.getInstance("SHA-256")
    locs.flatMap(_.listFiles(Nil, Nil)).flatMap(_.files)
      .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n")
      .sorted.foreach(l => md.update(l.getBytes("UTF-8")))
    Some((locs.flatMap(_.rootPaths.map(_.toString)).sorted,
      BigInt(1, md.digest()).toString(16)))
  }

  /** `spark.read.parquet(paths)` without the footer-schema job on repeat
    * reads. DSv1 parquet schema inference runs a 1-task Spark job per
    * read, and a session touches the same tables many times; a memoized
    * schema is passed explicitly and kept only while the read's listing
    * matches the one it was inferred from. Data is read on every action.
    */
  def parquetImmutable(spark: SparkSession, paths: String*): DataFrame =
    parquetMemo(spark, paths, merge = false)

  /** [[parquetImmutable]] for a multi-dir read that needs `mergeSchema`
    * (versioned tables whose appends may add columns). A memoized merged
    * schema projects each file onto the union schema (nulls for absent
    * columns), exactly what mergeSchema produces.
    */
  def parquetImmutableMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    parquetMemo(spark, paths, merge = true)

  private def parquetMemo(spark: SparkSession, paths: Seq[String],
                          merge: Boolean): DataFrame = {
    val key = ("schema", paths, merge)
    Memo.get[(Option[(Seq[String], String)], StructType)](key)
      .map { case (tok, schema) => tok -> spark.read.schema(schema).parquet(paths: _*) }
      .collect { case (tok, df) if tok.isDefined && listing(df) == tok => df }
      .getOrElse {
        val r = if (merge) spark.read.option("mergeSchema", "true") else spark.read
        val df = r.parquet(paths: _*)
        Memo.put(key, (listing(df), df.schema))
        df
      }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
      // parquet across driver data drops. Spark 4 refuses to map nanos to a
      // timestamp type, so keep the public legacy conf that surfaces nanos
      // as LONG and rebuild a µs TimestampType column from whichever form
      // this directory carries (exact either way — the data is µs-grained).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquetImmutable(spark, path(sfDir, name))
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // nanos-as-long drop
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampType => raw
        case _ => // TIMESTAMP_NTZ drop: wall-clock == instant (UTC sessions)
          raw.withColumn("ts", expr("cast(ts as timestamp)"))
      }
    } else parquetImmutable(spark, path(sfDir, name))

  /** Spread a CPU-heavy per-row derivation across the session's cores when
    * the source's file layout under-splits it. The synthetic tables are
    * single-row-group parquet files, which Spark reads as ONE task — so
    * every regex/array/hash lambda upstream of the first exchange runs on
    * one core of 32. Repartitioning costs one shuffle of the (small) raw
    * rows and unlocks full parallelism for the expensive derivation. The
    * condition makes it a no-op at warehouse scale: real multi-file,
    * multi-row-group layouts already split past the scheduler's slot
    * count, and shuffling 100 TB of raw text to "spread" it would be a
    * bug, not a fix.
    */
  def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df) < want) df.repartition(want) else df
  }

  /** Partitions a scan of `df` splits into. `.rdd.getNumPartitions` plans
    * a SEPARATE physical query per call (~40-50 ms of driver time); the
    * count is a function of the scanned files and the session's
    * split/parallelism confs, so it is memoized per (roots, parallelism,
    * listing token). Frames with no file relation plan on every call.
    */
  def scanPartitions(df: DataFrame): Int = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    listing(df) match {
      case Some((roots, token)) =>
        Memo.getOrElseUpdate(("parts", roots, want, token))(df.rdd.getNumPartitions)
      case None => df.rdd.getNumPartitions
    }
  }

  /** Root directory for every persisted standing index (MinHash/SimHash
    * signatures, winnow postings, CC labels, incremental-dedup index,
    * IVF/PQ tables). These are build-once/probe-many parquet tables, so on
    * a cluster the root MUST be shared storage — a driver-local path means
    * executors write task output to their *own* local disks and the
    * driver-side read sees a torn or empty table. Resolution order:
    *
    *   1. `spark.graft.index.root` Spark conf — explicit, runtime-settable;
    *   2. `GRAFT_INDEX_ROOT` environment variable — deployment-wide;
    *   3. `<corpusDir>/_graft_index` when the corpus URI scheme is a
    *      non-local filesystem (hdfs/s3a/abfs/…): the corpus itself proves
    *      that location is shared storage, and co-locating the index with
    *      the data it derives from is the natural ingestion layout.
    *      On an object store (s3a, gs, …) an index publish there refuses
    *      unless `spark.graft.versioned.singleWriter=true` acknowledges a
    *      lone builder ([[Publish.putDir]]): two builders could race;
    *   4. `java.io.tmpdir` — the single-JVM fallback (local[*] dev/test),
    *      where driver-local IS shared. Never the default on a cluster:
    *      any non-local corpus path takes branch 3.
    *
    * Stamp keys (corpus path + per-file name:length:mtime + params) are
    * part of each index's directory name, not of the root, so overriding
    * the root never changes cache identity — it only moves the storage.
    */
  def indexRoot(spark: SparkSession, corpusDir: String): String = {
    val conf = spark.conf.getOption("spark.graft.index.root").filter(_.nonEmpty)
    val env = sys.env.get("GRAFT_INDEX_ROOT").filter(_.nonEmpty)
    conf.orElse(env).getOrElse {
      val scheme = new org.apache.hadoop.fs.Path(corpusDir).toUri.getScheme
      if (scheme != null && scheme != "file")
        s"${corpusDir.stripSuffix("/")}/_graft_index"
      else System.getProperty("java.io.tmpdir")
    }
  }

  /** Wrap a standing-index WRITE so an unwritable-root failure surfaces
    * as guidance instead of a raw Hadoop stack deep inside an index
    * build. The default root co-locates indexes at
    * `<corpusDir>/_graft_index` (branch 3 of [[indexRoot]]) on the
    * theory that the corpus's own location is shared storage — but
    * curated corpora are commonly READ-ONLY, where every first index
    * write would otherwise die with a bare permission error (or, when
    * the bucket happens to be writable, silently pollute a shared
    * dataset). Unrelated failures (task OOM, bad data) pass through
    * untouched — only permission/IO shapes are rewrapped.
    */
  def indexWrite[T](root: String)(write: => T): T =
    try write catch {
      case e: Exception if {
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).take(16).toSeq
        // permission failures by TYPE anywhere in the cause chain — the
        // reliable signal, immune to message phrasing
        val typed = chain.exists {
          case _: java.nio.file.AccessDeniedException => true
          case _: java.nio.file.ReadOnlyFileSystemException => true
          case _: org.apache.hadoop.security.AccessControlException => true
          case _ => false
        }
        // untyped IO shapes (RawLocalFileSystem throws bare IOExceptions
        // like "Mkdirs failed to create <dir>") only count when the
        // message actually NAMES the index root or one of its ancestors
        // (mkdirs/permission errors commonly report the parent that
        // refused) — an unrelated task failure quoting a bad DATA path
        // that happens to contain one of these phrases must pass through
        // as itself, not as index-root guidance masking the real cause
        // match the root itself, the child names index writes actually
        // create under it ("<root>/graft_…" index dirs, "<root>/.build…"
        // temp dirs), and the root's PARENT only at an EXACT path
        // boundary. Deeper ancestor-prefix matching is deliberately
        // gone: with the default co-located layout the index root is
        // `<destDir>/_graft_index`, so an ancestor substring is also a
        // prefix of sibling DATA paths under the destination ("<dest>/
        // table.parquet/part-0") and matching it would rewrite unrelated
        // data-write failures into index-root guidance. The boundary
        // rule keeps the one legitimate ancestor shape — a mkdirs/
        // permission error quoting exactly the parent that refused
        // ("AccessDenied: <dest>") — while a sibling data path, which
        // continues with "/name", never matches. The bare root is
        // skipped only when it is a DEPTH-1 schemeless generic prefix
        // (the local default: java.io.tmpdir = "/tmp"), which would
        // match any scratch path — the child patterns keep the guidance
        // alive there.
        val rootPath = new org.apache.hadoop.fs.Path(root)
        def specific(p: org.apache.hadoop.fs.Path) = p.depth() >= 2 ||
          (p.depth() >= 1 && p.toUri.isAbsolute)
        val r = root.stripSuffix("/")
        val candidates =
          (if (specific(rootPath)) Seq(r) else Seq.empty) ++
            Seq(s"$r/graft_", s"$r/.build")
        val parentRe = Option(rootPath.getParent).filter(specific).map { p =>
          java.util.regex.Pattern.compile(
            java.util.regex.Pattern.quote(p.toString) + "(?![/\\w.-])")
        }
        val permShapes = Seq("Permission denied", "Access Denied",
          "AccessDenied", "Read-only", "read-only", "Mkdirs failed",
          "not a directory", "Not a directory")
        val scoped = chain.exists { t =>
          val msg = String.valueOf(t.getMessage)
          (candidates.exists(msg.contains) ||
            parentRe.exists(_.matcher(msg).find())) &&
            permShapes.exists(msg.contains)
        }
        typed || scoped
      } =>
        throw new IllegalStateException(
          s"cannot write a standing index under '$root' — the resolved " +
            "index root is not writable (curated corpora are often " +
            "read-only, and the default co-locates indexes at " +
            "<corpusDir>/_graft_index). Point spark.graft.index.root or " +
            "GRAFT_INDEX_ROOT at shared writable storage.", e)
    }

  /** Format-generic read — the catalog face of §2e.45. CSV reads take an
    * explicit schema when given (the only scale-safe option: schema
    * inference is an extra full pass over the files) and fall back to
    * header+inference for ad-hoc use.
    */
  def read(spark: SparkSession, path: String, format: String = "parquet",
           schema: Option[org.apache.spark.sql.types.StructType] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    val r0 = spark.read.format(format).options(options)
    val r = format match {
      case "csv" => schema match {
        case Some(s) => r0.schema(s).option("header", "true")
        case None => r0.option("header", "true").option("inferSchema", "true")
      }
      case _ => schema.map(r0.schema).getOrElse(r0)
    }
    r.load(path)
  }

  /** A footer reader for one parquet file under `conf`. The one-argument
    * `ParquetFileReader.open` builds a fresh Hadoop `Configuration` for
    * every file, re-parsing its XML defaults (about 10 ms each); every
    * footer read in `src/main` opens through here instead.
    */
  def openParquet(conf: Configuration, file: InputFile): ParquetFileReader =
    ParquetFileReader.open(file, HadoopReadOptions.builder(conf).build())

  /** Row count from parquet FOOTERS only — driver-side metadata reads, no
    * Spark job, no data scan. The cheap-count primitive behind the CLI's
    * `estimate` (dbcut `--estimate` reads information_schema stats,
    * `database.py:323-345`), CLI `load`'s landed counts and the LSH
    * plane-count sizing. It counts the files `spark.read.parquet(path)`
    * scans: every name below `path` passes Spark's hidden-path rule, so a
    * crashed writer's `_temporary/` or a `.hidden.parquet` adds nothing.
    */
  def footerRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.FileStatus
    val conf = hadoopConf(spark)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    // RECURSIVE listing: a hive-partitioned table keeps its data files in
    // key=value subdirectories — a top-level-only listing would silently
    // report 0 rows for a populated table
    def visible(dir: org.apache.hadoop.fs.Path): Iterator[FileStatus] =
      fs.listStatus(dir).iterator
        .filterNot(st => GraftSqlBridge.hiddenPathName(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) visible(st.getPath) else Iterator(st))
    val root = fs.getFileStatus(p)
    (if (root.isDirectory) visible(p) else Iterator(root))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = openParquet(conf, HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Global [min, max] of a double column read from parquet footer
    * statistics only — no data scan at any table size. None when any row
    * group lacks stats for the column (caller falls back to a scan).
    */
  def footerDoubleBounds(spark: SparkSession, path: String,
                         column: String): Option[(Double, Double)] = {
    val conf = hadoopConf(spark)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      (if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
       else Seq(fs.getFileStatus(p)))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty) return None
    var mn = Double.MaxValue
    var mx = Double.MinValue
    for (st <- files) {
      val r = openParquet(conf, HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = r.getFooter.getBlocks
        val it = blocks.iterator()
        while (it.hasNext) {
          val block = it.next()
          val cit = block.getColumns.iterator()
          var found = false
          while (cit.hasNext) {
            val c = cit.next()
            if (c.getPath.toDotString == column) {
              found = true
              val s = c.getStatistics
              if (s == null || !s.hasNonNullValue) return None
              s match {
                case d: org.apache.parquet.column.statistics.DoubleStatistics =>
                  mn = math.min(mn, d.getMin)
                  mx = math.max(mx, d.getMax)
                case _ => return None
              }
            }
          }
          if (!found) return None
        }
      } finally r.close()
    }
    if (mn > mx) None else Some((mn, mx))
  }

  /** The keys that bind `file:` to [[LocalFs]] for one Hadoop conf,
    * uncached so the session's cached `file:` FileSystem stays as it is.
    * Empty when the session binds `fs.file.impl` itself (Hadoop's
    * default conf holds it empty).
    */
  private def localFsKeys(spark: SparkSession): Map[String, String] = {
    val own = spark.conf.getOption("fs.file.impl")
      .orElse(Option(spark.sparkContext.hadoopConfiguration.get("fs.file.impl")))
    if (own.exists(_.nonEmpty)) Map.empty
    else Map("fs.file.impl" -> classOf[LocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
  }

  /** THE Hadoop conf of `src/main`: the session's, with `file:` bound to
    * [[LocalFs]]. Every driver-side FileSystem graft opens comes from it.
    */
  def hadoopConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    localFsKeys(spark).foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** THE file writer of `src/main`: `df`'s `DataFrameWriter` carrying
    * [[hadoopConf]]'s `file:` binding as options, which Spark copies into
    * the write job's Hadoop conf on the driver and in every task. Spark
    * reads and the session's own FileSystems are untouched.
    */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(localFsKeys(df.sparkSession))

  /** Format-generic write (csv emits a header so reads round-trip). */
  def write(df: DataFrame, path: String, format: String = "parquet",
            mode: String = "overwrite",
            options: Map[String, String] = Map.empty): Unit = {
    val w = writer(df).format(format).mode(mode).options(options)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }
}
