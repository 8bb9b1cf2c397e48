package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned parquet tables with time travel — the minimal commit-log
  * table format the lakehouse operators (§2f) mutate through. The
  * reference reinjects into a live DBMS whose transactions give it
  * atomicity (`/root/reference/dbcut/cli/operations.py:84-139`); plain
  * parquet directories have none, and `Export.compact`'s rename-aside
  * ([[graft.Publish.swap]]) is only crash-safe, not versioned. This adds the missing property with
  * the same design every production table format (Delta, Iceberg, Hudi)
  * builds on: IMMUTABLE data files + an append-only commit log whose
  * single-file manifest publish is the atomic commit point.
  *
  * Layout:
  * {{{
  *   table/
  *     _commits/v00001.json      one manifest per version (the log)
  *     data/v00001/part-*.parquet   immutable data, never rewritten
  * }}}
  *
  * A manifest lists the data directories its version reads — a SNAPSHOT
  * commit references only its own directory; an APPEND commit references
  * the parent's directories plus its own, so appending N batches never
  * rewrites history (and a later `compact` commit can fold them back to
  * one directory as a new snapshot). Readers resolve a version entirely
  * from its manifest: uncommitted data directories are invisible, a
  * crashed writer leaves at most an orphan data dir for `vacuum`, and
  * concurrent readers of version v keep reading v forever.
  *
  * Scale posture: the manifest holds directory PATHS, not file lists —
  * Spark's parquet reader does the (parallel) file listing, so a commit
  * is O(1) driver work regardless of table size.
  *
  * Concurrency: every write (snapshot, append, replace, compaction,
  * deletion vector, CDC apply) writes its data first ([[writeData]]) and
  * then publishes through ONE optimistic loop, [[publishNext]]. The loop
  * numbers the next version, reads its parent, lets the writer form its
  * manifest from that parent or name a conflict, and publishes with an
  * atomic put-if-absent, [[graft.Publish.putFile]]; its per-scheme table
  * says how, and when a scheme refuses. A writer that loses the race
  * retries under the next number with the same data directory, against
  * the new parent. Readers are safe in every case because data files
  * are immutable and manifests are never edited in place.
  */
object Versioned {

  /** `bucketCol`/`nBuckets` record a stable hash-bucket layout: every data
    * directory of a bucketed version holds exactly the rows with
    * `pmod(xxhash64(bucketCol), nBuckets)` equal to the bucket id encoded
    * in its name (`.../__bucket=N`). The layout is what makes REPLACE
    * commits possible — a writer that changes only some keys rewrites only
    * those keys' bucket directories and re-references the rest (see
    * [[commitDirs]]), the Delta/Iceberg file-level MERGE granularity.
    */
  /** A DELETION VECTOR sidecar: `path` is a tiny parquet of the KEYS
    * deleted from data entry `entry` (one column, named after the
    * table's bucket column), `n` the exact count of rows it hides —
    * recorded so logical row bookkeeping never rescans. Key-based (not
    * positional like Delta's bitmaps) because this format's reads are
    * already keyed: the anti-join costs one broadcast of a tiny key
    * list. An entry carries at most ONE Dv (re-deletes fold old ∪ new
    * into a fresh sidecar); a rewrite of the entry drops it (the
    * rewrite materializes the deletes).
    */
  final case class Dv(entry: String, path: String, n: Long)

  /** A COMPOSITE bucket key is recorded in the manifest as its
    * comma-joined column names (`"k1,k2"`) — one string field keeps every
    * existing manifest readable, and the split is the single place the
    * encoding is interpreted. Every bucketing expression hashes ALL the
    * columns (`xxhash64` is variadic), so a composite-PK table gets the
    * same layout/pruning machinery as a single-key one.
    */
  private[graft] def splitKeyCols(bc: String): Seq[String] =
    bc.split(",").toSeq

  /** The on-disk bucketing expression — THE definition every writer,
    * pruner and delete path must share (drift silently reads/touches the
    * wrong buckets).
    */
  private[graft] def bucketExpr(bc: String, nBuckets: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    pmod(xxhash64(splitKeyCols(bc).map(col): _*), lit(nBuckets.toLong))
  }

  /** A key VALUE for bucket column(s) `bc`: a scalar for a single-column
    * key, a Seq of components (in `bc` order) for a composite one —
    * normalized here so deleteKeys/bucketsOf accept either shape.
    */
  private[graft] def keyComponents(v: Any): Seq[Any] = v match {
    case s: Seq[_] => s
    case p: Product if p.productPrefix.startsWith("Tuple") =>
      p.productIterator.toSeq
    case x => Seq(x)
  }

  final case class Manifest(version: Int, dataDirs: Seq[String], nRows: Long,
                            epochId: Option[Long] = None,
                            appId: Option[String] = None,
                            bucketCol: Option[String] = None,
                            nBuckets: Option[Int] = None,
                            dvs: Seq[Dv] = Seq.empty)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(graft.Tables.hadoopConf(spark))

  private def manifestPath(dir: String, v: Int) =
    new Path(f"$dir/_commits/v$v%05d.json")

  /** All committed versions, ascending (empty for a fresh path). */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val commits = new Path(s"$dir/_commits")
    val f = fs(spark, dir)
    if (!f.exists(commits)) Seq.empty
    else f.listStatus(commits).toSeq
      .map(_.getPath.getName)
      // %05d PADS to 5 digits but grows past v99999 — accept any width
      // (a fixed {5} here would go blind at 100k commits: one day of
      // 1-second CDC batches)
      .collect { case n if n.matches("v\\d+\\.json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readManifest(spark: SparkSession, dir: String, v: Int): Manifest = {
    import scala.jdk.CollectionConverters._
    val f = fs(spark, dir)
    val in = f.open(manifestPath(dir, v))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val node = json.readTree(txt)
    Manifest(node.get("version").asInt(),
      node.get("dataDirs").elements().asScala.map(_.asText()).toSeq,
      node.get("nRows").asLong(),
      Option(node.get("epochId")).filter(!_.isNull).map(_.asLong()),
      Option(node.get("appId")).filter(!_.isNull).map(_.asText()),
      Option(node.get("bucketCol")).filter(!_.isNull).map(_.asText()),
      Option(node.get("nBuckets")).filter(!_.isNull).map(_.asInt()),
      Option(node.get("dvs")).filter(!_.isNull).map(_.elements().asScala
        .map(d => Dv(d.get("entry").asText(), d.get("path").asText(),
          d.get("n").asLong())).toSeq).getOrElse(Seq.empty))
  }

  /** The committed manifest of version `v` (latest when omitted) — public
    * so table-maintenance code (the CDC sink's incremental apply) can
    * inspect the data-directory list and bucket layout it must preserve.
    */
  def manifest(spark: SparkSession, dir: String,
               asOf: Option[Int] = None): Manifest = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed versions at $dir")
    readManifest(spark, dir, asOf.getOrElse(vs.last))
  }

  /** Latest epoch committed BY `appId`, scanning manifests newest-first —
    * Delta's per-appId txn high-water mark. Reading only the top manifest
    * would silently disarm the replay fence whenever ANY other commit (a
    * second stream, a batch job, a CLI snapshot) interleaves between a
    * stream's commit and its crash-replay; this scan stops at the newest
    * manifest carrying the stream's own identity, so an interleaved
    * writer can never un-fence a replay. The common case reads one
    * manifest (the stream is the table's most frequent writer); the
    * worst case is bounded by the retained version count, and manifests
    * are O(100 bytes).
    */
  def latestEpochFor(spark: SparkSession, dir: String,
                     appId: String): Option[Long] =
    versions(spark, dir).reverseIterator
      .map(v => readManifest(spark, dir, v))
      // require epochId.isDefined IN the match: an epoch-LESS commit made
      // under the same appId (a batch job reusing the stream's identity)
      // must not mask the true high-water sitting in an older manifest —
      // collectFirst on appId alone would return its None and disarm the
      // replay fence
      .collectFirst { case m if m.appId.contains(appId) &&
        m.epochId.isDefined => m.epochId }
      .flatten

  /** Publish `df` as the next version. `append = false` commits a full
    * snapshot (the new version reads only this data); `append = true`
    * extends the parent version's directory list. Returns the committed
    * version number. The data write happens BEFORE the manifest publish,
    * which is the commit point.
    */
  def commit(df: DataFrame, dir: String, append: Boolean = false,
             epochId: Option[Long] = None,
             appId: Option[String] = None): Int = {
    val spark = df.sparkSession
    // an APPEND to a bucketed table carries the layout: the appended rows
    // are written as `__bucket=N` dirs under the parent's (bucketCol,
    // nBuckets) and the manifest keeps the layout — a plain append here
    // would silently drop it, degrading the NEXT CDC batch to a
    // full-table re-migration (the pre-r9 surprise for teams mixing
    // appends with a CDC stream). Appended dirs coexist with the base's
    // per-bucket dirs (the apply path groups dirs by bucket;
    // compactCommit folds them back to one). A SNAPSHOT commit
    // (append=false) deliberately installs a fresh un-bucketed layout —
    // it replaces the whole table, so re-migration is the honest cost.
    val base =
      if (append) versions(spark, dir).lastOption.map(readManifest(spark, dir, _))
      else None
    val layout = base.flatMap(bucketLayout)
    layout.foreach { case (bc, _) =>
      require(splitKeyCols(bc).forall(df.columns.contains),
        s"append to bucketed table $dir must carry its bucket column(s) " +
          s"'$bc' (layout installed by the CDC apply path)")
    }
    val (newDirs, newRows) = writeData(df, dir, layout)
    if (layout.isDefined)
      commitDirs(spark, dir, newDirs, newRows, Set.empty, 0L, epochId, appId,
        layout.map(_._1), layout.map(_._2),
        baseVersion = base.map(_.version), pureAppend = true)
    else if (!append)
      publishNext(spark, dir, "snapshot")(_ =>
        Right(Manifest(0, newDirs, newRows, epochId, appId)))
    else publishNext(spark, dir, "append") { parent =>
      // the bucketed-vs-plain decision was made against the base; a
      // parent that installed a bucket layout in the meantime (a
      // concurrent CDC migration) must not get a plain dir merged in
      // under a layout-less manifest — that would silently wipe the
      // layout the migration paid a full rewrite for
      if (parent.flatMap(bucketLayout).isDefined)
        Left(s"parent v${parent.get.version} installed a bucket layout " +
          "(the retried append writes bucketed dirs under it)")
      else
        // an append keeps every parent dir, so their deletion vectors
        // carry verbatim
        Right(Manifest(0, parent.map(_.dataDirs).getOrElse(Nil) ++ newDirs,
          parent.map(_.nRows).getOrElse(0L) + newRows, epochId, appId,
          dvs = parent.map(_.dvs).getOrElse(Nil)))
    }
  }

  /** The (bucket column(s), bucket count) of a manifest whose every data
    * entry is a bucket entry — the layout appends, replaces and deletion
    * vectors rely on. None for a plain table.
    */
  private[graft] def bucketLayout(m: Manifest): Option[(String, Int)] =
    for {
      bc <- m.bucketCol; n <- m.nBuckets
      if m.dataDirs.forall(d => bucketOf(d).isDefined)
    } yield (bc, n)

  private def newToken(): String = java.util.UUID.randomUUID.toString.take(8)

  /** Write `df` as one new data directory `data/v<next>-<token>` of table
    * `dir`, hash-bucketed under `layout` (bucket column(s), bucket count)
    * or plain, and return the data entries it created, FileSystem-qualified
    * (older manifests may hold the caller's raw `dir` form), with their
    * total row count. The name is unique, not keyed to the version alone: two
    * writers racing to the same version never collide on anything they
    * write — only the manifest publish decides the race. The count comes
    * from the parquet footers — metadata reads, not a second scan of the
    * data just written.
    */
  private[graft] def writeData(df: DataFrame, dir: String,
                               layout: Option[(String, Int)],
                               maxRecordsPerFile: Long = 0L)
      : (Seq[String], Long) = {
    val spark = df.sparkSession
    val v = versions(spark, dir).lastOption.getOrElse(0) + 1
    val dataDir = f"$dir/data/v$v%05d-${newToken()}"
    val entries = layout match {
      case Some((bc, n)) =>
        writeBucketed(df, dataDir, bc, n, maxRecordsPerFile)
      case None =>
        graft.Tables.writer(df).mode(SaveMode.ErrorIfExists).parquet(dataDir)
        Seq(fs(spark, dataDir).makeQualified(new Path(dataDir)).toString)
    }
    (entries, entries.map(graft.Tables.footerRowCount(spark, _)).sum)
  }

  private def conflict(what: String, dir: String, why: String): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"$what at $dir conflicts with a concurrent commit: $why — " +
        "recompute against the current version and retry")

  /** THE commit loop every write publishes through. Per attempt it reads
    * the parent of the next version (None for a table's first version)
    * and asks `attempt` for the manifest to publish on top of it — or
    * for the reason the write no longer holds against that parent, which
    * surfaces as a `ConcurrentModificationException` naming `what`. The
    * manifest's version field is the loop's. A publish lost to a
    * concurrent winner retries at the next number; the data the writer
    * already wrote is re-referenced, never rewritten. Returns the
    * committed version.
    */
  private def publishNext(spark: SparkSession, dir: String, what: String)(
      attempt: Option[Manifest] => Either[String, Manifest]): Int = {
    val f = fs(spark, dir)
    f.mkdirs(new Path(s"$dir/_commits"))
    val token = newToken()
    @annotation.tailrec def from(v: Int): Int = {
      val parent = if (v == 1) None else Some(readManifest(spark, dir, v - 1))
      val m = attempt(parent).fold(conflict(what, dir, _), _.copy(version = v))
      // put-if-absent is false when a concurrent writer won this version
      if (writeAndPublish(spark, f, dir, m, token)) v else from(v + 1)
    }
    from(versions(spark, dir).lastOption.getOrElse(0) + 1)
  }

  private def writeAndPublish(spark: SparkSession,
                              f: org.apache.hadoop.fs.FileSystem,
                              dir: String, m: Manifest,
                              token: String): Boolean = {
    val tmp = new Path(f"$dir/_commits/.v${m.version}%05d-$token.json.tmp")
    val payload = new java.util.LinkedHashMap[String, Object]()
    payload.put("version", Int.box(m.version))
    payload.put("dataDirs", java.util.List.of(m.dataDirs: _*))
    payload.put("nRows", Long.box(m.nRows))
    m.epochId.foreach(e => payload.put("epochId", Long.box(e)))
    m.appId.foreach(a => payload.put("appId", a))
    m.bucketCol.foreach(c => payload.put("bucketCol", c))
    m.nBuckets.foreach(n => payload.put("nBuckets", Int.box(n)))
    if (m.dvs.nonEmpty) {
      val dvList = m.dvs.map { d =>
        val o = new java.util.LinkedHashMap[String, Object]()
        o.put("entry", d.entry); o.put("path", d.path)
        o.put("n", Long.box(d.n)); o
      }
      payload.put("dvs", java.util.List.of(dvList: _*))
    }
    val out = f.create(tmp, true)
    try out.write(json.writeValueAsBytes(payload))
    finally out.close()
    // THE commit point: false when a concurrent winner took this version
    graft.Publish.putFile(spark, f, tmp, manifestPath(dir, m.version))
  }

  /** Commit ALREADY-WRITTEN data directories as the next version,
    * replacing `replacedDirs` of the parent version's directory list and
    * carrying every other parent directory BY REFERENCE — the primitive
    * behind incremental (file-level) CDC apply: a batch that touches 3 of
    * 64 buckets writes 3 new directories and the other 61 are inherited
    * without any IO proportional to table size. `newRows`/`replacedRows`
    * keep the manifest's row count exact without a table scan (callers
    * use parquet footer counts). `baseVersion` is the version the caller
    * computed its merge against (None: the table had no version).
    *
    * Optimistic concurrency, the Delta conflict rule: the commit publishes
    * against a parent newer than the base ONLY if that parent still
    * references every `replacedDirs` entry and the bucket layout is
    * unchanged — the interleaved commits touched disjoint data, so
    * merging the directory lists is safe ([[retryConflict]]). Otherwise a
    * `ConcurrentModificationException` surfaces: the merge was computed
    * against a table state that no longer exists, and blindly publishing
    * it would silently erase the other writer's changes (write skew).
    */
  def commitDirs(spark: SparkSession, dir: String,
                 newDirs: Seq[String], newRows: Long,
                 replacedDirs: Set[String], replacedRows: Long,
                 epochId: Option[Long] = None, appId: Option[String] = None,
                 bucketCol: Option[String] = None,
                 nBuckets: Option[Int] = None,
                 baseVersion: Option[Int],
                 pureAppend: Boolean = false): Int = {
    // the base manifest can be vacuumed away in exactly the
    // concurrent-commit window the base exists for — surface that as the
    // documented conflict (recompute and retry), not a raw missing-file
    // error
    val base = baseVersion.map(b =>
      try readManifest(spark, dir, b) catch {
        case _: java.io.FileNotFoundException =>
          conflict("replace commit", dir,
            s"base manifest v$b was vacuumed while the merge ran")
      })
    val touchedBuckets =
      (replacedDirs.toSeq ++ newDirs).flatMap(bucketOf).toSet
    publishNext(spark, dir, "replace commit") { parent =>
      val p = parent.getOrElse(Manifest(0, Seq.empty, 0L))
      retryConflict(base, p, replacedDirs, touchedBuckets, bucketCol,
        nBuckets, pureAppend).toLeft {
        val dirs = p.dataDirs.filterNot(replacedDirs) ++ newDirs
        // kept entries carry their deletion vectors; replaced entries'
        // DVs drop (the rewrite materialized the deletes) — the rule that
        // makes compactCommit fold DVs away with no special casing
        Manifest(0, dirs, p.nRows - replacedRows + newRows, epochId, appId,
          bucketCol, nBuckets, p.dvs.filter(d => dirs.contains(d.entry)))
      }
    }
  }

  /** Whether publishing a replace commit computed against `base` is still
    * safe against the CURRENT `parent` — the documented Delta-style
    * conflict rule, enforced instead of assumed. Returns the conflict
    * reason, or None when the interleaved commits provably touched data
    * DISJOINT from this merge:
    *  - the subset check: every replaced dir must still be referenced
    *    (a concurrent replace of the SAME data removed one);
    *  - the bucket layout must be unchanged (a re-bucketing commit
    *    invalidates every bucket-id assumption the merge made);
    *  - every dir added since the base must itself be a bucketed dir (a
    *    plain append may contain any key, including this merge's);
    *  - an added bucketed dir must not collide with a bucket this commit
    *    replaces or writes (same-bucket data published after the merge
    *    was computed would be silently shadowed or duplicated).
    */
  private[graft] def retryConflict(base: Option[Manifest], parent: Manifest,
                                   replacedDirs: Set[String],
                                   touchedBuckets: Set[Long],
                                   bucketCol: Option[String],
                                   nBuckets: Option[Int],
                                   pureAppend: Boolean = false)
      : Option[String] = {
    val parentDirs = parent.dataDirs
    val baseDirs = base.map(_.dataDirs).getOrElse(Seq.empty)
    // the layout the merge ASSUMED is the base's (this commit's own
    // bucketCol/nBuckets may legitimately differ — that is how a
    // migration/compaction commit installs a new layout). A parent whose
    // layout drifted from the base's invalidates every bucket-id
    // assumption the merge made, even if its dir list happens to match.
    val (baseCol, baseN) = base.map(b => (b.bucketCol, b.nBuckets))
      .getOrElse((bucketCol, nBuckets))
    if (!replacedDirs.subsetOf(parentDirs.toSet))
      Some(s"parent v${parent.version} no longer references " +
        replacedDirs.filterNot(parentDirs.toSet).mkString(", "))
    else if (parent.version > base.map(_.version).getOrElse(0) &&
        (parent.bucketCol != baseCol || parent.nBuckets != baseN))
      Some(s"parent v${parent.version} changed the bucket layout to " +
        s"(${parent.bucketCol}, ${parent.nBuckets}) from " +
        s"($baseCol, $baseN)")
    // a deletion vector changes an entry's LOGICAL content without
    // touching any directory list — a replace whose merge read the entry
    // under the base's DVs must conflict when the parent carries a
    // DIFFERENT DV on a replaced entry, or the publish would resurrect
    // the concurrently-deleted keys (and silently drop their DV: replaced
    // entries' DVs fold away). This check must run BEFORE the
    // dirs-unchanged early pass: a DV commit keeps dataDirs identical.
    else if (parent.dvs.filter(d => replacedDirs.contains(d.entry)).toSet !=
        base.map(_.dvs).getOrElse(Seq.empty)
          .filter(d => replacedDirs.contains(d.entry)).toSet)
      Some(s"a concurrent deletion vector landed on a replaced entry " +
        s"(parent v${parent.version} DVs differ from the merge's base)")
    else if (parentDirs == baseDirs) None
    // a PURE APPEND read nothing and replaced nothing — its new rows are
    // valid against ANY parent that kept the layout (checked above), so
    // interleaved commits never conflict with it. This is declared by
    // the caller, not inferred from replacedDirs.isEmpty: a first CDC
    // batch also replaces nothing, yet its merge DID assume an empty
    // base and must conflict with a concurrently-landed snapshot.
    else if (pureAppend) None
    else {
      val added = parentDirs.toSet -- baseDirs.toSet
      added.find(d => bucketOf(d).isEmpty)
        .map(d => s"a concurrent commit added a non-bucketed dir $d whose " +
          "keys may overlap this merge")
        .orElse(added.flatMap(bucketOf).find(touchedBuckets)
          .map(b => s"a concurrent commit wrote bucket $b, which this " +
            "merge also touches"))
    }
  }

  /** Write `df` hash-bucketed by `key` into `nBuckets` subdirectories of
    * `dataDir` (`__bucket=N` each holding exactly its bucket's rows; the
    * bucket value lives in the directory name, not the files) and return
    * the created subdirectory paths. One shuffle by bucket id keeps the
    * file count at one per non-empty bucket.
    */
  def writeBucketed(df: DataFrame, dataDir: String, key: String,
                    nBuckets: Int, maxRecordsPerFile: Long = 0L): Seq[String] = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val b = bucketExpr(key, nBuckets)
    // key-sorted within each bucket: files and row groups carry TIGHT,
    // DISJOINT key ranges in their footers — what makes file-level
    // replace pruning (and ordinary key-predicate file skipping)
    // effective. `maxRecordsPerFile` splits a large bucket into several
    // files (production: bucket ≈ 1 GB, files ≈ 128 MB) so a later
    // single-key batch can rewrite one FILE instead of the bucket.
    val sorted = df.withColumn("__bucket", b)
      .repartition(nBuckets, col("__bucket"))
      .sortWithinPartitions(col("__bucket") +: splitKeyCols(key).map(col): _*)
    val w = graft.Tables.writer(sorted).partitionBy("__bucket")
      .mode(SaveMode.ErrorIfExists)
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(dataDir)
    val f = fs(spark, dataDir)
    f.listStatus(new Path(dataDir)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bucket="))
      .map(_.getPath.toString).sorted
  }

  /** Bucket id encoded in a bucketed data entry's name — the entry is
    * either a `__bucket=N` directory or an individual FILE carried by
    * reference from inside one (sub-bucket file-level replace), whose
    * PARENT carries the id. None for a plain (unbucketed) directory.
    */
  def bucketOf(dataDir: String): Option[Long] = {
    def of(name: String): Option[Long] =
      if (name.startsWith("__bucket=")) name.stripPrefix("__bucket=").toLongOption
      else None
    val p = new Path(dataDir)
    of(p.getName).orElse(Option(p.getParent).flatMap(pp => of(pp.getName)))
  }

  /** The parquet data FILES behind a manifest entry — the entry itself
    * when it is a carried file, its part-files when it is a directory.
    * Driver-side metadata listing only.
    */
  private[graft] def parquetFiles(
      conf: org.apache.hadoop.conf.Configuration,
      entry: String): Seq[String] = {
    val p = new Path(entry)
    val f = p.getFileSystem(conf)
    val st = f.getFileStatus(p)
    if (st.isFile) Seq(entry)
    else f.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
  }

  /** Read `entries` (data directories or carried files) applying each
    * entry's OWN deletion vector: a DV'd entry anti-joins against only
    * ITS sidecar's keys; DV-free entries read untouched. None when
    * `entries` is empty.
    *
    * Per-entry masking is the correctness load-bearer, not a style
    * choice: a key deleted from entry A (recorded in A's DV) can be
    * re-inserted by a later bucketed append into entry B, and B can
    * later acquire its own DV for a DIFFERENT key — masking the union
    * of all sidecars over all DV'd entries would hide B's live copy
    * behind A's stale record. Each sidecar describes exactly one
    * entry's hidden rows and must be applied to exactly that entry.
    *
    * Cost: one broadcast anti-join per DV'd entry (sidecars are tiny
    * key lists; entries ≪ files, bounded by the bucket count), unioned
    * map-side — never a shuffle of the data.
    */
  private[graft] def readEntriesMasked(spark: SparkSession,
                                       entries: Seq[String],
                                       dvs: Seq[Dv]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.broadcast
    if (entries.isEmpty) return None
    val dvByEntry = dvs.map(d => d.entry -> d).toMap
    val (dvd, free) = entries.partition(dvByEntry.contains)
    // repeat reads of an entry set skip the footer job (Tables' memo)
    def rd(ds: Seq[String]) =
      if (ds.length > 1) graft.Tables.parquetImmutableMerged(spark, ds)
      else graft.Tables.parquetImmutable(spark, ds.head)
    val maskedEach = dvd.map { e =>
      // a sidecar holds ONE column per bucket-key column (composite keys
      // write several) — the mask joins on all of them
      val ks = graft.Tables.parquetImmutable(spark, dvByEntry(e).path)
      rd(Seq(e)).join(broadcast(ks.distinct()), ks.columns.toSeq,
        "left_anti")
    }
    val freeDf = if (free.isEmpty) None else Some(rd(free))
    (maskedEach ++ freeDf)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  /** The hash bucket each of `values` lands in under the on-disk layout
    * (bucket column(s) `bc`, `nBuckets` buckets, column TYPES read from
    * `sampleEntry`'s footer so the hash input matches what was written),
    * computed with the EXACT on-disk bucketing expression
    * ([[bucketExpr]]) — drift here would silently read/touch the wrong
    * buckets, so it is the same Column expr, not a JVM reimplementation.
    * ALL values go through ONE local job: a 4096-key batch (or a
    * many-group rescan) must not pay one driver-side scheduler
    * round-trip per value. Composite keys pass each value as a Seq of
    * components in `bc` order ([[keyComponents]]); the returned Any is
    * the same shape back.
    */
  private[graft] def bucketsOf(spark: SparkSession, sampleEntry: String,
                               bc: String, nBuckets: Int,
                               values: Seq[Any]): Seq[(Any, Long)] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val cols = splitKeyCols(bc)
    val schema = graft.Tables.parquetImmutable(spark, sampleEntry).schema
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        values.distinct.map(v =>
          org.apache.spark.sql.Row(keyComponents(v): _*)), 1),
      StructType(cols.map(c => StructField(c, schema(c).dataType))))
    df.select(org.apache.spark.sql.functions.struct(
        cols.map(org.apache.spark.sql.functions.col): _*).as("__k"),
        bucketExpr(bc, nBuckets).as("__b"))
      .collect().toSeq.map { r =>
        val k = r.getStruct(0)
        val v: Any = if (cols.length == 1) k.get(0) else k.toSeq
        v -> r.getLong(1)
      }
  }

  /** Schema of a committed version, memoized in [[graft.Tables.Memo]]
    * without a listing token: manifests are immutable and data-directory
    * names token-unique, so (dir, version, dataDirs) identifies the merged
    * schema. Without it every pruned read pays a mergeSchema footer sweep
    * across ALL the version's data dirs just to null-pad evolved columns.
    */
  private def versionSchema(spark: SparkSession, dir: String,
                            m: Manifest): org.apache.spark.sql.types.StructType =
    graft.Tables.Memo.getOrElseUpdate(("version", dir, m.version, m.dataDirs))(
      read(spark, dir, Some(m.version)).schema)

  /** Read only the rows whose `column` value is in `values`, pruning at
    * MANIFEST level when the table is bucketed ON that column: the
    * values' hash buckets are computed driver-side (the applyBatch
    * bucketing expression) and only those buckets' data entries are
    * opened — cost ∝ touched buckets, never table size. Any other layout
    * falls back to a full read with the IN filter pushed to the parquet
    * scan. The semantic filter is applied in BOTH paths, so callers get
    * exactly the selected rows either way. `values` is a driver-side
    * list — callers bound it (the touched-group rescans that motivate
    * this read collect at most the feed's group set). A COMPOSITE
    * bucket key works too: pass the comma-joined column list as
    * `column` and component Seqs as `values` — pruning and the
    * semantic filter both operate on the tuple.
    */
  def readPruned(spark: SparkSession, dir: String, column: String,
                 values: Seq[Any], version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = version.map(v => readManifest(spark, dir, v))
      .getOrElse(manifest(spark, dir))
    // the semantic filter, composite-aware: a comma-joined `column`
    // selects on the key TUPLE (values are component Seqs) — an
    // OR-of-conjunctions, bounded by the caller's value set; a single
    // column keeps the IN form (pushes to the scan as one predicate)
    val kCols = splitKeyCols(column)
    def selPredicate: org.apache.spark.sql.Column =
      if (kCols.length == 1) col(column).isin(values: _*)
      else values.map(v => kCols.zip(keyComponents(v))
          .map { case (c, x) => col(c) === lit(x) }.reduce(_ && _))
        .reduce(_ || _)
    def full = read(spark, dir, version).filter(selPredicate)
    if (values.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        versionSchema(spark, dir, m))
    (m.bucketCol, m.nBuckets) match {
      // dataDirs.nonEmpty guards the fully-emptied table (a forall over
      // an empty list is vacuously true, and bucketsOf needs a sample
      // entry for the key type) — it falls to the full path, whose
      // empty read().limit(0) already handles the no-data case
      case (Some(bc), Some(n)) if bc == column && m.dataDirs.nonEmpty &&
          m.dataDirs.forall(d => bucketOf(d).isDefined) =>
        // all values' bucket ids in ONE local job (bucketsOf — not one
        // spark.range job per value: a many-group rescan would pay that
        // many driver-side scheduler round-trips)
        val ids = bucketsOf(spark, m.dataDirs.head, bc, n, values)
          .map(_._2).toSet
        val dirs = m.dataDirs.filter(d => bucketOf(d).exists(ids.contains))
        if (dirs.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            versionSchema(spark, dir, m))
        else {
          // deletion vectors of the selected entries apply here too (the
          // raw dir read bypasses read()'s masking) — each entry against
          // its OWN sidecar only (see readEntriesMasked)
          val masked = readEntriesMasked(spark, dirs, m.dvs).get
          // schema-evolution parity with the full read: an evolved column
          // absent from every touched bucket's files still reads as null
          val padded = versionSchema(spark, dir, m).fields
            .foldLeft(masked)((acc, f) =>
              if (acc.columns.contains(f.name)) acc
              else acc.withColumn(f.name,
                org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
          padded.filter(selPredicate)
        }
      case _ => full
    }
  }

  /** Delete rows by key WITHOUT rewriting any data file — the deletion-
    * vector commit, the granularity rung under sub-bucket file-level
    * replace: a 1-row delete previously rewrote one ~128 MB file; now it
    * writes a key-list sidecar (O(batch) bytes) and a manifest. Per
    * touched entry (bucket-pruned, then footer-pruned like the CDC
    * apply), the keys PRESENT in it (one narrow key-column scan of the
    * touched entries only) fold with any prior DV into a fresh sidecar
    * under `data/dv<v>-<token>/`; the commit keeps every data entry
    * by reference and records the sidecars in the manifest. Readers
    * anti-join them ([[read]]); the next rewrite of an entry
    * materializes and drops its DV; [[compactCommit]] folds them all
    * away. Requires the bucketed layout (the key IS the bucket column).
    * Keys absent from the table are no-ops (the commit still lands, so
    * a CDC epoch fence advances). Returns the committed version.
    *
    * Concurrency: the same optimistic rule as replace commits — the
    * touched entries must still be referenced and their buckets
    * untouched by interleaved commits — plus a DV-specific check: a
    * concurrent DV landed on a touched entry conflicts (folding from a
    * stale base would silently drop its keys).
    */
  def deleteKeys(spark: SparkSession, dir: String, keys: Seq[Any],
                 epochId: Option[Long] = None,
                 appId: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "deleteKeys: empty key set")
    val base = manifest(spark, dir)
    val (bc, n) = bucketLayout(base).getOrElse(throw new IllegalStateException(
      s"deletion vectors need the bucketed layout at $dir (bucketCol + " +
        "per-bucket dirs, installed by the CDC apply path) — use a " +
        "snapshot commit to delete from an unbucketed table"))
    val conf = graft.Tables.hadoopConf(spark)
    // all bucket ids in ONE local job (not one per key — a 4096-key
    // CDC delete batch would otherwise pay 4096 driver-side jobs), with
    // the EXACT on-disk bucketing expression (bucketsOf). Lazy: a fully
    // emptied table has no entry to sample the key type from, and
    // nothing to touch — its no-op delete still commits, so a CDC epoch
    // fence advances
    lazy val byBucket: Map[Long, Seq[Any]] =
      bucketsOf(spark, base.dataDirs.head, bc, n, keys)
        .groupMap(_._2)(_._1)
    val dvByEntry = base.dvs.map(d => d.entry -> d).toMap
    // touched = entries that MAY hold a key (footer-pruned); an entry
    // whose files all prove key-free keeps its prior DV untouched
    val touched = base.dataDirs.flatMap { e =>
      bucketOf(e).flatMap(byBucket.get).flatMap { ks =>
        val mayHold = parquetFiles(conf, e)
          .exists(p => fileMayContain(conf, p, bc, ks))
        if (mayHold) Some(e -> ks) else None
      }
    }
    val dvRoot = f"$dir/data/dv${base.version + 1}%05d-${newToken()}"
    val kCols = splitKeyCols(bc)
    val newDvs = touched.zipWithIndex.flatMap { case ((e, ks), i) =>
      val prior = dvByEntry.get(e)
      val eSchema = graft.Tables.parquetImmutable(spark, e).schema
      val ksDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          ks.map(k => org.apache.spark.sql.Row(keyComponents(k): _*)), 1),
        org.apache.spark.sql.types.StructType(kCols.map(c =>
          org.apache.spark.sql.types.StructField(c, eSchema(c).dataType))))
      val priorKeys = prior.map(d => graft.Tables.parquetImmutable(spark, d.path))
      // rows newly hidden: present in the entry, named by this batch,
      // not already deleted — a narrow key-column scan of ONE entry
      var present = graft.Tables.parquetImmutable(spark, e).select(kCols.map(col): _*)
        .join(ksDf, kCols, "left_semi")
      priorKeys.foreach(pk => present =
        present.join(pk, kCols, "left_anti"))
      val nNew = present.count()
      if (nNew == 0 && prior.isEmpty) None
      else if (nNew == 0) prior // nothing new: keep the prior DV record
      else {
        val path = s"$dvRoot/e$i"
        val folded = priorKeys
          .map(_.unionByName(present.distinct()).distinct())
          .getOrElse(present.distinct())
        graft.Tables.writer(folded.coalesce(1)).parquet(path)
        Some(Dv(e, path, prior.map(_.n).getOrElse(0L) + nNew))
      }
    }
    val nRemoved = newDvs.map(_.n).sum -
      touched.flatMap { case (e, _) => dvByEntry.get(e) }.map(_.n).sum
    val touchedSet = touched.map(_._1).toSet
    val touchedBuckets = touchedSet.flatMap(bucketOf)
    publishNext(spark, dir, "deletion-vector commit") { parent =>
      val p = parent.get // base exists, so every later version has a parent
      // a concurrent DV landing on a touched entry conflicts through
      // retryConflict's own DV-delta clause (folding from a stale base
      // would silently drop the other writer's keys) — one formulation,
      // shared with every replace commit
      retryConflict(Some(base), p, touchedSet, touchedBuckets, Some(bc),
        Some(n)).toLeft(Manifest(0, p.dataDirs, p.nRows - nRemoved, epochId,
        appId, Some(bc), Some(n),
        p.dvs.filterNot(d => touchedSet.contains(d.entry)) ++ newDvs))
    }
  }

  /** Lexicographic comparison of byte arrays as UNSIGNED bytes — the
    * ordering parquet defines for BINARY/UTF8 column statistics.
    */
  private[graft] def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Whether one key COMPONENT may sit inside a row group's min/max
    * statistics for its column. Conservative: absent statistics or an
    * unsupported (value type, stats type) pairing counts as a hit; an
    * all-null row group is proven component-free (keys are non-null).
    */
  private def statsMayContain(
      st: org.apache.parquet.column.statistics.Statistics[_],
      v: Any): Boolean = {
    if (st == null || st.isEmpty) true
    else if (!st.hasNonNullValue) false
    else (st, v) match {
      case (s: org.apache.parquet.column.statistics.LongStatistics,
            x: Long) => x >= s.getMin && x <= s.getMax
      case (s: org.apache.parquet.column.statistics.IntStatistics,
            x: Int) => x >= s.getMin && x <= s.getMax
      case (s: org.apache.parquet.column.statistics.BinaryStatistics,
            x: String) =>
        // Parquet string min/max are UTF-8 bytes ordered as UNSIGNED
        // byte sequences. Comparing decoded java.lang.Strings instead
        // ranks by UTF-16 code unit, and the two orders diverge for
        // supplementary-plane characters (surrogates 0xD800+ sort below
        // 0xE000+ in UTF-16 but their UTF-8 encodings 0xF0… sort ABOVE
        // 0xE…) — a file CONTAINING the key could be pruned, i.e.
        // silent row loss. Compare in the stats' own domain: unsigned
        // UTF-8 bytes.
        val kb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        unsignedCompare(kb, s.genericGetMin.getBytes) >= 0 &&
          unsignedCompare(kb, s.genericGetMax.getBytes) <= 0
      case _ => true
    }
  }

  /** Whether a parquet file MAY contain any of `keys` in the bucket
    * column(s) `key` (comma-joined for composite keys; composite values
    * are component Seqs in the same order), decided from footer
    * row-group min/max statistics ONLY — no data pages are read. A
    * composite key may be present only when EVERY component sits inside
    * its own column's range in the SAME row group. Conservative: a
    * missing column or unsupported stats pairing counts as a hit, so
    * pruning can only ever SKIP files proven key-free.
    */
  private[graft] def fileMayContain(
      conf: org.apache.hadoop.conf.Configuration,
      file: String, key: String, keys: Seq[Any]): Boolean = {
    import scala.jdk.CollectionConverters._
    val cols = splitKeyCols(key)
    val rd = graft.Tables.openParquet(conf,
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file), conf))
    try {
      rd.getFooter.getBlocks.asScala.exists { blk =>
        val byCol = blk.getColumns.asScala
          .map(c => c.getPath.toDotString -> c).toMap
        keys.exists { k =>
          cols.zip(keyComponents(k)).forall { case (c, v) =>
            byCol.get(c) match {
              case None => true
              case Some(cc) => statsMayContain(cc.getStatistics, v)
            }
          }
        }
      }
    } finally rd.close()
  }

  /** Read the table at `asOf` (default: latest committed version).
    * Schema EVOLVES across an append chain: a version whose manifest
    * references directories written with different (compatible) schemas
    * reads as their merged schema, with absent columns null-filled for
    * the older rows — so `commit(df.withColumn(...), dir, append=true)`
    * widens the table without rewriting history, and time travel to a
    * pre-widening version still returns exactly that version's schema
    * (its manifest references only the old directories).
    */
  def read(spark: SparkSession, dir: String, asOf: Option[Int] = None): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed versions at $dir")
    val v = asOf.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in ${vs.mkString(",")}")
    val m = readManifest(spark, dir, v)
    if (m.dataDirs.isEmpty) {
      // a table fully emptied by deletes commits a version with NO data
      // directories; its schema is the nearest schema-bearing ancestor's
      val anc = vs.filter(_ < v).reverseIterator
        .map(readManifest(spark, dir, _)).find(_.dataDirs.nonEmpty)
        .getOrElse(throw new IllegalStateException(
          s"version $v of $dir is empty and no retained ancestor carries " +
            "a schema — cannot construct an empty DataFrame"))
      return graft.Tables.parquetImmutableMerged(spark, anc.dataDirs).limit(0)
    }
    // mergeSchema only matters (and only costs footer reads) with >1 dir
    if (m.dvs.isEmpty) {
      if (m.dataDirs.length > 1)
        graft.Tables.parquetImmutableMerged(spark, m.dataDirs)
      else graft.Tables.parquetImmutable(spark, m.dataDirs.head)
    } else
      // deletion vectors: each DV'd entry anti-joins against ITS OWN
      // sidecar's keys only (readEntriesMasked) — a union mask across
      // entries would hide a key deleted from one entry but live in
      // another (deleted, then re-inserted by a bucketed append)
      readEntriesMasked(spark, m.dataDirs, m.dvs).get
  }

  /** Row-level diff between two committed versions — time travel composed
    * with the §2f snapshot-diff operator: what changed between v1 and v2,
    * straight off the commit log.
    */
  def diff(spark: SparkSession, dir: String, v1: Int, v2: Int, key: String,
           valueCols: Seq[String]): DataFrame =
    graft.operators.Lakehouse.rowDiff(
      read(spark, dir, Some(v1)), read(spark, dir, Some(v2)), key, valueCols)

  /** CHANGE DATA FEED: the row-level changes committed in versions
    * `(fromV, toV]`, computed from each commit's manifest delta ONLY —
    * the dirs it removed hold the pre-images, the dirs it added hold the
    * post-images, and every carried directory is never opened. This is
    * Delta's `table_changes`: per key one of
    *   `insert` / `delete` / `update_preimage` / `update_postimage`
    * in `_change_type`, tagged with the `_commit_version` that produced
    * it — so any downstream consumer can SUBSCRIBE to a table (the
    * incremental-MV merge, a replication stream) instead of receiving
    * partial states out of band or re-diffing two full snapshots
    * ([[diff]] scans both versions; this scans touched buckets).
    *
    * A key the commit rewrote with IDENTICAL values (bucket-granular
    * replace commits carry every unchanged key of a touched bucket
    * through the new dir) is suppressed by a null-safe value compare —
    * the feed reports logical changes, not physical rewrites.
    *
    * Cost: per commit ∝ its replaced+added dirs (for CDC commits, the
    * touched buckets). A SNAPSHOT commit replaces every dir, so its feed
    * entry degrades to a full two-version diff — correct, and the honest
    * cost of a full rewrite. Consumers applying the feed must process
    * commits in `_commit_version` order (a key can change several times
    * in the span); purely ADDITIVE consumers (count/sum algebras) may
    * fold the whole span at once — intermediate post-images cancel the
    * next commit's pre-images exactly.
    *
    * Requires every manifest in `(fromV, toV]` retained (vacuum
    * `keepVersions` bounds the subscription window, like Delta's CDF
    * retention) and a key-unique table (CDC-maintained tables are; a
    * plain append duplicating a live key reports an `insert`, faithfully
    * describing the duplicate row it created).
    */
  def changes(spark: SparkSession, dir: String, fromV: Int, toV: Int,
              key: String, valueCols: Seq[String] = Seq.empty): DataFrame =
    changesKeyed(spark, dir, fromV, toV, Seq(key), valueCols)

  /** [[changes]] generalized to a COMPOSITE key: the pre/post-image merge
    * joins on all `keys` (full-outer with using-columns, so each key
    * column coalesces across the two sides). Row-uniqueness must hold on
    * the key TUPLE; everything else — manifest-delta-only reads, carried
    * dirs never opened, identical-rewrite suppression — is unchanged.
    */
  def changesKeyed(spark: SparkSession, dir: String, fromV: Int, toV: Int,
                   keys: Seq[String],
                   valueCols: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    require(keys.nonEmpty, "change feed needs at least one key column")
    val vs = versions(spark, dir)
    require(vs.contains(fromV) || fromV == 0,
      s"version $fromV not committed at $dir (vacuumed?) — widen vacuum " +
        "retention to cover the subscription window")
    require(vs.contains(toV), s"version $toV not committed at $dir")
    require(fromV <= toV, s"empty feed window ($fromV > $toV)")
    val vcols =
      if (valueCols.nonEmpty) valueCols
      else read(spark, dir, Some(toV)).columns.filterNot(keys.contains).toSeq
    def emptyFeed = read(spark, dir, Some(toV))
      .select((keys.map(col) ++ vcols.map(col)): _*).limit(0)
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_version", lit(0))
    val perCommit = ((fromV + 1) to toV).flatMap { v =>
      require(vs.contains(v),
        s"manifest v$v of $dir is gone (vacuumed?) — the change feed " +
          s"needs every commit in ($fromV, $toV]; widen vacuum retention " +
          "to cover the subscription window")
      val m0 = if (v - 1 == 0) Manifest(0, Seq.empty, 0L)
               else readManifest(spark, dir, v - 1)
      val m1 = readManifest(spark, dir, v)
      val removed = m0.dataDirs.filterNot(m1.dataDirs.toSet)
      val added = m1.dataDirs.filterNot(m0.dataDirs.toSet)
      // deletion-vector delta: entries carried across the commit whose
      // DV grew — the newly-listed keys are this commit's deletes, read
      // as pre-images from the entry itself (cost ∝ that entry, the DV
      // commit's own footprint)
      val dv0 = m0.dvs.map(d => d.entry -> d).toMap
      val dv1 = m1.dvs.map(d => d.entry -> d).toMap
      val dvGrown = m1.dvs.filter(d =>
        m0.dataDirs.contains(d.entry) && m1.dataDirs.contains(d.entry) &&
          !dv0.get(d.entry).contains(d))
      if (removed.isEmpty && added.isEmpty && dvGrown.isEmpty) None
      else {
        // schema evolution: a side missing an evolved column reads it as
        // null, exactly like the table read would
        def withCols(d: DataFrame): DataFrame =
          vcols.foldLeft(d)((acc, c) =>
            if (acc.columns.contains(c)) acc
            else acc.withColumn(c, lit(null)))
        // each side reads through ITS version's deletion vectors, so a
        // rewrite that materializes a DV away suppresses exactly (the
        // deleted rows are invisible on both sides). Each entry masks
        // against its OWN sidecar only (readEntriesMasked) — a key
        // deleted from one entry and re-inserted by a later append
        // lives in another entry, whose image must survive even once
        // that entry carries a DV for a different key
        def mask(dirs: Seq[String], dvs: Map[String, Dv]): Option[DataFrame] =
          readEntriesMasked(spark, dirs, dvs.values.toSeq)
        val imgJoin: Option[DataFrame] =
          if (removed.isEmpty && added.isEmpty) None
          else {
            val beforeRaw = mask(removed, dv0)
            val afterRaw = mask(added, dv1)
            // an absent side (pure append: nothing removed; pure delete
            // that emptied its buckets: nothing added) is an empty LOCAL
            // relation with the other side's schema — NOT a limit(0) over
            // the full version, which would drag every live file into the
            // plan's listing and break the "reads only this commit's
            // delta" bound
            def empty(like: DataFrame) = spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              like.schema)
            val schemaSrc = afterRaw.orElse(beforeRaw).get
            val before = withCols(beforeRaw.getOrElse(empty(schemaSrc)))
            val after = withCols(afterRaw.getOrElse(empty(schemaSrc)))
            val a = before.select(keys.map(col) ++
              vcols.map(c => col(c).as(s"a_$c")) :+ lit(1).as("__a"): _*)
            val b = after.select(keys.map(col) ++
              vcols.map(c => col(c).as(s"b_$c")) :+ lit(1).as("__b"): _*)
            val j = a.join(b, keys, "full_outer")
            val changed = vcols.map(c => !(col(s"a_$c") <=> col(s"b_$c")))
              .reduce(_ || _)
            // ONE pass over the join: each joined row yields up to two
            // images (pre + post) through an array-explode, so the touched
            // dirs are scanned once, not once per image side
            val pre = when(col("__a").isNotNull &&
                (col("__b").isNull || changed),
              struct(vcols.map(c => col(s"a_$c").as(c)) :+
                when(col("__b").isNull, lit("delete"))
                  .otherwise(lit("update_preimage")).as("_change_type"): _*))
            val post = when(col("__b").isNotNull &&
                (col("__a").isNull || changed),
              struct(vcols.map(c => col(s"b_$c").as(c)) :+
                when(col("__a").isNull, lit("insert"))
                  .otherwise(lit("update_postimage")).as("_change_type"): _*))
            Some(j.select(keys.map(col) :+
                explode(array(pre, post)).as("__img"): _*)
              .filter(col("__img").isNotNull)
              .select(keys.map(col) ++
                vcols.map(c => col(s"__img.$c").as(c)) :+
                col("__img._change_type").as("_change_type"): _*)
              .withColumn("_commit_version", lit(v)))
          }
        val dvImages: Option[DataFrame] = dvGrown.map { d =>
          // sidecars carry one column per bucket-key column — the delta
          // and the pre-image probe join on all of them
          val newKeys = {
            val k1 = graft.Tables.parquetImmutable(spark, d.path)
            dv0.get(d.entry) match {
              case Some(p) => k1.join(graft.Tables.parquetImmutable(spark, p.path),
                k1.columns.toSeq, "left_anti")
              case None => k1
            }
          }
          withCols(graft.Tables.parquetImmutable(spark, d.entry))
            .join(org.apache.spark.sql.functions.broadcast(
              newKeys.distinct()), newKeys.columns.toSeq, "left_semi")
            .select(keys.map(col) ++ vcols.map(col): _*)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_version", lit(v))
        }.reduceOption(_.unionByName(_))
        (imgJoin, dvImages) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }
      }
    }
    if (perCommit.isEmpty) emptyFeed
    else perCommit.reduce(_.unionByName(_))
  }

  /** Fold an append chain back into one directory: commits the current
    * contents as a replace of every directory of the latest version, after
    * which `vacuum` can reclaim the fragment directories once older
    * versions age out of retention. The versioned-table answer to
    * small-files buildup from per-batch appends (Export.compact's job,
    * done as a commit instead of an in-place rewrite).
    */
  def compactCommit(spark: SparkSession, dir: String,
                    targetBytes: Long = 256L << 20): Int = {
    val m = manifest(spark, dir)
    val layout = for (bc <- m.bucketCol; n <- m.nBuckets) yield (bc, n)
    val rows = layout match {
      // a bucketed table compacts INTO its bucket layout (one fresh dir
      // per bucket) so subsequent replace commits keep their file-level
      // granularity — folding to a single plain dir would force the next
      // CDC batch through a full re-bucketing migration
      case Some(_) => read(spark, dir)
      case None =>
        // each entry through its own FileSystem: a table written through
        // one scheme and compacted through another records both forms
        val conf = graft.Tables.hadoopConf(spark)
        val bytes = m.dataDirs.map { d =>
          val p = new Path(d)
          val f = p.getFileSystem(conf)
          if (f.exists(p)) f.getContentSummary(p).getLength else 0L
        }.sum
        read(spark, dir).repartition(
          math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong).toInt)
    }
    val (newDirs, newRows) = writeData(rows, dir, layout)
    // a replace of every dir of version m, not a snapshot: a commit that
    // lands between the manifest read and the publish (an append) must
    // conflict, not drop out of the latest version
    commitDirs(spark, dir, newDirs, newRows, m.dataDirs.toSet, m.nRows,
      bucketCol = layout.map(_._1), nBuckets = layout.map(_._2),
      baseVersion = Some(m.version))
  }

  /** Drop data directories referenced by NO retained manifest and delete
    * manifests older than the newest `keepVersions`. Returns the deleted
    * data directories. Never touches directories the surviving versions
    * read, so time travel within the retention window stays intact.
    *
    * `graceMs` keys on the SUPERSESSION time, not the victim's mtime
    * (Delta's tombstone timestamps): an unreferenced directory gets a
    * tombstone marker the first time a vacuum observes it unreferenced,
    * and is only deleted once that tombstone is older than `graceMs` —
    * so the module contract "a reader that resolved version v keeps
    * reading v" holds for at least `graceMs` after v ages out of
    * retention. Keying on the directory's own mtime (the pre-r8 rule)
    * deleted an 8-day-old data dir seconds after a compact+vacuum
    * superseded it, tearing exactly the long-running reader the grace
    * exists for. The tombstone also fences the in-flight-commit race:
    * a data dir written before its manifest publish is unreferenced but
    * survives until a whole grace period has passed with it STILL
    * unreferenced (and its tombstone is cleared if the commit lands).
    * The default (7 days, Delta parity) makes vacuum safe against any
    * writer or reader that finishes in under a week; pass 0 only when no
    * concurrent writer or reader can exist (single-process CLI, tests).
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 1,
             graceMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    val windowKeep = vs.takeRight(math.max(1, keepVersions))
    // a fully-emptied table commits versions with NO data directories;
    // read() reconstructs their schema from the nearest schema-bearing
    // ancestor — so when every retained manifest is empty, that ancestor
    // manifest AND its data dirs must survive the vacuum, or the table
    // (and the CDC stream's empty-batch path through read().limit(0))
    // wedges permanently on "no retained ancestor carries a schema"
    val schemaAnchor =
      // zero committed versions (a janitorial vacuum racing the table's
      // FIRST in-flight commit): nothing to anchor — fall through to the
      // grace-fenced sweep, which tombstones the in-flight data dir and
      // only deletes it after a full grace period still unreferenced
      if (windowKeep.isEmpty ||
          windowKeep.exists(v => readManifest(spark, dir, v).dataDirs.nonEmpty))
        None
      else vs.filter(_ < windowKeep.min).reverseIterator
        .find(v => readManifest(spark, dir, v).dataDirs.nonEmpty)
    val keep = schemaAnchor.toSeq ++ windowKeep
    // deletion-vector sidecars live under data/ too — referenced while
    // any retained manifest lists them, swept by the same grace fence
    val referenced = keep.flatMap { v =>
      val m = readManifest(spark, dir, v)
      m.dataDirs ++ m.dvs.map(_.path)
    }
    vs.filterNot(keep.contains).foreach(v => f.delete(manifestPath(dir, v), false))
    val dataRoot = new Path(s"$dir/data")
    if (!f.exists(dataRoot)) return Seq.empty
    // a manifest may reference a NESTED dir (bucketed replace commits
    // write data/vX-tok/__bucket=N): a top-level dir is live when any
    // referenced path is at or under it. QUALIFY both sides before
    // comparing: writeBucketed records what listStatus returned —
    // FileSystem-qualified paths ("file:/…") — while `dir` is whatever
    // the caller passed; comparing raw strings made every bucketed
    // table's live dirs look unreferenced (topName fell through to the
    // nested "__bucket=N" name) and vacuum deleted the current version's
    // data out from under its manifest. Each entry qualifies through its
    // own FileSystem and compares without scheme and authority: a table
    // written through one scheme and vacuumed through another over the
    // same storage holds entries the other's FileSystem rejects
    val conf = graft.Tables.hadoopConf(spark)
    def bare(p: Path): String =
      Path.getPathWithoutSchemeAndAuthority(p.getFileSystem(conf).makeQualified(p)).toString
    val qualDataRoot = bare(dataRoot).stripSuffix("/") + "/"
    def topName(r: String): String = {
      val q = bare(new Path(r))
      if (q.startsWith(qualDataRoot)) q.stripPrefix(qualDataRoot).split("/")(0)
      else new Path(r).getName
    }
    val liveTop = referenced.map(topName).toSet
    val tombRoot = new Path(s"$dir/_commits/_tombstones")
    val now = System.currentTimeMillis()
    f.listStatus(dataRoot).toSeq.sortBy(_.getPath.getName).flatMap { st =>
      val name = st.getPath.getName
      val tomb = new Path(tombRoot, name)
      if (liveTop.contains(name)) {
        // referenced again (an in-flight commit published after a vacuum
        // tombstoned its dir): the tombstone is stale — clear it
        if (f.exists(tomb)) f.delete(tomb, false)
        None
      } else if (graceMs <= 0L) {
        f.delete(st.getPath, true)
        f.delete(tomb, false)
        Some(st.getPath.toString)
      } else if (!f.exists(tomb)) {
        // first observation unreferenced: start the supersession clock
        f.mkdirs(tombRoot)
        f.create(tomb, true).close()
        None
      } else if (f.getFileStatus(tomb).getModificationTime <= now - graceMs) {
        f.delete(st.getPath, true)
        f.delete(tomb, false)
        Some(st.getPath.toString)
      } else None
    }
  }
}
