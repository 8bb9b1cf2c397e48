package graft.index

import graft.Tables
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The standing-index lifecycle every index family shares (counts,
  * postings, MinHash, SimHash, IVF, PQ and every cached corpus
  * derivation): the content key, the stamped two-phase build, append
  * growth from a predecessor, vacuum, and — for a STREAMING-MAINTAINED
  * root — the `<sub>` base + `<sub>_m/batch=<lineage>_<id>` parts read
  * view, `_ids` fences and part publish. Family-specific pieces are
  * arguments, so a protocol fix lands in every family at once.
  */
object StandingIndex {

  /** Whether directory `p` exists with at least one entry — with
    * `visible`, at least one NON-DOT entry, so an unpublished `.build_*`
    * temp alone never makes a maintained side look present. THE
    * directory probe every standing-index read view shares (returns
    * Some(p) for chaining into parquet reads); previously copied
    * verbatim at six sites, where a fix to one could silently miss the
    * others.
    */
  private[graft] def existingIndexDir(conf: Configuration, p: String,
                                      visible: Boolean = false): Option[String] = {
    val hp = new Path(p)
    val f = hp.getFileSystem(conf)
    if (f.exists(hp) && f.listStatus(hp).exists(st => !visible ||
        !st.getPath.getName.startsWith("."))) Some(p)
    else None
  }

  /** [[existingIndexDir]] additionally requiring Spark's job-commit
    * `_SUCCESS` marker — the probe for SEEDED bases written by a direct
    * overwrite (Export.flush has no two-phase publish): a driver killed
    * during job commit can leave committed part files WITHOUT the
    * marker, and serving them would silently return partial rows
    * forever (the hazard publishIndexDir's protocol exists for). An
    * unmarked dir reads as absent — re-seed to repair. Maintained sides
    * keep the plain probe: their parts publish atomically with their
    * own markers.
    */
  private[graft] def existingSeededDir(conf: Configuration,
                                       p: String): Option[String] = {
    val hp = new Path(p)
    if (hp.getFileSystem(conf).exists(new Path(hp, "_SUCCESS"))) Some(p)
    else None
  }

  /** The seeded base (`root/<sub>`, [[existingSeededDir]]) and the
    * published maintained parts (`root/<sub>_m`, non-dot entries only)
    * of a maintained root, each projected to `cols`. Parts are complete
    * by atomic publish, so no read needs a fence.
    */
  private[graft] def maintainedParts(s: SparkSession, root: String,
                                     sub: String, cols: Seq[String])
      : (Option[DataFrame], Option[DataFrame]) = {
    val conf = Tables.hadoopConf(s)
    def read(p: String) = s.read.parquet(p).select(cols.map(col): _*)
    (existingSeededDir(conf, s"$root/$sub").map(read),
      existingIndexDir(conf, s"$root/${sub}_m", visible = true).map(read))
  }

  /** [[maintainedParts]] as one union; None when neither side exists. */
  private[graft] def maintainedRows(s: SparkSession, root: String,
                                    sub: String, cols: Seq[String])
      : Option[DataFrame] = {
    val (base, maintained) = maintainedParts(s, root, sub, cols)
    (base ++ maintained).reduceOption(_.unionByName(_))
  }

  /** The PUBLISHED `batch=*` part dirs of a maintained side, enumerated
    * by name — NOT a glob over the `_ids` sidecars: Hadoop globs match
    * dot-named entries, so a glob would also read a crashed attempt's
    * unpublished `.build_*` temp (whose rows never landed), fence its
    * docs out, and silently lose their rows forever.
    */
  private[graft] def publishedBatches(fs: FileSystem, mRoot: Path): Seq[Path] =
    if (!fs.exists(mRoot)) Seq.empty
    else fs.listStatus(mRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath)

  /** The `_ids` fence sidecars of published parts. */
  private[graft] def fenceIdPaths(fs: FileSystem, batches: Seq[Path]): Seq[String] =
    batches.map(new Path(_, "_ids")).filter(fs.exists(_)).map(_.toString)

  /** Publish one maintained part at `mRoot/batch=<key>`: its `tables`
    * (name → rows; the name "" puts the rows at the part root, a named
    * table in its own subdir) and its `_ids` sidecar land in a dot-named
    * temp, then ONE atomic move — so `_ids` membership alone proves every
    * table landed. Refuses before any write where the move cannot be made
    * ([[graft.Publish.checkPut]]).
    */
  private[graft] def publishPart(mRoot: String, key: String,
                                 tables: Seq[(String, DataFrame)],
                                 ids: DataFrame): Unit = {
    val fs = new Path(mRoot)
      .getFileSystem(Tables.hadoopConf(ids.sparkSession))
    val root = new Path(s"$mRoot/batch=$key")
    graft.Publish.checkPut(ids.sparkSession, fs, root)
    val tmp = s"$mRoot/.build_${key}_${java.util.UUID.randomUUID.toString.take(8)}"
    tables.foreach { case (name, rows) =>
      Tables.writer(rows).parquet(if (name.isEmpty) tmp else s"$tmp/$name")
    }
    Tables.writer(ids).parquet(s"$tmp/_ids")
    publishIndexDir(ids.sparkSession, fs, new Path(tmp), root,
      marker = "_ids/_SUCCESS"): Unit
  }

  /** Compaction's fence carry: every published part's `_ids` under
    * `root/<sub>_m` fold into one zero-row part (schema of `schema`)
    * under `newRoot/<sub>_m`, so the fresh root still drops re-fed docs.
    */
  private[graft] def carryFence(s: SparkSession, root: String, newRoot: String,
                                sub: String, schema: DataFrame): Unit = {
    val mRoot = new Path(s"$root/${sub}_m")
    val fs = mRoot.getFileSystem(Tables.hadoopConf(s))
    val idPaths = fenceIdPaths(fs, publishedBatches(fs, mRoot))
    if (idPaths.nonEmpty)
      publishPart(s"$newRoot/${sub}_m",
        s"compact_${java.util.UUID.randomUUID.toString.take(8)}",
        Seq("" -> schema.limit(0)),
        s.read.parquet(idPaths: _*).select("doc_id").distinct())
  }

  /** Janitor of a maintained root: sweeps the `.build_*` temps a killed
    * maintainer leaked under every `root/<sub>_m` side
    * ([[sweepBuildTemps]]).
    */
  def vacuumMaintained(s: SparkSession, root: String,
                       graceMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(Tables.hadoopConf(s))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.endsWith("_m"))
      .flatMap(st => sweepBuildTemps(fs, st.getPath, graceMs))
  }

  /** THE content key: `<idxRoot>/graft_<tag>_<md5>` over the corpus stamp
    * (its path plus every data file's name:length:mtime, [[corpusFiles]])
    * and `params` — a regenerated corpus, even with the same row count,
    * never reads a stale index.
    */
  private def contentDir(idxRoot: String, tag: String, corpus: String,
                         entries: Seq[(String, String)], params: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$corpus|${entries.map(_._2).mkString("|")}|$params"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"$idxRoot/graft_${tag}_$key"
  }

  /** The corpus's DATA files as (full path, "name:length:mtime") entries,
    * name-sorted. Metadata files (`_SUCCESS`, `.crc`, …) are excluded: an
    * append-mode write rewrites them without changing any data, and
    * including them would turn every pure append into a full-rebuild
    * stamp miss.
    */
  private[graft] def corpusFiles(s: SparkSession, dir: String,
                                 table: String): Seq[(String, String)] = {
    val corpus = Tables.path(dir, table)
    val conf = Tables.hadoopConf(s)
    val p = new Path(corpus)
    val fs = p.getFileSystem(conf)
    val sts =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }.sortBy(_.getPath.getName)
      else Array(fs.getFileStatus(p))
    sts.iterator.map(st => (st.getPath.toString,
      s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")).toSeq
  }

  /** The STAMPED BUILD every standing-index family runs. Skips when the
    * content-keyed root ([[contentDir]]) holds `marker` — the
    * root-relative path proving a complete publish, nested for the
    * multi-table indexes (e.g. "lists/_SUCCESS"). Else builds into a
    * dot-named temp under the index root (invisible to predecessor
    * detection, vacuum and Spark's listings): `grow(tmp, predRoot,
    * newFilePaths)` from the [[predecessorIndex]] plus only the corpus
    * files it does not cover when the family can grow and one exists,
    * `cold(tmp)` otherwise; writes the stamp LAST ([[writeStampFile]]);
    * then atomically moves the temp to the root ([[publishIndexDir]]).
    * Two drivers sharing an index root race only that move — the loser
    * reads the winner's equivalent (same-keyed) index. Where the root
    * cannot be published ([[graft.Publish.checkPut]]) it refuses before
    * the build. Returns the root. Callers hold their own monitor around it.
    */
  private[graft] def stampedBuild(s: SparkSession, dir: String, tag: String,
                                  table: String, params: String,
                                  marker: String = "_SUCCESS")(
                                  cold: String => Unit,
                                  grow: Option[(String, String, Seq[String]) => Unit])
      : String = {
    val corpus = Tables.path(dir, table)
    val entries = corpusFiles(s, dir, table)
    val idxRoot = Tables.indexRoot(s, dir)
    val root = contentDir(idxRoot, tag, corpus, entries, params)
    val fs = new Path(root).getFileSystem(Tables.hadoopConf(s))
    if (!fs.exists(new Path(s"$root/$marker"))) {
      graft.Publish.checkPut(s, fs, new Path(root))
      val pred = grow.flatMap(_ => predecessorIndex(fs, idxRoot, tag, corpus,
        table, params, entries.map(_._2).toSet, marker))
      val tmp = s"$idxRoot/.build_${new Path(root).getName.stripPrefix("graft_")}_" +
        java.util.UUID.randomUUID.toString.take(8)
      Tables.indexWrite(idxRoot) {
        (pred, grow) match {
          case (Some((predRoot, predEntries)), Some(g)) =>
            g(tmp, predRoot, entries.collect {
              case (p, e) if !predEntries.contains(e) => p })
          case _ => cold(tmp)
        }
        writeStampFile(fs, tmp, corpus, table, params, entries.map(_._2))
        publishIndexDir(s, fs, new Path(tmp), new Path(root), marker): Unit
      }
    }
    root
  }

  /** Build-once/probe-many materialization of a deterministic corpus
    * derivation: builds into a parquet table under [[Tables.indexRoot]]
    * (shared storage on a cluster; tmpdir only in single-JVM local mode)
    * on first use, then every caller reads the table. The cache key covers
    * the corpus path,
    * every data file's (name, length, mtime), and `params`, so a
    * regenerated corpus — even one with the same row count — never reads
    * a stale table.
    *
    * INCREMENTAL REFRESH on corpus append: when `incr` is given and the
    * corpus has only GROWN since an earlier build (every file of some
    * prior index's recorded stamp still present byte-identically, new
    * files added — the ingestion-append shape), the new index is derived
    * from that predecessor plus ONLY the new files:
    * `incr(predecessorIndex, newDocs)`. Appending one file to a 100 TB
    * corpus then costs index-merge + new-file work instead of a full
    * corpus re-derivation — the all-or-nothing rebuild was this ladder's
    * last 100 TB cost cliff. Each index directory stays IMMUTABLE
    * (content-keyed name, `_SUCCESS` publish marker), so concurrent
    * readers of the old index are never torn by a refresh; the stamp
    * sidecar (`_GRAFT_STAMP`) records which corpus files a directory
    * covers, and predecessor detection is a metadata-only listing. Any
    * in-place file change or removal fails the subset check and falls
    * back to a cold build — correctness never depends on `incr`.
    */
  private[graft] def cachedCorpusTable(s: SparkSession, dir: String, tag: String,
                                params: String, table: String = "documents",
                                incr: (DataFrame, DataFrame) => DataFrame = null)(
                                build: => DataFrame): DataFrame =
    synchronized {
      val root = stampedBuild(s, dir, tag, table, params)(
        cold = tmp => graft.sources.Export.flush(build, tmp),
        grow = Option(incr).map(f => (tmp, predRoot, newPaths) =>
          graft.sources.Export.flush(f(s.read.parquet(predRoot),
            Tables.spread(s.read.parquet(newPaths: _*))), tmp)))
      Tables.parquetImmutable(s, root)
    }

  /** Publish a fully-built index directory at its content-keyed root
    * ([[graft.Publish.putDir]]). True when this builder WON; false when a
    * concurrent builder published first (the caller reads the winner's
    * equivalent, same-keyed table). A real winner always moves a complete
    * dir, marker included, into place atomically, so an occupant WITHOUT
    * the marker is garbage (e.g. a pre-two-phase crashed direct flush
    * that parquet would serve PARTIAL rows from forever). It is evicted
    * by RENAME-ASIDE, never deleted, so an index published between the
    * check and the evict moves aside intact; vacuumIndexes' idle sweep
    * reclaims the dot-named trash. Losing with the marker still absent
    * is loud: conceding is only correct when the marker PROVES a publish.
    * Its callers run [[graft.Publish.checkPut]] before they build `tmp`,
    * so a refused scheme never reaches the eviction.
    */
  private[graft] def publishIndexDir(s: SparkSession, fs: FileSystem,
                                     tmp: Path, root: Path,
                                     marker: String = "_SUCCESS"): Boolean = {
    val done = new Path(root, marker)
    val trash = new Path(root.getParent,
      s".build_evicted_${java.util.UUID.randomUUID.toString.take(8)}")
    // a fresh name no writer targets, so a plain rename; it publishes
    // nothing, hence not through Publish
    val evicted = fs.exists(root) && !fs.exists(done) && fs.rename(root, trash)
    val won = graft.Publish.putDir(s, fs, tmp, root)
    if (!won && !fs.exists(done))
      throw new java.io.IOException(
        s"standing-index publish: no complete publish exists at $root " +
          s"(evicted=$evicted to $trash) and the move lost — refusing " +
          "to leave partial data live")
    won
  }

  /** Most complete already-published index of the same (corpus, table,
    * params) family whose recorded corpus files are a strict subset of the
    * current ones — i.e. a build of an earlier, smaller version of this
    * corpus that pure appends have grown. Metadata-only: one directory
    * listing plus one tiny stamp read per candidate.
    */
  private def predecessorIndex(fs: FileSystem, idxRoot: String,
                               tag: String, corpus: String,
                               table: String, params: String,
                               current: Set[String], marker: String)
      : Option[(String, Set[String])] = {
    val rootPath = new Path(idxRoot)
    if (!fs.exists(rootPath)) return None
    val cands = fs.listStatus(rootPath).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"graft_${tag}_"))
      .flatMap { st =>
        val d = st.getPath.toString
        val stampP = new Path(s"$d/_GRAFT_STAMP")
        if (!fs.exists(stampP) || !fs.exists(new Path(s"$d/$marker"))) None
        else {
          val lines = readSmallText(fs, stampP).split("\n", -1).toSeq
          if (lines.length < 3 || lines(0) != corpus || lines(1) != table ||
              lines(2) != params) None
          else {
            val files = lines.drop(3).filter(_.nonEmpty).toSet
            if (files.nonEmpty && files != current && files.subsetOf(current))
              Some((d, files))
            else None
          }
        }
      }.toSeq
    if (cands.isEmpty) None else Some(cands.maxBy(_._2.size))
  }

  private def writeStampFile(fs: FileSystem, root: String,
                             corpus: String, table: String,
                             params: String, entries: Seq[String]): Unit = {
    val out = fs.create(new Path(s"$root/_GRAFT_STAMP"), true)
    try out.write(
      (Seq(corpus, table, params) ++ entries).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Delete SUPERSEDED standing-index directories under this corpus's
    * index root: append-refresh publishes a new immutable directory per
    * corpus version and leaves the predecessor readable for concurrent
    * probes, so a long-lived ingest pipeline accumulates one obsolete
    * dir per (family, append) — the mechanism's own small-files problem.
    * A dir is superseded when another PUBLISHED dir of the same family
    * (same corpus, table, params, tag) records a strict superset of its
    * corpus files — and "published" means its `_GRAFT_STAMP` exists,
    * which every build writes LAST (after all data flushes), so a
    * crashed partial build can never supersede a complete predecessor.
    * `graceMs` is the concurrent-reader fence and keys on the
    * SUPERSESSOR's age — i.e. on how long ago the supersession happened
    * — not on the victim's build time (a 30-day-old index deleted
    * seconds after its replacement appears would tear exactly the
    * long-running reader the fence exists for). Pass 0 only when no
    * concurrent reader can exist. Returns the deleted paths.
    *
    * The supersession rule additionally requires the supersessor's own
    * stamp to still be a SUBSET of the current corpus files: corpora do
    * not only grow, and after files are removed in place the freshly
    * built CURRENT index's stamp is a strict subset of a stale
    * pre-shrink dir's — without the guard that stale, past-grace dir
    * would "supersede" the live index and vacuum would delete it
    * immediately (tearing concurrent probes and forcing rebuild churn
    * on the next query; the CLI `index` command runs this vacuum
    * automatically). A dir whose stamp exactly matches the current
    * corpus is never deleted for the same reason.
    */
  def vacuumIndexes(s: SparkSession, dir: String,
                    graceMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val conf = Tables.hadoopConf(s)
    val idxRoot = new Path(Tables.indexRoot(s, dir))
    val fs = idxRoot.getFileSystem(conf)
    if (!fs.exists(idxRoot)) return Seq.empty
    final case class Idx(path: Path, tag: String, head: Seq[String],
                         files: Set[String], mtime: Long, published: Boolean)
    val dirs = fs.listStatus(idxRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("graft_"))
      .flatMap { st =>
        val name = st.getPath.getName.stripPrefix("graft_")
        val cut = name.lastIndexOf('_')
        val stampP = new Path(s"${st.getPath}/_GRAFT_STAMP")
        if (cut <= 0 || !fs.exists(stampP)) None
        else {
          val lines = readSmallText(fs, stampP).split("\n", -1).toSeq
          if (lines.length < 3) None
          else {
            val published =
              fs.exists(new Path(s"${st.getPath}/_SUCCESS")) ||
                fs.listStatus(st.getPath).exists(sub => sub.isDirectory &&
                  fs.exists(new Path(s"${sub.getPath}/_SUCCESS")))
            Some(Idx(st.getPath, name.substring(0, cut), lines.take(3),
              lines.drop(3).filter(_.nonEmpty).toSet,
              st.getModificationTime, published))
          }
        }
      }
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
    // current corpus files per stamped table, for the shrink guard below;
    // a missing table (corpus deleted) resolves to an empty set, which
    // conservatively blocks all deletion in that family
    val currentByTable = scala.collection.mutable.Map.empty[String, Set[String]]
    def currentFiles(table: String): Set[String] =
      currentByTable.getOrElseUpdate(table,
        scala.util.Try(corpusFiles(s, dir, table).map(_._2).toSet)
          .getOrElse(Set.empty))
    dirs.groupBy(i => (i.tag, i.head)).values.toSeq.flatMap { fam =>
      val head = fam.head.head
      val (corpus, table) = (head(0), head(1))
      // only vacuum families of THIS corpus dir: a shared index root
      // (GRAFT_INDEX_ROOT) holds other corpora's families too, and their
      // current-file sets are unknowable from here — each corpus's own
      // vacuum call owns them
      if (corpus != Tables.path(dir, table)) Seq.empty
      else {
        val current = currentFiles(table)
        fam.filter { i =>
          // shrink guard: the live index's stamp IS the current corpus —
          // never deletable, and only a supersessor that is itself still
          // a subset of the current corpus counts (a stale pre-shrink
          // superset is not a successor, it is garbage awaiting its own
          // supersession)
          i.files != current &&
            fam.exists(o => o.published && (o.path != i.path) &&
              i.files.subsetOf(o.files) && i.files != o.files &&
              o.files.subsetOf(current) && o.mtime <= cutoff)
        }.map { i => fs.delete(i.path, true); i.path.toString }
      }
    }.sorted ++ sweepBuildTemps(fs, idxRoot, graceMs)
  }

  /** Sweep crashed builders' dot-named `.build_*` temp dirs under `root`
    * (a driver killed between flush and publish — routine with spot
    * instances); nothing else ever touches dot-named dirs. Unlike
    * published dirs, an IN-FLIGHT build may be writing right now and
    * grace=0 callers (tests, single-process CLI) cannot know about OTHER
    * builders sharing the root — so the sweep keeps a one-hour floor
    * regardless of grace, measured as IDLENESS: the top dir's mtime
    * freezes at job start while Spark writes into the nested _temporary
    * subtree, so a long-running legitimate build would look hours old by
    * top mtime alone. A dir is swept only when its entire SUBTREE has
    * gone quiet past the floor (recursive max-mtime — bounded: only
    * top-mtime-stale candidates pay the listing, and crashed trees stop
    * changing, so repeated vacuums converge on the same answer). Shared
    * by [[vacuumIndexes]] and the maintained roots' janitor
    * ([[vacuumMaintained]]).
    */
  private def sweepBuildTemps(fs: FileSystem, root: Path,
                              graceMs: Long): Seq[String] = {
    if (!fs.exists(root)) return Seq.empty
    val buildCutoff = System.currentTimeMillis() -
      math.max(math.max(0L, graceMs), 3600L * 1000)
    // seeded from the PARENT's listing entry and guarded throughout:
    // the walked tree belongs to a possibly-LIVE job (or a concurrent
    // vacuum's victim) and may vanish mid-walk — a vanished subtree
    // reads as "no younger writes there", never as a sweep abort
    def newestMtime(st0: FileStatus): Long = {
      val kids = try fs.listStatus(st0.getPath) catch {
        case _: java.io.FileNotFoundException => Array.empty[FileStatus]
      }
      kids.foldLeft(st0.getModificationTime) { (m, st) =>
        math.max(m, if (st.isDirectory) newestMtime(st)
          else st.getModificationTime)
      }
    }
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(".build_") &&
        st.getModificationTime <= buildCutoff &&
        newestMtime(st) <= buildCutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
      .sorted
  }

  private def readSmallText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }
}
