package graft

import java.nio.file.{DirectoryNotEmptyException, FileAlreadyExistsException,
  FileSystemException, Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way graft makes a finished file or directory visible all at
  * once (Versioned manifests, standing indexes, the CDC delivery marker,
  * compacted tables, Record cassettes, QueryCache `_counts`), and the only
  * per-scheme table in the program. Each operation consumes its temp,
  * written next to the destination: on return it is there or gone.
  *
  * | scheme | [[putFile]] | [[putDir]] | [[swap]] |
  * |---|---|---|---|
  * | `file` | hard link (EEXIST) | NIO `ATOMIC_MOVE` | rename-aside |
  * | HDFS family, ABFS | `rename` | `rename`, nested-dir check | rename-aside |
  * | other | refused, or exists-then-`rename` with [[SingleWriterKey]] | same | rename-aside |
  *
  * A local rename OVERWRITES, so it is no put-if-absent. HDFS/ABFS
  * renames are atomic and refuse an existing file, but move a directory
  * INTO an existing one, which the nested-dir check undoes. Object stores
  * (s3a, gs, oss, wasb, …) rename by copy+delete, so two racers can both
  * "win" and put-if-absent cannot be made atomic from this side alone.
  * There both puts throw — for Versioned commits and index publishes
  * alike — unless [[SingleWriterKey]]`=true` acknowledges exactly one
  * writer per destination; an existence check then stands in.
  */
object Publish {

  /** Acknowledges a lone writer where put-if-absent is not atomic. The
    * name is Versioned's, older than this module; it covers every put.
    */
  val SingleWriterKey = "spark.graft.versioned.singleWriter"

  private val AtomicRenameSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs",
      "abfs", "abfss")

  private def scheme(fs: FileSystem): String =
    Option(fs.getUri.getScheme).getOrElse("file")

  private def local(fs: FileSystem, p: Path): java.nio.file.Path =
    Paths.get(fs.makeQualified(p).toUri)

  /** Atomic put-if-absent of file `tmp` at `dst`: false when `dst` exists. */
  def putFile(spark: SparkSession, fs: FileSystem, tmp: Path,
              dst: Path): Boolean = put(spark, fs, tmp, dst, isDir = false)

  /** Atomic put-if-absent of directory `tmp` at `dst`: never merges into
    * or replaces an existing `dst`.
    */
  def putDir(spark: SparkSession, fs: FileSystem, tmp: Path,
             dst: Path): Boolean = put(spark, fs, tmp, dst, isDir = true)

  /** Throws the refusal [[putFile]] and [[putDir]] would give at `dst`,
    * so a caller can refuse BEFORE it spends a build on the temp.
    */
  def checkPut(spark: SparkSession, fs: FileSystem, dst: Path): Unit = {
    val sch = scheme(fs)
    if (sch != "file" && !AtomicRenameSchemes(sch) &&
        !spark.conf.getOption(SingleWriterKey).exists(_.toBoolean))
      throw new IllegalStateException(
        s"publish of $dst on scheme '$sch' has no atomic " +
          "put-if-absent: rename there is copy+delete, so two " +
          "concurrent writers can both publish and silently lose one. " +
          s"Either guarantee a single writer and set $SingleWriterKey" +
          "=true, or place the data on an atomic-rename filesystem " +
          "(HDFS/ABFS) or local disk.")
  }

  private def put(spark: SparkSession, fs: FileSystem, tmp: Path, dst: Path,
                  isDir: Boolean): Boolean = {
    def renameIfAbsent(): Boolean =
      !fs.exists(dst) && fs.rename(tmp, dst) && {
        val nested = new Path(dst, tmp.getName)
        if (isDir && fs.exists(nested)) { fs.delete(nested, true); false }
        else true
      }
    try scheme(fs) match {
      case "file" if isDir =>
        try {
          Files.move(local(fs, tmp), local(fs, dst),
            StandardCopyOption.ATOMIC_MOVE)
          true
        } catch {
          case _: FileAlreadyExistsException => false
          case _: DirectoryNotEmptyException => false
          case _: FileSystemException if fs.exists(dst) => false
        }
      case "file" =>
        try { Files.createLink(local(fs, dst), local(fs, tmp)); true }
        catch { case _: FileAlreadyExistsException => false }
      case sch if AtomicRenameSchemes(sch) =>
        if (isDir) renameIfAbsent() else fs.rename(tmp, dst)
      case _ =>
        checkPut(spark, fs, dst)
        renameIfAbsent()
    } finally {
      // won, lost or refused, the temp name is done (a won link leaves
      // it, and LocalFileSystem's delete also drops its checksum sidecar)
      fs.delete(tmp, true): Unit
    }
  }

  /** Replace `dst` (absent, a file or a directory) with `tmp` by
    * rename-aside: the occupant moves to `aside` BEFORE the promote, so
    * data is never deleted before its replacement exists, and a failed
    * promote moves it back and throws. In between `dst` is briefly
    * absent; a crash there leaves the data at `aside`, to be renamed
    * back. `aside` defaults to a fresh dot-named sibling; a leftover
    * there is cleared.
    */
  def swap(fs: FileSystem, tmp: Path, dst: Path, aside: Path = null): Unit = {
    val old = Option(aside).getOrElse(new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID.toString.take(8)}.old"))
    fs.delete(old, true)
    val occupied = fs.exists(dst)
    require(!occupied || fs.rename(dst, old), s"swap: could not move $dst aside")
    if (!fs.rename(tmp, dst)) {
      require(!occupied || fs.rename(old, dst),
        s"swap: promote AND rollback failed for $dst")
      throw new IllegalStateException(
        s"swap: promote failed for $dst (rolled back)")
    }
    fs.delete(old, true): Unit
  }

  /** Atomic replace of a local file written through java.nio (no Hadoop
    * checksum sidecar to carry along).
    */
  def swapLocal(tmp: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE): Unit
}
