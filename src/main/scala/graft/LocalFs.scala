package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` FileSystem graft writes and reads metadata through
  * ([[Tables.hadoopConf]], [[Tables.writer]]): Hadoop's `LocalFileSystem`
  * with its `.crc` sidecars, except that the raw layer sets a plain rwx
  * mode with `Files.setPosixFilePermissions`. Without Hadoop's native
  * library, `RawLocalFileSystem.setPermission` starts a `chmod` process
  * for every file, `.crc` and directory a write creates: nine per parquet
  * table written, five on the driver and four in the task.
  *
  * The raw layer keeps Hadoop's own path when NativeIO is loaded (no
  * process is started then), when the mode has sticky, setuid or setgid
  * bits, when the target already has one of those (GNU `chmod` keeps a
  * directory's setuid and setgid under a four-digit mode, a plain
  * `chmod(2)` would clear them), and when the store offers no `unix`
  * attribute view. Every mode it sets itself is one `chmod` would set.
  */
class LocalFs(raw: RawLocalFileSystem) extends LocalFileSystem(raw) {
  def this() = this(new LocalFs.Raw)
}

object LocalFs {
  private val Rwx = 0x1ff // 0777

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xfff
      val f = pathToFile(p).toPath
      if (NativeIO.isAvailable || (mode & ~Rwx) != 0 || special(f))
        hadoopSetPermission(p, permission)
      else Files.setPosixFilePermissions(f, permissions(mode))
    }

    /** Hadoop's own `setPermission`: native `chmod(2)`, or a `chmod`
      * process without the native library.
      */
    protected def hadoopSetPermission(p: Path, permission: FsPermission): Unit =
      super.setPermission(p, permission)
  }

  /** True when `f` has a mode bit outside rwx, or no `unix` view to say. */
  private def special(f: JPath): Boolean =
    try (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xfff & ~Rwx) != 0
    catch { case _: UnsupportedOperationException => true }

  /** The rwx bits of `mode` as NIO permissions; `PosixFilePermission`'s
    * constants run from OWNER_READ (0400) down to OTHERS_EXECUTE (0001).
    */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}
