package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** A test-only filesystem, scheme `nonatomic`, over local disk. Its
  * scheme is in no atomic-rename family, so [[Publish]] treats it as it
  * treats an object store. A rename whose source is named
  * [[NonAtomicFs.failRenameOf]] returns false, to drive a failed promote;
  * [[NonAtomicFs.onCreate]] runs a step between a writer's reads and its
  * publish.
  */
class NonAtomicFs extends FilterFileSystem(new NonAtomicFs.Raw) {
  override def getScheme: String = NonAtomicFs.Scheme
  override def rename(src: Path, dst: Path): Boolean =
    !NonAtomicFs.failRenameOf.contains(src.getName) && super.rename(src, dst)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    NonAtomicFs.fireOnCreate(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
}

object NonAtomicFs {
  val Scheme = "nonatomic"

  @volatile var failRenameOf: Option[String] = None

  /** A one-shot hook: the first file created whose name matches runs the
    * step (before the file exists), and the hook is then cleared.
    */
  @volatile var onCreate: Option[(String => Boolean, () => Unit)] = None

  private def fireOnCreate(name: String): Unit = synchronized {
    onCreate.filter(_._1(name)).foreach { case (_, step) =>
      onCreate = None
      step()
    }
  }

  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  /** Registers the scheme with the session's Hadoop conf (`fs.<scheme>.impl`). */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[NonAtomicFs].getName)

  /** A fresh local temp dir, as a `nonatomic:` URI string. */
  def tempDir(tag: String): String =
    s"$Scheme://" + java.nio.file.Files.createTempDirectory(tag).toString
}
