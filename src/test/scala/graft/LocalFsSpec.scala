package graft

import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[LocalFs]] counting its raw layer's mode sets, and those of them that
  * fell into Hadoop's own `setPermission` (a `chmod` process without the
  * native library). Bound by class name, as Hadoop binds `fs.file.impl`.
  */
class CountingLocalFs extends LocalFs(new CountingLocalFs.Raw)

object CountingLocalFs {
  val sets = new AtomicInteger
  val hadoopSets = new AtomicInteger

  class Raw extends LocalFs.Raw {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      sets.incrementAndGet()
      super.setPermission(p, permission)
    }
    override protected def hadoopSetPermission(p: Path, permission: FsPermission): Unit = {
      hadoopSets.incrementAndGet()
      super.hadoopSetPermission(p, permission)
    }
  }
}

/** `file:` writes through [[Tables]]' Hadoop entry point: the modes
  * [[LocalFs]] sets, a CLI load and snapshot laid out exactly as a stock
  * `LocalFileSystem` lays them out without one `chmod` process, and the
  * guard that keeps every Hadoop conf and file writer of `src/main` on
  * that entry point.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  private def rawFs(): CountingLocalFs.Raw = {
    val raw = new CountingLocalFs.Raw
    raw.initialize(java.net.URI.create("file:///"), new Configuration())
    raw
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("every rwx mode LocalFs sets reads back as FsPermission's symbolic form") {
    val raw = rawFs()
    val f = Files.createTempFile("graft-localfs", "")
    val hadoop = CountingLocalFs.hadoopSets.get
    for (m <- 0 until 512) {
      val perm = new FsPermission(m.toShort)
      raw.setPermission(new Path(f.toUri), perm)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == perm.toString,
        f"mode $m%03o")
    }
    assert(CountingLocalFs.hadoopSets.get == hadoop)
    // a sticky mode is Hadoop's to set
    val d = Files.createTempDirectory("graft-localfs")
    raw.setPermission(new Path(d.toUri), new FsPermission(octal("1755")))
    assert(CountingLocalFs.hadoopSets.get == hadoop + 1)
    assert(mode(d) == octal("1755"))
  }

  test("a directory that inherits setgid gets the mode Hadoop's own chmod gives it") {
    val parent = Files.createTempDirectory("graft-localfs")
    Files.setAttribute(parent, "unix:mode", Int.box(octal("2775")))
    val stock = new RawLocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), new Configuration())
    val hadoop = CountingLocalFs.hadoopSets.get
    assert(rawFs().mkdirs(new Path(parent.resolve("ours").toUri)))
    assert(stock.mkdirs(new Path(parent.resolve("stock").toUri)))
    assert(mode(parent.resolve("ours")) == mode(parent.resolve("stock")))
    // the new directory carries setgid when the store propagates it, and
    // then only Hadoop's chmod keeps it
    if ((mode(parent.resolve("stock")) & octal("2000")) != 0)
      assert(CountingLocalFs.hadoopSets.get == hadoop + 1)
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** Every file and directory under `root`: its relative path, with the
    * per-write UUIDs and Versioned's 8-hex tokens masked, and its mode.
    */
  private def layout(root: JPath): Seq[(String, String)] =
    scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.toList)
      .filter(_ != root)
      .map { p =>
        val rel = root.relativize(p).toString
          .replaceAll(uuid, "<uuid>").replaceAll("-[0-9a-f]{8}(?![0-9a-f])", "-<token>")
        val kind = if (Files.isDirectory(p)) "d" else "-"
        rel -> (kind + PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      }.sorted

  /** CLI `load` and `snapshot` of a three-table extraction into `dest`,
    * with `conf` set on the session while they run.
    */
  private def loadAndSnapshot(dest: JPath, conf: (String, String)*): Unit = {
    val cfg = dest.resolveSibling(s"${dest.getFileName}.yml")
    Files.writeString(cfg,
      s"""databases:
         |  source_dir: ${TestSpark.sf}
         |  destination_dir: $dest
         |queries:
         |  - from: customer
         |    limit: 5
         |    join_depth: 5
         |    backref_depth: 0
         |""".stripMargin)
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try Cli.run(spark, Cli.parseArgs(Seq("-c", cfg.toString, "--quiet", "load", "snapshot")))
    finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Bytes written through `file:` FileSystems whose raw layer is `cls`. */
  private def written(cls: Class[_ <: FileSystem]): Long =
    FileSystem.getStatistics("file", cls).getBytesWritten: @annotation.nowarn

  test("CLI load and snapshot write through LocalFs with a stock write's layout and modes") {
    val work = Files.createTempDirectory("graft-localfs")
    val (oursBefore, stockBefore) = (written(classOf[LocalFs.Raw]), written(classOf[RawLocalFileSystem]))
    loadAndSnapshot(work.resolve("ours"))
    // every byte of the driver's and the tasks' writes went through LocalFs
    assert(written(classOf[LocalFs.Raw]) > oursBefore)
    assert(written(classOf[RawLocalFileSystem]) == stockBefore)

    // a session that binds `file:` itself keeps its binding
    val oursMid = written(classOf[LocalFs.Raw])
    loadAndSnapshot(work.resolve("stock"),
      "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    assert(written(classOf[LocalFs.Raw]) == oursMid)
    assert(written(classOf[RawLocalFileSystem]) > stockBefore)

    val ours = layout(work.resolve("ours"))
    assert(ours.map(_._1).toSet.contains("customer/_SUCCESS"))
    assert(ours.exists(_._1.startsWith("versioned/nation/_commits/")))
    assert(ours.map(_._1).exists(n => n.startsWith("customer/.part-") && n.endsWith(".crc")))
    assert(ours == layout(work.resolve("stock")))
  }

  test("a CLI load and snapshot never fall into Hadoop's chmod") {
    val dest = Files.createTempDirectory("graft-localfs").resolve("dest")
    val (sets, hadoop) = (CountingLocalFs.sets.get, CountingLocalFs.hadoopSets.get)
    loadAndSnapshot(dest,
      "fs.file.impl" -> classOf[CountingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    assert(CountingLocalFs.sets.get > sets)
    assert(CountingLocalFs.hadoopSets.get == hadoop)
  }

  test("no main source but Tables opens a Hadoop conf or a file writer") {
    // a noop or JDBC writer writes no file; a foreachBatch stream writes
    // its batches through Tables.writer, and its checkpoint through
    // Spark's own Hadoop conf, which no writer option reaches
    def foreachBatch(f: JPath, line: String): Boolean = {
      val lines = Files.readAllLines(f).asScala
      lines.drop(lines.indexOf(line)).takeWhile(!_.contains(".start()"))
        .exists(_.contains(".foreachBatch"))
    }
    val writer = "\\.write(?![\\w(])".r
    val hits = TestSpark.mainSourceHits(skip = "")((f, line) =>
      line.contains("newHadoopConf()") ||
        (writer.findFirstIn(line).isDefined &&
          !Seq("format(\"noop\")", "format(\"jdbc\")").exists(line.contains)) ||
        (line.contains(".writeStream") && !foreachBatch(f, line)))
    assert(hits.size == 2 && hits.forall(_.contains(s"${Paths.get("graft", "Tables.scala")}:")),
      hits.mkString("\n"))
    assert(hits.exists(_.contains("spark.sessionState.newHadoopConf()")), hits.mkString("\n"))
    assert(hits.exists(_.contains("df.write.options(localFsKeys(")), hits.mkString("\n"))
  }
}
