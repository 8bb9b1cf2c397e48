package graft

import graft.index.StandingIndex
import graft.sources.Versioned
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The publish matrix: local two-writer races for both puts, a swap
  * whose promote fails, the refusal on a scheme without atomic
  * put-if-absent (for Publish itself and for each put-if-absent caller),
  * and a guard that no other main source moves files on its own.
  */
class PublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def localDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeFile(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, false)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Names in `dir`, checksum sidecars included. */
  private def names(fs: FileSystem, dir: String): Set[String] =
    fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet

  /** Runs `n` writers against one start gate; returns who won. */
  private def race(n: Int)(publish: Int => Boolean): Seq[Int] = {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = (0 until n).map(i => pool.submit(
        new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = { gate.await(); publish(i) }
        }))
      gate.countDown()
      (0 until n).filter(i => futures(i).get())
    } finally pool.shutdown()
  }

  private def withSingleWriter[T](f: => T): T = {
    spark.conf.set(Publish.SingleWriterKey, "true")
    try f finally spark.conf.unset(Publish.SingleWriterKey)
  }

  private def refused(f: => Any): Unit = {
    val e = intercept[IllegalStateException](f)
    assert(e.getMessage.contains("has no atomic put-if-absent") &&
      e.getMessage.contains(Publish.SingleWriterKey), e.getMessage)
  }

  test("putFile: of racing local writers exactly one wins, intact, no temps left") {
    val dir = localDir("pub_file")
    val fs = fsOf(dir)
    val dst = new Path(dir, "v00001.json")
    val payload = (i: Int) => s"writer-$i-" + ("x" * 4096)
    val tmps = (0 until 8).map { i =>
      val t = new Path(dir, s".v00001-$i.json.tmp"); writeFile(fs, t, payload(i)); t
    }
    val winners = race(8)(i => Publish.putFile(spark, fs, tmps(i), dst))
    assert(winners.size == 1, s"winners: $winners")
    assert(readFile(fs, dst) == payload(winners.head))
    assert(names(fs, dir) == Set("v00001.json"))
  }

  test("putDir: of racing local writers exactly one wins, intact, no temps left") {
    val dir = localDir("pub_dir")
    val fs = fsOf(dir)
    val dst = new Path(dir, "graft_k")
    val tmps = (0 until 8).map { i =>
      val t = new Path(dir, s".build_k_$i")
      (0 until 3).foreach(j => writeFile(fs, new Path(t, s"part-$j"), s"$i"))
      t
    }
    val winners = race(8)(i => Publish.putDir(spark, fs, tmps(i), dst))
    assert(winners.size == 1, s"winners: $winners")
    val parts = fs.listStatus(dst).map(_.getPath).filterNot(_.getName.endsWith(".crc"))
    assert(parts.map(_.getName).toSet == Set("part-0", "part-1", "part-2"))
    assert(parts.forall(p => readFile(fs, p) == s"${winners.head}"))
    assert(names(fs, dir) == Set("graft_k"))
  }

  test("swap replaces a local file (checksum sidecar included) and a local directory whole") {
    val dir = localDir("pub_swap")
    val fs = fsOf(dir)
    val f = new Path(dir, "_counts")
    writeFile(fs, f, "old")
    val tf = new Path(dir, "._counts.tmp"); writeFile(fs, tf, "new")
    Publish.swap(fs, tf, f)
    // a stale sidecar of the old file would fail this checksummed read
    assert(readFile(fs, f) == "new")
    val d = new Path(dir, "t")
    writeFile(fs, new Path(d, "part-0"), "old")
    val td = new Path(dir, "t__tmp"); writeFile(fs, new Path(td, "part-1"), "new")
    Publish.swap(fs, td, d)
    assert(fs.listStatus(d).map(_.getPath.getName).filterNot(_.endsWith(".crc"))
      .toSeq == Seq("part-1"))
    assert(names(fs, dir).filterNot(_.endsWith(".crc")) == Set("_counts", "t"))
  }

  test("swap whose promote fails rolls back to the original") {
    NonAtomicFs.register(spark)
    val dir = NonAtomicFs.tempDir("pub_rollback")
    val fs = fsOf(dir)
    val dst = new Path(dir, "t")
    writeFile(fs, new Path(dst, "part-0"), "original")
    val tmp = new Path(dir, "t__compact_tmp")
    writeFile(fs, new Path(tmp, "part-0"), "rewrite")
    val aside = new Path(dir, "t__compact_old")
    NonAtomicFs.failRenameOf = Some(tmp.getName)
    try {
      val e = intercept[IllegalStateException](Publish.swap(fs, tmp, dst, aside))
      assert(e.getMessage.contains("rolled back"), e.getMessage)
    } finally NonAtomicFs.failRenameOf = None
    assert(readFile(fs, new Path(dst, "part-0")) == "original")
    assert(!fs.exists(aside))
  }

  test("a non-atomic scheme refuses both puts unless a lone writer is acknowledged") {
    NonAtomicFs.register(spark)
    val dir = NonAtomicFs.tempDir("pub_nonatomic")
    val fs = fsOf(dir)
    assert(fs.getUri.getScheme == NonAtomicFs.Scheme)
    def temps(tag: String): (Path, Path) = {
      val tf = new Path(dir, s".m.$tag.tmp"); writeFile(fs, tf, tag)
      val td = new Path(dir, s".build_k_$tag")
      writeFile(fs, new Path(td, "part-0"), tag)
      (tf, td)
    }
    val (tf, td) = temps("a")
    refused(Publish.putFile(spark, fs, tf, new Path(dir, "m")))
    refused(Publish.putDir(spark, fs, td, new Path(dir, "k")))
    assert(names(fs, dir).isEmpty, "a refused put left its temp behind")
    withSingleWriter {
      val (tf, td) = temps("b")
      assert(Publish.putFile(spark, fs, tf, new Path(dir, "m")))
      assert(Publish.putDir(spark, fs, td, new Path(dir, "k")))
      // the existence check stands in: a second put loses, cleaned up
      val (tf2, td2) = temps("c")
      assert(!Publish.putFile(spark, fs, tf2, new Path(dir, "m")))
      assert(!Publish.putDir(spark, fs, td2, new Path(dir, "k")))
      assert(names(fs, dir) == Set("m", "k"))
      assert(readFile(fs, new Path(dir, "m")) == "b")
      assert(readFile(fs, new Path(dir, "k/part-0")) == "b")
    }
  }

  test("a Versioned commit on a non-atomic scheme refuses") {
    import spark.implicits._
    NonAtomicFs.register(spark)
    val dir = NonAtomicFs.tempDir("pub_versioned")
    refused(Versioned.commit(Seq((1L, "a")).toDF("k", "v"), dir))
    assert(Versioned.versions(spark, dir).isEmpty)
  }

  test("a standing-index publish on a non-atomic scheme refuses before any build or eviction") {
    NonAtomicFs.register(spark)
    val corpus = NonAtomicFs.tempDir("pub_index")
    Tables.load(spark, TestSpark.sf, "documents").limit(20)
      .write.parquet(Tables.path(corpus, "documents"))
    // the default root for a non-local corpus sits next to it
    val idxRoot = Tables.indexRoot(spark, corpus)
    assert(idxRoot == s"$corpus/_graft_index")
    val fs = fsOf(corpus)
    def idxNames() = if (fs.exists(new Path(idxRoot))) names(fs, idxRoot) else Set.empty[String]
    def build() = StandingIndex.cachedCorpusTable(spark, corpus, "pubspec", "p")(
      spark.read.parquet(Tables.path(corpus, "documents")).select("doc_id"))
    assert(TestSpark.jobsOf(refused(build())) == 0, "a refused publish ran its build")
    assert(idxNames().isEmpty, "a refused publish left a temp behind")
    assert(withSingleWriter(build()).count() == 20)
    val Seq(root) = idxNames().toSeq
    assert(root.startsWith("graft_pubspec_"))
    // a markerless occupant is evicted only by a publish that may proceed
    fs.delete(new Path(s"$idxRoot/$root/_SUCCESS"), false)
    assert(TestSpark.jobsOf(refused(build())) == 0, "a refused publish ran its build")
    assert(idxNames() == Set(root), "a refused publish evicted the occupant")
    assert(withSingleWriter(build()).count() == 20)
    assert(fs.exists(new Path(s"$idxRoot/$root/_SUCCESS")))
    assert(idxNames().filterNot(_ == root).forall(_.startsWith(".build_evicted_")))
  }

  test("a maintained-part publish on a non-atomic scheme refuses before any write") {
    import spark.implicits._
    NonAtomicFs.register(spark)
    val mRoot = NonAtomicFs.tempDir("pub_part") + "/lists_m"
    val ids = Seq(1L, 2L).toDF("doc_id")
    assert(TestSpark.jobsOf(refused(
      StandingIndex.publishPart(mRoot, "k", Seq("" -> ids), ids))) == 0)
    assert(!fsOf(mRoot).exists(new Path(mRoot)))
  }

  /** Moves that publish nothing, by file name and line: the standing
    * index's eviction renames a markerless occupant to a fresh trash name
    * no writer targets.
    */
  private val notPublishes = Set(
    "StandingIndex.scala" -> "fs.rename(root, trash)")

  test("no main source but Publish renames, moves or links a file") {
    val banned = Seq(".rename(", "Files.move", "Files.createLink", "ATOMIC_MOVE")
    def exempt(f: java.nio.file.Path, line: String) = notPublishes.exists {
      case (file, call) => f.getFileName.toString == file && line.contains(call)
    }
    val hits = TestSpark.mainSourceHits("Publish.scala")((f, line) =>
      banned.exists(line.contains) && !exempt(f, line))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
