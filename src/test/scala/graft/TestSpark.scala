package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** `path:line: text` of every line of `src/main/scala` that `hit` flags,
    * files named `skip` left out: the scan behind the guards that keep one
    * rule inside one module.
    */
  def mainSourceHits(skip: String)(hit: (java.nio.file.Path, String) => Boolean): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    require(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == skip)
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if hit(f, line) => s"$f:${i + 1}: ${line.trim}"
          }
        }.toList
    }
  }

  /** Spark jobs started while `f` runs, counted by a listener. The bus is
    * drained before the listener is added, so late events of earlier work
    * are not counted, and again before it is read, so none of `f`'s are
    * missed.
    */
  def jobsOf(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftSqlBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try f finally {
      GraftSqlBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    n.get
  }
}
