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
