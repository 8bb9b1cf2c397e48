package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it: the job group it ran under (the
  * span path), the call site of its final stage, wall interval, and task
  * totals summed over the stages it ran.
  */
final class JobRec(val id: Int, val group: String, val callSite: String,
                   val startMs: Long, val nStages: Int) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
}

/** Listener that records every job with its task metrics. Tasks are
  * charged to the job that first listed their stage (a later job that
  * depends on an already-computed stage skips it and runs no tasks there).
  */
final class JobRecorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    jobs.put(e.jobId, new JobRec(e.jobId, group, last.map(_.name).getOrElse(""),
      e.time, e.stageIds.size))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) Option(jobs.get(j.intValue)).foreach { r =>
      r.synchronized {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      }
    }
  }

  /** Jobs that started inside [t0, t1] (epoch ms), after the bus drained. */
  def between(sc: SparkContext, t0: Long, t1: Long): Seq[JobRec] = {
    org.apache.spark.BusAccess.drain(sc)
    jobs.values().asScala.filter(j => j.startMs >= t0 && j.startMs <= t1)
      .toSeq.sortBy(_.id)
  }
}

/** Closed span: path (slash-separated, root first), wall interval. */
final case class SpanRec(path: String, parent: String, startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** Named spans around calls into graft's public functions. Entering a span
  * sets the Spark job group of the calling thread to the span path, so
  * every job launched inside (including from pool threads the callee
  * creates, which inherit the thread's local properties) carries it.
  */
final class Spans(sc: SparkContext) {
  val closed = ArrayBuffer.empty[SpanRec]
  private var stack: List[String] = Nil

  def apply[T](name: String)(f: => T): T = {
    val parent = stack.headOption.getOrElse("")
    val path = if (parent.isEmpty) name else s"$parent/$name"
    stack = path :: stack
    sc.setJobGroup(path, path)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      closed += SpanRec(path, parent, t0, System.currentTimeMillis())
      stack = stack.tail
      if (parent.isEmpty) sc.clearJobGroup() else sc.setJobGroup(parent, parent)
    }
  }
}
