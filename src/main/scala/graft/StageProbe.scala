package graft

import org.apache.spark.scheduler._

/** Per-stage profiling main for optimization work (the UI is disabled in
  * this environment, so a listener is the only stage-level view):
  * `runMain graft.StageProbe <sfDir> <query>[,<query>...] [reps]`
  * runs each query into the noop sink under a listener and prints, per
  * job and per stage: wall time, task count, summed executor run/CPU
  * time, GC time, and shuffle read/write bytes — the numbers that say
  * whether a slow query is compute, shuffle, or scheduler floor.
  * Measurement infra only; not part of the driver contract.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Bench.session()

    case class StageRow(jobId: Int, stageId: Int, name: String, tasks: Int,
                        wallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
                        shReadMB: Double, shWriteMB: Double, spillMB: Double)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStart.get(e.jobId)).getOrElse(e.time)
        jobs.add((e.jobId, e.time - t0))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.add(StageRow(
          stageToJob.getOrDefault(si.stageId, -1), si.stageId,
          si.name.split("\n").head.take(60), si.numTasks, wall,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6))
      }
    }

    for (n <- names) {
      // warm rep (codegen/JIT), then profiled reps
      SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      for (r <- 1 to reps) {
        stages.clear(); jobs.clear(); stageToJob.clear(); jobStart.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(listener)
        spark.catalog.clearCache()
        // drain listener events
        Thread.sleep(300)
        println(f"== $n rep $r: wall $wall%.3f s, ${jobs.size} jobs ==")
        import scala.jdk.CollectionConverters._
        val js = jobs.asScala.toSeq.sortBy(_._1)
        println("  jobs: " + js.map { case (id, ms) => s"#$id=${ms}ms" }.mkString(" "))
        val rows = stages.asScala.toSeq.sortBy(_.stageId)
        println(f"  ${"stage"}%-7s ${"job"}%-4s ${"tasks"}%-6s ${"wall"}%-7s " +
          f"${"run"}%-7s ${"cpu"}%-7s ${"gc"}%-5s ${"shR MB"}%-8s ${"shW MB"}%-8s " +
          f"${"spill"}%-6s name")
        rows.foreach { s =>
          println(f"  ${s.stageId}%-7d ${s.jobId}%-4d ${s.tasks}%-6d " +
            f"${s.wallMs}%-7d ${s.runMs}%-7d ${s.cpuMs}%-7d ${s.gcMs}%-5d " +
            f"${s.shReadMB}%-8.2f ${s.shWriteMB}%-8.2f ${s.spillMB}%-6.1f ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
