package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** The profiling main for optimization work:
  * `runMain graft.Profile <mode> <sfDir> <query>[,<query>...] [args]`
  *
  *  - `time [reps]` runs each query `reps` times (default 3) into the noop
  *    sink and prints per-rep seconds — the fast way to chase one bench
  *    outlier without paying for the whole pack.
  *  - `stages [reps]` runs a warm rep, then `reps` (default 2) reps under
  *    a listener (the UI is disabled, so a listener is the only
  *    stage-level view), and prints per job and per stage: wall time,
  *    task count, summed executor run/CPU time, GC time, and shuffle
  *    read/write and spill — whether a slow query is compute, shuffle, or
  *    scheduler floor.
  *  - `explain [mode] [outDir] [suffix]` prints the explain mode (default
  *    "formatted") of each query; with `outDir`, writes
  *    `<outDir>/<query>_<suffix>.txt` instead (suffix default "plan").
  *
  * Every mode runs on [[Bench.session]], so what it times and plans is
  * what the bench runs. Measurement infra only; not part of the driver
  * contract.
  */
object Profile {
  case class StageRow(jobId: Int, stageId: Int, name: String, tasks: Int,
                      wallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
                      shReadMB: Double, shWriteMB: Double, spillMB: Double)

  /** One profiled run: wall seconds, (job id, job ms) and stage rows. */
  case class Probe(wallSec: Double, jobs: Seq[(Int, Long)], stages: Seq[StageRow])

  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir, qs) = args.take(3)
    val opt = args.drop(3).lift
    val names = qs.split(",").toSeq
    val spark = Bench.session()
    mode match {
      case "time" =>
        val reps = opt(0).map(_.toInt).getOrElse(3)
        for (n <- names) {
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            noop(spark, sfDir, n)
            spark.catalog.clearCache()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[time] $n: ${times.map(t => f"$t%.3f").mkString(", ")} s")
        }
      case "stages" =>
        val reps = opt(0).map(_.toInt).getOrElse(2)
        for (n <- names) {
          // warm rep (codegen/JIT), then profiled reps
          noop(spark, sfDir, n)
          spark.catalog.clearCache()
          for (r <- 1 to reps) {
            val p = probe(spark, sfDir, n)
            spark.catalog.clearCache()
            println(f"== $n rep $r: wall ${p.wallSec}%.3f s, ${p.jobs.size} jobs ==")
            println("  jobs: " + p.jobs.map { case (id, ms) => s"#$id=${ms}ms" }.mkString(" "))
            println(f"  ${"stage"}%-7s ${"job"}%-4s ${"tasks"}%-6s ${"wall"}%-7s " +
              f"${"run"}%-7s ${"cpu"}%-7s ${"gc"}%-5s ${"shR MB"}%-8s ${"shW MB"}%-8s " +
              f"${"spill"}%-6s name")
            p.stages.foreach { s =>
              println(f"  ${s.stageId}%-7d ${s.jobId}%-4d ${s.tasks}%-6d " +
                f"${s.wallMs}%-7d ${s.runMs}%-7d ${s.cpuMs}%-7d ${s.gcMs}%-5d " +
                f"${s.shReadMB}%-8.2f ${s.shWriteMB}%-8.2f ${s.spillMB}%-6.1f ${s.name}")
            }
          }
        }
      case "explain" =>
        val explainMode = opt(0).getOrElse("formatted")
        val outDir = opt(1)
        val suffix = opt(2).getOrElse("plan")
        outDir.foreach(d => new java.io.File(d).mkdirs())
        for (n <- names) {
          val text = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString(explainMode))
          outDir match {
            case Some(d) =>
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(s"$d/${n}_$suffix.txt"), text)
              println(s"[explain] wrote $d/${n}_$suffix.txt")
            case None =>
              println(s"== $n ==")
              println(text)
          }
          spark.catalog.clearCache()
        }
      case m => sys.error(s"unknown mode '$m' (time | stages | explain)")
    }
    spark.stop()
  }

  private def noop(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

  /** Run `name` into the noop sink under a job/stage listener. The bus is
    * drained before the listener is read or removed, so the run's last
    * job and stage events are always counted.
    */
  def probe(spark: SparkSession, sfDir: String, name: String): Probe = {
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
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val wall =
      try { noop(spark, sfDir, name); (System.nanoTime() - t0) / 1e9 }
      finally {
        GraftSqlBridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    Probe(wall, jobs.asScala.toSeq.sortBy(_._1), stages.asScala.toSeq.sortBy(_.stageId))
  }
}
