package graft

/** Single-query timing helper:
  * `runMain graft.TimeTool <sfDir> <query>[,<query>...] [reps]`
  * runs each named query `reps` times (default 3) into the noop sink and
  * prints per-rep seconds — the fast way to chase one bench outlier without
  * paying for the whole pack.
  */
object TimeTool {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Bench.session()
    for (n <- names) {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $n: ${times.map(t => f"$t%.3f").mkString(", ")} s")
    }
    spark.stop()
  }
}
