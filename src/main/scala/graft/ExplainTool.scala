package graft

/** Plan inspection helper:
  * `runMain graft.ExplainTool <sfDir> <query>[,<query>...] [mode] [outDir] [suffix]`
  * prints the chosen explain mode (default "formatted") for each registered
  * query — the fastest way to check pushdown/broadcast/codegen on a change.
  * With `outDir`, writes `<outDir>/<query>_<suffix>.txt` per query instead
  * of printing (the r11 plan-artifact path: suffix "before"/"after").
  */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val mode = if (args.length > 2) args(2) else "formatted"
    val outDir = if (args.length > 3) Some(args(3)) else None
    val suffix = if (args.length > 4) args(4) else "plan"
    // Bench's session, so the dumped plans are the plans the bench runs
    val spark = Bench.session()
    outDir.foreach(d => new java.io.File(d).mkdirs())
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(mode))
      outDir match {
        case Some(d) =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/${name}_$suffix.txt"), text)
          println(s"[explain] wrote $d/${name}_$suffix.txt")
        case None =>
          println(s"== $name ==")
          println(text)
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
