package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.Verify <sfDir> <outDir> [queryName ...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these query names (local iteration)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus, shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) })
    // manifest of every registered query: lets the comparer flag a query
    // whose dump is MISSING (a crashed rows-only query would otherwise
    // vanish silently — no dir, no oracle entry, no failure)
    Files.writeString(Paths.get(s"$outDir/queries.txt"),
      SparkEntry.queries.keys.toSeq.sorted
        .filter(n => only.isEmpty || only(n)).mkString("\n"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Run each query and write its result to `<outDir>/<name>` as parquet,
    * one [[Wave]] of queries. A query that throws has its dump dir
    * DELETED — an earlier run's output must never pass the compare as
    * its own — and is listed with its error in `<outDir>/failed.txt`
    * (empty when all ran). Returns the failures, name → message.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    // The dumps are independent; submitting them as one wave keeps the
    // scheduler fed (one thread leaves cores idle between the many small
    // jobs). Writes go to per-query dirs, so no output races.
    val failed = Wave.run(queries) { case (name, fn) =>
      try {
        Tables.writer(fn(spark, sfDir).coalesce(1)).mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        stale.getFileSystem(Tables.hadoopConf(spark))
          .delete(stale, true)
        Some(name -> String.valueOf(e.getMessage).replace('\n', ' '))
      }
    }.flatten.sortBy(_._1)
    Files.writeString(Paths.get(s"$outDir/failed.txt"),
      failed.map { case (n, m) => s"$n\t$m" }.mkString("\n"))
    failed
  }
}
