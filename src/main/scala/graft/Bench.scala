package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  * Queries execute into the `noop` sink so the full plan (including sorts
  * and projections that `count()` would prune) is materialized.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()

    // warm the catalog + JVM (file listing, codegen compiler, shuffle infra)
    Tables.all.foreach(n => Tables.load(spark, sfDir, n).count())

    // contention sentinel: a fixed calibration query timed right after
    // warm-up and again after the last query. On a quiet machine the two
    // agree; a drift > 1.5× means another heavy process (or VM throttling)
    // skewed this run and its numbers should not be published as "the"
    // bench — the r3 headline artifact was exactly that failure mode.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      Tables.load(spark, sfDir, "lineitem")
        .groupBy("l_returnflag").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // throwaway warm-up reps: the first pays the sentinel's own codegen,
    // the rest drive the JIT to steady state BEFORE the first reading —
    // with a single throwaway, even the min-of-3 first calibration read
    // ~2× the end-of-run figure on a provably quiet machine (r11 solo
    // runs: 0.23-0.28 s first vs 0.12-0.14 s last), so every quiet run
    // flagged `unstable` in the speed-up direction and the flag carried
    // no signal. Warm-up is the sentinel's cost to pay, not the reader's
    // to discount.
    (1 to 4).foreach(_ => calibrate())
    // min-of-3 for the first reading — the same protocol the queries
    // themselves use
    val calFirst = (1 to 3).map(_ => calibrate()).min

    // every query that failed a rep, with its last error: the -1 entries
    // below stay for compatibility, but a failure is never only a -1
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      // the cache clear sits in finally: a FAILED extraction query may
      // already have persisted blocks, and leaking them would pressure
      // every remaining measurement — the exact skew the clear prevents
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed(name) = String.valueOf(e.getMessage)
          -1.0
      } finally spark.catalog.clearCache()
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    // mid-run sentinel series: one calibration reading every ~30 queries.
    // The end-point readings alone are too noisy to normalize by (a ~0.1 s
    // query's min-of-3 swings ±50% between JIT/phase moments); the median
    // of end-points + mid-run samples tracks the machine speed the query
    // medians actually experienced.
    val calSeries = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Each query runs `reps` times back-to-back and publishes the MEDIAN
    // (plus the min): a single measurement exposes the artifact to cold-JIT
    // outliers — the r8 artifact showed three phantom 5-7× "regressions"
    // whose warm steady state was at or below the prior round. With three
    // back-to-back reps the first pays codegen compilation and the median
    // lands on a warm rep, which is the sustainable-throughput number a
    // baseline comparison should see.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val results = names.zipWithIndex.map { case (n, i) =>
      if (i % 30 == 15) calSeries += calibrate()
      val ts = (1 to reps).map(_ => run(n)).filter(_ >= 0).sorted
      val med = if (ts.isEmpty) -1.0 else ts(ts.size / 2)
      val min = if (ts.isEmpty) -1.0 else ts.head
      (n, med, min)
    }
    // Locale.ROOT formatting throughout: the line is machine-parsed JSON,
    // and a decimal-comma default locale (de_DE etc.) would corrupt it
    def n3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, med, _) => "\"" + k + "\":" + n3(med) }
      .mkString("{", ",", "}")
    val qmin = results.map { case (k, _, min) => "\"" + k + "\":" + n3(min) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, med, _) if med >= 0 => med }.sum
    val calLast = (1 to 3).map(_ => calibrate()).min
    val drift = math.max(calFirst, calLast) / math.min(calFirst, calLast)
    // contention means the machine got SLOWER while the bench ran — the
    // last calibration reads high. Drift in the speed-up direction (last
    // faster than first) usually reads as residual warm-up and must not
    // discredit a quiet run — but it CAN also be contention present at
    // the start that subsided, so large drift is flagged `unstable` in
    // EITHER direction with its direction labeled; a reader of an
    // unstable speed-up artifact cross-checks queries_min vs queries
    // (early-contended medians sit well above their own mins).
    val unstable = drift > 1.5
    val direction = if (calLast > calFirst) "slowdown" else "speed-up"
    val contended = unstable && calLast > calFirst
    // Sentinel-normalized per-query medians (ADDITIONS-ONLY — raw seconds
    // above are unchanged and stay the primary protocol): each median
    // divided by the run's MEDIAN sentinel reading, i.e. "how many
    // calibration queries is this query worth ON THIS MACHINE TODAY".
    // This machine's speed drifts 1.5-2x across minutes (every r01-r11
    // artifact pair disagrees near-uniformly), so cross-round raw-second
    // comparisons measure the VM phase, not the code; the normalized
    // ratios cancel the machine out because the sentinel (a fixed
    // scan+agg noop query) rides the same phase. The denominator is the
    // median over end-point AND mid-run readings: query medians are taken
    // all through the run, so the reference must track the run's typical
    // speed, not its best instant (and a single end-point min is itself
    // ±50% noisy at this magnitude).
    val allCal = (Seq(calFirst, calLast) ++ calSeries).sorted
    val calRef = allCal(allCal.size / 2)
    val qnorm = results.map { case (k, med, _) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(if (med >= 0 && calRef > 0) med / calRef else -1.0))
    }.mkString("{", ",", "}")
    val calSeriesJson = calSeries.map(n3).mkString("[", ",", "]")
    // error text as a JSON string body; control chars (multi-line
    // messages) become spaces
    def jsonStr(v: String): String = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    val failedJson = failed.map { case (k, m) =>
      "\"" + k + "\":\"" + jsonStr(m) + "\"" }.mkString("{", ",", "}")
    val cal = s""""calibration":{"first_sec":${n3(calFirst)},"last_sec":${n3(calLast)},"mid_series_sec":$calSeriesJson,"norm_ref_sec":${n3(calRef)},"drift":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(drift))},"drift_direction":"$direction","unstable":$unstable,"contended":$contended,"rule":"min-of-3 each side; drift>1.5 flags unstable in either direction; contended additionally requires the LAST side slower (slowdown=contention; a speed-up reads as warm-up but may be early contention that subsided - cross-check queries_min vs queries)","norm_rule":"queries_norm[q] = queries[q] / norm_ref_sec, where norm_ref_sec = median of first/last (min-of-3 each) + one mid-run sentinel reading every 30 queries - unitless multiples of the calibration sentinel; compare THESE across rounds/machines, raw seconds only within one run"}"""
    println(s"""{"metric":"total","value":${n3(total)},"unit":"sec","reps":$reps,"queries":$qs,"queries_min":$qmin,"queries_norm":$qnorm,"failed":$failedJson,$cal,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** THE measurement session — Bench's confs, on `cpus` local cores
    * (`SPARK_GRAFT_CPUS`, default 32). [[Profile]] builds its session
    * here, so what it times and plans is what the bench runs; the CLI and
    * [[Verify]] build theirs here too, with their own core default and
    * shuffle width. Parquet nanos-as-long is set at build time, so
    * concurrent queries never observe a session conf flipped mid-flight
    * by [[Tables.load]].
    */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
              shufflePartitions: String = "32"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
