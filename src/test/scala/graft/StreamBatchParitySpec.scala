package graft

import graft.index.StandingIndex
import graft.streaming.Events
import graft.streaming.Events.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Batch ↔ stream consistency: the streaming sessionizer, fed the real
  * events table in chronological chunks, must agree with the batch
  * q_sessionize session counts for the same users.
  */
class StreamBatchParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming sessionizer matches batch session counts on real events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val users = Seq(1L, 2L, 3L)
    val rows = Tables.load(spark, TestSpark.sf, "events")
      .filter(col("user_id").isin(users: _*))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("ts", "event_id")
      .as[Event].collect().toSeq

    val input = MemoryStream[Event]
    val q = Events.sessionize(input.toDS())
      .writeStream.format("memory").queryName("paritysess")
      .outputMode(OutputMode.Update()).start()
    try {
      // feed in three chronological chunks (multi-batch state handoff)
      rows.grouped(math.max(rows.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // sessions observed by the stream = distinct session starts per user
      val streamed = spark.sql(
        """SELECT user_id, count(DISTINCT session_start_us) AS n_sessions
          |FROM paritysess GROUP BY user_id""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val batch = SparkEntry.queries("q_sessionize")(spark, TestSpark.sf)
        .filter(col("user_id").isin(users: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming quality/scrub map equals the batch projection exactly") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq

    val input = MemoryStream[Doc]
    val q = Docs.qualitySignals(input.toDF())
      .writeStream.format("memory").queryName("parityqual")
      .outputMode(OutputMode.Append()).start()
    try {
      docs.grouped(math.max(docs.size / 4, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.sql("SELECT * FROM parityqual ORDER BY doc_id")
        .collect().map(_.toSeq).toSeq
      val batch = Docs.qualitySignals(Tables.load(spark, TestSpark.sf, "documents"))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming chunking equals the batch chunk table exactly") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq

    val input = MemoryStream[Doc]
    val q = Docs.chunkDocs(input.toDF())
      .writeStream.format("memory").queryName("paritychunks")
      .outputMode(OutputMode.Append()).start()
    try {
      docs.grouped(math.max(docs.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.sql(
        "SELECT * FROM paritychunks ORDER BY doc_id, chunk_id")
        .collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_doc_chunks")(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dup-gram coverage equals the batch scores exactly") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq
    val dupGrams = graft.operators.TextAnalysis
      .corpusDupGrams(spark, TestSpark.sf)

    val out = java.nio.file.Files
      .createTempDirectory("graft_dupgram_out").toString
    val input = MemoryStream[Doc]
    val q = Docs.dupGramCoverageSink(input.toDF(), dupGrams, out,
      java.nio.file.Files.createTempDirectory("graft_dupgram_ckpt").toString)
    try {
      docs.grouped(math.max(docs.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(out)
        .select("doc_id", "n_grams", "n_dup", "dup_frac_micros", "verdict")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_dup_gram_coverage")(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty &&
        streamed.exists(_.last == "flag") && streamed.exists(_.last == "keep"))
    } finally q.stop()
  }

  test("streaming bigram surprisal equals the batch scores exactly") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq
    val model = graft.operators.TextAnalysis
      .corpusBigramModel(spark, TestSpark.sf)

    val out = java.nio.file.Files
      .createTempDirectory("graft_bgsurp_out").toString
    val input = MemoryStream[Doc]
    val q = Docs.bigramSurprisalSink(input.toDF(), model, out,
      java.nio.file.Files.createTempDirectory("graft_bgsurp_ckpt").toString)
    try {
      docs.grouped(math.max(docs.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(out)
        .select("doc_id", "n_bigrams", "surp_sum", "mean_surprisal_milli")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_bigram_surprisal")(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty && streamed.exists(_.last != 0L))
    } finally q.stop()
  }

  test("streaming DSIR scoring equals the batch weights exactly") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq
    val feat = graft.operators.TextAnalysis
      .corpusDsirFeatures(spark, TestSpark.sf)

    val out = java.nio.file.Files
      .createTempDirectory("graft_dsir_out").toString
    val input = MemoryStream[Doc]
    val q = Docs.dsirSink(input.toDF(), feat, out,
      java.nio.file.Files.createTempDirectory("graft_dsir_ckpt").toString)
    try {
      docs.grouped(math.max(docs.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(out)
        .select("doc_id", "source", "n_toks", "dsir_bits")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_dsir_weights")(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      // the score separates sources: the target slice itself must sit at
      // the top of the per-source means (it IS the target distribution)
      val bySrc = spark.read.parquet(out)
        .groupBy("source")
        .agg((sum(col("dsir_bits")) / sum(col("n_toks"))).as("m"))
        .orderBy(desc("m"))
        .select("source").as[String].collect()
      assert(bySrc.head == graft.operators.TextAnalysis.DsirTarget,
        s"target slice must rank first, got ${bySrc.head}")
    } finally q.stop()
  }

  test("streaming span scrub equals the batch surgery exactly") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq
    val dup = graft.operators.TextAnalysis
      .corpusDupGrams(spark, TestSpark.sf)
      .filter(col("nd") >= 2).select("gh")

    val out = java.nio.file.Files
      .createTempDirectory("graft_scrub_out").toString
    val input = MemoryStream[Doc]
    val q = Docs.spanScrubSink(input.toDF(), dup, out,
      java.nio.file.Files.createTempDirectory("graft_scrub_ckpt").toString)
    try {
      docs.grouped(math.max(docs.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(out)
        .select("doc_id", "n_toks", "n_kept", "clean_md5")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_span_scrub")(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      // the stream actually scrubbed something somewhere
      assert(streamed.exists(r => r(2) != r(1)),
        "no doc lost any token — dup set unused?")
    } finally q.stop()
  }

  test("streaming simhash near-dup equals the standing table's self-join") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq
    val sigs = graft.operators.Dedup.corpusSimhashSigs(spark, TestSpark.sf)

    val out = java.nio.file.Files
      .createTempDirectory("graft_sh_out").toString
    val input = MemoryStream[Doc]
    val q = Docs.simhashSink(input.toDF(), sigs, out,
      java.nio.file.Files.createTempDirectory("graft_sh_ckpt").toString)
    try {
      docs.grouped(math.max(docs.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // replaying the corpus against its own standing table must emit
      // exactly the table's non-self collision pairs, directed new→old
      val streamed = spark.read.parquet(out)
        .select("doc_id", "old_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = sigs.alias("a")
        .join(sigs.alias("b"), col("a.sig") === col("b.sig") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == expected, s"stream=$streamed expected=$expected")
      assert(streamed.nonEmpty, "corpus should contain simhash collisions")
    } finally q.stop()
  }

  test("a live scorer follows a maintained table as it grows — no restart") {
    import graft.operators.{Dedup, TextAnalysis}
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import org.apache.spark.sql.functions.{col => c}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def doc(id: Long, text: String) = Doc(id, text, "en", "web", text.length.toLong)
    val a = doc(1L, "the quick brown fox jumps over the lazy dog")
    val b = doc(2L, "entirely different words live in this one here")
    val root = java.nio.file.Files.createTempDirectory("graft_live").toString
    val out = java.nio.file.Files.createTempDirectory("graft_live_out").toString

    // stream 1 MAINTAINS the simhash family; stream 2 SCORES live — its
    // probe re-resolves countsTable per micro-batch, so rows the
    // maintainer published after the scorer started are still seen
    val in1 = MemoryStream[Doc]
    val maintain = Docs.maintainCountsIndex(in1.toDF(), root,
      java.nio.file.Files.createTempDirectory("graft_live_ck1").toString,
      Dedup.SimhashFamily)
    val in2 = MemoryStream[Doc]
    val live = Docs.scoreEachBatch(in2.toDF(), out,
      java.nio.file.Files.createTempDirectory("graft_live_ck2").toString) {
      batch =>
        val sigs = TextAnalysis
          .countsTable(batch.sparkSession, root, Dedup.SimhashFamily)
          .getOrElse(batch.sparkSession.range(0)
            .select(c("id").as("doc_id"), c("id").as("sig")))
        Docs.simhashBatch(batch, sigs)
    }
    try {
      // scorer starts FIRST, on an empty table: nothing to match
      in2.addData(Seq(doc(10L, "the quick brown fox jumps over the lazy dog")))
      live.processAllAvailable()
      assert(spark.read.parquet(out).count() == 0)
      // the maintainer indexes doc a AFTER the scorer started…
      in1.addData(Seq(a, b)); maintain.processAllAvailable()
      // …and a byte-copy arriving NOW matches it — the probe re-resolved
      in2.addData(Seq(doc(11L, a.text)))
      live.processAllAvailable()
      val hits = spark.read.parquet(out).select("doc_id", "old_id")
        .as[(Long, Long)].collect().toSet
      assert(hits == Set((11L, 1L)), s"got $hits")
    } finally { maintain.stop(); live.stop() }
  }

  test("streaming token-drift monitor: corpus replay is zero, alien batch alarms") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq
    val counts = graft.operators.TextAnalysis
      .corpusUnigramCounts(spark, TestSpark.sf)

    val out = java.nio.file.Files
      .createTempDirectory("graft_drift_out").toString
    val input = MemoryStream[Doc]
    val q = Docs.tokenDriftSink(input.toDF(), counts, out,
      java.nio.file.Files.createTempDirectory("graft_drift_ckpt").toString)
    try {
      // batch 0: the WHOLE corpus in one batch — its distribution IS the
      // reference, so tv must be exactly 0 (the truncations cancel)
      input.addData(docs)
      q.processAllAvailable()
      // batch 1: disjoint-vocabulary spam flood — near-total drift
      input.addData((0 until 50).map(i =>
        Doc(900000L + i, "zzqx wvvk qqpl zzqx wvvk", "en", "spam", 24L)))
      q.processAllAvailable()
      // batch 2: token-FREE documents — the most degenerate batch shape
      // (encoding breakage, empty bodies) must trip the SAME alarm as a
      // disjoint flood, not read as moderate drift below the threshold
      input.addData((0 until 10).map(i =>
        Doc(950000L + i, "", "en", "broken", 0L)))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("batch", "n_docs", "n_tokens", "tv_micros")
        .orderBy("batch").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got.head == ((docs.size.toLong, got.head._2, 0L)), s"got $got")
      assert(got(1)._3 >= 900000L, s"alien batch under-alarmed: $got")
      assert(got(2)._2 == 0L, s"broken batch unexpectedly had tokens: $got")
      assert(got(2)._3 >= got(1)._3,
        s"token-free batch must alarm at least as hard as a disjoint flood: $got")
    } finally q.stop()
  }

  test("streaming winnowing near-dup equals the batch pair set exactly") {
    import graft.operators.Dedup
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val postings = Dedup.corpusWinnowPostings(spark, TestSpark.sf)
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .orderBy("doc_id").as[Doc].collect().toSeq

    val input = MemoryStream[Doc]
    val q = Docs.winnowAgainstIndex(input.toDF(), postings)
      .writeStream.format("memory").queryName("paritywinnow")
      .outputMode(OutputMode.Append()).start()
    try {
      docs.grouped(math.max(docs.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // normalize streamed hits (both directions, per-fp rows) to the
      // batch query's (doc_a < doc_b, n_shared) pair rollup
      val streamed = spark.sql(
        """SELECT least(doc_id, old_id) AS a, greatest(doc_id, old_id) AS b,
          |  CAST(count(DISTINCT fp) AS BIGINT) AS n
          |FROM paritywinnow GROUP BY 1, 2""".stripMargin)
        .as[(Long, Long, Long)].collect().toSet
      val batch = SparkEntry.queries("q_dedup_winnow")(spark, TestSpark.sf)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming outlier scoring equals the batch flags on real events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Tables.load(spark, TestSpark.sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val rows = events.orderBy("event_id").as[Event].collect().toSeq
    // the "trained" model: exact per-type moments from the batch history
    val moments = operators.Analytic.eventMoments(
      events.select(col("event_type"), Q.micros(col("value")).as("v")))

    val input = MemoryStream[Event]
    val q = Events.scoreOutliers(input.toDF(), moments)
      .writeStream.format("memory").queryName("parityout")
      .outputMode(OutputMode.Append()).start()
    try {
      rows.grouped(math.max(rows.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.sql(
        """SELECT event_type, count(*) AS n,
          |  count(CASE WHEN is_outlier THEN 1 END) AS n_out
          |FROM parityout GROUP BY event_type""".stripMargin)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

      val batch = SparkEntry.queries("q_outlier_events")(spark, TestSpark.sf)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.values.map(_._1).sum == rows.size.toLong)
    } finally q.stop()
  }

  test("streaming decontamination equals the batch query on the real corpus") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import graft.operators.TextAnalysis
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val all = Tables.load(spark, TestSpark.sf, "documents")
    val benchGrams = all.filter(col("source") === "src0")
      .select(explode(TextAnalysis.gramSet(col("text"), 3)).as("gram"))
      .distinct()
    val candidates = all.filter(col("source") =!= "src0")
      .orderBy("doc_id").as[Doc].collect().toSeq

    val out = java.nio.file.Files
      .createTempDirectory("graft_decon_out").toString
    val input = MemoryStream[Doc]
    val q = Docs.decontaminateSink(input.toDF(), benchGrams, out,
      java.nio.file.Files.createTempDirectory("graft_decon_ckpt").toString)
    try {
      candidates.grouped(math.max(candidates.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(out)
        .select("doc_id", "n_shared", "verdict")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_decontaminate")(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming semantic decontamination equals the batch query on the real corpus") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Vec
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val planes = Similarity.embPlanes(spark, TestSpark.sf)
    val bench = Similarity.corpusEmbedBuckets(spark, TestSpark.sf)
      .filter(col("vec_id") % 10 === 0)
    val arrivals = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") % 10 =!= 0)
      .orderBy("vec_id").as[Vec].collect().toSeq

    val out = java.nio.file.Files
      .createTempDirectory("graft_edecon_out").toString
    val input = MemoryStream[Vec]
    val q = Docs.embedDecontaminateSink(input.toDF(), bench, planes, out,
      java.nio.file.Files.createTempDirectory("graft_edecon_ckpt").toString)
    try {
      arrivals.grouped(math.max(arrivals.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // flagged stream rows must BE the batch query's flagged table
      val streamed = spark.read.parquet(out)
        .filter(col("verdict") === "flag")
        .select(col("vec_id").as("corpus_vec"), col("n_bench_hits"),
          col("best_bench"), col("best_cos_micros"))
        .orderBy("corpus_vec").collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_embed_decontaminate")(spark, TestSpark.sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      // and every arriving vector got exactly one verdict row
      assert(spark.read.parquet(out).count() == arrivals.size)
    } finally q.stop()
  }

  test("streaming content dedup admits each normalized text exactly once") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Doc]
    val q = Docs.dedupByContent(input.toDF())
      .writeStream.format("memory").queryName("paritydedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // same content re-sent across chunks, with case/whitespace variants
      input.addData(Seq(
        Doc(1, "alpha beta", "en", "s0", 10),
        Doc(2, "gamma delta", "en", "s0", 11)))
      q.processAllAvailable()
      input.addData(Seq(
        Doc(3, "alpha beta", "en", "s0", 10),      // byte-identical copy
        Doc(4, "  ALPHA   beta ", "en", "s0", 15), // normalizes identically
        Doc(5, "epsilon", "en", "s0", 7)))
      q.processAllAvailable()

      val kept = spark.sql("SELECT doc_id FROM paritydedup ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(kept == Seq(1L, 2L, 5L), s"kept=$kept")
    } finally q.stop()
  }

  test("streaming incremental near-dup equals the batch flags on the real corpus") {
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val root = Dedup.buildMinhashIndex(spark, TestSpark.sf)
    val newDocs = Tables.load(spark, TestSpark.sf, "documents")
      .filter(pmod(col("doc_id"), lit(Dedup.IncrMod)) === 0)
      .orderBy("doc_id").as[Doc].collect().toSeq

    val input = MemoryStream[Doc]
    val q = Docs.nearDupAgainstIndex(input.toDF(), root)
      .writeStream.format("memory").queryName("parityincr")
      .outputMode(OutputMode.Append()).start()
    try {
      newDocs.grouped(math.max(newDocs.size / 3, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // band multiplicity collapses to distinct (doc, old) hits; every hit
      // already clears the threshold, so the per-doc rollup must equal the
      // batch operator's summary (minus n_cands, which counts sub-threshold
      // candidates the stream never emits)
      val streamed = spark.sql("SELECT doc_id, old_id, est_micro FROM parityincr")
        .distinct()
        .groupBy("doc_id")
        .agg(countDistinct(col("old_id")).as("n_matches"),
          min(col("old_id")).as("best_match"),
          max(col("est_micro")).as("max_est_micro"))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q_dedup_incremental")(spark, TestSpark.sf)
        .select(col("doc_id"), col("n_matches"), col("best_match"),
          col("max_est_micro"))
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streamed index maintenance equals the static index build exactly") {
    import graft.operators.Dedup
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // same corpus partition the static incremental index covers
    val old = Tables.load(spark, TestSpark.sf, "documents")
      .filter(pmod(col("doc_id"), lit(Dedup.IncrMod)) =!= 0)
    val feed = old.orderBy("doc_id").as[Doc].collect().toSeq

    val root = java.nio.file.Files
      .createTempDirectory("graft_stream_idx").toString
    def sub(name: String) =
      Dedup.minhashIndexTable(spark, root, name).get
    val chunks = feed.grouped(math.max(feed.size / 4, 1)).toSeq
    val input = MemoryStream[Doc]
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_stream_idx_ckpt").toString
    val q = Docs.maintainMinhashIndex(input.toDF(), root, ckptDir)
    try {
      // doc_id-ascending feed in 4 micro-batches
      chunks.foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // a LATER batch carrying a byte-copy of an already-indexed text must
      // be dropped by the reps sidecar — no new signature, no cap slots
      val nSigs = sub("sigs").count()
      input.addData(feed.head.copy(doc_id = 999999L))
      q.processAllAvailable()
      assert(sub("sigs").count() == nSigs, "cross-batch byte-copy was indexed")
    } finally q.stop()

    val staticRoot = Dedup.buildMinhashIndex(spark, TestSpark.sf)
    def table(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    def static(name: String) = spark.read.parquet(s"$staticRoot/$name")

    val sigCols = "doc_id" +: (0 until 8).map(i => s"h$i")
    assert(table(sub("sigs"), sigCols: _*) == table(static("sigs"), sigCols: _*))
    assert(table(sub("bands"), "doc_id", "band", "bkey") ==
      table(static("bands"), "doc_id", "band", "bkey"))
    assert(sub("sigs").count() > 0)

    // REPLAY SAFETY. (a) full restart with a fresh checkpoint re-delivers
    // every batch under the same ids: each doc is fenced by the published
    // parts' `_ids`, so the index comes out byte-identical — nothing
    // re-appends, no cap slot is re-spent (the pre-r8 append layout spent
    // them twice).
    val sigsBefore = table(sub("sigs"), sigCols: _*)
    val bandsBefore = table(sub("bands"), "doc_id", "band", "bkey")
    val nBandRows = sub("bands").count()
    def replayAll(): Unit = {
      val in2 = MemoryStream[Doc]
      val q2 = Docs.maintainMinhashIndex(in2.toDF(), root,
        java.nio.file.Files.createTempDirectory("graft_replay_ckpt").toString)
      try {
        chunks.foreach { chunk => in2.addData(chunk); q2.processAllAvailable() }
      } finally q2.stop()
    }
    replayAll()
    assert(table(sub("sigs"), sigCols: _*) == sigsBefore, "replay changed sigs")
    assert(table(sub("bands"), "doc_id", "band", "bkey") == bandsBefore)
    assert(sub("bands").count() == nBandRows,
      "replay re-spent cap slots (duplicate band rows)")

    // (a2) SAME-LINEAGE replay WITH DATA BEHIND IT: resume the ORIGINAL
    // checkpoint with its last two commits (and the final offset entry)
    // removed — Structured Streaming re-executes batch 3 under the SAME
    // lineage and batchId, whose part is already published: the replay
    // must skip it by marker and leave the index byte-identical.
    val ckfs = new org.apache.hadoop.fs.Path(ckptDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("commits/3", "commits/4", "offsets/4").foreach(f =>
      assert(ckfs.delete(new org.apache.hadoop.fs.Path(s"$ckptDir/$f"), false)))
    val q1b = Docs.maintainMinhashIndex(input.toDF(), root, ckptDir)
    try q1b.processAllAvailable() finally q1b.stop()
    assert(table(sub("sigs"), sigCols: _*) == sigsBefore,
      "same-lineage replay changed sigs")
    assert(table(sub("bands"), "doc_id", "band", "bkey") == bandsBefore)
    assert(sub("bands").count() == nBandRows,
      "same-lineage replay duplicated band rows")
    // (b) a published batch lost as a whole: delete the LAST batch's
    // `minhash_m/batch=…` dirs (its rows and fence now exist nowhere) and
    // replay — the unfenced docs re-index under the replaying lineage and
    // the tables converge to the same content, with no duplicate rows
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def lastBatchDirs(): Seq[org.apache.hadoop.fs.Path] =
      fsys.listStatus(new org.apache.hadoop.fs.Path(s"$root/minhash_m"))
        .toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("batch=") &&
          p.getName.endsWith(s"_${chunks.size - 1}"))
    assert(lastBatchDirs().nonEmpty)
    lastBatchDirs().foreach(p => assert(fsys.delete(p, true)))
    replayAll()
    assert(table(sub("sigs"), sigCols: _*) == sigsBefore)
    assert(table(sub("bands"), "doc_id", "band", "bkey") == bandsBefore)
    assert(sub("bands").count() == nBandRows)

    // (b2) KILLED ATTEMPT: the one crash the atomic publish leaves — an
    // attempt killed after writing its dot-named temp (sigs, bands, reps
    // AND _ids) but before the move. Simulate it by moving the last
    // batch's published dirs back into `.build_*` temps: their _ids must
    // fence nothing and their rows must read nowhere, so a replay
    // re-indexes those docs exactly once; the janitor then sweeps the
    // temps once idle, without touching live rows.
    val killed = lastBatchDirs().zipWithIndex.map { case (p, i) =>
      val t = new org.apache.hadoop.fs.Path(p.getParent, s".build_killed_$i")
      assert(fsys.rename(p, t))
      t
    }
    assert(killed.nonEmpty)
    assert(table(sub("sigs"), sigCols: _*) != sigsBefore,
      "a killed attempt's temp was read as published")
    replayAll()
    assert(table(sub("sigs"), sigCols: _*) == sigsBefore,
      "a killed attempt's temp fenced its docs out of the replay")
    assert(table(sub("bands"), "doc_id", "band", "bkey") == bandsBefore)
    assert(sub("bands").count() == nBandRows)
    assert(StandingIndex.vacuumMaintained(spark, root, graceMs = 0L).isEmpty,
      "a fresh temp was swept inside the idle floor")
    val aged = System.currentTimeMillis() - 2L * 3600 * 1000
    def ageTree(p: org.apache.hadoop.fs.Path): Unit = {
      fsys.listStatus(p).foreach(st => if (st.isDirectory) ageTree(st.getPath)
        else fsys.setTimes(st.getPath, aged, aged))
      fsys.setTimes(p, aged, aged)
    }
    killed.foreach(ageTree)
    val swept = StandingIndex.vacuumMaintained(spark, root, graceMs = 0L)
    assert(killed.forall(t => swept.exists(_.endsWith(t.getName)) &&
      !fsys.exists(t)), s"idle killed temps not swept: $swept")
    assert(table(sub("sigs"), sigCols: _*) == sigsBefore,
      "the sweep touched live rows")
    assert(table(sub("bands"), "doc_id", "band", "bkey") == bandsBefore)

    // (c) LINEAGE SAFETY: a wiped-and-recreated checkpoint restarts batch
    // ids at 0 over a GROWN source. Batch 0 now has a DIFFERENT (superset)
    // composition — under bare batchId-keyed overwrite it would clobber
    // the dead lineage's batch-0 rows; lineage-keyed dirs must instead
    // keep every standing row and admit only the genuinely new doc.
    val extra = feed.head.copy(doc_id = 1999999L,
      text = feed.head.text + " lineage safety sentinel growth")
    val in3 = MemoryStream[Doc]
    val q3 = Docs.maintainMinhashIndex(in3.toDF(), root,
      java.nio.file.Files.createTempDirectory("graft_lineage_ckpt").toString)
    try {
      in3.addData(chunks.head :+ extra) // batch 0 again, superset
      q3.processAllAvailable()
    } finally q3.stop()
    val sigsAfter = table(sub("sigs"), sigCols: _*)
    assert(sigsBefore.subsetOf(sigsAfter),
      "a recreated checkpoint's batch 0 clobbered standing index rows")
    assert(sub("sigs").filter(col("doc_id") === 1999999L).count() == 1,
      "the grown source's new doc was not indexed")
    assert(sigsAfter.size == sigsBefore.size + 1)
  }

  test("a MinHash root in the retired per-subtable layout fails loudly") {
    import graft.operators.Dedup
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // a root the older maintainer wrote: per-subtable `sigs_m/batch=…`
    // partitions that the atomic-part reader would silently ignore
    val root = java.nio.file.Files.createTempDirectory("graft_legacy_mh").toString
    val docs = Seq(Doc(1L, "alpha beta gamma delta", "en", "web", 22L)).toDF()
    Dedup.minhashSignatures(docs).write.parquet(s"$root/sigs_m/batch=x")
    def assertLoud(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(root) && e.getMessage.contains("sigs_m") &&
        e.getMessage.contains("re-seed"), s"$what: unclear error: ${e.getMessage}")
    }
    assertLoud("read view")(Dedup.minhashIndexTable(spark, root, "sigs"))
    assertLoud("maintainer")(Docs.maintainMinhashIndex(MemoryStream[Doc].toDF(),
      root, java.nio.file.Files.createTempDirectory("graft_legacy_ck").toString))
  }

  test("streamed count-family maintenance equals the cold build for all six families") {
    import graft.operators.TextAnalysis
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val corpus = Tables.load(spark, TestSpark.sf, "documents")
    val feed = corpus.orderBy("doc_id").as[Doc].collect().toSeq
    val chunks = feed.grouped(math.max(feed.size / 3, 1)).toSeq

    for (fam <- Seq(TextAnalysis.DupGramFamily, TextAnalysis.UnigramFamily,
        TextAnalysis.BigramFamily, TextAnalysis.DsirFamily,
        graft.operators.Dedup.ChunkDfFamily,
        graft.operators.Dedup.SimhashFamily)) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_cnt_${fam.name}").toString
      val ckptDir = java.nio.file.Files
        .createTempDirectory(s"graft_cnt_ck_${fam.name}").toString
      def maintained() =
        TextAnalysis.countsTable(spark, root, fam).get
          .collect().map(_.toSeq).toSet
      val cold = fam.counts(corpus).collect().map(_.toSeq).toSet

      val input = MemoryStream[Doc]
      val q = Docs.maintainCountsIndex(input.toDF(), root, ckptDir, fam)
      try {
        chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      } finally q.stop()
      assert(maintained() == cold,
        s"${fam.name}: maintained != cold rebuild after 3 batches")

      // cross-lineage replay (recreated checkpoint re-feeding everything):
      // the _ids fence keeps every count exactly-once
      val in2 = MemoryStream[Doc]
      val q2 = Docs.maintainCountsIndex(in2.toDF(), root,
        java.nio.file.Files.createTempDirectory("graft_cnt_rp").toString, fam)
      try {
        chunks.foreach { c => in2.addData(c); q2.processAllAvailable() }
      } finally q2.stop()
      assert(maintained() == cold, s"${fam.name}: cross-lineage replay double-counted")

      // same-lineage replay: drop the last commit; the replayed batch
      // SKIPS by marker (its partition is complete by atomic publish)
      val ckfs = new org.apache.hadoop.fs.Path(ckptDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val last = chunks.size - 1
      assert(ckfs.delete(
        new org.apache.hadoop.fs.Path(s"$ckptDir/commits/$last"), false))
      val q3 = Docs.maintainCountsIndex(input.toDF(), root, ckptDir, fam)
      try q3.processAllAvailable() finally q3.stop()
      assert(maintained() == cold, s"${fam.name}: same-lineage replay drifted")

      // crash recovery: the last batch's partition vanishes entirely (its
      // docs now counted nowhere) — a cross-lineage re-feed restores it
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gone = fsys.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/counts_m")).toSeq
        .map(_.getPath).filter(_.getName.endsWith(s"_$last"))
      assert(gone.nonEmpty)
      gone.foreach(p => assert(fsys.delete(p, true)))
      val in4 = MemoryStream[Doc]
      val q4 = Docs.maintainCountsIndex(in4.toDF(), root,
        java.nio.file.Files.createTempDirectory("graft_cnt_cr").toString, fam)
      try {
        chunks.foreach { c => in4.addData(c); q4.processAllAvailable() }
      } finally q4.stop()
      assert(maintained() == cold, s"${fam.name}: crash recovery did not converge")
    }
  }

  test("counts compaction folds into a fresh root and keeps the fence") {
    import graft.operators.TextAnalysis
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val fam = TextAnalysis.UnigramFamily
    def doc(id: Long, text: String) = Doc(id, text, "en", "web", text.length.toLong)
    val old = Seq(doc(1L, "alpha beta gamma"), doc(2L, "beta gamma delta"),
      doc(3L, "gamma delta epsilon"))
    val root1 = java.nio.file.Files.createTempDirectory("graft_cmp1").toString
    val in1 = MemoryStream[Doc]
    val q1 = Docs.maintainCountsIndex(in1.toDF(), root1,
      java.nio.file.Files.createTempDirectory("graft_cmp_ck1").toString, fam)
    try {
      old.grouped(2).foreach { c => in1.addData(c); q1.processAllAvailable() }
    } finally q1.stop()

    val root2 = java.nio.file.Files.createTempDirectory("graft_cmp2").toString
    TextAnalysis.compactCountsIndex(spark, root1, root2, fam)
    def tbl(r: String) = TextAnalysis.countsTable(spark, r, fam).get
      .collect().map(_.toSeq).toSet
    assert(tbl(root2) == tbl(root1), "compaction changed the merged counts")
    // maintain ON the compacted root: a re-feed of every old doc plus one
    // genuinely new doc — the folded fence must drop the old, count the new
    val extra = doc(9L, "zeta eta theta")
    val in2 = MemoryStream[Doc]
    val q2 = Docs.maintainCountsIndex(in2.toDF(), root2,
      java.nio.file.Files.createTempDirectory("graft_cmp_ck2").toString, fam)
    try { in2.addData(old :+ extra); q2.processAllAvailable() } finally q2.stop()
    val want = fam.counts((old :+ extra).toDF()).collect().map(_.toSeq).toSet
    assert(tbl(root2) == want,
      "compacted root lost the fence (double-count) or the new doc")
  }

  test("a crashed unpublished count attempt never fences its docs out") {
    import graft.operators.TextAnalysis
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // a dead lineage crashed AFTER writing its dot-named temp (counts +
    // _ids) but BEFORE the atomic publish: its _ids name this batch's
    // docs, but their counts never landed — the fence must NOT believe
    // them (a `*/_ids` glob would: Hadoop globs match dot-named dirs)
    val fam = TextAnalysis.UnigramFamily
    val d = Seq(
      Doc(1L, "alpha beta gamma", "en", "web", 16L),
      Doc(2L, "delta epsilon zeta", "en", "web", 18L))
    val corpus = d.toDF()
    val root = java.nio.file.Files
      .createTempDirectory("graft_cnt_crash").toString
    fam.counts(corpus).write.parquet(s"$root/counts_m/.build_dead_x")
    corpus.select("doc_id").write
      .parquet(s"$root/counts_m/.build_dead_x/_ids")

    val input = MemoryStream[Doc]
    val q = Docs.maintainCountsIndex(input.toDF(), root,
      java.nio.file.Files.createTempDirectory("graft_cnt_crash_ck").toString,
      fam)
    try { input.addData(d); q.processAllAvailable() } finally q.stop()
    val got = TextAnalysis.countsTable(spark, root, fam).get
      .collect().map(_.toSeq).toSet
    val cold = fam.counts(corpus).collect().map(_.toSeq).toSet
    assert(got == cold,
      "a crashed unpublished attempt's _ids fenced live docs out of the counts")

    // the janitor reclaims the dead temp once its subtree is idle past
    // the floor — and never touches a fresh (possibly-live) one
    val fs2 = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(StandingIndex.vacuumMaintained(spark, root, graceMs = 0L).isEmpty,
      "a fresh temp was swept inside the idle floor")
    val dead = new org.apache.hadoop.fs.Path(s"$root/counts_m/.build_dead_x")
    val old = System.currentTimeMillis() - 2L * 3600 * 1000
    def ageTree(p: org.apache.hadoop.fs.Path): Unit = {
      fs2.listStatus(p).foreach(st => if (st.isDirectory) ageTree(st.getPath)
        else fs2.setTimes(st.getPath, old, old))
      fs2.setTimes(p, old, old)
    }
    ageTree(dead)
    val swept = StandingIndex.vacuumMaintained(spark, root, graceMs = 0L)
    assert(swept.exists(_.endsWith(".build_dead_x")) && !fs2.exists(dead),
      s"idle dead temp not swept: $swept")
    assert(TextAnalysis.countsTable(spark, root, fam).get
      .collect().map(_.toSeq).toSet == cold, "sweep touched live data")
  }

  test("a seeded counts root maintains on top of its static base; twins read it live") {
    import graft.operators.TextAnalysis
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import org.apache.spark.sql.functions.{col => c}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val fam = TextAnalysis.DupGramFamily
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
    // static base = the corpus-so-far; the stream delivers NEW docs
    // (clones of existing texts under fresh doc_ids, so dup-gram counts
    // actually move)
    val baseDocs = corpus.filter(c("doc_id") % 2 === 0)
    val newDocs = corpus.filter(c("doc_id") % 2 =!= 0)
      .orderBy("doc_id").as[Doc].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_seed").toString
    graft.sources.Export.flush(fam.counts(baseDocs), s"$root/counts")

    val input = MemoryStream[Doc]
    val q = Docs.maintainCountsIndex(input.toDF(), root,
      java.nio.file.Files.createTempDirectory("graft_seed_ck").toString, fam)
    try {
      newDocs.grouped(math.max(newDocs.size / 2, 1)).foreach { ch =>
        input.addData(ch); q.processAllAvailable()
      }
    } finally q.stop()
    val maintained = TextAnalysis.countsTable(spark, root, fam).get
    val cold = fam.counts(corpus)
    assert(maintained.collect().map(_.toSeq).toSet ==
      cold.collect().map(_.toSeq).toSet,
      "seeded base + streamed batches != cold build over the full corpus")

    // the span-scrub twin scores against the LIVE maintained table: its
    // duplicated-gram set equals the frozen cold build's, so the scrub
    // output is identical — but it keeps moving as batches land, which
    // the frozen table cannot
    val dupLive = maintained.filter(c("nd") >= 2).select("gh")
    val dupCold = cold.filter(c("nd") >= 2).select("gh")
    val live = TextAnalysis.spanScrubScore(corpus, dupLive)
      .collect().map(_.toSeq).toSet
    val frozen = TextAnalysis.spanScrubScore(corpus, dupCold)
      .collect().map(_.toSeq).toSet
    assert(live == frozen && live.nonEmpty)
  }

  test("streamed postings maintenance equals the cold build for both df-capped families") {
    import graft.operators.Dedup
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val corpus = Tables.load(spark, TestSpark.sf, "documents")
    val feed = corpus.orderBy("doc_id").as[Doc].collect().toSeq
    val chunks = feed.grouped(math.max(feed.size / 3, 1)).toSeq

    for (fam <- Seq(Dedup.SubstrPostingsFamily, Dedup.RareGramPostingsFamily)) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_pst_${fam.name}").toString
      val ckptDir = java.nio.file.Files
        .createTempDirectory(s"graft_pst_ck_${fam.name}").toString
      def maintained() = Dedup.postingsTable(spark, root, fam).get
        .collect().map(_.toSeq).toSet
      // cold = the live view of a one-part tombstoned build of the whole
      // corpus — exactly what cachedPostingsIndex's reader serves
      val cold = fam.live(fam.post(corpus).withColumn("df", lit(1L)))
        .collect().map(_.toSeq).toSet
      assert(cold.nonEmpty, s"${fam.name}: test corpus produced no postings")

      val input = MemoryStream[Doc]
      val q = Docs.maintainPostingsIndex(input.toDF(), root, ckptDir, fam)
      try {
        chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      } finally q.stop()
      assert(maintained() == cold,
        s"${fam.name}: maintained != cold rebuild after 3 batches")

      // cross-lineage replay: the _ids fence keeps every posting exactly-once
      val in2 = MemoryStream[Doc]
      val q2 = Docs.maintainPostingsIndex(in2.toDF(), root,
        java.nio.file.Files.createTempDirectory("graft_pst_rp").toString, fam)
      try {
        chunks.foreach { c => in2.addData(c); q2.processAllAvailable() }
      } finally q2.stop()
      assert(maintained() == cold,
        s"${fam.name}: cross-lineage replay double-posted")

      // same-lineage replay: drop the last commit; the replayed batch
      // skips by marker (its part is complete by atomic publish)
      val ckfs = new org.apache.hadoop.fs.Path(ckptDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val last = chunks.size - 1
      assert(ckfs.delete(
        new org.apache.hadoop.fs.Path(s"$ckptDir/commits/$last"), false))
      val q3 = Docs.maintainPostingsIndex(input.toDF(), root, ckptDir, fam)
      try q3.processAllAvailable() finally q3.stop()
      assert(maintained() == cold, s"${fam.name}: same-lineage replay drifted")

      // crash recovery: the last batch's part vanishes entirely — a
      // cross-lineage re-feed restores it
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gone = fsys.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/postings_m")).toSeq
        .map(_.getPath).filter(_.getName.endsWith(s"_$last"))
      assert(gone.nonEmpty)
      gone.foreach(p => assert(fsys.delete(p, true)))
      val in4 = MemoryStream[Doc]
      val q4 = Docs.maintainPostingsIndex(in4.toDF(), root,
        java.nio.file.Files.createTempDirectory("graft_pst_cr").toString, fam)
      try {
        chunks.foreach { c => in4.addData(c); q4.processAllAvailable() }
      } finally q4.stop()
      assert(maintained() == cold,
        s"${fam.name}: crash recovery did not converge")
    }
  }

  test("a postings batch deriving zero rows publishes an empty fenced part") {
    import graft.operators.Dedup
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fam = Dedup.RareGramPostingsFamily // en-filtered: non-en docs derive nothing
    val root = java.nio.file.Files.createTempDirectory("graft_pempty").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pempty_ck").toString
    val xx = Seq(Doc(1L, "uno dos tres cuatro", "xx", "web", 19L),
      Doc(2L, "cinco seis siete", "xx", "web", 16L))
    val en = Seq(Doc(3L, "alpha beta gamma delta", "en", "web", 22L),
      Doc(4L, "beta gamma delta epsilon", "en", "web", 24L))
    val input = MemoryStream[Doc]
    val q = Docs.maintainPostingsIndex(input.toDF(), root, ckpt, fam)
    try {
      // batch 0: nothing derivable — the part publishes EMPTY but its
      // _ids still fence the docs; batch 1's evidence read over that
      // empty part must not trip schema inference
      input.addData(xx); q.processAllAvailable()
      input.addData(en); q.processAllAvailable()
    } finally q.stop()
    val got = Dedup.postingsTable(spark, root, fam).get
      .collect().map(_.toSeq).toSet
    val cold = fam.live(fam.post((xx ++ en).toDF())
      .withColumn("df", lit(1L))).collect().map(_.toSeq).toSet
    assert(got == cold && got.nonEmpty,
      s"empty-part interleave drifted: got=${got.size} cold=${cold.size}")
    // the empty part is still a fence: a cross-lineage re-feed of the
    // xx docs (now claiming lang=en!) is dropped by doc_id — the
    // immutability contract, not re-derived under the new lang
    val in2 = MemoryStream[Doc]
    val q2 = Docs.maintainPostingsIndex(in2.toDF(), root,
      java.nio.file.Files.createTempDirectory("graft_pempty_rp").toString, fam)
    try {
      in2.addData(xx.map(_.copy(lang = "en"))); q2.processAllAvailable()
    } finally q2.stop()
    assert(Dedup.postingsTable(spark, root, fam).get
      .collect().map(_.toSeq).toSet == cold,
      "a re-fed doc slipped past an empty part's fence")
  }

  test("a gram crossing the df cap mid-stream tombstones; df keeps counting") {
    import graft.operators.Dedup
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // surgical family: unigram postings, cap 3 — "hot" crosses the cap in
    // batch 2 and keeps arriving in batch 3
    val fam = Dedup.PostingsFamily("unitest", 3, d => d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("gram"))
      .distinct())
    def doc(id: Long, text: String) = Doc(id, text, "en", "web", text.length.toLong)
    val batches = Seq(
      Seq(doc(1L, "hot a1"), doc(2L, "hot a2")),        // hot df: 2 (live)
      Seq(doc(3L, "hot b1"), doc(4L, "hot b2")),        // hot df: 4 (crosses)
      Seq(doc(5L, "hot c1")))                           // hot df: 5 (stays dropped)
    val all = batches.flatten
    val root = java.nio.file.Files.createTempDirectory("graft_cross").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cross_ck").toString
    val input = MemoryStream[Doc]
    val q = Docs.maintainPostingsIndex(input.toDF(), root, ckpt, fam)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val live = Dedup.postingsTable(spark, root, fam).get
      .as[(Long, String)].collect().toSet
    val cold = fam.live(fam.post(all.toDF()).withColumn("df", lit(1L)))
      .as[(Long, String)].collect().toSet
    assert(live == cold, s"crossing drifted: live=$live cold=$cold")
    assert(!live.exists(_._2 == "hot"),
      "a gram over the cap leaked into the live view")
    assert(live.exists(_._2 == "a1") && live.exists(_._2 == "c1"))

    // df kept counting across the crossing: the stored parts' totals see
    // all 5 occurrences, so a hypothetical cap-5 reader would resurrect
    val parts = spark.read.parquet(s"$root/postings_m")
      .select("doc_id", "gram", "df")
    val hotDf = fam.totals(parts).filter(col("gram") === "hot")
      .select("known").as[Long].collect()
    assert(hotDf.toSeq == Seq(5L), s"hot df lost count: ${hotDf.toSeq}")
    // the crossing batch TOMBSTONED its own arrivals (postings dropped at
    // write time, not just filtered at read time)…
    val tomb = parts.filter(col("doc_id").isNull && col("gram") === "hot")
      .select("df").as[Long].collect().toSeq.sorted
    assert(tomb == Seq(1L, 2L), s"expected batch-2 and batch-3 tombstones: $tomb")
    // …and batch 3, with saturation PROVEN by published evidence, stored
    // no hot postings at all
    assert(parts.filter(col("doc_id") === 5L && col("gram") === "hot")
      .isEmpty, "a proven-saturated gram's postings were stored anyway")

    // compaction folds the straggler postings batch 1 admitted: the new
    // root stores ONE hot tombstone carrying df=5 and no hot postings,
    // the live view is unchanged, and the folded fence still drops a
    // re-feed while counting a genuinely new doc
    val root2 = java.nio.file.Files.createTempDirectory("graft_cross2").toString
    Dedup.compactPostingsIndex(spark, root, root2, fam)
    val base2 = spark.read.parquet(s"$root2/postings")
    assert(base2.filter(col("gram") === "hot").collect().toSeq.map(r =>
      (r.isNullAt(0), r.getLong(2))) == Seq((true, 5L)),
      "compaction did not fold the saturated gram to one full-df tombstone")
    assert(Dedup.postingsTable(spark, root2, fam).get
      .as[(Long, String)].collect().toSet == cold)
    val extra = doc(9L, "hot z9")
    val in2 = MemoryStream[Doc]
    val q2 = Docs.maintainPostingsIndex(in2.toDF(), root2,
      java.nio.file.Files.createTempDirectory("graft_cross_ck2").toString, fam)
    try { in2.addData(all :+ extra); q2.processAllAvailable() } finally q2.stop()
    val want = fam.live(fam.post((all :+ extra).toDF())
      .withColumn("df", lit(1L))).as[(Long, String)].collect().toSet
    assert(Dedup.postingsTable(spark, root2, fam).get
      .as[(Long, String)].collect().toSet == want,
      "compacted root lost the fence or the new doc")

    // a crashed unpublished attempt's _ids never fence docs out (the
    // counts-maintainer rule, same enumeration)
    val root3 = java.nio.file.Files.createTempDirectory("graft_cross3").toString
    fam.part(fam.post(all.take(2).toDF()), None)
      .write.parquet(s"$root3/postings_m/.build_dead_x")
    all.take(2).toDF().select("doc_id").write
      .parquet(s"$root3/postings_m/.build_dead_x/_ids")
    val in3 = MemoryStream[Doc]
    val q3 = Docs.maintainPostingsIndex(in3.toDF(), root3,
      java.nio.file.Files.createTempDirectory("graft_cross_ck3").toString, fam)
    try { in3.addData(all.take(2)); q3.processAllAvailable() } finally q3.stop()
    assert(Dedup.postingsTable(spark, root3, fam).get
      .as[(Long, String)].collect().toSet ==
      fam.live(fam.post(all.take(2).toDF()).withColumn("df", lit(1L)))
        .as[(Long, String)].collect().toSet,
      "a crashed unpublished attempt's _ids fenced live docs out")
    assert(StandingIndex.vacuumMaintained(spark, root3, graceMs = 0L).isEmpty,
      "a fresh temp was swept inside the idle floor")
  }

  test("a seeded postings root maintains on top of its compact base") {
    import graft.operators.Dedup
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the rare-gram family at a TIGHTENED cap (the sf0.001 corpus never
    // crosses the production DfCap=50; max en-bigram df is 26), so the
    // seeded base genuinely holds tombstones
    val fam = Dedup.RareGramPostingsFamily.copy(name = "engram2lo", cap = 10)
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_pseed").toString
    Dedup.seedPostingsIndex(spark, TestSpark.sf, fam, root)
    // the seeded base alone reads as the cold build
    val cold = fam.live(fam.post(corpus).withColumn("df", lit(1L)))
      .collect().map(_.toSeq).toSet
    assert(Dedup.postingsTable(spark, root, fam).get
      .collect().map(_.toSeq).toSet == cold)
    // …and the base is COMPACT: saturated grams hold no postings rows
    val base = spark.read.parquet(s"$root/postings")
    assert(base.filter(col("doc_id").isNull).count() > 0,
      "test corpus saturates no gram — the base-tombstone path is untested")
    // stream a tail whose grams include copies of an already-saturated
    // gram: base evidence must tombstone them eagerly AND the read view
    // must equal the cold rebuild of the grown corpus
    val satGram = base.filter(col("doc_id").isNull)
      .select("gram").as[String].head()
    val maxId = corpus.agg(max("doc_id")).collect()(0).getLong(0)
    val tail = (1 to 3).map(i =>
      Doc(maxId + i, s"$satGram fresh$i tail", "en", "web", 20L))
    val in = MemoryStream[Doc]
    val q = Docs.maintainPostingsIndex(in.toDF(), root,
      java.nio.file.Files.createTempDirectory("graft_pseed_ck").toString, fam)
    try { in.addData(tail); q.processAllAvailable() } finally q.stop()
    val grown = corpus.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(tail.toDF().select("doc_id", "text", "lang", "source",
        "n_chars"))
    val want = fam.live(fam.post(grown).withColumn("df", lit(1L)))
      .collect().map(_.toSeq).toSet
    assert(Dedup.postingsTable(spark, root, fam).get
      .collect().map(_.toSeq).toSet == want,
      "seeded base + streamed tail != cold rebuild of the grown corpus")
    // the tail's part stored NO postings for the base-saturated gram —
    // base evidence proved saturation, so the arrivals landed as a
    // tombstone only
    val parts = spark.read.parquet(s"$root/postings_m")
    assert(parts.filter(col("doc_id").isNotNull &&
      col("gram") === satGram).isEmpty,
      "a base-saturated gram's new postings were stored instead of tombstoned")
    assert(parts.filter(col("doc_id").isNull && col("gram") === satGram)
      .count() == 1)
  }

  test("an unmarked seeded postings base is no saturation evidence for the maintainer") {
    import graft.operators.Dedup
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // "hot" sits at the cap in the base; two more arrivals would prove it
    // saturated — but only if the base counted, and the read view ignores
    // a base without its job-commit marker (a driver killed in commit)
    val fam = Dedup.PostingsFamily("unmarked", 3, d => d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("gram"))
      .distinct())
    def doc(id: Long, text: String) = Doc(id, text, "en", "web", text.length.toLong)
    val baseDocs = Seq(doc(1L, "hot a1"), doc(2L, "hot a2"), doc(3L, "hot a3"))
    val tail = Seq(doc(4L, "hot b4"), doc(5L, "hot b5"))
    val root = java.nio.file.Files.createTempDirectory("graft_unmarked").toString
    graft.sources.Export.flush(
      fam.compactForm(fam.post(baseDocs.toDF()).withColumn("df", lit(1L))),
      s"$root/postings")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/postings/_SUCCESS"),
      false))
    assert(Dedup.postingsTable(spark, root, fam).isEmpty)

    val in = MemoryStream[Doc]
    val q = Docs.maintainPostingsIndex(in.toDF(), root,
      java.nio.file.Files.createTempDirectory("graft_unmarked_ck").toString, fam)
    try { in.addData(tail); q.processAllAvailable() } finally q.stop()
    val want = fam.live(fam.post(tail.toDF()).withColumn("df", lit(1L)))
      .as[(Long, String)].collect().toSet
    assert(want.exists(_._2 == "hot"))
    assert(Dedup.postingsTable(spark, root, fam).get
      .as[(Long, String)].collect().toSet == want,
      "the maintainer tombstoned on base evidence the read view ignores")
  }

  test("read views skip a crashed temp and an unmarked seeded base: counts, postings, IVF, PQ, MinHash") {
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    import spark.implicits._

    val docs = Seq((1L, "alpha beta gamma", "en"), (2L, "beta gamma delta", "en"))
      .toDF("doc_id", "text", "lang")
    val cfam = TextAnalysis.UnigramFamily
    val pfam = Dedup.RareGramPostingsFamily
    val lists = Seq((1L, Seq(1.0, 0.0), 0), (2L, Seq(0.0, 1.0), 1))
      .toDF("c_id", "ce", "cell")
    val codes = Seq((1L, 0, 3), (1L, 1, 5), (2L, 0, 7)).toDF("c_id", "sub", "code")
    val sigs = Dedup.minhashSignatures(docs)
    // (maintained side, table dir inside a part and of the seeded base,
    // stored rows, the family's read view, its view of the rows); a
    // single-table family stores its rows at the part root and at
    // `root/<side>`
    val views: Seq[(String, String, org.apache.spark.sql.DataFrame,
        String => Option[org.apache.spark.sql.DataFrame],
        org.apache.spark.sql.DataFrame)] = Seq(
      ("counts", "", cfam.counts(docs),
        r => TextAnalysis.countsTable(spark, r, cfam), cfam.counts(docs)),
      ("postings", "", pfam.part(pfam.post(docs), None),
        r => Dedup.postingsTable(spark, r, pfam),
        pfam.live(pfam.part(pfam.post(docs), None))),
      ("lists", "", lists, r => Similarity.ivfListsTable(spark, r), lists),
      ("codes", "", codes, r => Similarity.pqCodesTable(spark, r), codes),
      ("minhash", "sigs", sigs,
        r => Dedup.minhashIndexTable(spark, r, "sigs"), sigs))
    val fs = new org.apache.hadoop.fs.Path(System.getProperty("java.io.tmpdir"))
      .getFileSystem(spark.sessionState.newHadoopConf())
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    for ((sub, tbl, stored, read, want) <- views) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_rv_$sub").toString
      val base = if (tbl.isEmpty) s"$root/$sub" else s"$root/$tbl"
      // a maintained side holding only a dead build temp is absent…
      stored.write.parquet(s"$root/${sub}_m/.build_dead_x" +
        (if (tbl.isEmpty) "" else s"/$tbl"))
      assert(read(root).isEmpty, s"$sub: a dead temp read as a maintained part")
      // …and never shadows or joins a marked seeded base
      graft.sources.Export.flush(stored, base)
      assert(read(root).map(rows).contains(rows(want)),
        s"$sub: the dead temp leaked into the base's view")
      // an unmarked seeded base reads as absent
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/_SUCCESS"),
        false))
      assert(read(root).isEmpty, s"$sub: an unmarked seeded base was served")
    }
    assert(rows(views(1)._5).nonEmpty, "the postings case derived no live rows")
    assert(rows(sigs).nonEmpty, "the MinHash case derived no signatures")
  }

  test("streamed IVF/PQ assignment equals the batch append-refresh; search probes the live table") {
    import graft.operators.Similarity
    import graft.streaming.Docs
    import graft.streaming.Docs.Vec
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.VectorOps.register(spark)

    // base half of the embeddings seeds the roots (frozen model state +
    // static lists/codes); the other half arrives as a stream
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val cut = 250L
    val baseDir = java.nio.file.Files.createTempDirectory("graft_vecbase").toString
    emb.filter(col("vec_id") < cut)
      .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    val tail = emb.filter(col("vec_id") >= cut)
    val tailRows = tail.as[Vec].collect().toSeq
    val tailChunks = tailRows.grouped(math.max(tailRows.size / 2, 1)).toSeq

    // ---- IVF ----
    val ivfRoot = java.nio.file.Files.createTempDirectory("graft_ivfm").toString
    Similarity.seedIvfIndex(spark, baseDir, ivfRoot)
    val cents = spark.read.parquet(s"$ivfRoot/centroids")
    val input = MemoryStream[Vec]
    val q = Docs.maintainIvfIndex(input.toDF(), ivfRoot,
      java.nio.file.Files.createTempDirectory("graft_ivfm_ck").toString)
    try {
      tailChunks.foreach { c => input.addData(c); q.processAllAvailable() }
    } finally q.stop()
    def listSet(d: org.apache.spark.sql.DataFrame) =
      d.select("c_id", "ce", "cell").collect().map(_.toSeq).toSet
    val maintainedLists = Similarity.ivfListsTable(spark, ivfRoot).get
    // the batch append-refresh rule, computed directly: frozen centroids,
    // assign ONLY the new vectors, union the base lists
    val batchLists = spark.read.parquet(s"$ivfRoot/lists").unionByName(
      Similarity.ivfAssign(Similarity.unitizeVecs(tail), cents))
    assert(listSet(maintainedLists) == listSet(batchLists),
      "streamed IVF assignment != batch append-refresh")
    // the q_knn_ivf probe over the MAINTAINED table: same plan, and the
    // query set deliberately includes STREAMED vectors — they are
    // searchable (and search identically to the batch-refreshed index)
    val qs = maintainedLists
      .filter(col("c_id").isin(0L, 1L, cut, cut + 1L))
      .select(col("c_id").as("q_id"), col("ce").as("qe"))
    val gotSearch = Similarity.ivfSearch(cents, maintainedLists, qs)
      .collect().map(_.toSeq).toSet
    val wantSearch = Similarity.ivfSearch(cents, batchLists, qs)
      .collect().map(_.toSeq).toSet
    assert(gotSearch == wantSearch && gotSearch.nonEmpty,
      "IVF search over the maintained table drifted from the batch index")
    assert(gotSearch.exists(r => r.head.asInstanceOf[Long] >= cut),
      "no streamed vector was searchable as a query")
    assert(Similarity.ivfSearch(cents, maintainedLists, qs)
      .filter(col("c_id") >= cut).count() > 0,
      "no streamed vector surfaced as a neighbor")
    // cross-lineage re-feed: the _ids fence keeps list rows exactly-once
    val in2 = MemoryStream[Vec]
    val q2 = Docs.maintainIvfIndex(in2.toDF(), ivfRoot,
      java.nio.file.Files.createTempDirectory("graft_ivfm_rp").toString)
    try { in2.addData(tailRows); q2.processAllAvailable() } finally q2.stop()
    assert(listSet(Similarity.ivfListsTable(spark, ivfRoot).get) ==
      listSet(batchLists), "cross-lineage replay duplicated list rows")

    // ---- PQ ----
    val pqRoot = java.nio.file.Files.createTempDirectory("graft_pqm").toString
    Similarity.seedPqIndex(spark, baseDir, pqRoot)
    val cb = spark.read.parquet(s"$pqRoot/codebook")
    val pin = MemoryStream[Vec]
    val pq = Docs.maintainPqIndex(pin.toDF(), pqRoot,
      java.nio.file.Files.createTempDirectory("graft_pqm_ck").toString)
    try {
      tailChunks.foreach { c => pin.addData(c); pq.processAllAvailable() }
    } finally pq.stop()
    val maintainedCodes = Similarity.pqCodesTable(spark, pqRoot).get
      .collect().map(_.toSeq).toSet
    val batchCodes = spark.read.parquet(s"$pqRoot/codes").unionByName(
      Similarity.pqEncode(Similarity.pqSubvecs(tail), cb))
      .collect().map(_.toSeq).toSet
    assert(maintainedCodes == batchCodes,
      "streamed PQ encoding != batch append-refresh")
    assert(maintainedCodes.exists(_.head.asInstanceOf[Long] >= cut))
  }

  test("ivfDriftStats flags a drifted stream cohort and clears a faithful one") {
    import graft.operators.Similarity
    import graft.streaming.Docs
    import graft.streaming.Docs.Vec
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.VectorOps.register(spark)
    // controlled geometry: the base corpus is two tight axis clusters, so
    // the trained centroids sit on those axes with near-perfect fit; a
    // faithful stream lands on the same axes (fit ≈ 1), a drifted stream
    // on an ORTHOGONAL axis the frozen centroids cannot cover (fit ≈ 0)
    def vec(axis: Int, i: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(axis) = 1.0f
      a((axis + 1) % 64) = 0.02f * ((i % 5) + 1) // tiny jitter: distinct rows
      a
    }
    val base = (0L until 20L).map(i => (i, vec(0, i.toInt), 0)) ++
      (20L until 40L).map(i => (i, vec(7, i.toInt), 1))
    val baseDir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    base.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$baseDir/embeddings.parquet")
    def streamInto(root: String, rows: Seq[(Long, Array[Float], Int)]): Unit = {
      val in = MemoryStream[Vec]
      val q = Docs.maintainIvfIndex(in.toDF(), root,
        java.nio.file.Files.createTempDirectory("graft_drift_ck").toString)
      try {
        in.addData(rows.map(r => Vec(r._1, r._2, r._3)))
        q.processAllAvailable()
      } finally q.stop()
    }
    def stats(root: String): Map[String, (Long, Double)] =
      Similarity.ivfDriftStats(spark, root).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // faithful cohort: same axes as the base
    val rootA = java.nio.file.Files.createTempDirectory("graft_driftA").toString
    Similarity.seedIvfIndex(spark, baseDir, rootA, k = 2, iters = 2)
    streamInto(rootA, (100L until 110L).map(i => (i, vec(0, i.toInt), 0)))
    val a = stats(rootA)
    assert(a("base")._1 == 40 && a("maintained")._1 == 10)
    assert(a("base")._2 > 0.9, s"base centroids should fit tightly: $a")
    assert(a("maintained")._2 > 0.9 * a("base")._2,
      s"a faithful cohort was flagged as drift: $a")
    // drifted cohort: an axis orthogonal to every trained centroid
    val rootB = java.nio.file.Files.createTempDirectory("graft_driftB").toString
    Similarity.seedIvfIndex(spark, baseDir, rootB, k = 2, iters = 2)
    streamInto(rootB, (200L until 210L).map(i => (i, vec(33, i.toInt), 2)))
    val b = stats(rootB)
    assert(b("maintained")._2 < 0.5 * b("base")._2,
      s"an orthogonal cohort was not flagged: $b")

    // the ACTUATOR: re-seed the drifted root into a fresh one FROM THE
    // LISTS THEMSELVES (unit vectors already stored — no corpus re-read);
    // with k=3 the orthogonal cohort earns its own centroid
    val rootB2 = java.nio.file.Files.createTempDirectory("graft_driftB2").toString
    Similarity.reseedIvfIndex(spark, rootB, rootB2, k = 3, iters = 3)
    val lists2 = Similarity.ivfListsTable(spark, rootB2).get
    assert(lists2.count() == 50, "re-seed lost vectors")
    val s2 = stats(rootB2)
    assert(s2.keySet == Set("base") && s2("base")._1 == 50)
    assert(s2("base")._2 > b("maintained")._2 + 0.3,
      s"re-seed did not restore fit: before=${b("maintained")._2} after=$s2")
    // the previously-drifted vectors are now properly searchable: an
    // axis-33 query's nearest neighbors are its own cohort
    val cents2 = spark.read.parquet(s"$rootB2/centroids")
    val q33 = lists2.filter(col("c_id") === 200L)
      .select(col("c_id").as("q_id"), col("ce").as("qe"))
    val top = Similarity.ivfSearch(cents2, lists2, q33)
      .filter(col("rn") <= 5).select("c_id")
      .as[Long].collect().toSet
    assert(top.forall(c => c >= 200L && c < 210L),
      s"re-seeded search returned cross-axis neighbors first: $top")

    // the PQ twin: quantization error of a cohort vs the frozen codebook
    val pqRoot = java.nio.file.Files.createTempDirectory("graft_driftPQ").toString
    Similarity.seedPqIndex(spark, baseDir, pqRoot)
    def pqErr(rows: Seq[(Long, Array[Float], Int)]): Double =
      Similarity.pqDriftStats(spark, pqRoot,
        rows.toDF("vec_id", "embedding", "label")).collect()(0).getDouble(1)
    val faithfulErr = pqErr((300L until 310L).map(i => (i, vec(0, i.toInt), 0)))
    val drifted = (400L until 410L).map(i => (i, vec(33, i.toInt), 2))
    val driftedErr = pqErr(drifted)
    assert(driftedErr > 3 * math.max(faithfulErr, 1e-9),
      s"PQ drift not flagged: faithful=$faithfulErr drifted=$driftedErr")
    // the PQ actuator: codes cannot reconstruct vectors, so reseedPqIndex
    // retrains from the CORPUS (grown to include the drifted cohort);
    // the new codebook covers the new axis and the cohort's quantization
    // error collapses
    drifted.toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$baseDir/embeddings.parquet")
    val pqRoot2 = java.nio.file.Files.createTempDirectory("graft_driftPQ2").toString
    Similarity.reseedPqIndex(spark, baseDir, pqRoot2)
    val reseededErr = Similarity.pqDriftStats(spark, pqRoot2,
      drifted.toDF("vec_id", "embedding", "label")).collect()(0).getDouble(1)
    assert(reseededErr < 0.5 * driftedErr,
      s"PQ re-seed did not restore coverage: $driftedErr -> $reseededErr")
  }

  test("reseedIvfIfDrifted closes the loop: threshold, stop, fresh root, retire") {
    import graft.operators.Similarity
    import graft.streaming.Docs
    import graft.streaming.Docs.Vec
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.VectorOps.register(spark)
    // same controlled geometry as the detector spec: two tight axis
    // clusters seed the root; a faithful cohort lands on the same axes,
    // a drifted one on an orthogonal axis
    def vec(axis: Int, i: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(axis) = 1.0f
      a((axis + 1) % 64) = 0.02f * ((i % 5) + 1)
      a
    }
    val baseDir = java.nio.file.Files.createTempDirectory("graft_loop").toString
    ((0L until 20L).map(i => (i, vec(0, i.toInt), 0)) ++
      (20L until 40L).map(i => (i, vec(7, i.toInt), 1)))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$baseDir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_loopR").toString
    Similarity.seedIvfIndex(spark, baseDir, root, k = 2, iters = 2)
    val in = MemoryStream[Vec]
    val q = Docs.maintainIvfIndex(in.toDF(), root,
      java.nio.file.Files.createTempDirectory("graft_loopCk").toString)
    try {
      // 1) faithful cohort: the policy must NOT fire — same root back,
      // maintainer left running
      in.addData((100L until 110L).map(i => Vec(i, vec(0, i.toInt), 0)))
      q.processAllAvailable()
      val unfired = Similarity.reseedIvfIfDrifted(spark, root, Some(q),
        minMaintained = 10L, maxFitRatio = 0.5, k = 3, iters = 3)
      assert(unfired == root, "policy fired on a faithful cohort")
      assert(q.isActive, "policy stopped the maintainer without firing")
      // 2) orthogonal cohort — enough of it that the mixed maintained
      // mean fit (10 faithful + 15 orthogonal ≈ 0.4) crosses the ratio
      in.addData((200L until 215L).map(i => Vec(i, vec(33, i.toInt), 2)))
      q.processAllAvailable()
      val flipped = Similarity.reseedIvfIfDrifted(spark, root, Some(q),
        minMaintained = 10L, maxFitRatio = 0.5, k = 3, iters = 3,
        retireOldRoot = true)
      assert(flipped != root, "policy did not fire on an orthogonal cohort")
      assert(!q.isActive, "the maintainer must stop before the retrain reads")
      // RETIRE: the old root is gone; the fresh root carries everything
      assert(!new java.io.File(root).exists(), "old root was not retired")
      val lists2 = Similarity.ivfListsTable(spark, flipped).get
      assert(lists2.count() == 65, "re-seed lost vectors")
      // fit is restored over the new root (all vectors now base cohort;
      // pre-flip the maintained cohort's mean fit sat around 0.4 —
      // 10 faithful ≈1 + 15 orthogonal ≈0)
      val s2 = Similarity.ivfDriftStats(spark, flipped).collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(s2.keySet == Set("base") && s2("base") > 0.7,
        s"re-seeded root did not restore fit: $s2")
      // SEARCH PARITY over the flipped root: the drifted cohort is now
      // first-class — an axis-33 query's top neighbors are its own cohort
      val cents2 = spark.read.parquet(s"$flipped/centroids")
      val q33 = lists2.filter(col("c_id") === 200L)
        .select(col("c_id").as("q_id"), col("ce").as("qe"))
      val top = Similarity.ivfSearch(cents2, lists2, q33)
        .filter(col("rn") <= 5).select("c_id").as[Long].collect().toSet
      assert(top.forall(c => c >= 200L && c < 215L),
        s"search over the flipped root returned cross-axis neighbors: $top")
      // the FENCE carried into the flipped root: the documented restart
      // is a maintainer with a FRESH checkpoint, which may re-feed the
      // whole source — every vector already folded into the new base
      // must be fenced, or each would re-index and surface at duplicate
      // ranks
      val refeed = ((0L until 20L).map(i => Vec(i, vec(0, i.toInt), 0)) ++
        (20L until 40L).map(i => Vec(i, vec(7, i.toInt), 1)) ++
        (100L until 110L).map(i => Vec(i, vec(0, i.toInt), 0)) ++
        (200L until 215L).map(i => Vec(i, vec(33, i.toInt), 2))).toSeq
      val in2 = MemoryStream[Vec]
      val q2 = Docs.maintainIvfIndex(in2.toDF(), flipped,
        java.nio.file.Files.createTempDirectory("graft_loopCk2").toString)
      try { in2.addData(refeed); q2.processAllAvailable() }
      finally q2.stop()
      assert(Similarity.ivfListsTable(spark, flipped).get.count() == 65,
        "a fresh-checkpoint re-feed double-indexed the re-seeded base")
    } finally if (q.isActive) q.stop()
  }

  test("winnow postings maintain as a row family; the live twin sees new rows") {
    import graft.operators.{Dedup, TextAnalysis}
    import graft.streaming.Docs
    import graft.streaming.Docs.Doc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val fam = Dedup.WinnowFamily
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
    val feed = corpus.orderBy("doc_id").as[Doc].collect().toSeq
    val chunks = feed.grouped(math.max(feed.size / 3, 1)).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_winm").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_winm_ck").toString
    val input = MemoryStream[Doc]
    val q = Docs.maintainCountsIndex(input.toDF(), root, ckpt, fam)
    val outPath = java.nio.file.Files.createTempDirectory("graft_winm_out").toString
    // the LIVE twin: probe re-resolves the maintained table per
    // micro-batch (scoreEachBatch), so rows the maintainer published
    // between probe batches are visible to the next probe
    val probeIn = MemoryStream[Doc]
    val probe = Docs.scoreEachBatch(probeIn.toDF(), outPath,
      java.nio.file.Files.createTempDirectory("graft_winm_pck").toString) {
      b => Docs.winnowAgainstIndex(b,
        TextAnalysis.countsTable(spark, root, fam).get)
    }
    try {
      // victims must own at least one RARE fingerprint (df ≤ cap): a
      // byte-copy of such a doc is guaranteed a probe hit
      val coldPosts = fam.counts(corpus)
      val rareDocs = coldPosts.join(
          coldPosts.groupBy("fp").agg(count(lit(1)).as("c"))
            .filter(col("c") <= graft.operators.Dedup.DfCap).select("fp"),
          Seq("fp"), "left_semi")
        .select("doc_id").distinct().as[Long].collect().toSet
      // maintain the first two chunks, then probe with a byte-copy of a
      // chunk-1 doc: hits prove the probe reads the maintained table
      chunks.take(2).foreach { c => input.addData(c); q.processAllAvailable() }
      val victim = chunks.head.find(d => rareDocs.contains(d.doc_id)).get
      probeIn.addData(Seq(victim.copy(doc_id = 900001L)))
      probe.processAllAvailable()
      def hits() = spark.read.parquet(outPath)
        .select("doc_id", "old_id").as[(Long, Long)].collect().toSet
      assert(hits().contains((900001L, victim.doc_id)),
        "live twin missed a maintained chunk-1 fingerprint")
      // maintain the remaining chunks, probe a byte-copy of a chunk-3
      // doc: the SAME running probe must see the newly maintained rows
      chunks.drop(2).foreach { c => input.addData(c); q.processAllAvailable() }
      val victim3 = chunks(2).find(d => rareDocs.contains(d.doc_id)).get
      probeIn.addData(Seq(victim3.copy(doc_id = 900002L)))
      probe.processAllAvailable()
      assert(hits().contains((900002L, victim3.doc_id)),
        "live twin is frozen: it missed rows maintained after probe start")
    } finally { q.stop(); probe.stop() }
    // and the maintained row family equals the cold postings build
    val maintainedSet = TextAnalysis.countsTable(spark, root, fam).get
      .collect().map(_.toSeq).toSet
    val coldSet = fam.counts(corpus).collect().map(_.toSeq).toSet
    assert(maintainedSet == coldSet, "winnow row family drifted from cold")
  }
}
