package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twins of the §2d document-pipeline operators — the same
  * training-data cleaning that runs over a static corpus, expressed over an
  * unbounded document stream (a crawl feed). Two shapes:
  *
  *  - stateless per-document maps (quality signals, PII scrub, token
  *    counts): identical Column expressions batch or stream, no state, no
  *    watermark — Structured Streaming runs them per micro-batch unchanged;
  *  - stateful exactly-once-per-content dedup: content-fingerprint
  *    `dropDuplicates`, state keyed by the md5 — the streaming face of
  *    q_dedup_exact.
  *
  * Scale posture: the maps are embarrassingly parallel; dedup state is one
  * 16-byte key per distinct document, partitioned by fingerprint. For
  * bounded state on a timestamped feed, `dedupByContent` takes the event-
  * time column + delay and lets the watermark expire old fingerprints.
  */
object Docs {

  final case class Doc(doc_id: Long, text: String, lang: String,
                       source: String, n_chars: Long)

  /** Stateless quality + scrub projection: same keep/drop rule as
    * q_quality_score, same masks as q_pii_scrub.
    */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val norm = TextAnalysis.normText(col("text"))
    val nWords = size(split(norm, " ")).cast("long")
    docs.select(
      col("doc_id"),
      TextAnalysis.Pii.scrub(col("text")).as("scrubbed"),
      nWords.as("n_words"),
      (regexp_count(col("text"), lit(TextAnalysis.Pii.email)) +
        regexp_count(col("text"), lit(TextAnalysis.Pii.phone)) +
        regexp_count(col("text"), lit(TextAnalysis.Pii.ip)))
        .cast("long").as("n_pii"),
      when(length(col("text")) >= 100 && nWords >= 20, "keep")
        .otherwise("drop").as("verdict"))
  }

  /** One micro-batch of streaming decontamination — the IDENTICAL join
    * shape as the batch query (q_decontaminate, TextAnalysis §2d.41f):
    * per-doc distinct grams explode, equi-join the benchmark gram set
    * (one `gram` column — eval suites are bounded, so the join broadcasts
    * at runtime), per-doc hit count, left-join back. Nothing ever touches
    * the driver: earlier rounds collected the probe set into a broadcast
    * UDF, which is fine for a benchmark but was a driver-OOM template
    * when copied for corpus-scale sets — both twins now join instead.
    * Output = every input column + `n_shared` + `verdict`.
    */
  def decontaminateBatch(batch: DataFrame, benchGrams: DataFrame,
                         n: Int = 3): DataFrame = {
    val hits = batch
      .select(col("doc_id"),
        explode(TextAnalysis.gramSet(col("text"), n)).as("gram"))
      .join(benchGrams.select("gram").distinct(), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("__ns"))
    batch.join(hits, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("__ns"), lit(0L)))
      .withColumn("verdict",
        when(col("n_shared") > 0, "contaminated").otherwise("clean"))
      .drop("__ns")
  }

  /** Streaming decontamination sink: scores each micro-batch with
    * [[decontaminateBatch]] and publishes to `outPath/batch=<id>` —
    * batchId-keyed directories make replay idempotent (a replayed epoch
    * overwrites its own directory byte-for-byte instead of appending
    * twice), and `spark.read.parquet(outPath)` sees one partitioned
    * table. The per-doc hit count is an aggregation, which append-mode
    * stream-static joins cannot express statelessly — foreachBatch gives
    * each micro-batch full batch semantics (the same pattern as the CDC
    * sink), keeps the stream side stateless, and re-reads the static side
    * per batch (cheap when it is the standing-index parquet: pruned scan,
    * no lineage re-derivation).
    */
  def decontaminateSink(docs: DataFrame, benchGrams: DataFrame,
                        outPath: String, checkpointDir: String, n: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scoredSink(docs, outPath, checkpointDir)(decontaminateBatch(_, benchGrams, n))

  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  /** One micro-batch of SEMANTIC decontamination — the embedding twin of
    * [[decontaminateBatch]] and the streaming face of
    * q_embed_decontaminate: each arriving vector is unit-normalized and
    * plane-bucketed with the FROZEN plane count the standing index was
    * built with, equi-joined on bucket against the standing BENCHMARK
    * bucket slice (`Similarity.corpusEmbedBuckets` filtered to the eval
    * set), and verified by the exact unit-dot (`vec_dot` — the SAME fold
    * the standing pair table runs, so a streamed score is bit-identical
    * to the batch pair it mirrors). Stream side is stateless pure
    * expressions; static side is the standing bucket parquet — bounded
    * (it is an eval suite) but joined, never hand-collected, so the
    * shape survives benchmark growth. Output = one row per arriving
    * vector: hit count, best benchmark match, floored-micros cosine,
    * flag/keep verdict.
    */
  def embedDecontaminateBatch(batch: DataFrame, benchBuckets: DataFrame,
                              planes: Int, tau: Double = 0.30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = batch.sparkSession
    val bs = graft.operators.Similarity.unitBuckets(s,
      batch.select("vec_id", "embedding"), planes)
    val bench = benchBuckets.select(col("vec_id").as("bench_vec"),
      col("unit").as("bunit"), col("bucket"))
    val scored = bs.join(bench, Seq("bucket"))
      .filter(col("bench_vec") =!= col("vec_id"))
      .withColumn("cosine", expr("vec_dot(unit, bunit)"))
      .filter(col("cosine") >= tau)
      .withColumn("cos_micros",
        expr("CAST(floor(cosine * 1000000D) AS BIGINT)"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_micros").desc, col("bench_vec"))
    val best = scored.withColumn("rn", row_number().over(w))
      .withColumn("n_bench_hits",
        count(lit(1)).over(Window.partitionBy(col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("n_bench_hits"),
        col("bench_vec").as("best_bench"), col("cos_micros").as("best_cos_micros"))
    batch.select("vec_id").join(best, Seq("vec_id"), "left")
      .withColumn("verdict",
        when(col("best_cos_micros").isNotNull, "flag").otherwise("keep"))
  }

  /** Streaming semantic-decontamination sink — [[embedDecontaminateBatch]]
    * per micro-batch, batchId-keyed directories, idempotent replay: the
    * same foreachBatch join-sink contract as every scored twin.
    */
  def embedDecontaminateSink(vecs: DataFrame, benchBuckets: DataFrame,
                             planes: Int, outPath: String,
                             checkpointDir: String, tau: Double = 0.30)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scoredSink(vecs, outPath, checkpointDir)(
      embedDecontaminateBatch(_, benchBuckets, planes, tau))

  /** One micro-batch of duplicated-gram coverage — the twin of
    * q_dup_gram_coverage (§2d.41m): per-doc (gram-hash, tf) collapse,
    * equi-join the standing dup-gram index (`gh` column,
    * `TextAnalysis.corpusDupGrams` — CORPUS-scale, which is exactly why
    * it must never be collected: the fraction of grams in ≥2 docs grows
    * with the corpus), per-doc coverage sums, left-join back. Same
    * all-integer micros as the batch query. Output = every input column +
    * `n_grams`/`n_dup`/`dup_frac_micros`/`verdict`.
    */
  def dupGramCoverageBatch(batch: DataFrame, dupGrams: DataFrame,
                           n: Int = 5): DataFrame = {
    val tf = batch
      .select(col("doc_id"), explode(TextAnalysis.wordNgrams(
        split(TextAnalysis.normText(col("text")), " "), n)).as("gram"))
      .groupBy(col("doc_id"), md5(col("gram").cast("binary")).as("gh"))
      .agg(count(lit(1)).as("tf"))
    val cov = tf
      .join(dupGrams.select("gh").withColumn("d", lit(1)), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("__ng"),
        sum(when(col("d") === 1, col("tf")).otherwise(0L)).as("__nd"))
    batch.join(cov, Seq("doc_id"), "left")
      .withColumn("n_grams", coalesce(col("__ng"), lit(0L)))
      .withColumn("n_dup", coalesce(col("__nd"), lit(0L)))
      .withColumn("dup_frac_micros",
        coalesce(expr("n_dup * 1000000L div nullif(n_grams, 0)"), lit(0L)))
      .withColumn("verdict",
        when(col("dup_frac_micros") > 500000, "flag").otherwise("keep"))
      .drop("__ng", "__nd")
  }

  /** Streaming dup-gram coverage sink — [[dupGramCoverageBatch]] per
    * micro-batch, published under batchId-keyed directories exactly like
    * [[decontaminateSink]] (same aggregation constraint, same idempotent
    * replay). The static side is the standing index parquet: at 100 TB the
    * dup-gram set is far too large for any single heap, and the equi-join
    * is the only shape that scales — this replaced a collect-and-broadcast
    * variant that was the repo's last unbounded driver materialization.
    */
  def dupGramCoverageSink(docs: DataFrame, dupGrams: DataFrame,
                          outPath: String, checkpointDir: String, n: Int = 5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scoredSink(docs, outPath, checkpointDir)(dupGramCoverageBatch(_, dupGrams, n))

  /** Streaming bigram-surprisal scoring — arriving documents scored by
    * the STANDING corpus bigram model (`TextAnalysis.corpusBigramModel`,
    * frozen at index time — the Events.scoreOutliers pattern), the
    * perplexity-style quality gate of a live ingest feed. Same
    * foreachBatch join-sink shape as [[decontaminateSink]] (per-doc
    * aggregation needs batch semantics; batchId-keyed output, idempotent
    * replay); nothing collects to the driver.
    */
  def bigramSurprisalSink(docs: DataFrame, model: DataFrame,
                          outPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scoredSink(docs, outPath, checkpointDir)(
      TextAnalysis.bigramSurprisalScore(_, model))

  /** Streaming DSIR scoring — arriving documents weighed against the
    * STANDING hashed-feature table (`TextAnalysis.corpusDsirFeatures`,
    * frozen at sink construction): the data-selection gate of a live
    * ingest feed, deciding per document how target-like it is BEFORE it
    * enters the corpus. The ≤4096-row weight table broadcasts inside
    * every micro-batch; buckets the frozen table never saw weigh 0
    * (dsirScore's left-join rule), so alien vocabulary degrades scores
    * smoothly instead of erroring. Same foreachBatch join-sink shape as
    * [[bigramSurprisalSink]] (batchId-keyed output, idempotent replay).
    */
  def dsirSink(docs: DataFrame, feat: DataFrame,
               outPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scoredSink(docs, outPath, checkpointDir)(
      TextAnalysis.dsirScore(_, feat))

  /** Streaming span scrub — arriving documents shorn of passages the
    * STANDING duplicated-gram index already knows (frozen at sink
    * construction): the live face of q_span_scrub, cleaning an ingest
    * feed against the corpus's accumulated duplication before the docs
    * land. A span depends only on the document's own grams plus the
    * frozen set, so micro-batch boundaries cannot change any result —
    * the parity with the batch query is exact by construction (pinned in
    * StreamBatchParitySpec). Same foreachBatch join-sink shape
    * (batchId-keyed output, idempotent replay).
    */
  def spanScrubSink(docs: DataFrame, dupGrams: DataFrame,
                    outPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scoredSink(docs, outPath, checkpointDir)(
      TextAnalysis.spanScrubScore(_, dupGrams))

  /** One micro-batch of token-distribution DRIFT monitoring: the
    * total-variation distance between this batch's unigram distribution
    * and the STANDING corpus distribution
    * (`TextAnalysis.corpusUnigramCounts`), in exact integer micros —
    * the live alarm for "this crawl slice doesn't look like the corpus"
    * (source flips, spam floods, encoding breakage). Same absent-mass
    * complement as q_source_divergence: the join touches only terms the
    * BATCH contains; the corpus-only mass is one vocabulary-sized
    * aggregate. Returns ONE summary row: (n_docs, n_tokens, tv_micros).
    */
  def tokenDriftBatch(batch: DataFrame, pc: DataFrame,
                      pcTot: Long): DataFrame = {
    val bt = batch.select(
        explode(split(TextAnalysis.normText(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("c"))
    // coalesce: a non-empty batch of token-free documents aggregates to a
    // NULL sum (0 term rows), which is exactly the degenerate batch the
    // monitor must alarm on, not NPE on
    val nb = bt.agg(coalesce(sum(col("c")), lit(0L)))
      .collect()(0).getLong(0)
    val nDocs = batch.count()
    if (nb == 0L) {
      // a token-free batch is the MOST degenerate drift, not a moderate
      // one: pcTot/2 (~0.5) sat below the ≥0.9 disjoint-flood alarm, so
      // the worst batch shape slipped every threshold. Emit the metric's
      // ceiling (1.0 in micros — at least any disjoint distribution's
      // (1e6+pcTot)/2) so one threshold catches both failure modes.
      val s = batch.sparkSession
      import s.implicits._
      return Seq((nDocs, 0L, 1000000L))
        .toDF("n_docs", "n_tokens", "tv_micros")
    }
    bt.join(pc, Seq("term"), "left")
      .select(
        abs(expr(s"c * 1000000 div ${nb}L") -
          coalesce(col("pc"), lit(0L))).as("d"),
        coalesce(col("pc"), lit(0L)).as("pcin"))
      .agg(sum(col("d")).as("din"), sum(col("pcin")).as("pcin"))
      .select(lit(nDocs).as("n_docs"), lit(nb).as("n_tokens"),
        expr(s"CAST((din + ${pcTot}L - pcin) div 2 AS BIGINT)")
          .as("tv_micros"))
  }

  /** Streaming drift-monitor sink: one summary row per micro-batch under
    * the batchId-keyed idempotent layout. The reference distribution's
    * scalars (corpus micro-mass total) are computed ONCE at sink
    * construction — per batch the only driver-side values are two 1-row
    * aggregates (token and doc counts), bounded at any corpus size.
    */
  def tokenDriftSink(docs: DataFrame, counts: DataFrame,
                     outPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val corpus = counts.filter(col("term") =!= "")
    val total = corpus.agg(coalesce(sum(col("cw")), lit(0L)))
      .collect()(0).getLong(0)
    require(total > 0L,
      "tokenDriftSink: the reference unigram table has no non-empty " +
        "terms — a drift distance against an empty corpus is undefined")
    val pc = corpus.select(col("term"),
      expr(s"cw * 1000000 div ${total}L").as("pc"))
    val pcTot = pc.agg(sum(col("pc"))).collect()(0).getLong(0)
    scoredSink(docs, outPath, checkpointDir)(tokenDriftBatch(_, pc, pcTot))
  }

  /** One micro-batch of streaming SimHash near-dup: the batch's 64-bit
    * signatures (computed with batch semantics — the 64 vote sums need a
    * groupBy) equi-join the standing signature table on EXACT signature
    * equality, the q_dedup_simhash bucket rule. Emits one row per
    * (arriving doc, indexed doc) collision.
    */
  def simhashBatch(batch: DataFrame, sigs: DataFrame): DataFrame =
    graft.operators.Dedup.simhashSigs(batch.select("doc_id", "text"))
      .withColumnRenamed("simhash", "sig")
      .join(sigs.select(col("doc_id").as("old_id"), col("sig")), Seq("sig"))
      .filter(col("doc_id") =!= col("old_id"))
      .select(col("doc_id"), col("old_id"), col("sig"))

  /** Streaming SimHash near-dup — arriving documents checked against the
    * STANDING signature table (`Dedup.corpusSimhashSigs`, frozen at sink
    * construction — or the LIVE maintained view,
    * `TextAnalysis.countsTable(root, Dedup.SimhashFamily)`, kept current
    * by `maintainCountsIndex`). Same foreachBatch join-sink shape as the
    * other scored twins (per-doc signatures need batch semantics;
    * batchId-keyed output, idempotent replay); the stream side never
    * holds state.
    */
  def simhashSink(docs: DataFrame, sigs: DataFrame,
                  outPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scoredSink(docs, outPath, checkpointDir)(simhashBatch(_, sigs))

  /** Public face of [[scoredSink]] for LIVE-probe composition: the named
    * sinks above capture a probe DataFrame whose parquet FILE LISTING is
    * frozen at plan construction — correct for a standing table frozen
    * at index time, but blind to rows a concurrent maintainer
    * ([[maintainCountsIndex]], [[maintainMinhashIndex]]) publishes while
    * the sink runs. A caller whose `score` closure REBUILDS its probe
    * inside the call (e.g. `b => simhashBatch(b,
    * TextAnalysis.countsTable(s, root, fam).get)`) gets a fresh file
    * listing every micro-batch, so each batch scores against everything
    * maintained so far — the maintainer+scorer pair becomes a live
    * pipeline with no restart.
    */
  def scoreEachBatch(docs: DataFrame, outPath: String,
                     checkpointDir: String)(score: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scoredSink(docs, outPath, checkpointDir)(score)

  /** Shared foreachBatch wiring for the per-batch document scorers:
    * transform each micro-batch with `score`, overwrite
    * `outPath/batch=<batchId>` (idempotent under replay — Structured
    * Streaming may re-run a batch after a crash between sink write and
    * offset commit; overwriting the batch's own directory makes the retry
    * byte-identical instead of a duplicate append).
    */
  private def scoredSink(docs: DataFrame, outPath: String,
                         checkpointDir: String)(score: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // partition on (LINEAGE, batchId) like every index maintainer here —
    // a bare batchId would let a recreated checkpoint (ids restart at 0
    // over a grown source) overwrite only its first few batch dirs and
    // leave the dead lineage's later ones standing, so the published
    // table would read the overlap twice
    lazy val lineage: String = streamLineage(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.Tables.writer(score(batch)).mode("overwrite")
            .parquet(s"$outPath/batch=${lineage}_$batchId")
      }
      .start()
  }

  /** Streaming incremental near-dup detection — the twin of
    * q_dedup_incremental (§2d.32d) over an unbounded ingest feed: each
    * arriving document is checked against the PERSISTED corpus MinHash
    * index (`Dedup.buildMinhashIndex` output) and flagged when ≥ 2 of its
    * 8 signature slices match an LSH candidate's.
    *
    * The whole stream side is STATELESS: the per-document signature is
    * computed with pure array expressions (shingle transform + array_min
    * per seed — an aggregation-free restatement of the batch groupBy.min,
    * possible because a MinHash signature only depends on the document
    * itself), band keys explode to 4 rows, and both lookups are
    * stream-static equi-joins against the index parquet. No watermark, no
    * state store; composes with downstream dedup/session state freely.
    * Emits one row per (doc, matched corpus doc, band) candidate hit that
    * clears the estimate threshold — band multiplicity is kept (dedup
    * would need state); readers distinct on (doc_id, old_id) as needed.
    * Docs under 3 words have null slices and match nothing, exactly like
    * the batch side's empty-shingle guard.
    */
  def nearDupAgainstIndex(docs: DataFrame, indexRoot: String,
                          estMicroThreshold: Long =
                            graft.operators.Dedup.IncrEstMicro): DataFrame = {
    val spark = docs.sparkSession
    val numSeeds = 8
    def sub(name: String) = graft.operators.Dedup
      .minhashIndexTable(spark, indexRoot, name)
      .getOrElse(throw new IllegalArgumentException(
        s"no '$name' table under MinHash index root $indexRoot"))
    val oldSigs = sub("sigs").select(
      col("doc_id").as("old_id") +:
        (0 until numSeeds).map(i => col(s"h$i").as(s"o$i")): _*)
    val oldBands = sub("bands")
      .select(col("doc_id").as("old_id"), col("band"), col("bkey"))
    val toks = split(TextAnalysis.normText(col("text")), " ")
    val sigged = docs
      .withColumn("__t", toks)
      .withColumn("__sh", expr(
        "CASE WHEN size(__t) >= 3 THEN transform(sequence(0, size(__t) - 3), i -> concat_ws(' ', __t[i], __t[i+1], __t[i+2])) ELSE array() END"))
      .withColumns(
        (0 until numSeeds).map { i =>
          val src = if (i < 4) "x" else "concat('x:', x)"
          s"h$i" -> expr(
            s"array_min(transform(__sh, x -> substring(md5(cast($src AS BINARY)), ${8 * (i % 4) + 1}, 8)))")
        }.toMap)
      .drop("__t", "__sh")
    val banded = sigged.withColumn("__bb", explode(array(
      (0 until numSeeds / 2).map(b => struct(lit(b).as("band"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).cast("binary"))
          .as("bkey"))): _*)))
      .withColumn("band", col("__bb.band"))
      .withColumn("bkey", col("__bb.bkey"))
      .drop("__bb")
    val est = (0 until numSeeds)
      .map(i => when(col(s"h$i") === col(s"o$i"), 1).otherwise(0))
      .reduce(_ + _) * lit(1000000 / numSeeds)
    banded
      .join(oldBands, Seq("band", "bkey"))
      .join(oldSigs, Seq("old_id"))
      .withColumn("est_micro", est.cast("long"))
      .filter(col("est_micro") >= estMicroThreshold)
      .select(col("doc_id"), col("old_id"), col("band"), col("est_micro"))
  }

  /** Streaming winnowing near-dup against the standing postings index —
    * the substring-level (MOSS) twin of [[nearDupAgainstIndex]]: each
    * stream document's winnowed fingerprints come from the NATIVE
    * `WinnowFps` expression (one fused pass, stateless — the Column-HOF
    * form needed a localCheckpoint barrier that streams cannot take) and
    * equi-join the static df-capped postings. A hit means the new doc
    * shares a ≥ w+k-1-word run with that corpus document. Zero state;
    * per-batch cost ∝ batch size + probe. Exact parity with the batch
    * query's pair set pinned in StreamBatchParitySpec.
    */
  def winnowAgainstIndex(docs: DataFrame, postings: DataFrame,
                         dfCap: Int = graft.operators.Dedup.DfCap): DataFrame = {
    import graft.operators.Dedup
    val dfc = postings.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") <= dfCap).select("fp")
    val rare = postings.join(dfc, Seq("fp"), "left_semi")
      .withColumnRenamed("doc_id", "old_id")
    val fps = graft.functions.WinnowFps.winnowFps(
      split(TextAnalysis.normText(col("text")), " "),
      Dedup.WinnowK, Dedup.WinnowW)
    docs.select(col("doc_id"), explode(fps).as("fp"))
      .join(rare, Seq("fp"))
      .filter(col("doc_id") =!= col("old_id"))
      .select(col("doc_id"), col("old_id"), col("fp"))
  }

  /** The stream's LINEAGE — an 8-hex digest of the checkpoint's stream id:
    * stable across restarts of the same checkpoint, fresh for a recreated
    * one. Every index maintainer keys its per-batch partitions on it so a
    * recreated checkpoint (batch ids restart at 0 over a possibly-grown
    * source) can never clobber a dead lineage's rows.
    */
  private def streamLineage(checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/metadata")
    // the SESSION's Hadoop conf (spark.hadoop.* carries object-store
    // credentials a bare Configuration() lacks — with the bare one the
    // metadata read always failed there and the lineage silently
    // degraded to the path fallback, losing wipe-and-recreate
    // protection); called inside foreachBatch, so a session is active
    val conf = scala.util.Try(graft.Tables.hadoopConf(org.apache.spark.sql.SparkSession.active))
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    val id = try {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(txt).get("id").asText()
    } catch {
      // metadata unreadable (exotic checkpoint manager): fall back to
      // the checkpoint PATH — still distinguishes different checkpoint
      // locations, just not a wipe-and-recreate at the same path
      case _: Exception => checkpointDir
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
  }

  /** Streaming MAINTENANCE of an ADDITIVE standing count family
    * ([[graft.operators.TextAnalysis.CountFamily]]: dup-gram counts,
    * unigram vocabulary, bigram LM, DSIR features), whose rows are pure
    * per-doc-disjoint counts. Without it, the 13 streaming twins score
    * live feeds against a table FROZEN at the last batch refresh — a
    * pipeline scoring today's crawl against last week's dup-gram counts
    * under-flags everything that became duplicated this week.
    *
    * Per micro-batch (foreachBatch = batch context):
    *   1. doc_ids already counted by ANY published batch (the `_ids`
    *      sidecars) fence the arriving rows — a cross-lineage replay
    *      (recreated checkpoint re-feeding delivered docs) never
    *      double-counts (the doc_id-immutability contract of
    *      [[maintainDerivedRows]]);
    *   2. the family's counts over the fenced batch land under
    *      `root/counts_m/batch=<lineage>_<batchId>` with its `_ids`
    *      sidecar (underscore name: invisible to parquet reads of the
    *      counts), built in a dot-named temp and published by ONE atomic
    *      move ([[graft.index.StandingIndex.publishPart]]) — counts and
    *      ids can never land separately, so there is NO orphan corner:
    *      membership in `_ids` alone proves the doc's counts are merged,
    *      and a crash anywhere before the move leaves only invisible
    *      temp garbage for the idle sweep.
    *
    * A published batch dir is never rewritten: a same-lineage replay
    * skips it by marker (its content is deterministic and already
    * complete). No caps, no occupancy reads — additivity is the whole
    * protocol. Readers merge base + batches through
    * [[graft.operators.TextAnalysis.countsTable]].
    */
  def maintainCountsIndex(docsStream: DataFrame, root: String,
                          checkpointDir: String,
                          family: graft.operators.TextAnalysis.CountFamily)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintainDerivedRows(docsStream, root, "counts", checkpointDir,
      "doc_id")((fr, _) => Seq("" -> family.counts(fr)))

  /** The shared maintenance protocol: per fenced micro-batch, the tables
    * `derive(freshRows, publishedParts)` names land under
    * `root/<sub>_m/batch=<lineage>_<batchId>` with their `_ids` sidecar
    * in ONE atomic publish ([[graft.index.StandingIndex.publishPart]]).
    * Every maintainer here runs it — counts, postings, IVF lists, PQ
    * codes, MinHash — so all share the IDENTICAL protocol and a protocol
    * fix lands everywhere at once:
    *   - FENCE: rows whose `idCol` a PUBLISHED part's `_ids` names are
    *     dropped, so a cross-lineage replay (recreated checkpoint
    *     re-feeding delivered rows) never indexes a row twice; a crashed
    *     attempt's dot-named temp is invisible to the fence and to every
    *     read view, and only the idle sweep
    *     ([[graft.index.StandingIndex.vacuumMaintained]]) touches it;
    *   - REPLAY: a published part is never rewritten — a same-lineage
    *     replay skips it by marker, and an unpublished one recomputes
    *     from published state only;
    *   - STAMP ECONOMY EXIT: the first maintained batch deletes the
    *     root's `_GRAFT_STAMP` (when the root is a stamped static build):
    *     its contents now exceed the stamp's file coverage, and a
    *     truthless stamp would let a later append-refresh inherit
    *     streamed rows or a vacuum drop streamed-only entries. A
    *     maintained root is never a predecessor and never a vacuum
    *     victim.
    *
    * The checkpoint directory is REQUIRED: without one, a restarted query
    * replays the whole source from offset 0 under NEW batch ids.
    *
    * CONTRACT: `idCol` identifies IMMUTABLE content and arrives at most
    * once per lineage offset range; a mutated re-arrival under the same
    * id is fenced as a replay, never re-indexed. Feeds that mutate rows
    * must assign a fresh id per revision (the CDC layer's key-version
    * pattern).
    */
  private def maintainDerivedRows(stream: DataFrame, root: String,
                                  sub: String, checkpointDir: String,
                                  idCol: String)(
                                  derive: (DataFrame, Seq[org.apache.hadoop.fs.Path]) => Seq[(String, DataFrame)])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.index.StandingIndex
    lazy val lineage: String = streamLineage(checkpointDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        if (!batch0.isEmpty) {
          val s = batch0.sparkSession
          val conf = graft.Tables.hadoopConf(s)
          val batchKey = s"${lineage}_$batchId"
          val mRoot = s"$root/${sub}_m"
          val target = new org.apache.hadoop.fs.Path(s"$mRoot/batch=$batchKey")
          val fs = target.getFileSystem(conf)
          val marker = new org.apache.hadoop.fs.Path(target, "_ids/_SUCCESS")
          if (!fs.exists(marker)) {
            val published = StandingIndex.publishedBatches(fs,
              new org.apache.hadoop.fs.Path(mRoot))
            val idPaths = StandingIndex.fenceIdPaths(fs, published)
            val seen =
              if (idPaths.isEmpty) None
              else Some(s.read.parquet(idPaths: _*)
                .select(idCol).distinct())
            val fresh = seen
              .map(ids => batch0.join(ids, Seq(idCol), "left_anti"))
              .getOrElse(batch0)
            val stamp = new org.apache.hadoop.fs.Path(s"$root/_GRAFT_STAMP")
            fs.delete(stamp, false): Unit
            // one batch-local materialization feeds every write
            val fr = fresh.localCheckpoint()
            StandingIndex.publishPart(mRoot, batchKey, derive(fr, published),
              fr.select(idCol).distinct())
          }
        }
      }
      .start()
  }

  /** Streaming IVF assigner — the embedding half of live ingestion: new
    * vectors become searchable as they arrive instead of waiting for the
    * next batch append-refresh. The root's `centroids` are FROZEN model
    * state (the batch rule, [[graft.operators.Similarity.buildIvfIndex]]:
    * retraining would shift every assignment and invalidate the whole
    * inverted file); per micro-batch, arriving vectors are `_ids`-fenced,
    * assigned with the SAME [[graft.operators.Similarity.ivfAssign]] the
    * batch refresh uses, and their list rows publish atomically under
    * `root/lists_m` — maintained ≡ batch append-refresh by construction
    * (StreamBatchParitySpec pins it). Readers probe
    * [[graft.operators.Similarity.ivfListsTable]]; the staleness trade is
    * the batch one verbatim: recall on streamed vectors is bounded by how
    * well the frozen centroids still cover the drifted distribution —
    * re-seed (retrain) when the streamed fraction grows large.
    * CONTRACT: vec_id identifies immutable content, at most once per
    * lineage (the doc_id rule).
    */
  def maintainIvfIndex(vecsStream: DataFrame, root: String,
                       checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    maintainDerivedRows(vecsStream, root, "lists", checkpointDir,
      "vec_id") { (b, _) =>
      graft.functions.VectorOps.register(b.sparkSession)
      // frozen model state read per batch: immutable files, so the read
      // is deterministic across replays (and a re-seeded root would be a
      // NEW root per the immutable-dir rule)
      val cents = b.sparkSession.read.parquet(s"$root/centroids")
      Seq("" -> Similarity.ivfAssign(Similarity.unitizeVecs(b), cents))
    }
  }

  /** Streaming PQ encoder — [[maintainIvfIndex]]'s memory-path twin: the
    * root's `codebook` is frozen model state, arriving vectors encode
    * through the batch [[graft.operators.Similarity.pqEncode]] and their
    * code rows publish under `root/codes_m`. Readers:
    * [[graft.operators.Similarity.pqCodesTable]]. Same staleness trade,
    * same vec_id contract.
    */
  def maintainPqIndex(vecsStream: DataFrame, root: String,
                      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    maintainDerivedRows(vecsStream, root, "codes", checkpointDir,
      "vec_id") { (b, _) =>
      graft.functions.VectorOps.register(b.sparkSession)
      val cb = b.sparkSession.read.parquet(s"$root/codebook")
      Seq("" -> Similarity.pqEncode(Similarity.pqSubvecs(b), cb))
    }
  }

  /** Streaming MAINTENANCE of a DF-CAPPED standing postings family
    * ([[graft.operators.Dedup.PostingsFamily]]: the substring-overlap and
    * rare-gram-Jaccard probe tables) — the last standing-index tier that
    * staled against a live feed. The family's df invariant (true df =
    * live rows + tombstone dfs, capping applied by the READ view —
    * `Dedup.postingsTable`) is what keeps this free of MinHash's
    * write-time occupancy admission: a batch part is order-independent
    * and replay-deterministic whatever the interleaving, because
    * admission is not decided at write time.
    *
    * Per micro-batch (foreachBatch = batch context):
    *   1. `_ids` of published parts fence the arriving docs (exactly
    *      [[maintainCountsIndex]] — cross-lineage replays never
    *      double-post);
    *   2. the batch's per-doc-distinct (doc_id, gram) rows become a
    *      stored part. Grams PROVABLY saturated — base + published-part
    *      totals plus this batch's count exceed the cap — drop their
    *      postings eagerly and land as (null, gram, batch-count)
    *      tombstones, so a hot gram ("the cold") stops accumulating
    *      postings the moment it is proven hot: per-gram stored rows
    *      stay ≤ cap + one batch's arrivals until compaction
    *      ([[graft.operators.Dedup.compactPostingsIndex]]) folds the
    *      stragglers. The eager drop reads only PUBLISHED state, so a
    *      same-lineage replay (marker-skipped anyway) and a concurrent
    *      reader both see deterministic parts;
    *   3. part + `_ids` publish in ONE atomic move — no orphan corner.
    *
    * A gram crossing the cap mid-stream: its early parts keep ≤ cap
    * postings (admitted while under), the crossing batch tombstones its
    * own arrivals once the known total proves saturation, and the read
    * view drops the early postings too — identical to a cold rebuild of
    * the grown corpus, spec-pinned in StreamBatchParitySpec. Same
    * doc_id-immutability contract as every maintainer here.
    */
  def maintainPostingsIndex(docsStream: DataFrame, root: String,
                            checkpointDir: String,
                            family: graft.operators.Dedup.PostingsFamily)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintainDerivedRows(docsStream, root, "postings", checkpointDir,
      "doc_id") { (fr, published) =>
      val s = fr.sparkSession
      // saturation evidence: the seeded base the READ VIEW serves (its
      // job-commit marker required — an unmarked base is no evidence,
      // or a gram the reader counts ≤ cap would lose its postings) +
      // published parts. An optimization only (a gram is dropped solely
      // when PROVEN over-cap); the read view re-filters, so skipping
      // this read entirely would still be correct — just fatter parts.
      val evidence = graft.index.StandingIndex.existingSeededDir(
        graft.Tables.hadoopConf(s), s"$root/postings").toSeq ++
        published.map(_.toString)
      val known =
        if (evidence.isEmpty) None
        else Some(family.totals(s.read.parquet(evidence: _*)
          .select(col("doc_id"), col("gram"), col("df"))))
      Seq("" -> family.part(family.post(fr), known))
    }

  /** Streaming MAINTENANCE of the standing MinHash index
    * ([[graft.operators.Dedup.buildMinhashIndex]] seeds it): each
    * micro-batch's `sigs`, `bands` and `reps` rows
    * ([[graft.operators.Dedup.minhashGrowth]] — byte-copies of repped
    * content drop, band keys admit under the base + published bands'
    * occupancy) publish as one part under `root/minhash_m` through
    * [[maintainDerivedRows]]. For a doc_id-ascending feed this reproduces
    * the static build's deterministic lowest-doc_id cap EXACTLY
    * (StreamBatchParitySpec). Readers:
    * [[graft.operators.Dedup.minhashIndexTable]].
    */
  def maintainMinhashIndex(docsStream: DataFrame, root: String,
                           checkpointDir: String,
                           cap: Int = graft.operators.Dedup.BucketCap)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    Dedup.requireAtomicMinhashLayout(docsStream.sparkSession, root)
    maintainDerivedRows(docsStream, root, "minhash", checkpointDir,
      "doc_id") { (fr, _) =>
      val s = fr.sparkSession
      Dedup.minhashGrowth(fr, Dedup.minhashIndexTable(s, root, "reps"),
        Dedup.minhashIndexTable(s, root, "bands"), cap)
    }
  }

  /** Streaming RAG chunking: the q_doc_chunks window geometry applied to
    * a document stream. Entirely stateless (pure map + bounded explode —
    * the chunk table of a micro-batch depends on nothing outside it), so
    * it composes with any downstream watermark or state and is trivially
    * exactly-once under replay. Same expression tree as the batch
    * operator; StreamBatchParitySpec pins equality on the real corpus.
    */
  def chunkDocs(docs: DataFrame): DataFrame = TextAnalysis.docChunks(docs)

  /** Exactly-once per normalized content: first arrival wins, byte-copies
    * and whitespace/case variants are dropped. With `eventTimeCol`, the
    * watermark bounds fingerprint state to the delay horizon via
    * `dropDuplicatesWithinWatermark` — a plain dropDuplicates("fp") would
    * never evict state, because eviction requires the event-time column in
    * the key set (re-crawls past the horizon re-admit — the standard
    * streaming-dedup trade). Without a timestamp, state is one 16-byte key
    * per distinct document, growing with corpus vocabulary.
    */
  def dedupByContent(docs: DataFrame,
                     eventTimeCol: Option[String] = None,
                     delay: String = "1 hour"): DataFrame = {
    val fp = docs.withColumn("fp",
      md5(TextAnalysis.normText(col("text")).cast("binary")))
    eventTimeCol match {
      case Some(ts) =>
        fp.withWatermark(ts, delay).dropDuplicatesWithinWatermark("fp")
      case None => fp.dropDuplicates("fp")
    }
  }
}
