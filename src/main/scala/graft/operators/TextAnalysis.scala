package graft.operators

import graft.{Q, Tables}
import graft.index.StandingIndex
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2d items 38-41 — text-analysis operators for an LLM training-data
  * pipeline, over the `documents` table. Everything is built from codegen'd
  * `functions._` expressions (no UDFs): each operator is a narrow map over
  * the corpus — embarrassingly parallel, no shuffle, scales linearly.
  *
  * Cross-engine text rules: normalization = lower + trim + collapse
  * whitespace (identical regex semantics in Spark and DuckDB), ratios as
  * integer micro fixed-point (no float division), md5 as the shared hash
  * primitive.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** lower/trim/single-space normalization, shared by all operators. */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))
  val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Sequence-packing parameters (q_seq_pack): documents are concatenated
    * within `doc_id mod PackShards` shards and the token stream is cut
    * every PackSeqLen tokens. Shard count is the parallelism unit — at
    * cluster scale it would be O(total cores), not 16.
    */
  val PackShards = 16
  val PackSeqLen = 256

  /** Candidate training-sequence lengths q_pack_stats sizes the corpus
    * against (declared before `pack` — init-order rule for constants the
    * oracle SQL interpolates).
    */
  val PackLens: Seq[Int] = Seq(128, 256, 512, 1024)

  /** DSIR hashed-feature space size and the target slice (q_dsir_weights)
    * — declared before `pack` (init-order rule for oracle-interpolated
    * constants). 4096 buckets keeps the weight table broadcast-tiny while
    * still separating the synthetic vocabulary; real pipelines use 10k-1M.
    */
  val DsirBuckets = 4096
  val DsirTarget = "src0"

  /** Spark-side md5 feature bucket of a `term` column — big-endian first-4-
    * hex value mod [[DsirBuckets]], the engine-identical mirror of the
    * oracle's per-digit arithmetic (the q_sample_hash convention).
    */
  private def dsirBucketExpr: String =
    s"CAST(conv(substr(md5(cast(term as binary)), 1, 4), 16, 10) AS INT) % $DsirBuckets"

  /** An ADDITIVE standing count family: `counts` derives the family's
    * per-batch count rows from any (doc_id, text, …) frame, and merged
    * counts over DOC-DISJOINT batches equal the one-shot derivation
    * exactly — keys are per-doc-distinct within a doc (nd, dfw) or pure
    * occurrence sums (cw, cb, cr, ct), and docs never span batches.
    * `keyCols`/`sumCols` name the merge: `groupBy(keyCols).sum(sumCols)`.
    * ONE definition is shared by the batch builders below, their
    * append-refresh merges, and the streaming maintainer
    * ([[graft.streaming.Docs.maintainCountsIndex]]) — a maintained table
    * can never drift from the cold build.
    */
  final case class CountFamily(name: String, keyCols: Seq[String],
                               sumCols: Seq[String],
                               counts: DataFrame => DataFrame) {
    /** The additive merge: fold any union of per-batch count frames.
      * An EMPTY `sumCols` declares a per-doc ROW family (e.g. SimHash
      * signatures): batches are doc-disjoint by the maintainer's fence,
      * so the merge is a key-distinct union — nothing to sum.
      */
    def merge(parts: DataFrame): DataFrame =
      if (sumCols.isEmpty) parts.dropDuplicates(keyCols)
      else parts.groupBy(keyCols.map(col): _*)
        .agg(sum(col(sumCols.head)).as(sumCols.head),
          sumCols.tail.map(c => sum(col(c)).as(c)): _*)

    /** The family's stamp-keyed standing table over `dir`'s corpus: a
      * corpus append merges the new files' counts into it.
      */
    def standing(s: SparkSession, dir: String, params: String): DataFrame =
      StandingIndex.cachedCorpusTable(s, dir, name, params,
        incr = (old, newDocs) => merge(old.unionByName(counts(newDocs))))(
        counts(Tables.spread(Tables.load(s, dir, "documents"))))
  }

  /** (gh, nd) — distinct-doc counts per 5-gram hash (§2d.41m). */
  val DupGramFamily: CountFamily = CountFamily("dupgrams", Seq("gh"),
    Seq("nd"), d => d
      .select(col("doc_id"), explode(gramSet(col("text"), 5)).as("gram"))
      .groupBy(md5(col("gram").cast("binary")).as("gh"))
      .agg(count(lit(1)).as("nd")))

  /** (term, cw, dfw) — occurrence + doc-frequency per token (§2d.41d). */
  val UnigramFamily: CountFamily = CountFamily("unigrams", Seq("term"),
    Seq("cw", "dfw"), d => d
      .select(col("doc_id"),
        explode(split(normText(col("text")), " ")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cw"), countDistinct("doc_id").as("dfw")))

  /** (w1, bg, cb) — bigram occurrence counts with context word (§2d.41i2). */
  val BigramFamily: CountFamily = CountFamily("bgmodel", Seq("w1", "bg"),
    Seq("cb"), d => d
      .select(col("doc_id"), explode(
        wordNgrams(split(normText(col("text")), " "), 2)).as("bg"))
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"), col("bg"))
      .agg(count(lit(1)).as("cb")))

  /** (b, cr, ct) — DSIR hashed-feature raw/target token counts (§2d.41p). */
  val DsirFamily: CountFamily = CountFamily("dsirfeat", Seq("b"),
    Seq("cr", "ct"), d => d
      .select(col("source"),
        explode(split(normText(col("text")), " ")).as("term"))
      .select(col("source"), expr(dsirBucketExpr).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cr"),
        sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("ct")))

  /** Read a STREAMING-MAINTAINED count-family root: the optional static
    * base at `root/counts` merged with every maintained batch partition
    * under `root/counts_m/batch=<lineage>_<batchId>` by the family's
    * additive algebra. None when neither side exists. The per-batch
    * partitions are each complete-by-construction (atomic publish with
    * an `_ids` sidecar — see Docs.maintainCountsIndex), so the merge
    * never needs a fence; at warehouse scale a periodic compaction folds
    * the partitions back into `counts` (the same economy as Versioned
    * compactCommit).
    */
  def countsTable(s: SparkSession, root: String,
                  fam: CountFamily): Option[DataFrame] =
    StandingIndex.maintainedParts(s, root, "counts",
        fam.keyCols ++ fam.sumCols) match {
      case (Some(a), Some(b)) => Some(fam.merge(a.unionByName(b)))
      case (Some(a), None) => Some(a)
      case (None, Some(b)) => Some(fam.merge(b))
      case _ => None
    }

  /** Seed a maintainable count-family root from the corpus-so-far: the
    * static build of the family written to `root/counts` — the batch
    * half of the build-once/maintain-forever lifecycle.
    */
  def seedCountsIndex(s: SparkSession, dir: String, fam: CountFamily,
                      root: String): Unit =
    graft.sources.Export.flush(
      fam.counts(Tables.spread(docs(s, dir))), s"$root/counts")

  /** Compact a maintained count-family root into a FRESH root: the merged
    * counts become the new static base and every published batch's `_ids`
    * fold into one compact batch partition (zero count rows, full fence),
    * so a maintainer pointed at the new root keeps exactly-once semantics
    * against re-fed old docs. A fresh root — never an in-place rewrite —
    * is the repo's immutable-dir rule: an incomplete `newRoot` is simply
    * unused (crash-safe by construction), readers switch by path flip,
    * and the old root stays intact until the operator retires it. Run
    * with the old root's maintainer STOPPED (a batch landing after the
    * merge read would be left behind).
    */
  def compactCountsIndex(s: SparkSession, root: String, newRoot: String,
                         fam: CountFamily): Unit = {
    val merged = countsTable(s, root, fam).getOrElse(
      throw new IllegalStateException(s"no counts to compact at $root"))
    graft.sources.Export.flush(merged, s"$newRoot/counts")
    StandingIndex.carryFence(s, root, newRoot, "counts", merged)
  }

  /** Standing DSIR feature table (b, cr, ct) — per-bucket raw-corpus and
    * target-slice token counts over the hashed 4096-wide feature space.
    * Both counts are per-file additive (pure token occurrence sums), so a
    * corpus append merges the new files' counts instead of re-tokenizing
    * — the same stamp-keyed lifecycle as the vocabulary and bigram-LM
    * families. The table is at most [[DsirBuckets]] rows, so every scorer
    * probes it with a broadcast join.
    */
  def corpusDsirFeatures(s: SparkSession, dir: String): DataFrame =
    DsirFamily.standing(s, dir, s"$DsirBuckets|$DsirTarget")

  /** Per-doc DSIR importance score against a FROZEN feature table — the
    * scoring half shared by q_dsir_weights and the streaming twin.
    * Per-bucket weight = bits(ct + 1) − bits(cr + 1) (floor-log2,
    * Laplace-smoothed); buckets absent from the table (possible only for
    * documents the table was not built from, i.e. streamed arrivals)
    * weigh 0 = "no evidence either way". Output = every input column +
    * n_toks + dsir_bits.
    */
  def dsirScore(d: DataFrame, feat: DataFrame): DataFrame = {
    val wb = feat.select(col("b"),
      (length(bin(col("ct") + 1)) - length(bin(col("cr") + 1)))
        .cast("long").as("wb"))
    val per = d
      .select(col("doc_id"),
        explode(split(normText(col("text")), " ")).as("term"))
      .select(col("doc_id"), expr(dsirBucketExpr).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
      .join(broadcast(wb), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("__nt"),
        sum(col("n") * coalesce(col("wb"), lit(0L))).as("__db"))
    d.join(per, Seq("doc_id"), "left")
      .withColumn("n_toks", coalesce(col("__nt"), lit(0L)))
      .withColumn("dsir_bits", coalesce(col("__db"), lit(0L)))
      .drop("__nt", "__db")
  }

  /** RAG chunk-window geometry (q_doc_chunks): 32-token windows every 24
    * tokens — 8 tokens of overlap between consecutive chunks.
    */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Shared chunk derivation — one definition for the batch query and the
    * streaming twin (Docs.chunkDocs), so the geometry can never drift
    * between them. Pure map + bounded explode, zero shuffle.
    */
  def docChunks(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(normText(col("text")), " ").as("t"))
    .withColumn("n", size(col("t")).cast("long"))
    .withColumn("k",
      when(col("n") <= ChunkSize, lit(0L))
        .otherwise(expr(s"(n - $ChunkSize + $ChunkStride - 1) div $ChunkStride")))
    .select(col("doc_id"), col("t"), col("n"),
      explode(sequence(lit(0L), col("k"))).as("chunk_id"))
    .withColumn("start_tok", col("chunk_id") * ChunkStride)
    .select(col("doc_id"), col("chunk_id"), col("start_tok"),
      least(lit(ChunkSize.toLong), col("n") - col("start_tok")).as("n_toks"),
      md5(array_join(
        slice(col("t"), col("start_tok") + 1, lit(ChunkSize)), " ")
        .cast("binary")).as("chunk_md5"))

  /** Unigram-surprisal verdict bounds (q_lm_surprisal), in milli-bits of
    * mean per-token surprisal: below Lo the document is near-boilerplate
    * (all ultra-common tokens), above Hi it is noise (all near-unique
    * tokens). Calibrated on the synthetic corpus so all three verdicts are
    * populated; production bounds come from a held-out calibration set.
    */
  val SurpLoMilli = 5000L
  val SurpHiMilli = 5200L

  /** Per-language stopword lexicons for the n-gram/stopword language-ID
    * heuristic (tiny, broadcast as literals into codegen).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "bu4"))

  private val langs = stopwords.keys.toSeq.sorted

  /** "Pretrained" weights of the linear quality classifier
    * (q_quality_classifier) in integer micro-logit units; `bias` multiplies
    * the constant feature 1. Calibrated so the synthetic corpus splits
    * roughly 50/50 keep/drop (276/500 at sf0.001). In production these rows
    * come from a model-training job's output table, not source code.
    */
  val ClassifierWeights: Seq[(String, Long)] = Seq(
    "bias" -> 1900000L,
    "n_words" -> 20000L,
    "ttr_micro" -> 2L,
    "stop_micro" -> 8L,
    "wlen_micro" -> -1L)

  /** PII scrub patterns — shared by the registered query and QualitySpec.
    * RE2-safe (no lookaround), identical semantics in Java regex and
    * DuckDB's RE2: email, NANP-style phone, dotted-quad IP.
    */
  object Pii {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
    val ip = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
    /** Mask order matters: phones/IPs inside an email never fire because the
      * email rewrite runs first on both engines.
      */
    def scrub(c: Column): Column =
      regexp_replace(
        regexp_replace(
          regexp_replace(c, email, "<EMAIL>"),
          phone, "<PHONE>"),
        ip, "<IP>")
    def scrubSql(x: String): String =
      s"regexp_replace(regexp_replace(regexp_replace($x, '$email', '<EMAIL>', 'g'), " +
        s"'$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g')"
  }

  /** Word n-grams from a token-array column — ONE native codegen
    * expression pass per row (functions/TextSketchOps.WordNgrams), the
    * hot front half of every gram-based operator. Empty array (not
    * null/crash) below n tokens or on a null input, matching the
    * historical composed form ([[wordNgramsComposed]], kept only as the
    * bit-parity reference).
    */
  def wordNgrams(toks: Column, n: Int): Column =
    coalesce(graft.functions.WordNgrams.wordNgrams(toks, n),
      array().cast("array<string>"))

  /** The pre-round-6 composed form (n shifted slices zipped so the
    * transform lambda touches only its own variable — indexing the source
    * array inside the lambda re-evaluates the producing chain per
    * element, O(len²)). Interpreted (HOFs skip codegen) and allocates n
    * slices + a zip-struct array per row; superseded by the native
    * expression, retained for the parity spec.
    */
  def wordNgramsComposed(toks: Column, n: Int): Column = {
    require(n >= 2, s"n-gram n must be >= 2, got $n")
    val slices = (1 to n).map(i => slice(toks, lit(i), size(toks) - (n - 1)))
    when(size(toks) >= n,
      transform(arrays_zip(slices: _*),
        p => concat_ws(" ", (0 until n).map(i => p.getField(i.toString)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-document DISTINCT word-n-gram set of a text column — the shared
    * front half of batch and streaming decontamination (and their parity
    * test): one definition, so a tokenizer change can't drift between them.
    */
  def gramSet(text: Column, n: Int): Column =
    array_distinct(wordNgrams(split(normText(text), " "), n))

  /** DuckDB mirror of [[wordNgrams]] over a list column expression. */
  def wordNgramsSql(l: String, n: Int): String = {
    val parts = (0 until n).map(k => if (k == 0) s"$l[i]" else s"$l[i + $k]")
      .mkString(" || ' ' || ")
    s"CASE WHEN len($l) >= $n THEN list_transform(generate_series(1, len($l) - ${n - 1}), i -> $parts) " +
      s"ELSE CAST([] AS VARCHAR[]) END"
  }

  /** Transitive contamination flags (q_decontaminate_clusters' back half,
    * unit-tested on a crafted chain corpus in QualitySpec): `direct` docs
    * are contaminated outright; every OTHER member of a near-dup cluster
    * (per `labels`: doc_id → rep) containing a direct doc becomes
    * cluster_contaminated; the rest of `cands` are clean. Two label-sized
    * equi-joins — shuffle ∝ cluster members, never the corpus.
    */
  def clusterContamination(cands: DataFrame, direct: DataFrame,
                           labels: DataFrame): DataFrame = {
    val badReps = labels.join(direct, "doc_id").select("rep").distinct()
    val clusterBad = labels.join(badReps, "rep").select("doc_id")
    cands.select("doc_id")
      .join(direct.withColumn("d", lit(1)), Seq("doc_id"), "left")
      .join(clusterBad.withColumn("c", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("d") === 1, "contaminated")
          .when(col("c") === 1, "cluster_contaminated")
          .otherwise("clean").as("verdict"))
  }

  /** BPE merge TRAINING (Sennrich et al. 2016) over the corpus word
    * frequencies — the learn half of the tokenizer story (40b's
    * `wp_encode_all` is the apply half; feed it
    * [[vocabFromMerges]]). Classic BPE trains on the WORD-FREQUENCY
    * table, not the corpus: at 100 TB that table has |vocabulary| rows
    * (millions, distributed fine), each round is one pair-explode +
    * count aggregate + a one-row argmax collect + a per-row merge map,
    * and the round count is the bounded model knob. The per-word symbol
    * merge is genuinely imperative (greedy left-to-right, order
    * matters), so it runs as a typed map; each round localCheckpoints to
    * stop iterative lineage growth (the CC-rounds precedent).
    *
    * Deterministic: best pair = max weighted count, ties by (left,
    * right) lexicographic. Returns merges in training order.
    */
  def bpeTrainMerges(docs0: DataFrame, nMerges: Int): Seq[(String, String)] = {
    var syms: DataFrame = docs0
      .select(explode(split(normText(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), col("c"))
      // LAZY checkpoints throughout the loop: each round's argmax collect
      // is the action that materializes them, so a round costs ONE job
      // (pair-count + argmax) instead of two — the eager form paid a
      // separate materialization job per round, pure scheduler overhead
      // ×nMerges. Lineage still truncates at every round boundary.
      .localCheckpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < nMerges && !done) {
      // adjacent symbol pairs weighted by word count — pure array
      // expressions (the r12 rewrite: the previous typed flatMap/map pair
      // deserialized every row to Scala per round, outside codegen)
      val best = syms
        .select(explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("c"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        merges += ((l, r))
        // greedy left-to-right merge as a fold carrying the not-yet-emitted
        // symbol: (pend = l, next = r) emits the merged symbol and clears
        // pend, so the pair's two symbols are consumed exactly like the
        // imperative skip-2 loop (overlapping runs: "aaa" -> ["aa", "a"]).
        // Literal symbols enter as lit() columns, never spliced into SQL.
        val (lC, rC, mC) = (lit(l), lit(r), lit(l + r))
        def outPend(out: org.apache.spark.sql.Column,
                    pend: org.apache.spark.sql.Column) =
          struct(out.as("out"), pend.as("pend"))
        val nullS = lit(null).cast("string")
        val mergedSyms = aggregate(
          col("syms"),
          outPend(array().cast("array<string>"), nullS),
          (acc, x) => when(acc.getField("pend").isNull,
              outPend(acc.getField("out"), x))
            .when(acc.getField("pend") === lC && x === rC,
              outPend(concat(acc.getField("out"), array(mC)), nullS))
            .otherwise(
              outPend(concat(acc.getField("out"), array(acc.getField("pend"))), x)),
          acc => when(acc.getField("pend").isNull, acc.getField("out"))
            .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
        syms = syms.select(mergedSyms.as("syms"), col("c"))
          .localCheckpoint(eager = false)
      }
    }
    merges.toSeq
  }

  /** Vocabulary induced by a merge sequence: every merged symbol plus the
    * single characters — exactly what greedy longest-match inference
    * (`wp_encode_all`) consumes.
    */
  def vocabFromMerges(docs0: DataFrame, merges: Seq[(String, String)]): Seq[String] = {
    val spark = docs0.sparkSession
    import spark.implicits._
    val chars = docs0
      .select(explode(split(normText(col("text")), " ")).as("w"))
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("v"))
      .distinct().as[String].collect().toSeq
    (merges.map { case (l, r) => l + r } ++ chars).distinct
  }

  /** Standing index of corpus-DUPLICATED 5-gram hashes (grams present in
    * ≥2 distinct documents) — the cross-doc half of q_dup_gram_coverage,
    * stamp-keyed like the signature tables: it changes only when the
    * corpus does, and an ingestion pipeline maintains it rather than
    * re-deriving the corpus gram df per scoring run. One column (gh,
    * md5 of the gram — a fixed-width key), so probes stay narrow.
    */
  /** Standing bigram LANGUAGE MODEL (w1, bg, cb) — corpus occurrence
    * counts per bigram with its context word, the probe table of
    * q_bigram_surprisal and its streaming twin. Counts are per-file
    * additive, so a corpus append merges the new files' counts into the
    * standing vocabulary (same shape as the dup-gram counts); the
    * context totals cu derive from this table (vocabulary-sized
    * aggregate) at read time, never from the corpus.
    */
  def corpusBigramModel(s: SparkSession, dir: String): DataFrame =
    BigramFamily.standing(s, dir, "2|occ")

  /** Standing unigram statistics (term, cw occurrences, dfw doc
    * frequency) — the corpus vocabulary table behind q_vocab_topk,
    * q_lm_surprisal's LM weights, q_oov_rate's top-50 vocabulary, and
    * the streaming token-drift monitor's reference distribution. Both
    * statistics are per-file additive (docs are disjoint across files),
    * so a corpus append merges counts instead of re-tokenizing.
    */
  def corpusUnigramCounts(s: SparkSession, dir: String): DataFrame =
    UnigramFamily.standing(s, dir, "1|occ+df")

  /** Per-doc bigram surprisal against a FROZEN (w1, bg, cb) model — the
    * scoring half shared by the registered query and the streaming twin
    * (the Events.scoreOutliers pattern: model trained once, applied
    * anywhere). Bigrams absent from the model are skipped (model
    * coverage defines the scorable positions); scoring the corpus the
    * model was built from has total coverage, which is what the
    * stream/batch parity test pins. Output = every input column +
    * n_bigrams / surp_sum / mean_surprisal_milli.
    */
  def bigramSurprisalScore(d: DataFrame, model: DataFrame): DataFrame =
    d.join(bigramSurprisalAgg(d, model), Seq("doc_id"), "left")

  /** The aggregate half of [[bigramSurprisalScore]]: one row per doc of
    * `d` — including empty/null-text docs (explode_outer), so a consumer
    * that only needs (doc_id, scores) can use this directly with no
    * attach join at all (the registered query does). Bigram POSITIONS
    * probe the frozen model directly (left joins, unscorable positions
    * contribute zero) and collapse in ONE doc-keyed aggregate — the old
    * (doc_id, bg) pre-count and its exchange are gone. Unlike unigrams
    * (q_lm_surprisal, where the tf collapse bounds the hot-key fan-in
    * ~10x and stays), bigram positions ≈ per-doc-distinct bigrams, so
    * that collapse bought nothing at scale and cost an exchange
    * everywhere.
    */
  def bigramSurprisalAgg(d: DataFrame, model: DataFrame): DataFrame = {
    val cu = model.groupBy("w1").agg(sum(col("cb")).as("cu"))
    val pos = d.select(col("doc_id"), explode_outer(
        wordNgrams(split(normText(col("text")), " "), 2)).as("bg"))
    pos.join(model, Seq("bg"), "left").join(cu, Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(sum(when(col("cb").isNotNull, 1L).otherwise(0L)).as("n_bigrams"),
        sum(when(col("cb").isNotNull,
            (length(bin(col("cu"))) - length(bin(col("cb")))).cast("long"))
          .otherwise(0L)).as("surp_sum"))
      .withColumn("mean_surprisal_milli",
        coalesce(expr("surp_sum * 1000 div nullif(n_bigrams, 0)"), lit(0L)))
  }

  /** Per-doc merged duplicated-gram spans (doc_id, s, e) in 1-based token
    * coordinates — the gaps-and-islands frame shared by q_dup_spans
    * (reporting) and q_span_scrub (removal). Hit positions come from the
    * standing dup-gram index probe; the window runs per document over the
    * doc's own hits only.
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    // corpusDupGrams already applies the nd >= 2 cut and projects to gh
    dupSpansOf(Tables.spread(docs(s, dir)), corpusDupGrams(s, dir))

  /** [[dupSpans]] generalized over any (doc_id, text) frame and any
    * duplicated-gram-hash set — a span depends only on the document's own
    * grams plus the frozen `dup` set, so the same code scores a batch
    * corpus and a streaming micro-batch (Docs.spanScrubSink).
    */
  def dupSpansOf(d: DataFrame, dup: DataFrame): DataFrame = {
    val pos = d
      .select(col("doc_id"), posexplode(
        wordNgrams(split(normText(col("text")), " "), 5)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        md5(col("col").cast("binary")).as("gh"))
    val hits = pos.join(dup, "gh").select("doc_id", "pos")
    // merged maximal spans via ONE doc-keyed aggregate over the sorted hit
    // positions: span starts are positions >5 past their predecessor, and
    // each span ends 4 past the position before the next start. Replaces
    // the two-window gaps-and-islands chain + (doc, island) group-by —
    // one doc_id exchange instead of a window exchange, two window sorts
    // and a second aggregate exchange (r12, guide §2.4). Per-doc hit
    // counts are bounded by document length, the same bound the window
    // partition had, so the collected array never exceeds what one window
    // partition already held.
    hits.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .withColumn("st", expr(
        "filter(sequence(0, size(ps) - 1), i -> i = 0 OR ps[i] > ps[i - 1] + 5)"))
      .select(col("doc_id"), explode(expr(
        """zip_with(st, concat(slice(st, 2, size(st)), array(size(ps))),
          |  (a, nx) -> struct(ps[a] AS s, ps[nx - 1] + 4 AS e))""".stripMargin))
        .as("se"))
      .select(col("doc_id"), col("se.s").as("s"), col("se.e").as("e"))
  }

  /** Per-doc span-scrub result (doc_id, n_toks, n_kept, clean_md5) of any
    * (doc_id, text) frame against a frozen duplicated-gram-hash set — the
    * surgery half shared by q_span_scrub and the streaming twin.
    *
    * Precondition: `text` must be non-null (the corpus schema's contract).
    * A NULL text yields no token rows, so the doc would be absent from the
    * result rather than scored as empty — callers feeding frames from
    * outside the catalog must filter or default NULL texts first.
    */
  def spanScrubScore(d: DataFrame, dup: DataFrame): DataFrame = {
    val toksp = d
      .select(col("doc_id"), posexplode(split(normText(col("text")), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("w"))
    // covered positions come straight off the (disjoint) span ranges —
    // a bounded explode, never a corpus × spans range join
    val covered = dupSpansOf(d, dup)
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("pos"),
        lit(1).as("__cov"))
    // ONE flagged join + ONE doc-keyed aggregate derive n_toks, n_kept and
    // the kept-text md5 together: spans are disjoint so the left join never
    // duplicates a token row, `split` always yields ≥1 token so every doc
    // survives the aggregate, and collect_list skips the NULLs the `when`
    // leaves on covered positions — the md5 input is exactly the kept
    // tokens in position order. (The previous shape paid a third scan of
    // `d` for n_toks plus a separate anti-join; guide §2.3-2.4: derive
    // everything one pass can prove from that pass.)
    toksp.join(covered, Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_toks"),
        count(when(col("__cov").isNull, 1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(
            when(col("__cov").isNull, struct(col("pos"), col("w"))))),
          x => x.getField("w")), " ").cast("binary")).as("clean_md5"))
      .select(col("doc_id"), col("n_toks"), col("n_kept"), col("clean_md5"))
  }

  /** Oracle-SQL CTE chain deriving the same spans table (doc_id, s, e)
    * from `documents` — interpolate into a WITH list; expects nothing
    * predefined. Ends with the CTE named `spans`.
    */
  def dupSpansSqlCtes: String = {
    val g5 = (0 until 5).map(k => if (k == 0) "l[i]" else s"l[i + $k]")
      .mkString(" || ' ' || ")
    s"""tok AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS l FROM documents),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 4),
       |    i -> {'pos': i, 'gram': $g5})) AS u
       |  FROM tok WHERE len(l) >= 5),
       |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g0),
       |dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
       |  GROUP BY gram HAVING count(*) >= 2),
       |hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
       |brk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 5
       |      THEN 1 ELSE 0 END AS b
       |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (
       |  SELECT doc_id, pos, sum(b) OVER
       |    (PARTITION BY doc_id ORDER BY pos
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM brk),
       |spans AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos) + 4 AS e
       |  FROM isl GROUP BY 1, 2)""".stripMargin
  }

  def corpusDupGrams(s: SparkSession, dir: String): DataFrame = {
    // the stored table keeps (gh, nd) for EVERY gram (grams are per-doc
    // distinct, so per-file counts add across disjoint appends): an
    // append-refresh merges the new files' counts into the standing
    // vocabulary instead of re-gramming the corpus, and a gram whose
    // second occurrence arrives in a later file still turns duplicated.
    // The ≥ 2 filter moves to read time (parquet-pushed on nd).
    DupGramFamily.standing(s, dir, "5|all")
      .filter(col("nd") >= 2).select("gh")
  }

  val pack: Seq[Q] = Seq(

    // 38. language ID: per-language stopword hit count, arg-max with a fixed
    // priority tie-break (alphabetical), expressed identically in both engines.
    Q("q_lang_id", {
      val scoreCols = langs.map { l =>
        val set = stopwords(l).map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(string_split($normSql, ' '), t -> t IN ($set))) AS BIGINT) AS s_$l"
      }.mkString(",\n  ")
      val pred = langs.dropRight(1).reverse.foldLeft(s"'${langs.last}'") { (rest, l) =>
        val geAll = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"CASE WHEN $geAll THEN '$l' ELSE $rest END"
      }
      s"""SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh, $pred AS pred
         |FROM (SELECT doc_id, lang, $scoreCols FROM documents)
         |ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        val toks = split(normText(col("text")), " ")
        val scored = Tables.spread(docs(s, dir)).select(
          col("doc_id") +: col("lang") +: langs.map { l =>
            size(filter(toks, t => t.isInCollection(stopwords(l))))
              .cast("long").as(s"s_$l")
          }: _*)
        val pred = langs.dropRight(1).reverse.foldLeft(lit(langs.last)) { (rest, l) =>
          val geAll = langs.filterNot(_ == l)
            .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
          when(geAll, lit(l)).otherwise(rest)
        }
        scored.withColumn("pred", pred).orderBy("doc_id")
      }),

    // 39. quality scoring: length/punctuation/stopword/word-length features
    Q("q_quality_score",
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_words,
         |  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
         |  CAST(length(replace($normSql, ' ', '')) * 1000000 // len(string_split($normSql, ' ')) AS BIGINT) AS avg_wlen_micro,
         |  CAST(len(list_filter(string_split($normSql, ' '), t -> t IN ('the','a','and','of','to','is','in','that'))) * 1000000
         |    // len(string_split($normSql, ' ')) AS BIGINT) AS stop_ratio_micro,
         |  CASE WHEN length(text) >= 100 AND len(string_split($normSql, ' ')) >= 20 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, dir) => {
        val norm = normText(col("text"))
        val toks = split(norm, " ")
        val nWords = size(toks).cast("long")
        val en = TextAnalysis.stopwords("en")
        docs(s, dir).select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          nWords.as("n_words"),
          (length(col("text")) - length(regexp_replace(col("text"), "[.!?,;:]", "")))
            .cast("long").as("n_punct"),
          expr(s"CAST(length(replace(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' ', '')) * 1000000L div size(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' ')) AS LONG)")
            .as("avg_wlen_micro"),
          (size(filter(toks, t => t.isInCollection(en))).cast("long") * 1000000L)
            .as("__stophits"),
          when(length(col("text")) >= 100 && nWords >= 20, "keep").otherwise("drop")
            .as("verdict"))
          .withColumn("stop_ratio_micro", expr("__stophits div n_words"))
          .drop("__stophits")
          .select("doc_id", "n_chars", "n_words", "n_punct", "avg_wlen_micro",
            "stop_ratio_micro", "verdict")
          .orderBy("doc_id")
      }),

    // 39c. model-based quality filtering: a linear classifier whose weights
    // are DATA, not code — the operator shape of a fasttext/logreg quality
    // model. Per-doc integer-micro features unpivot to (doc, feature, value)
    // rows, broadcast-join the weight table, one doc-keyed sum = the logit.
    // Swapping the weight table retrains the filter with zero plan changes,
    // and the same shape carries thousands of features without blowing up
    // codegen. All-integer arithmetic (ANSI errors loudly on overflow), so
    // the score hash-checks cross-engine.
    Q("q_quality_classifier", {
      val w = ClassifierWeights
        .map { case (f, wt) => s"('$f', CAST($wt AS BIGINT))" }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, $normSql AS s, string_split($normSql, ' ') AS l FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(l) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(l)) * 1000000 // len(l) AS BIGINT) AS ttr_micro,
         |    CAST(len(list_filter(l, x -> x IN ('the','a','and','of','to','is','in','that'))) * 1000000 // len(l) AS BIGINT) AS stop_micro,
         |    CAST((len(s) - len(l) + 1) * 1000000 // len(l) AS BIGINT) AS wlen_micro
         |  FROM tok),
         |u AS (
         |  SELECT doc_id, 'bias' AS feature, CAST(1 AS BIGINT) AS fval FROM f
         |  UNION ALL SELECT doc_id, 'n_words', n_words FROM f
         |  UNION ALL SELECT doc_id, 'ttr_micro', ttr_micro FROM f
         |  UNION ALL SELECT doc_id, 'stop_micro', stop_micro FROM f
         |  UNION ALL SELECT doc_id, 'wlen_micro', wlen_micro FROM f),
         |w(feature, weight) AS (VALUES $w)
         |SELECT doc_id, CAST(sum(fval * weight) AS BIGINT) AS score_micro,
         |  CASE WHEN sum(fval * weight) >= 0 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM u JOIN w USING (feature)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        import s.implicits._
        val en = stopwords("en")
        val base = docs(s, dir).select(col("doc_id"),
          normText(col("text")).as("s"), split(normText(col("text")), " ").as("l"))
        val feats = base.select(col("doc_id"),
          size(col("l")).cast("long").as("n_words"),
          expr("CAST(size(array_distinct(l)) AS BIGINT) * 1000000 div size(l)").as("ttr_micro"),
          (size(filter(col("l"), x => x.isInCollection(en))).cast("long") * 1000000L)
            .as("__stophits"),
          expr("CAST(length(s) - size(l) + 1 AS BIGINT) * 1000000 div size(l)").as("wlen_micro"))
          .withColumn("stop_micro", expr("__stophits div n_words")).drop("__stophits")
        val unpivot = feats.select(col("doc_id"), explode(map(
          lit("bias"), lit(1L),
          lit("n_words"), col("n_words"),
          lit("ttr_micro"), col("ttr_micro"),
          lit("stop_micro"), col("stop_micro"),
          lit("wlen_micro"), col("wlen_micro"))).as(Seq("feature", "fval")))
        val weights = ClassifierWeights.toSeq.toDF("feature", "weight")
        unpivot.join(broadcast(weights), "feature")
          .groupBy("doc_id")
          .agg(sum(col("fval") * col("weight")).as("score_micro"))
          .select(col("doc_id"), col("score_micro"),
            when(col("score_micro") >= 0, "keep").otherwise("drop").as("verdict"))
          .orderBy("doc_id")
      }),

    // 40. token counting: whitespace tokens + a BPE-ish regex token class
    Q("q_token_count",
      s"""SELECT doc_id,
         |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        size(split(normText(col("text")), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long").as("bpe_tokens"))
        .orderBy("doc_id")),

    // 40b. SUBWORD TOKENIZER APPLICATION — greedy longest-match
    // (WordPiece/MaxMatch inference) with the VOCABULARY AS DATA: the
    // vocab derives deterministically from the corpus itself (top-5 whole
    // words by tf, top-300 3-char substrings by occurrence-weighted count,
    // plus every corpus character so no position can miss), collects once
    // as bounded model state, and the encode is ONE native codegen pass
    // per document (functions/TokenizerOps.WpEncodeAll — a hash-set trie
    // baked into the generated class). At 100 TB, tokenization is a pure
    // map: zero shuffles beyond the tiny vocab derivation, retrain = swap
    // the vocab table. All positions count CODE POINTS (DuckDB substr
    // semantics — strlen would count bytes and diverge on the zh docs).
    // The oracle replays the greedy walk with a recursive CTE + LATERAL
    // longest-prefix probe; per-doc piece-stream md5 pins every piece and
    // its order, not just the counts.
    Q("q_subword_tokenize", {
      s"""WITH RECURSIVE
         |tok0 AS (SELECT doc_id, string_split($normSql, ' ') AS l FROM documents),
         |tok AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos FROM tok0),
         |tf AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
         |topw AS (SELECT w AS v FROM tf ORDER BY c DESC, w LIMIT 5),
         |tri0 AS (SELECT substr(w, i, 3) AS v, c FROM tf, UNNEST(range(1, length(w) - 1)) AS u(i)),
         |tri AS (SELECT v FROM (SELECT v, sum(c) AS sc FROM tri0 GROUP BY v)
         |        ORDER BY sc DESC, v LIMIT 300),
         |chars AS (SELECT DISTINCT substr(w, i, 1) AS v
         |          FROM tf, UNNEST(range(1, length(w) + 1)) AS u(i)),
         |vocab AS (SELECT v FROM topw UNION SELECT v FROM tri UNION SELECT v FROM chars),
         |words AS (SELECT DISTINCT w FROM tok),
         |enc(w, pos, np, ps) AS (
         |  SELECT w, 1, CAST(0 AS BIGINT), CAST('' AS VARCHAR) FROM words
         |  UNION ALL
         |  SELECT e.w, e.pos + length(p.v), e.np + 1, e.ps || '|' || p.v
         |  FROM enc e, LATERAL (
         |    SELECT v FROM vocab WHERE substr(e.w, e.pos, length(v)) = v
         |    ORDER BY length(v) DESC, v LIMIT 1) p
         |  WHERE e.pos <= length(e.w)),
         |done AS (SELECT w, np, ps FROM enc WHERE pos > length(w)),
         |agg AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(d.np) AS BIGINT) AS n_pieces,
         |    md5(coalesce(string_agg(d.ps, '' ORDER BY t.pos), '')) AS stream_md5
         |  FROM tok t JOIN done d ON t.w = d.w GROUP BY 1)
         |SELECT doc_id, n_words, n_pieces,
         |  CAST(n_pieces * 1000000 // n_words AS BIGINT) AS fertility_micros,
         |  stream_md5
         |FROM agg ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        import graft.functions.WpEncodeAll
        val toks = docs(s, dir)
          .select(col("doc_id"), split(normText(col("text")), " ").as("t"))
        val tok = toks.select(col("doc_id"), explode(col("t")).as("w"))
        val tf = tok.groupBy("w").agg(count(lit(1)).as("c"))
          .localCheckpoint() // three vocab slices read it; don't re-derive
        val topw = tf.orderBy(col("c").desc, col("w").asc).limit(5)
          .select(col("w").as("v"))
        val tri = tf.select(explode(
            when(length(col("w")) >= 3, expr(
              "transform(sequence(1, length(w) - 2), i -> substring(w, i, 3))"))
              .otherwise(array().cast("array<string>"))).as("v"), col("c"))
          .groupBy("v").agg(sum(col("c")).as("sc"))
          .orderBy(col("sc").desc, col("v").asc).limit(300).select("v")
        val chars = tf.select(explode(expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
            .as("v")).distinct()
        // bounded model state (≤ ~350 strings), like the k-means centroids
        val vocab = topw.union(tri).union(chars).distinct()
          .collect().map(_.getString(0)).toSeq
        val enc = toks.select(col("doc_id"),
          size(col("t")).cast("long").as("n_words"),
          WpEncodeAll.wpEncodeAll(col("t"), vocab).as("pieces"))
        enc.select(col("doc_id"), col("n_words"),
            size(col("pieces")).cast("long").as("n_pieces"),
            expr("size(pieces) * 1000000L div n_words").as("fertility_micros"),
            when(size(col("pieces")) === 0, md5(lit("").cast("binary")))
              .otherwise(md5(concat(lit("|"),
                concat_ws("|", col("pieces"))).cast("binary")))
              .as("stream_md5"))
          .orderBy("doc_id")
      }),

    // 40c. BPE merge training — rows-only BY DESIGN: each round's best
    // pair depends on the re-tokenization the previous round produced, an
    // iterative argmax-then-transform loop one SQL statement cannot
    // express (the spec pins the exact merge sequence on a crafted corpus
    // instead, and composition with wp_encode_all is spec-pinned too).
    // Deterministic throughout, so rows/row-count stay stable.
    Q.rowsOnly("q_bpe_merges")(
      (s, dir) => {
        import s.implicits._
        bpeTrainMerges(docs(s, dir), nMerges = 10).zipWithIndex
          .map { case ((l, r), i) => (i.toLong, l, r, l + r) }
          .toDF("rank", "left", "right", "merged")
          .orderBy("rank")
      }),

    // 41. document fingerprint: md5 over the sorted distinct token set (a
    // shingle-free content fingerprint; binary-collation sort both engines)
    Q("q_fingerprint",
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(string_split($normSql, ' '))), ' ')) AS fp,
         |  substr(md5(array_to_string(list_sort(list_distinct(string_split($normSql, ' '))), ' ')), 1, 8) AS fp8
         |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, dir) => {
        val fp = md5(concat_ws(" ",
          array_sort(array_distinct(split(normText(col("text")), " ")))).cast("binary"))
        docs(s, dir).select(
          col("doc_id"), fp.as("fp"), substring(fp, 1, 8).as("fp8"))
          .orderBy("doc_id")
      }),

    // 41b. keyword extraction (TF-IDF-style top term per doc). All-integer
    // outputs keep it exactly oracle-comparable: tf and df are counts, and
    // the top term is picked by the deterministic (tf DESC, df ASC, term)
    // order — highest-frequency, rarest-in-corpus, lexicographic tiebreak.
    // Scale shape: one shuffle to (doc, term) counts, a tiny per-term df
    // aggregate joined back (broadcast at runtime), a per-doc window.
    Q("q_tfidf_top_term",
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST(string_split($normSql, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |ranked AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rn
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id, term, tf, df FROM ranked WHERE rn = 1
         |ORDER BY doc_id""".stripMargin)(
      (s, dir) => {
        val tok = docs(s, dir)
          .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("term"))
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)
        tf.join(df, "term")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("doc_id", "term", "tf", "df")
          .orderBy("doc_id")
      }),

    // 39b. repetition signals (the Gopher-style repetition filters): type-
    // token ratio, duplicate-bigram fraction, top-bigram fraction — the
    // standard "is this document degenerate/boilerplate" features. Integer
    // micro fixed-point throughout. Scale shape: bigram explode → one
    // (doc,bigram) count shuffle → per-doc agg; word stats ride along as
    // pure array expressions (no extra pass).
    Q("q_repetition",
      s"""WITH tok AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS l FROM documents),
         |bg AS (
         |  SELECT doc_id, l, ${wordNgramsSql("l", 2)} AS bgs
         |  FROM tok),
         |bgc AS (
         |  SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(bgs) AS bigram FROM bg) GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(max(c) AS BIGINT) AS maxc,
         |    CAST(sum(c) AS BIGINT) AS nbg, CAST(count(*) AS BIGINT) AS ndist
         |  FROM bgc GROUP BY 1),
         |words AS (
         |  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(l)) AS BIGINT) AS ndw FROM bg)
         |SELECT w.doc_id, w.n_words,
         |  CAST(w.ndw * 1000000 // w.n_words AS BIGINT) AS ttr_micro,
         |  CAST(coalesce(a.nbg, 0) AS BIGINT) AS n_bigrams,
         |  CAST(CASE WHEN coalesce(a.nbg, 0) = 0 THEN 0
         |    ELSE (a.nbg - a.ndist) * 1000000 // a.nbg END AS BIGINT) AS dup_bigram_micro,
         |  CAST(CASE WHEN coalesce(a.nbg, 0) = 0 THEN 0
         |    ELSE a.maxc * 1000000 // a.nbg END AS BIGINT) AS top_bigram_micro
         |FROM words w LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin)(
      (s, dir) => {
        // every repetition signal is a function of ONE document's arrays,
        // so the whole query is a pure map: the per-doc top-bigram count
        // (the one stat that looks like it needs a groupBy) is a linear
        // fold over the SORTED bigram array — longest equal-adjacent run —
        // which replaces the explode + two-level aggregate + join-back of
        // the first version. No shuffle but the final sort; at 100 TB the
        // old shape moved one row per BIGRAM through an exchange.
        val toks = split(normText(col("text")), " ")
        val bigrams = wordNgrams(toks, 2)
        Tables.spread(docs(s, dir)).select(
          col("doc_id"),
          size(toks).cast("long").as("n_words"),
          size(array_distinct(toks)).cast("long").as("ndw"),
          bigrams.as("bgs"))
          .select(
            col("doc_id"), col("n_words"),
            expr("ndw * 1000000L div n_words").as("ttr_micro"),
            size(col("bgs")).cast("long").as("n_bigrams"),
            // ONE pass over the sorted bigrams yields both the longest
            // equal-adjacent run (top-bigram count) AND the distinct count
            // (boundaries), replacing the separate array_distinct(bgs)
            // hash-set pass + array allocation ('' sentinel is safe: a
            // bigram is two non-empty tokens joined by a space)
            expr("""aggregate(array_sort(bgs),
                   |  named_struct('prev', '', 'run', 0L, 'best', 0L, 'nd', 0L),
                   |  (acc, x) -> named_struct(
                   |    'prev', x,
                   |    'run', IF(x = acc.prev, acc.run + 1L, 1L),
                   |    'best', GREATEST(acc.best, IF(x = acc.prev, acc.run + 1L, 1L)),
                   |    'nd', acc.nd + IF(x = acc.prev, 0L, 1L)),
                   |  acc -> acc)""".stripMargin).as("rs"))
          .select(col("doc_id"), col("n_words"), col("ttr_micro"),
            col("n_bigrams"), col("rs.nd").as("ndist"),
            col("rs.best").as("maxc"))
          .select(
            col("doc_id"), col("n_words"), col("ttr_micro"),
            col("n_bigrams"),
            expr("CASE WHEN n_bigrams = 0 THEN 0L " +
              "ELSE (n_bigrams - ndist) * 1000000L div n_bigrams END")
              .as("dup_bigram_micro"),
            expr("CASE WHEN n_bigrams = 0 THEN 0L " +
              "ELSE maxc * 1000000L div n_bigrams END").as("top_bigram_micro"))
          // NOTE (r12): a localCheckpoint here would stop the range
          // partitioner's sampler re-running the tokenize/sort/fold above
          // (the ORDER BY child is evaluated twice: sample + shuffle map),
          // but it measured slightly SLOWER locally (extra job + block
          // round-trip beats the saved re-eval at this scale) and hides
          // the pruned parquet leaf PlanShapeSpec pins. Tried, reverted.
          .orderBy("doc_id")
      }),

    // 38b. corpus vocabulary top-k (tf + df, deterministic rank) — the
    // vocabulary-build primitive under tokenizer/BPE training. Distributed
    // top-k (TakeOrderedAndProject after one agg shuffle); the rank window
    // runs on the already-reduced k rows, never the corpus.
    Q("q_vocab_topk",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents),
         |agg AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS tf,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tok GROUP BY 1),
         |top AS (SELECT * FROM agg ORDER BY tf DESC, term LIMIT 50)
         |SELECT term, tf, df,
         |  CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS rnk
         |FROM top ORDER BY rnk""".stripMargin)(
      (s, dir) => {
        // probe the standing vocabulary table: per-run work is a top-50
        // TakeOrdered over |vocab| rows, never a corpus re-tokenize
        val top = corpusUnigramCounts(s, dir)
          .select(col("term"), col("cw").as("tf"), col("dfw").as("df"))
          .orderBy(col("tf").desc, col("term").asc).limit(50)
        top.withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("tf").desc, col("term").asc)).cast("long"))
          .orderBy("rnk")
      }),

    // 41d2. OOV RATE — the tokenizer-coverage metric that accompanies a
    // vocabulary build: the fraction of corpus token OCCURRENCES falling
    // outside the top-50 vocabulary, per source (which sources a
    // vocab/tokenizer trained on this corpus serves worst). The token
    // stream collapses to per-doc term frequencies BEFORE the vocab
    // anti-join (one row per doc per distinct word — the q_lm_surprisal
    // skew bound), the 50-term vocab broadcasts, and the rollup is one
    // source-keyed shuffle of tiny partial sums.
    Q("q_oov_rate",
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, source, term, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1, 2, 3),
         |corpus AS (
         |  SELECT term, CAST(SUM(c) AS BIGINT) AS tf FROM tf GROUP BY term),
         |vocab AS (SELECT term FROM corpus ORDER BY tf DESC, term LIMIT 50),
         |j AS (
         |  SELECT t.source, t.c,
         |    CASE WHEN v.term IS NULL THEN t.c ELSE 0 END AS oov
         |  FROM tf t LEFT JOIN vocab v ON t.term = v.term)
         |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  CAST(SUM(oov) AS BIGINT) AS n_oov,
         |  CAST(SUM(oov) * 1000 // SUM(c) AS BIGINT) AS oov_milli
         |FROM j GROUP BY source ORDER BY source""".stripMargin)(
      (s, dir) => {
        val tf = Tables.spread(docs(s, dir))
          .select(col("doc_id"), col("source"),
            explode(split(normText(col("text")), " ")).as("term"))
          .groupBy("doc_id", "source", "term")
          .agg(count(lit(1)).as("c"))
        // top-50 vocabulary off the standing table, not a second corpus agg
        val vocab = corpusUnigramCounts(s, dir)
          .orderBy(col("cw").desc, col("term").asc).limit(50)
          .select(col("term"), lit(1).as("in_vocab"))
        tf.join(broadcast(vocab), Seq("term"), "left")
          .groupBy(col("source"))
          .agg(sum(col("c")).cast("long").as("n_tokens"),
            sum(when(col("in_vocab").isNull, col("c")).otherwise(0L))
              .cast("long").as("n_oov"))
          .withColumn("oov_milli", expr("n_oov * 1000 div n_tokens"))
          .orderBy("source")
      }),

    // 41c. PII scrub: email/phone/IP detection counts + the scrubbed text's
    // md5 (rewrite semantics hash-checked cross-engine). The synthetic
    // corpus contains no PII, so counts are zero HERE — QualitySpec drives
    // the same patterns over crafted strings with real hits; this query
    // pins the cross-engine regex/rewrite parity and the pipeline shape
    // (pure codegen'd map, no shuffle).
    // 41m. CORPUS-DUPLICATED-GRAM COVERAGE — the cross-document face of
    // the repetition signals: what fraction of each document's 5-gram
    // positions carry a gram that appears in ≥2 DISTINCT documents
    // (RefinedWeb/CCNet-style "covered by duplicated text" quality
    // signal; 41c's q_repetition measures WITHIN-doc repetition, 34d's
    // chunk dedup REMOVES duplicated 8-word chunks — this SCORES docs by
    // corpus-level duplication without mutating them). Scale shape: gram
    // stream collapses to per-doc (gram-hash, tf) before any join (md5
    // gram hash = fixed-width shuffle key, map-side combined); the
    // duplicated-gram set is a stamp-keyed standing index (built once per
    // corpus, like the signature tables); coverage = one equi-join + one
    // doc-keyed agg. All-integer micros, so it hash-checks cross-engine.
    Q("q_dup_gram_coverage", {
      val grams = wordNgramsSql("l", 5)
      s"""WITH tok AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS l FROM documents),
         |g AS (SELECT doc_id, unnest($grams) AS gram FROM tok),
         |tf AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf FROM g GROUP BY 1, 2),
         |dup AS (SELECT gram FROM tf GROUP BY gram HAVING count(*) >= 2),
         |cov AS (
         |  SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN d.gram IS NOT NULL THEN t.tf ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM tf t LEFT JOIN dup d ON t.gram = d.gram GROUP BY 1)
         |SELECT doc_id,
         |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
         |  CAST(coalesce(n_dup * 1000000 // nullif(n_grams, 0), 0) AS BIGINT) AS dup_frac_micros,
         |  CASE WHEN coalesce(n_dup * 1000000 // nullif(n_grams, 0), 0) > 500000
         |    THEN 'flag' ELSE 'keep' END AS verdict
         |FROM documents LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        // gram POSITIONS probe the standing index directly and collapse in
        // ONE doc-keyed aggregate: the (doc_id, gh, tf) pre-aggregation and
        // its exchange are gone (a doc's positions live in one task, so the
        // map-side combine already yields one row per doc), and explode_outer
        // keeps zero-gram docs in the aggregate, which removes the documents
        // join-back scan + sort-merge join. Position rows ≈ per-doc-distinct
        // rows for 5-grams (within-doc repeats are rare), so the at-scale
        // probe join sees the same volume as the old collapsed form with one
        // exchange fewer at every scale.
        val pos = Tables.spread(docs(s, dir))
          .select(col("doc_id"), explode_outer(
            wordNgrams(split(normText(col("text")), " "), 5)).as("gram"))
          .select(col("doc_id"), md5(col("gram").cast("binary")).as("gh"))
        pos
          .join(corpusDupGrams(s, dir).withColumn("d", lit(1)), Seq("gh"), "left")
          .groupBy("doc_id")
          .agg(sum(when(col("gh").isNotNull, 1L).otherwise(0L)).as("n_grams"),
            sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_grams"), col("n_dup"),
            coalesce(expr("n_dup * 1000000 div nullif(n_grams, 0)"), lit(0L))
              .as("dup_frac_micros"))
          .withColumn("verdict",
            when(col("dup_frac_micros") > 500000, "flag").otherwise("keep"))
          .orderBy("doc_id")
      }),

    // 41m2. DUPLICATED-GRAM SPAN EXTRACTION — the actionable sequel to
    // 41m's coverage ratio: the token spans themselves. Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better") REMOVE
    // duplicated spans rather than whole documents; this emits, per doc,
    // the merged maximal spans of positions whose 5-gram is corpus-
    // duplicated (gaps-and-islands over gram positions: two hits merge
    // when their 5-token windows touch, i.e. pos gap ≤ 5). Scale shape:
    // posexplode is a linear map; the duplicated-gram probe is the SAME
    // stamp-keyed standing index as 41m (nd ≥ 2 pushed to the parquet
    // scan); the window is per-document over the doc's own hit positions
    // (bounded by doc length, never corpus-wide). Output is all-integer
    // token counts, so it hash-checks cross-engine.
    Q("q_dup_spans", {
      s"""WITH $dupSpansSqlCtes,
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
         |    CAST(max(e - s + 1) AS BIGINT) AS longest_span
         |  FROM spans GROUP BY 1)
         |SELECT doc_id,
         |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CAST(coalesce(longest_span, 0) AS BIGINT) AS longest_span
         |FROM documents LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        val per = dupSpans(s, dir).groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"),
            max(col("e") - col("s") + 1).cast("long").as("longest_span"))
        docs(s, dir).select("doc_id")
          .join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
            coalesce(col("longest_span"), lit(0L)).as("longest_span"))
          .orderBy("doc_id")
      }),

    // 41m3. SPAN SCRUB — the transformation 41m2 reports on: REMOVE each
    // doc's corpus-duplicated spans and emit the cleaned text's identity
    // (token counts before/after + md5 of the reassembled text). This is
    // the actual Lee-et-al.-2022 dedup output: the corpus keeps every
    // document, shorn of its duplicated passages. Cross-engine the
    // surgery is ROW-level (token positions anti-joined against the span
    // ranges, ordered reassembly per doc) — no nested array lambdas, so
    // both engines run the identical relational shape. Scale: covered
    // positions ∝ duplicated text volume; the anti join keys on
    // (doc, pos); reassembly is per-doc bounded (same contract as 34d's
    // chunk rebuild).
    Q("q_span_scrub", {
      s"""WITH $dupSpansSqlCtes,
         |toksp AS (SELECT doc_id, unnest(l) AS w,
         |    generate_subscripts(l, 1) AS pos FROM tok),
         |covered AS (
         |  SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM spans),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.w FROM toksp t LEFT JOIN covered c
         |  ON t.doc_id = c.doc_id AND t.pos = c.pos WHERE c.pos IS NULL),
         |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    md5(string_agg(w, ' ' ORDER BY pos)) AS clean_md5
         |  FROM kept GROUP BY 1),
         |ta AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_toks FROM tok)
         |SELECT doc_id, n_toks,
         |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(clean_md5, md5('')) AS clean_md5
         |FROM ta LEFT JOIN ka USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    })(
      (s, dir) =>
        spanScrubScore(Tables.spread(docs(s, dir)),
            corpusDupGrams(s, dir)) // already nd >= 2, gh-projected
          .orderBy("doc_id")),

    // 41p. DSIR IMPORTANCE WEIGHTS — data-selection scoring per Xie et
    // al. 2023 ("Data Selection for Language Models via Importance
    // Resampling"): score each document by how much its hashed-unigram
    // distribution looks like a TARGET slice (here the src0 source,
    // standing in for a downstream eval/domain sample) versus the raw
    // corpus. Features are md5-hashed token buckets (fixed 4096-wide
    // space — the weight table stays broadcast-size however large the
    // corpus); per-bucket weight = floor-log2 bits of (target count + 1)
    // minus bits of (raw count + 1), Laplace-smoothed so unseen-in-target
    // buckets stay defined. The per-token normalizer bits(tot_raw) −
    // bits(tot_target) is a document-independent constant per token and
    // is omitted — rankings at equal n_toks are unchanged, and n_toks is
    // emitted for any reweighting. Scale shape: the per-bucket counts
    // are a STANDING stamp-keyed family ([[corpusDsirFeatures]] — built
    // once per corpus, append-merged on growth, like the vocabulary);
    // scoring is one linear token map + a broadcast probe of the ≤4096-
    // row weight table + one doc-keyed agg; all-integer bits, so it
    // hash-checks cross-engine. The same frozen table drives the
    // streaming twin (Docs.dsirSink).
    Q("q_dsir_weights", {
      val duckB = (0 until 4).map { d =>
        s"(strpos('0123456789abcdef', substr(md5(term), ${d + 1}, 1)) - 1) * ${math.pow(16, 3 - d).toInt}"
      }.mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS term
         |  FROM documents),
         |tb AS (SELECT doc_id, source, ($duckB) % $DsirBuckets AS b FROM tok),
         |raw AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
         |tgt AS (SELECT b, count(*) AS ct FROM tb
         |  WHERE source = '$DsirTarget' GROUP BY 1),
         |feat AS (
         |  SELECT r.b, CAST(length(bin(coalesce(t.ct, 0) + 1))
         |    - length(bin(r.cr + 1)) AS BIGINT) AS wb
         |  FROM raw r LEFT JOIN tgt t USING (b)),
         |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
         |  FROM tb GROUP BY 1, 2),
         |per AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_toks,
         |    CAST(sum(n * wb) AS BIGINT) AS dsir_bits
         |  FROM db JOIN feat USING (b) GROUP BY 1)
         |SELECT doc_id, source,
         |  CAST(coalesce(n_toks, 0) AS BIGINT) AS n_toks,
         |  CAST(coalesce(dsir_bits, 0) AS BIGINT) AS dsir_bits
         |FROM documents LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    })(
      (s, dir) =>
        dsirScore(docs(s, dir).select("doc_id", "source", "text"),
            corpusDsirFeatures(s, dir))
          .select(col("doc_id"), col("source"), col("n_toks"),
            col("dsir_bits"))
          .orderBy("doc_id")),

    // 41f. benchmark decontamination: flag training documents sharing any
    // word n-gram with a held-out benchmark set (here: the src0 slice —
    // n=3 so the tiny synthetic vocabulary actually produces overlaps; a
    // real pipeline uses 8-13). Scale shape: the benchmark gram set is
    // bounded (eval suites are small), so the join broadcasts at runtime;
    // the candidate side is one linear explode + one count shuffle. Grams
    // are per-doc distinct BEFORE the join, so count(*) = distinct shared.
    Q("q_decontaminate", {
      val grams = wordNgramsSql("l", 3)
      s"""WITH tok AS (
         |  SELECT doc_id, source, string_split($normSql, ' ') AS l FROM documents),
         |g AS (
         |  SELECT doc_id, source, list_distinct($grams) AS gs FROM tok),
         |bench AS (
         |  SELECT DISTINCT unnest(gs) AS gram FROM g WHERE source = 'src0'),
         |cand AS (
         |  SELECT doc_id, unnest(gs) AS gram FROM g WHERE source <> 'src0'),
         |hits AS (
         |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM cand c JOIN bench b USING (gram) GROUP BY 1)
         |SELECT g.doc_id,
         |  CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
         |  CASE WHEN coalesce(h.n_shared, 0) > 0 THEN 'contaminated' ELSE 'clean' END AS verdict
         |FROM g LEFT JOIN hits h USING (doc_id)
         |WHERE g.source <> 'src0'
         |ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        // materialize the gram derivation ONCE — the bench side and the
        // candidate side both read the checkpoint instead of re-running
        // the n-gram build per branch
        val g = Tables.spread(docs(s, dir)).select(
          col("doc_id"), col("source"), gramSet(col("text"), 3).as("gs"))
          .localCheckpoint()
        val bench = g.filter(col("source") === "src0")
          .select(explode(col("gs")).as("gram")).distinct()
        // explode_outer keeps zero-gram candidates, so the doc-keyed
        // aggregate itself covers every candidate doc — the separate
        // documents scan + join-back are gone; grams are per-doc distinct
        // (gramSet), so the conditional count still counts distinct shares
        val hits = g.filter(col("source") =!= "src0")
          .select(col("doc_id"), explode_outer(col("gs")).as("gram"))
          .join(bench.withColumn("b", lit(1)), Seq("gram"), "left")
          .groupBy("doc_id")
          .agg(sum(when(col("b") === 1, 1L).otherwise(0L)).as("n_shared"))
        hits.select(
            col("doc_id"), col("n_shared"),
            when(col("n_shared") > 0, "contaminated")
              .otherwise("clean").as("verdict"))
          .orderBy("doc_id")
      }),

    // 41g. TRANSITIVE (cluster-aware) DECONTAMINATION — the policy real
    // pipelines apply (GPT-3/The Pile): when a document leaks benchmark
    // content, its near-duplicates leak it too, so the whole near-dup
    // cluster is dropped, not just the doc whose grams happened to match.
    // Composes two standing indexes: the benchmark-gram hit set (same
    // derivation as q_decontaminate, bench side broadcastable) and the
    // persisted LSH cluster labels — then two label-sized equi-joins
    // propagate the flag: contaminated docs → their cluster reps → every
    // member of those clusters. Shuffle ∝ labels (cluster members), never
    // the corpus. Byte-identical copies of a contaminated doc carry the
    // same grams and flag directly.
    Q("q_decontaminate_clusters", {
      val grams = wordNgramsSql("l", 5)
      s"""${Dedup.lshLabelsCtes},
         |tok AS (
         |  SELECT doc_id, source, string_split($normSql, ' ') AS l FROM documents),
         |g AS (
         |  SELECT doc_id, source, list_distinct($grams) AS gs FROM tok),
         |bench AS (
         |  SELECT DISTINCT unnest(gs) AS gram FROM g WHERE source = 'src0'),
         |cand AS (
         |  SELECT doc_id, unnest(gs) AS gram FROM g WHERE source <> 'src0'),
         |direct AS (
         |  SELECT DISTINCT c.doc_id FROM cand c JOIN bench b USING (gram)),
         |bad_reps AS (
         |  SELECT DISTINCT l.rep FROM labels l JOIN direct d ON l.doc_id = d.doc_id),
         |cluster_bad AS (
         |  SELECT l.doc_id FROM labels l JOIN bad_reps r ON l.rep = r.rep)
         |SELECT d.doc_id,
         |  CASE WHEN d.doc_id IN (SELECT doc_id FROM direct) THEN 'contaminated'
         |       WHEN d.doc_id IN (SELECT doc_id FROM cluster_bad) THEN 'cluster_contaminated'
         |       ELSE 'clean' END AS verdict
         |FROM documents d WHERE d.source <> 'src0' ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        val g = Tables.spread(docs(s, dir)).select(
          col("doc_id"), col("source"), gramSet(col("text"), 5).as("gs"))
          .localCheckpoint()
        val bench = g.filter(col("source") === "src0")
          .select(explode(col("gs")).as("gram")).distinct()
        val direct = g.filter(col("source") =!= "src0")
          .select(col("doc_id"), explode(col("gs")).as("gram"))
          .join(bench, "gram").select("doc_id").distinct()
        // candidate list stays a fresh documents scan: it prunes to two
        // columns at the parquet reader, whereas projecting doc_id out of
        // the checkpointed gram frame deserializes the full gram arrays
        // (RDD scans cannot column-prune) — measured slower (r12)
        clusterContamination(
          docs(s, dir).filter(col("source") =!= "src0").select("doc_id"),
          direct, Dedup.corpusClusterLabels(s, dir))
          .orderBy("doc_id")
      }),

    // 39d. QUALITY-SIGNAL BLENDING — fold several raw quality signals into
    // one comparable score without learned weights: each signal maps to
    // its equi-width decile (bounds from ONE tiny min/max aggregate,
    // broadcast back), the blend is the integer sum of deciles. A pure
    // map over the corpus after a G-row agg — no global sort, no window,
    // the 100 TB shape a rank/percent_rank blend (single-partition window)
    // cannot deliver. Exact long arithmetic so the engines agree bit-wise.
    Q("q_quality_blend", {
      def bucket(v: String, mn: String, mx: String) =
        s"LEAST(9, (($v - $mn) * 10) // ($mx - $mn + 1))"
      s"""WITH sig AS (
         |  SELECT doc_id, n_chars,
         |    CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split($normSql, ' '),
         |      t -> t IN ('the','a','and','of','to','is','in','that'))) * 1000000
         |      // len(string_split($normSql, ' ')) AS BIGINT) AS stop_micro
         |  FROM documents),
         |b AS (
         |  SELECT min(n_chars) AS mn_c, max(n_chars) AS mx_c,
         |    min(n_words) AS mn_w, max(n_words) AS mx_w,
         |    min(stop_micro) AS mn_s, max(stop_micro) AS mx_s
         |  FROM sig)
         |SELECT doc_id,
         |  CAST(${bucket("n_chars", "mn_c", "mx_c")} AS BIGINT) AS b_chars,
         |  CAST(${bucket("n_words", "mn_w", "mx_w")} AS BIGINT) AS b_words,
         |  CAST(${bucket("stop_micro", "mn_s", "mx_s")} AS BIGINT) AS b_stop,
         |  CAST(${bucket("n_chars", "mn_c", "mx_c")} + ${bucket("n_words", "mn_w", "mx_w")}
         |    + ${bucket("stop_micro", "mn_s", "mx_s")} AS BIGINT) AS blend
         |FROM sig, b ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        val norm = normText(col("text"))
        val toks = split(norm, " ")
        val en = stopwords("en")
        val sig = docs(s, dir).select(
          col("doc_id"), col("n_chars"),
          size(toks).cast("long").as("n_words"),
          (size(filter(toks, t => t.isInCollection(en))).cast("long") * 1000000L)
            .as("stop_hits"))
          .withColumn("stop_micro", expr("stop_hits div n_words"))
          // checkpointed: the global min/max aggregate AND the final bucket
          // projection both consume it — one tokenize+stopword scan, not two
          .localCheckpoint()
        val b = sig.agg(
          min("n_chars").as("mn_c"), max("n_chars").as("mx_c"),
          min("n_words").as("mn_w"), max("n_words").as("mx_w"),
          min("stop_micro").as("mn_s"), max("stop_micro").as("mx_s"))
        def bucket(v: String, mn: String, mx: String) =
          expr(s"LEAST(9L, (($v - $mn) * 10) div ($mx - $mn + 1))")
        sig.crossJoin(broadcast(b))
          .select(col("doc_id"),
            bucket("n_chars", "mn_c", "mx_c").as("b_chars"),
            bucket("n_words", "mn_w", "mx_w").as("b_words"),
            bucket("stop_micro", "mn_s", "mx_s").as("b_stop"))
          .withColumn("blend", expr("b_chars + b_words + b_stop"))
          .orderBy("doc_id")
      }),

    Q("q_pii_scrub",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${Pii.email}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '${Pii.phone}')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(text, '${Pii.ip}')) AS BIGINT) AS n_ip,
         |  md5(${Pii.scrubSql("text")}) AS scrubbed_md5
         |FROM documents ORDER BY doc_id""".stripMargin)(
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        regexp_count(col("text"), lit(Pii.email)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(Pii.phone)).cast("long").as("n_phone"),
        regexp_count(col("text"), lit(Pii.ip)).cast("long").as("n_ip"),
        md5(Pii.scrub(col("text")).cast("binary")).as("scrubbed_md5"))
        .orderBy("doc_id")),

    // 41h. sequence packing: lay documents end-to-end in a deterministic
    // per-shard order and cut the token stream every PackSeqLen tokens —
    // the GPT-style "concat and chunk" batch-assembly step of a training
    // pipeline. Emits, per document, its shard, token count (BPE-ish
    // tokenizer of q_token_count), starting offset in the shard's token
    // stream, and the first/last training sequence it lands in.
    //
    // Scale shape: packing is defined WITHIN a shard (doc_id mod
    // PackShards), never across the corpus — a global token order would
    // need a single-partition window (one reducer sees 100 TB), while
    // per-shard packing is one shuffle by shard and each shard's cumsum
    // runs independently; at cluster scale shards = O(cores), and real
    // pipelines shard exactly this way (per-file / per-worker streams).
    Q("q_seq_pack",
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % $PackShards AS shard,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_toks
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, shard, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
         |  FROM d)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_toks,
         |  CAST(tok_start AS BIGINT) AS tok_start,
         |  CAST(tok_start // $PackSeqLen AS BIGINT) AS pack_first,
         |  CAST(CASE WHEN n_toks = 0 THEN tok_start
         |            ELSE tok_start + n_toks - 1 END // $PackSeqLen AS BIGINT) AS pack_last
         |FROM o ORDER BY doc_id""".stripMargin)(
      (s, dir) => {
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        docs(s, dir).select(
          col("doc_id"),
          pmod(col("doc_id"), lit(PackShards)).cast("long").as("shard"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
            .cast("long").as("n_toks"))
          .withColumn("tok_start", coalesce(sum(col("n_toks")).over(w), lit(0L)))
          .withColumn("pack_first", expr(s"tok_start div $PackSeqLen"))
          .withColumn("pack_last",
            expr(s"(CASE WHEN n_toks = 0 THEN tok_start ELSE tok_start + n_toks - 1 END) div $PackSeqLen"))
          .orderBy("doc_id")
      }),

    // 41h3. EPOCH-SALTED SHUFFLE PLAN — the reproducible data order a
    // multi-epoch training run needs: per epoch, every document lands in
    // an md5("e<epoch>:"+doc_id)-derived shard and position, so epochs
    // see DIFFERENT permutations (repeat exposure decorrelates — the
    // point of reshuffling between epochs) while any worker can
    // recompute its exact slice from (epoch, doc_id) alone: no shuffle
    // service state, no saved permutation files, crash-recoverable
    // mid-epoch. Composes with q_seq_pack (the shard is the packing
    // unit) and q_epoch_plan (which says HOW MANY epochs). Scale: the
    // rank is a pure map; the only shuffle is the per-(epoch, shard)
    // position window — shards are the parallelism unit, never a global
    // order. Hash-exact (md5 rank, row_number on a total order).
    Q("q_epoch_shuffle", {
      val rank = "md5('e' || CAST(e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))"
      val duckB = (0 until 2).map { d =>
        s"(strpos('0123456789abcdef', substr($rank, ${d + 1}, 1)) - 1) * ${math.pow(16, 1 - d).toInt}"
      }.mkString(" + ")
      s"""WITH d AS (
         |  SELECT doc_id, unnest([0, 1]) AS e FROM documents),
         |r AS (
         |  SELECT doc_id, CAST(e AS BIGINT) AS epoch,
         |    CAST(($duckB) % $PackShards AS BIGINT) AS shard, $rank AS rk
         |  FROM d)
         |SELECT doc_id, epoch, shard,
         |  CAST(row_number() OVER (PARTITION BY epoch, shard
         |    ORDER BY rk, doc_id) AS BIGINT) AS pos
         |FROM r ORDER BY doc_id, epoch""".stripMargin
    })(
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"))
          .withColumn("epoch", explode(array(lit(0L), lit(1L))))
          .withColumn("rk", md5(concat(lit("e"), col("epoch").cast("string"),
            lit(":"), col("doc_id").cast("string")).cast("binary")))
          .withColumn("shard", expr(
            s"CAST(conv(substr(rk, 1, 2), 16, 10) AS BIGINT) % $PackShards"))
        val w = Window.partitionBy("epoch", "shard").orderBy("rk", "doc_id")
        d.withColumn("pos", row_number().over(w).cast("long"))
          .select("doc_id", "epoch", "shard", "pos")
          .orderBy("doc_id", "epoch")
      }),

    // 41i. Unigram-LM surprisal scoring — the CCNet-style language-model
    // quality filter: score each document by the mean information content
    // of its tokens under the corpus's OWN unigram model, then bucket into
    // keep / boilerplate (too predictable) / random (too surprising).
    // Surprisal is an EXACT integer floor-log2: bits(w) = len(bin(N)) -
    // len(bin(count_w)) ≈ log2(N/count_w) — both engines compute the same
    // binary-digit lengths, so no float log ever enters the score and the
    // result hash-checks bit-for-bit.
    //
    // Scale shape: the token stream collapses to per-doc term frequencies
    // FIRST (one shuffle by (doc_id, word) with map-side combine), so the
    // vocab join's hottest key ("the") carries one row per DOCUMENT, not
    // per occurrence — the classic explode-join skew is bounded before it
    // exists. The vocab rollup reuses the tf exchange (same child shuffle,
    // picked up by ReuseExchange), the corpus total N is a single-row
    // broadcast, and the per-doc rollup is the last shuffle. At 100 TB the
    // ~1e8-row vocab side stays a shuffle join on word.
    Q("q_lm_surprisal",
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST(string_split($normSql, ' ')) AS word
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tok WHERE word <> '' GROUP BY doc_id, word),
         |vocab AS (SELECT word, CAST(SUM(c) AS BIGINT) AS cw FROM tf GROUP BY word),
         |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_total FROM vocab),
         |sb AS (
         |  SELECT word,
         |    CAST(length(bin((SELECT n_total FROM tot))) - length(bin(cw)) AS BIGINT) AS bits
         |  FROM vocab),
         |doc AS (
         |  SELECT tf.doc_id, CAST(SUM(tf.c) AS BIGINT) AS n_tokens,
         |    CAST(SUM(tf.c * sb.bits) AS BIGINT) AS surp_sum
         |  FROM tf JOIN sb USING (word) GROUP BY tf.doc_id)
         |SELECT doc_id, n_tokens, surp_sum,
         |  CAST(surp_sum * 1000 // n_tokens AS BIGINT) AS mean_surprisal_milli,
         |  CASE WHEN surp_sum * 1000 // n_tokens <= $SurpLoMilli THEN 'boilerplate'
         |       WHEN surp_sum * 1000 // n_tokens >= $SurpHiMilli THEN 'random'
         |       ELSE 'keep' END AS verdict
         |FROM doc ORDER BY doc_id""".stripMargin)(
      (s, dir) => {
        val tf = Tables.spread(docs(s, dir))
          .select(col("doc_id"),
            explode(split(normText(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        // LM weights come from the standing vocabulary table — the model
        // derivation never re-tokenizes the corpus
        val vocab = corpusUnigramCounts(s, dir).filter(col("term") =!= "")
          .select(col("term").as("word"), col("cw"))
        val tot = vocab.agg(sum(col("cw")).as("n_total"))
        val sb = vocab.crossJoin(broadcast(tot))
          .select(col("word"),
            (length(bin(col("n_total"))) - length(bin(col("cw"))))
              .cast("long").as("bits"))
        tf.join(sb, "word")
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).cast("long").as("n_tokens"),
            sum(col("c") * col("bits")).cast("long").as("surp_sum"))
          .withColumn("mean_surprisal_milli",
            expr("CAST(surp_sum * 1000 div n_tokens AS BIGINT)"))
          .withColumn("verdict",
            when(col("mean_surprisal_milli") <= SurpLoMilli, "boilerplate")
              .when(col("mean_surprisal_milli") >= SurpHiMilli, "random")
              .otherwise("keep"))
          .orderBy("doc_id")
      }),

    // 41i2. BIGRAM-LM surprisal — the conditional-model upgrade of 41i
    // (production perplexity filters are n-gram LMs, not unigram bags):
    // per-position surprisal -log2 P(w2|w1) in floor-bits via the same
    // integer log2 (length(bin(c(w1))) - length(bin(c(w1 w2)))), exact
    // cross-engine. Scale shape: ONE explode emits (w1, bigram) structs
    // per position (no second tokenize pass), the model tables are two
    // term-keyed aggregates over per-doc counts (map-side combined), and
    // scoring is two equi-joins + a doc rollup — shuffle ∝ distinct
    // (doc, bigram), never positions. Low mean bits ⇒ the document is
    // predictable given local context (template/boilerplate) even when
    // its unigram mix looks diverse — catches what 41i cannot.
    Q("q_bigram_surprisal",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bg
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |btf AS (
         |  SELECT doc_id, w1, bg, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pos GROUP BY 1, 2, 3),
         |cb AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS cb FROM btf GROUP BY bg),
         |cu AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cu FROM btf GROUP BY w1),
         |sc AS (
         |  SELECT btf.doc_id, CAST(SUM(btf.c) AS BIGINT) AS nb,
         |    CAST(SUM(btf.c * (length(bin(cu.cu)) - length(bin(cb.cb)))) AS BIGINT) AS ss
         |  FROM btf JOIN cb USING (bg) JOIN cu USING (w1) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(sc.ss, 0) AS BIGINT) AS surp_sum,
         |  CAST(coalesce(sc.ss * 1000 // nullif(sc.nb, 0), 0) AS BIGINT) AS mean_surprisal_milli
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin)(
      (s, dir) =>
        // model = the standing corpus bigram table (append-mergeable
        // counts); scoring the corpus against its own model is exactly
        // the oracle's full-corpus derivation — and the same scorer runs
        // the streaming twin against the same frozen table. The agg half
        // already carries one row per doc, so no attach join is needed.
        bigramSurprisalAgg(Tables.spread(docs(s, dir)),
          corpusBigramModel(s, dir))
          .select("doc_id", "n_bigrams", "surp_sum", "mean_surprisal_milli")
          .orderBy("doc_id")),

    // 41n. SOURCE-MIX DIVERGENCE — per-source total-variation distance
    // between the source's unigram distribution and the whole corpus's,
    // in exact integer micros: the mixture-planning diagnostic ("which
    // sources pull the token distribution furthest from the blend"). TV
    // = ½·Σ|p_s − p_c| decomposes as in-source terms + the corpus mass
    // of words ABSENT from the source, computed as a complement
    // (PCtot − Σ_in pc) — so the join touches only (source, word) pairs
    // that EXIST, never the |vocab|×|sources| cross. All truncating
    // integer division on positive counts ⇒ hash-exact cross-engine.
    Q("q_source_divergence",
      s"""WITH tok AS (
         |  SELECT source, UNNEST(string_split($normSql, ' ')) AS word
         |  FROM documents),
         |tf AS (
         |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tok WHERE word <> '' GROUP BY 1, 2),
         |stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM tf GROUP BY source),
         |cw AS (SELECT word, CAST(SUM(c) AS BIGINT) AS cw FROM tf GROUP BY word),
         |ct AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM cw),
         |pc AS (SELECT word, CAST(cw * 1000000 // (SELECT n FROM ct) AS BIGINT) AS pc FROM cw),
         |pctot AS (SELECT CAST(SUM(pc) AS BIGINT) AS pct FROM pc),
         |j AS (
         |  SELECT tf.source,
         |    CAST(SUM(abs(tf.c * 1000000 // st.ns - p.pc)) AS BIGINT) AS d_in,
         |    CAST(SUM(p.pc) AS BIGINT) AS pc_in
         |  FROM tf JOIN stot st USING (source) JOIN pc p USING (word)
         |  GROUP BY tf.source)
         |SELECT j.source, st.ns AS n_tokens,
         |  CAST((d_in + (SELECT pct FROM pctot) - pc_in) // 2 AS BIGINT) AS tv_micros
         |FROM j JOIN stot st USING (source)
         |ORDER BY source""".stripMargin)(
      (s, dir) => {
        // NOTE (r11): tried persist() here — the (source, word) table feeds
        // four consumers — but the cached plan cost MORE than the repeated
        // explode+count (columnar cache build + lost AQE broadcast choices
        // on the cached side); measured 1.4s → 2.0s, reverted
        val tf = Tables.spread(docs(s, dir))
          .select(col("source"),
            explode(split(normText(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
        val stot = tf.groupBy("source").agg(sum(col("c")).as("ns"))
        val cw = tf.groupBy("word").agg(sum(col("c")).as("cw"))
        val ct = cw.agg(sum(col("cw")).as("n"))
        val pc = cw.crossJoin(broadcast(ct))
          .select(col("word"), expr("cw * 1000000 div n").as("pc"))
        val pctot = pc.agg(sum(col("pc")).as("pct"))
        val j = tf.join(broadcast(stot), "source").join(pc, "word")
          .groupBy("source")
          .agg(sum(abs(expr("c * 1000000 div ns") - col("pc")))
              .cast("long").as("d_in"),
            sum(col("pc")).cast("long").as("pc_in"))
        j.join(broadcast(stot), "source").crossJoin(broadcast(pctot))
          .select(col("source"), col("ns").cast("long").as("n_tokens"),
            expr("CAST((d_in + pct - pc_in) div 2 AS BIGINT)").as("tv_micros"))
          .orderBy("source")
      }),

    // 41h2. PACKING-EFFICIENCY stats — the context-length sizing table a
    // team reads BEFORE committing to a sequence length: for each
    // candidate L, how many training sequences the corpus packs into,
    // how many documents straddle a sequence boundary (loss-masking /
    // attention-reset complexity), and the padding waste of each shard's
    // final partial sequence, in exact integer micros. One per-shard
    // cumsum window (L-independent — computed ONCE), a 4-way explode per
    // doc row, and a two-level (L, shard) → L rollup; no extra corpus
    // scans per candidate length.
    Q("q_pack_stats", {
      val lens = PackLens.mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % $PackShards AS shard,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_toks
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, shard, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
         |  FROM d),
         |x AS (SELECT o.*, CAST(L AS BIGINT) AS L FROM o, UNNEST([$lens]) AS u(L)),
         |sh AS (
         |  SELECT L, shard, CAST(SUM(n_toks) AS BIGINT) AS tot,
         |    CAST(SUM(CASE WHEN n_toks > 0
         |      AND tok_start // L <> (tok_start + n_toks - 1) // L
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_split
         |  FROM x GROUP BY 1, 2),
         |r AS (
         |  SELECT L, CAST(SUM((tot + L - 1) // L) AS BIGINT) AS n_sequences,
         |    CAST(SUM(n_split) AS BIGINT) AS n_split_docs,
         |    CAST(SUM(((tot + L - 1) // L) * L - tot) AS BIGINT) AS n_pad_tokens
         |  FROM sh GROUP BY L)
         |SELECT L AS seq_len, n_sequences, n_split_docs, n_pad_tokens,
         |  CAST(coalesce(n_pad_tokens * 1000000 // nullif(n_sequences * L, 0), 0) AS BIGINT) AS waste_micros
         |FROM r ORDER BY seq_len""".stripMargin
    })(
      (s, dir) => {
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val o = docs(s, dir).select(
          col("doc_id"),
          pmod(col("doc_id"), lit(PackShards)).cast("long").as("shard"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
            .cast("long").as("n_toks"))
          .withColumn("tok_start", coalesce(sum(col("n_toks")).over(w), lit(0L)))
        val x = o.withColumn("L",
          explode(array(PackLens.map(l => lit(l.toLong)): _*)))
        val sh = x.groupBy(col("L"), col("shard"))
          .agg(sum(col("n_toks")).as("tot"),
            sum(when(col("n_toks") > 0 &&
                expr("tok_start div L") =!= expr("(tok_start + n_toks - 1) div L"),
              1L).otherwise(0L)).as("n_split"))
        sh.groupBy(col("L"))
          .agg(sum(expr("(tot + L - 1) div L")).cast("long").as("n_sequences"),
            sum(col("n_split")).cast("long").as("n_split_docs"),
            sum(expr("((tot + L - 1) div L) * L - tot")).cast("long")
              .as("n_pad_tokens"))
          .select(col("L").as("seq_len"), col("n_sequences"),
            col("n_split_docs"), col("n_pad_tokens"),
            coalesce(expr("n_pad_tokens * 1000000 div nullif(n_sequences * L, 0)"),
              lit(0L)).as("waste_micros"))
          .orderBy("seq_len")
      }),

    // §2d.41l — RAG chunking: each document splits into overlapping
    // token windows (size 32, stride 24 — 8 tokens of overlap so no
    // boundary-straddling sentence is lost to retrieval). Pure map +
    // bounded explode: a doc with n tokens emits ceil(max(n-32,0)/24)+1
    // chunk rows and NOTHING shuffles — the chunk table partitions
    // exactly like the corpus scan, so at 100 TB this is a linear
    // streaming pass feeding the embedding stage. Chunk identity =
    // md5 of the joined window (the downstream embed/dedup key).
    Q("q_doc_chunks",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
         |meta AS (
         |  SELECT doc_id, t, len(t) AS n,
         |    CASE WHEN len(t) <= $ChunkSize THEN 0
         |         ELSE (len(t) - $ChunkSize + $ChunkStride - 1) // $ChunkStride
         |    END AS k
         |  FROM toks)
         |SELECT doc_id,
         |  CAST(i AS BIGINT) AS chunk_id,
         |  CAST(i * $ChunkStride AS BIGINT) AS start_tok,
         |  CAST(LEAST($ChunkSize, n - i * $ChunkStride) AS BIGINT) AS n_toks,
         |  md5(array_to_string(t[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkSize], ' ')) AS chunk_md5
         |FROM meta, UNNEST(range(0, k + 1)) AS u(i)
         |ORDER BY doc_id, chunk_id""".stripMargin)(
      (s, dir) => docChunks(docs(s, dir)).orderBy("doc_id", "chunk_id"))
  )
}
