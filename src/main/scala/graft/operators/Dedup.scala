package graft.operators

import graft.{Q, Tables}
import graft.index.StandingIndex
import graft.index.StandingIndex.cachedCorpusTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2d items 31-34 — deduplication operators over `documents`.
  *
  * Scale design: every pipeline is explode → hash → groupBy/self-join on a
  * *bucket key*, so pair generation only ever happens within buckets (LSH
  * bands / simhash buckets / shared n-grams), never corpus × corpus. md5 is
  * the shared deterministic hash primitive (identical hex in Spark+DuckDB);
  * min() over hex strings is the minhash order (binary collation in both).
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  import TextAnalysis.{normSql, normText}

  private val NumSeeds = 8 // minhash signature length; bands of 2 → 4 bands
  val Bands: Int = NumSeeds / 2

  /** Per-band-bucket membership cap: a mass-duplicate cluster (ubiquitous in
    * web crawls) collapses into ONE band bucket, and uncapped pair output is
    * quadratic in cluster size. Two bounds compose: the exact-dedup pre-pass
    * in [[minhashPairs]] removes byte-identical clusters entirely, and the
    * bucket cap bounds what survives (near- but not byte-identical floods)
    * to ≤ Bands·C(cap,2) pairs — deterministic (doc_id-ordered), so the
    * DuckDB oracle mirrors it exactly.
    */
  val BucketCap = 32

  /** Winnowing parameters (q_dedup_winnow): k-word grams, windows of w
    * gram hashes — detection floor = any shared run of w+k-1 = 8 words.
    */
  val WinnowK = 4
  val WinnowW = 5

  /** Document-frequency cap for n-gram Jaccard candidate generation: a gram
    * shared by more than this many documents is dropped from the gram SETS
    * (both engines), because a hot gram ("the cold") makes every pair of its
    * documents a candidate — near-quadratic output on one skewed shuffle
    * key. Rare grams are what identify near-duplicates; the resulting
    * measure is Jaccard over rare-gram sets, and per-gram pair output is
    * bounded by C(cap,2).
    */
  val DfCap = 50

  /** Normalized-text prefix length for exact edit-distance verification —
    * bounds the per-pair Levenshtein DP to EditCap² cells regardless of
    * document length.
    */
  val EditCap = 500

  /** Word width of the non-overlapping chunks in chunk-level boilerplate
    * removal (q_chunk_dedup) — the stand-in for "line" granularity in a
    * corpus without line structure.
    */
  val ChunkWidth = 8

  /** md5 string for Spark Column input. */
  private def md5s(c: Column): Column = md5(c.cast("binary"))

  /** DuckDB CTE chain ending in `sigs_$sfx`: minhash signatures of the
    * documents matching `where` — the SQL mirror of [[minhashSignatures]]
    * applied to a corpus slice (the exact-dedup reps pre-pass is
    * per-slice, exactly like the Spark side's per-input call).
    */
  /** The 8-seed minhash SELECT list over `shingle` rows — THE signature
    * geometry, shared by every SQL mirror below so seed count and slice
    * layout can never drift between oracles.
    */
  private def minhsSelect: String = (0 until NumSeeds).map { i =>
    val src = if (i < 4) "md5(shingle)" else "md5('x:' || shingle)"
    s"min(substr($src, ${8 * (i % 4) + 1}, 8)) AS h$i"
  }.mkString(",\n  ")

  private def sigSqlFor(sfx: String, where: String): String = {
    val minhs = minhsSelect
    s"""reps_$sfx AS (
       |  SELECT min(doc_id) AS doc_id, s
       |  FROM (SELECT doc_id, $normSql AS s FROM documents WHERE $where) GROUP BY s),
       |toks_$sfx AS (SELECT doc_id, string_split(s, ' ') AS t FROM reps_$sfx),
       |sh_$sfx AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM toks_$sfx, UNNEST(range(1, len(t) - 1)) AS u(i)),
       |sigs_$sfx AS (SELECT doc_id, $minhs FROM sh_$sfx GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB WITH-RECURSIVE CTE chain ending in `labels(doc_id, rep)`: the
    * full LSH near-dup clustering mirror — exact-dedup reps → shingles →
    * minhash signatures → capped band buckets → candidate pairs →
    * undirected edges → transitive closure → min-label per component.
    * Shared by q_dedup_clusters / q_pipeline_select / q_dedup_keep_best so
    * the three oracles can never drift apart.
    */
  private[operators] def lshLabelsCtes: String = {
    // the reps→…→bands prefix IS corpusBandsCtes (one definition — the
    // clustering oracles and the minhash oracles share the exact
    // signature/band/cap geometry by construction, not by parallel edits)
    s"""WITH RECURSIVE $corpusBandsCtes,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS rep FROM reach GROUP BY src)""".stripMargin
  }

  /** Selection-stage flag frame (doc_id, source, toks, f1 language, f2
    * quality floor, f3 exact-copy keeper, f4 near-dup cluster keeper) —
    * ONE definition shared by q_pipeline_select, q_dedup_funnel,
    * q_select_explain and q_select_ablation, so the capstone, its
    * per-source rollup, the per-doc explain and the ablation can never
    * drift apart. SQL mirror: [[selectionFlagsCtes]].
    */
  private[operators] def selectionFlags(s: SparkSession, dir: String): DataFrame = {
    val exactKeep = corpusKeepers(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") === col("keeper"), 1L).otherwise(0L).as("ek"))
    val ccDrop = corpusClusterLabels(s, dir)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id"), lit(0L).as("ckdrop"))
    docs(s, dir).select(col("doc_id"), col("source"),
        size(split(normText(col("text")), " ")).cast("long").as("toks"),
        when(col("lang") === "en", 1L).otherwise(0L).as("f1"),
        when(length(col("text")) >= 100 &&
          size(split(normText(col("text")), " ")) >= 20, 1L)
          .otherwise(0L).as("f2"))
      .join(exactKeep, Seq("doc_id"), "left")
      .join(ccDrop, Seq("doc_id"), "left")
      .withColumn("f3", coalesce(col("ek"), lit(1L)))
      .withColumn("f4", coalesce(col("ckdrop"), lit(1L)))
      .drop("ek", "ckdrop")
  }

  /** DuckDB mirror of [[selectionFlags]]: embeds [[lshLabelsCtes]] and
    * ends with CTE `f` carrying the same seven columns.
    */
  private[operators] def selectionFlagsCtes: String =
    s"""$lshLabelsCtes,
       |exact_drops AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY s) AS keeper
       |    FROM (SELECT doc_id, $normSql AS s FROM documents))
       |  WHERE doc_id <> keeper),
       |cc_drops AS (SELECT doc_id FROM labels WHERE doc_id <> rep),
       |f AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split($normSql, ' ')) AS BIGINT) AS toks,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f1,
       |    CASE WHEN length(text) >= 100
       |      AND len(string_split($normSql, ' ')) >= 20 THEN 1 ELSE 0 END AS f2,
       |    CASE WHEN doc_id IN (SELECT doc_id FROM exact_drops) THEN 0 ELSE 1 END AS f3,
       |    CASE WHEN doc_id IN (SELECT doc_id FROM cc_drops) THEN 0 ELSE 1 END AS f4
       |  FROM documents)""".stripMargin

  /** Whole-corpus DuckDB CTE chain `reps → toks → sh → sigs → bands0 →
    * bands` (capped) — ONE definition shared by every minhash oracle
    * (q_dedup_minhash, q_jaccard_minhash_est, q_dedup_edit,
    * q_source_overlap), so shingling/seed/band/cap geometry can never
    * drift between them (the guarantee lshLabelsCtes already gives the
    * clustering oracles). Embed as `WITH $corpusBandsCtes, ...`.
    */
  private[operators] def corpusBandsCtes: String = {
    val minhs = minhsSelect
    val bands = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b} || h${2 * b + 1}) AS bkey FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""reps AS (
       |  SELECT min(doc_id) AS doc_id, s
       |  FROM (SELECT doc_id, $normSql AS s FROM documents) GROUP BY s),
       |toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM reps),
       |sh AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
       |sigs AS (SELECT doc_id, $minhs FROM sh GROUP BY doc_id),
       |bands0 AS ($bands),
       |bands AS (
       |  SELECT doc_id, band, bkey FROM bands0
       |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= $BucketCap)""".stripMargin
  }

  /** DuckDB CTE chain `cand, ng0, rareg, ng, sizes, inter, truth` over
    * [[corpusBandsCtes]]' outputs — the LSH candidate set plus the
    * rare-gram-Jaccard-verified truth pairs (jac ≥ 0.25, df ≤ DfCap):
    * ONE definition shared by the full and the sampled recall audits,
    * so the truth the estimate is judged against can never drift from
    * the truth the full audit measures.
    */
  private def recallTruthCtes: String =
    s"""cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |ng0 AS (
       |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS gram
       |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
       |rareg AS (SELECT gram FROM ng0 GROUP BY gram HAVING COUNT(*) <= $DfCap),
       |ng AS (SELECT ng0.* FROM ng0 JOIN rareg USING (gram)),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ng GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM ng a JOIN ng b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE n_inter * 1000000 // (sa.sz + sb.sz - n_inter) >= 250000)""".stripMargin

  /** DuckDB CTE `bands0_$sfx`: uncapped band keys of `sigs_$sfx`. */
  private def bandsSqlFor(sfx: String): String = {
    val bands = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b} || h${2 * b + 1}) AS bkey FROM sigs_$sfx")
      .mkString("\n  UNION ALL ")
    s"bands0_$sfx AS ($bands)"
  }

  /** Chunk-level boilerplate removal over (doc_id, text) — see
    * q_chunk_dedup's pack entry for semantics and scale shape. Returns one
    * row per doc: chunk counts plus the md5 of the reassembled text with
    * every corpus-duplicated chunk removed.
    */
  /** @param dupChunks optional standing duplicated-chunk set — one `ck`
    *        column, MUST be distinct on ck (corpusDupChunks is, by its
    *        groupBy; a duplicated probe row would fan out the join and
    *        corrupt every per-doc count and the cleaned_md5)
    */
  def chunkDedup(docs0: DataFrame,
                 dupChunks: Option[DataFrame] = None): DataFrame = {
    // chunks come straight off the per-doc token array (one slice per
    // chunk id, lambda-local so the split runs once) — no word-level
    // shuffle and no collect_list re-assembly of an order the array
    // already had. The only shuffles left are the chunk-df aggregate
    // (fixed-width md5 key, skipped entirely when the standing
    // duplicated-chunk set is supplied) and the per-doc rollup.
    val ch = docs0
      .select(col("doc_id"), split(normText(col("text")), " ").as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, CAST((size(t) - 1) div $ChunkWidth AS INT)), i -> array_join(slice(t, i * $ChunkWidth + 1, $ChunkWidth), ' '))"))
        .as(Seq("cid", "chunk")))
      .withColumn("cid", col("cid").cast("long"))
      .withColumn("ck", md5s(col("chunk")))
    // df >= 2 membership set: the persisted corpus index when given
    // (build-once/probe-many — the chunk table then derives ONCE), else
    // derived in-query from the chunk table itself
    val dup = dupChunks.getOrElse(
      ch.groupBy(col("ck")).agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= 2).select("ck"))
    // left-join miss ⇒ d NULL: isNotNull, not ===1 (a null predicate in
    // when() silently counts as false on BOTH branches)
    val isDup = col("d").isNotNull
    ch.join(dup.withColumn("d", lit(1)), Seq("ck"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(!isDup, 1L).otherwise(0L)).as("n_kept"),
        sum(when(isDup, 1L).otherwise(0L)).as("n_dropped"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(!isDup, struct(col("cid"), col("chunk"))))),
            x => x.getField("chunk")), " ").cast("binary")).as("cleaned_md5"))
  }

  /** Standing exact-dedup keeper map (doc_id, keeper): each document's
    * minimum-doc_id byte-identical (normalized) representative. Three
    * registered queries (source overlap, pipeline select, corpus report)
    * used to re-shuffle the FULL normalized text through a
    * window-partition-by-norm every run just to derive these two longs
    * per doc; the map is corpus-deterministic, tiny, and exactly what an
    * ingestion pipeline maintains next to its signature index.
    */
  def corpusKeepers(s: SparkSession, dir: String): DataFrame = {
    // partition by the md5 of the normalized text, never the text: the
    // window's exchange then moves a 32-byte key per row instead of the
    // whole document (the repo's fixed-width shuffle-key convention)
    def keyed(d: DataFrame) =
      d.select(col("doc_id"), md5s(normText(col("text"))).as("h"))
    def keepers(hd: DataFrame) = hd.withColumn("keeper",
      min(col("doc_id")).over(Window.partitionBy(col("h"))))
    // the stored table KEEPS h: append-refresh re-windows the union of
    // stored (doc_id, h) pairs + the new files' pairs — old documents'
    // text is never re-read or re-hashed, the merge shuffles two longs +
    // a 32-byte key per row (a new byte-copy of an old doc can lower a
    // group's keeper, so the min must re-run; it is a pure key shuffle)
    cachedCorpusTable(s, dir, "keepers", "norm|h",
      incr = (old, newDocs) =>
        keepers(old.select("doc_id", "h").unionByName(keyed(newDocs))))(
      keepers(keyed(docs(s, dir))))
      .select("doc_id", "keeper")
  }

  /** Standing index of df-capped 8-gram postings (gram-hash, doc_id) —
    * the substring-overlap query's probe table. Shuffles a 16-hex md5
    * prefix, never the ~60-char gram itself: the gram-keyed exchanges
    * move 4× less key data, and because BOTH engines key on the same
    * truncated digest, outputs stay identical even in the (vanishing)
    * event of a 64-bit collision. The distinct stays per-doc
    * (array_distinct before the explode, narrow) rather than a
    * corpus-wide shuffle; the df cap kills hot-gram quadratics at build
    * time, so the persisted table is the already-bounded join input.
    */
  def corpusSubstrPostings(s: SparkSession, dir: String): DataFrame =
    cachedPostingsIndex(s, dir, SubstrPostingsFamily, s"8|$DfCap|df")

  /** A DF-CAPPED standing postings family — the shared algebra behind the
    * substring-overlap and rare-gram-Jaccard probe tables, and the
    * streaming maintainer's unit of work
    * ([[graft.streaming.Docs.maintainPostingsIndex]]). `post` derives the
    * family's per-doc-DISTINCT (doc_id, gram) rows from any (doc_id,
    * text, …) frame, so a gram's row count IS its document frequency.
    *
    * Stored-part schema is uniform — (doc_id nullable, gram, df) — under
    * ONE accounting invariant: a gram's TRUE df over any set of parts =
    * count of its live (non-null doc_id) rows + sum of its tombstone
    * (null doc_id) rows' df values. Everything follows from it:
    *  - a batch part may EAGERLY drop postings of any gram it can PROVE
    *    saturated (known total + batch count > cap), collapsing them to
    *    one tombstone carrying the batch count — a storage/shuffle
    *    optimization that can never change the read result, because
    *  - the read view ([[live]]) recomputes every gram's true df from
    *    the invariant and keeps only df ≤ cap postings — byte-equivalent
    *    to a cold tombstoned rebuild whatever drops individual parts
    *    took, which is what keeps the streaming maintainer free of
    *    MinHash's write-time occupancy admission: admission is deferred
    *    to read time, so batches stay order-independent and
    *    replay-deterministic.
    */
  final case class PostingsFamily(name: String, cap: Int,
                                  post: DataFrame => DataFrame) {
    /** One stored part from a batch's raw rows. `known` — optional
      * (gram, known) df totals already on disk (base + published parts)
      * — only widens the eager drop; pass None for a cold build.
      */
    def part(rawRows: DataFrame, known: Option[DataFrame]): DataFrame = {
      val cnt = rawRows.groupBy("gram").agg(count(lit(1)).as("cnt"))
      val tot = known match {
        case Some(t) => cnt.join(t, Seq("gram"), "left")
          .select(col("gram"), col("cnt"),
            (col("cnt") + coalesce(col("known"), lit(0L))).as("tot"))
        case None => cnt.select(col("gram"), col("cnt"),
          col("cnt").as("tot"))
      }
      val sat = tot.filter(col("tot") > cap)
      rawRows.join(sat.select("gram"), Seq("gram"), "left_anti")
        .select(col("doc_id"), col("gram"), lit(1L).as("df"))
        .unionByName(sat.select(lit(null).cast("long").as("doc_id"),
          col("gram"), col("cnt").as("df")))
    }

    /** `d`'s postings as an uncapped stored part (every df 1). */
    def uncapped(d: DataFrame): DataFrame = post(d).withColumn("df", lit(1L))

    /** Per-gram TRUE df over a union of stored parts (the invariant). */
    def totals(parts: DataFrame): DataFrame =
      parts.groupBy("gram").agg(
        sum(when(col("doc_id").isNull, col("df")).otherwise(lit(1L)))
          .as("known"))

    /** The reader's live (doc_id, gram) postings over a union of stored
      * parts: every posting of every gram whose true df ≤ cap.
      */
    def live(parts: DataFrame): DataFrame =
      parts.filter(col("doc_id").isNotNull)
        .join(totals(parts).filter(col("known") <= cap).select("gram"),
          Seq("gram"), "left_semi")
        .select("doc_id", "gram")

    /** Fold parts into the compact stored form (the cachedPostingsIndex
      * layout): live grams keep their full postings with the gram df
      * attached; saturated grams collapse to one tombstone carrying the
      * full df. Compaction and seeding both land here.
      */
    def compactForm(parts: DataFrame): DataFrame = {
      val t = totals(parts)
      parts.filter(col("doc_id").isNotNull)
        .join(t.filter(col("known") <= cap), Seq("gram"))
        .select(col("doc_id"), col("gram"), col("known").as("df"))
        .unionByName(t.filter(col("known") > cap)
          .select(lit(null).cast("long").as("doc_id"), col("gram"),
            col("known").as("df")))
    }
  }

  /** Df-capped 8-gram md5-prefix postings (§2d.34c's probe table). */
  val SubstrPostingsFamily: PostingsFamily = PostingsFamily(
    "substr8", DfCap, d =>
      d.select(col("doc_id"),
        explode(array_distinct(transform(
          graft.operators.TextAnalysis.gramSet(col("text"), 8),
          g => substring(md5(g.cast("binary")), 1, 16)))).as("gram")))

  /** Df-capped rare word-2-gram postings over the 'en' slice (§2d.34's
    * probe table) — raw grams, matching the oracle's keys.
    */
  val RareGramPostingsFamily: PostingsFamily = PostingsFamily(
    "engram2", DfCap, d =>
      d.filter(col("lang") === "en")
        .select(col("doc_id"), split(normText(col("text")), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1])) ELSE array() END"))
          .as("gram"))
        .distinct())

  /** Read a STREAMING-MAINTAINED postings-family root: the optional
    * compact base at `root/postings` merged with every maintained batch
    * part under `root/postings_m/batch=<lineage>_<batchId>` through the
    * family's df invariant — the reader sees exactly the live postings a
    * cold tombstoned rebuild of (base corpus + streamed docs) would
    * produce. None when neither side exists. Same fence economics as
    * [[graft.operators.TextAnalysis.countsTable]]: each published part is
    * complete by atomic publish, so the merge needs no fence.
    */
  def postingsTable(s: SparkSession, root: String,
                    fam: PostingsFamily): Option[DataFrame] =
    StandingIndex.maintainedRows(s, root, "postings", PostingsCols)
      .map(fam.live)

  /** Stored-part columns of every postings family. */
  private val PostingsCols = Seq("doc_id", "gram", "df")

  /** Seed a maintainable postings root from the corpus-so-far: the cold
    * tombstoned build written to `root/postings` (the batch half of
    * build-once/maintain-forever, like TextAnalysis.seedCountsIndex).
    */
  def seedPostingsIndex(s: SparkSession, dir: String, fam: PostingsFamily,
                        root: String): Unit =
    graft.sources.Export.flush(
      fam.compactForm(fam.uncapped(Tables.spread(docs(s, dir)))),
      s"$root/postings")

  /** Compact a maintained postings root into a FRESH root: base + parts
    * fold to the compact stored form (saturated grams' accumulated
    * postings finally leave disk — the storage half of the tombstone
    * economy the eager per-batch drops only approximate), and every
    * published part's `_ids` fold into one zero-row batch part so the
    * fence survives re-fed old docs. Immutable-dir rule throughout
    * (crash-safe: an incomplete newRoot is simply unused); run with the
    * old root's maintainer stopped.
    */
  def compactPostingsIndex(s: SparkSession, root: String, newRoot: String,
                           fam: PostingsFamily): Unit = {
    // the read view's own parts: a maintained dir holding only a crashed
    // maintainer's dot-named temp reads as absent instead of failing
    // schema inference and aborting the whole compaction
    val parts = StandingIndex.maintainedRows(s, root, "postings", PostingsCols)
      .getOrElse(throw new IllegalStateException(
        s"no postings to compact at $root"))
    graft.sources.Export.flush(fam.compactForm(parts), s"$newRoot/postings")
    StandingIndex.carryFence(s, root, newRoot, "postings", parts)
  }

  /** Standing df-capped postings table over (doc_id, gram) rows from
    * `post`. Stored layout: (doc_id, gram, df) postings for live
    * (df ≤ cap) grams, plus ONE null-doc_id "tombstone" row per saturated
    * gram carrying its df. Tombstones are what make append-refresh exact:
    * a saturated gram's postings are gone, but its df keeps counting, so
    * new occurrences of it are dropped (not resurrected at df = small),
    * and a live gram that an append pushes over the cap collapses to a
    * tombstone — byte-equivalent to a cold rebuild of the grown corpus.
    * Tombstone count ∝ distinct saturated grams, a sliver of the
    * postings they replace. Readers get the live (doc_id, gram) rows.
    */
  private def cachedPostingsIndex(s: SparkSession, dir: String,
                                  fam: PostingsFamily, params: String): DataFrame = {
    // the compact form of (stored parts ∪ new postings) IS the grown
    // corpus's compact form: the df invariant counts the old tombstones
    cachedCorpusTable(s, dir, fam.name, params,
      incr = (old, newDocs) =>
        fam.compactForm(old.unionByName(fam.uncapped(newDocs))))(
      fam.compactForm(fam.uncapped(Tables.spread(docs(s, dir)))))
      .filter(col("doc_id").isNotNull).select("doc_id", "gram")
  }

  /** Standing rare word-2-gram postings over the 'en' slice — the probe
    * table q_ngram_jaccard pairs from. This was the one gram family NOT
    * in the standing-index ladder: every run re-exploded, re-counted and
    * re-pruned the full 2-gram stream before the pair join, the dominant
    * cost of the query (and identical, corpus-deterministic work). The
    * stored rows keep the RAW gram, matching the oracle's raw-gram keys
    * exactly; shuffle width is a short 2-gram (~15 chars), on par with
    * the 16-hex digests the other families key on.
    */
  def corpusRareGramPostings(s: SparkSession, dir: String): DataFrame =
    cachedPostingsIndex(s, dir, RareGramPostingsFamily, s"2|en|$DfCap")

  /** Scored containment pair frame shared by q_ngram_containment and
    * q_containment_hubs: the SAME df-capped standing-postings pair join
    * as the Jaccard family, with per-SIDE denominators (inter/|A|,
    * inter/|B|) instead of the union, kept when either side reaches the
    * 0.25 floor. Truncating integer division on positive counts.
    */
  private[operators] def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val ng = corpusRareGramPostings(s, dir)
    val sizes = ng.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = ng.alias("a"); val b = ng.alias("b")
    val inter = a.join(b,
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .withColumn("cont_a_micro", expr("(n_inter * 1000000L) div sz_a"))
      .withColumn("cont_b_micro", expr("(n_inter * 1000000L) div sz_b"))
      .filter(greatest(col("cont_a_micro"), col("cont_b_micro")) >= 250000L)
  }

  /** Standing index of corpus-duplicated chunk hashes (ck present in ≥2
    * distinct documents) — the probe set q_chunk_dedup's registered query
    * uses so the per-query work is one chunk derivation + one equi-join,
    * never a second corpus-wide chunk-df aggregate. Stamp-keyed like
    * every cached corpus table.
    */
  /** (ck, df) — distinct-doc counts per content chunk hash: the FIFTH
    * additive standing count family (§2d.34d's probe set), maintainable
    * by the same streaming machinery as the TextAnalysis four
    * (Docs.maintainCountsIndex).
    */
  val ChunkDfFamily: TextAnalysis.CountFamily = TextAnalysis.CountFamily(
    "chunkdf", Seq("ck"), Seq("df"), d => d
      .select(col("doc_id"), split(normText(col("text")), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST((size(t) - 1) div $ChunkWidth AS INT)), i -> array_join(slice(t, i * $ChunkWidth + 1, $ChunkWidth), ' '))"))
        .as("chunk"))
      .groupBy(md5s(col("chunk")).as("ck"))
      .agg(countDistinct("doc_id").as("df")))

  def corpusDupChunks(s: SparkSession, dir: String): DataFrame = {
    // the stored table keeps (ck, df) for EVERY chunk hash, not just the
    // duplicated ones: per-file doc-distinct counts add across disjoint
    // appends (doc_ids are corpus-unique), so append-refresh is one
    // counts-merge over the chunk vocabulary — a chunk first seen in an
    // old file and repeated only in a new one still crosses df ≥ 2. The
    // ≥ 2 filter moves to read time (parquet-pushed on nd).
    val fam = ChunkDfFamily
    cachedCorpusTable(s, dir, fam.name, s"$ChunkWidth|all",
      incr = (old, newDocs) => fam.merge(old.unionByName(fam.counts(newDocs))))(
      fam.counts(docs(s, dir)))
      .filter(col("df") >= 2).select("ck")
  }

  /** MinHash signatures over (doc_id, text): exact-dedup pre-pass, word
    * 3-shingles, NumSeeds min-slice columns h0..h7. The building block of
    * [[minhashPairs]] and the estimated-Jaccard query.
    */
  def minhashSignatures(docs0: DataFrame): DataFrame =
    minhashSigsWithH(docs0).drop("h")

  /** [[minhashSignatures]] plus each rep's normalized-text md5 (`h`) —
    * the merge key the standing sigs index stores so an append-refresh
    * can collapse a later byte-copy onto the standing representative
    * without re-reading any old text (the corpus-wide face of the
    * exact-dedup pre-pass below).
    */
  private[operators] def minhashSigsWithH(docs0: DataFrame): DataFrame = {
    // exact-dedup pre-pass: identical normalized texts collapse to their
    // min-doc_id representative BEFORE shingling, so a 10^6-copy cluster
    // contributes one signature, not 10^12 candidate pairs
    val reps = docs0.select(col("doc_id"), normText(col("text")).as("s"))
      .groupBy(col("s")).agg(min(col("doc_id")).as("doc_id"))
    val toks = reps.select(col("doc_id"), md5s(col("s")).as("h"),
      split(col("s"), " ").as("t"))
    val sh = toks
      // guard: Spark sequence(0,-1) is DESCENDING (not empty like DuckDB
      // range), and concat_ws skips nulls — short docs need an explicit []
      .select(col("doc_id"), col("h"), explode(expr(
        "CASE WHEN size(t) >= 3 THEN transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) ELSE array() END"))
        .as("shingle"))
    val minAggs = (0 until NumSeeds).map { i =>
      val src = if (i < 4) md5s(col("shingle"))
                else md5s(concat(lit("x:"), col("shingle")))
      min(substring(src, 8 * (i % 4) + 1, 8)).as(s"h$i")
    }
    sh.groupBy("doc_id", "h").agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id") +: col("h") +:
        (0 until NumSeeds).map(i => col(s"h$i")): _*)
  }

  /** MinHash+LSH candidate pairs over (doc_id, text) with exact-dedup
    * pre-pass and deterministic per-bucket cap — the full §2d.32 pipeline,
    * reusable outside the registered query (and unit-tested on a
    * mass-duplicate corpus in DedupSpec).
    */
  def minhashPairs(docs0: DataFrame, bucketCap: Int = BucketCap): DataFrame =
    bandPairs(minhashSignatures(docs0), bucketCap)

  /** Full-corpus signature table, persisted build-once/probe-many — the
    * standing index an ingestion pipeline maintains (the same design the
    * IVF search and incremental-dedup queries already use). Every §2d
    * query that starts from the corpus signatures (q_dedup_minhash,
    * q_dedup_clusters, q_jaccard_minhash_est, q_source_overlap,
    * q_pipeline_select) probes this table: the shingle explode + 8-way min
    * aggregate is the dominant cost of each of them and is IDENTICAL work —
    * a real deployment computes it once at ingestion, not five times per
    * analysis session. The cache key covers the corpus path, every data
    * file's (name, length, mtime), and the signature params, so a
    * regenerated corpus — even one with the same row count — never reads a
    * stale index. The signatures are deterministic, so probing the
    * persisted table is bit-identical to deriving them inline (the DuckDB
    * oracles still derive from scratch and keep hash-matching).
    */
  def corpusSigs(s: SparkSession, dir: String): DataFrame =
    // the stored table keeps the rep's norm-hash `h`: append-refresh signs
    // ONLY the new files' documents, then keeps the min-doc_id row per `h`
    // — a later byte-copy of an indexed text collapses onto the standing
    // rep exactly as the cold build's corpus-wide pre-pass would (equal
    // texts have equal signatures, so which row survives only fixes the
    // doc_id). Old text is never re-read; the merge shuffles sig rows.
    cachedCorpusTable(s, dir, "sigs", s"$NumSeeds|$BucketCap|h",
      incr = (old, newDocs) => {
        val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
        old.unionByName(minhashSigsWithH(newDocs))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      })(
      minhashSigsWithH(Tables.spread(Tables.load(s, dir, "documents"))))
      .drop("h")

  /** Persisted near-dup cluster labels (doc_id, rep) for the whole corpus —
    * the next derivation up the same standing-index ladder as
    * [[corpusSigs]]: band pairs + connected components are identical,
    * deterministic work for every query that consumes clusters
    * (q_dedup_clusters, q_dedup_keep_best, q_pipeline_select), and an
    * ingestion pipeline maintains the labels incrementally rather than
    * re-running the iterative CC per analysis. Stamp-keyed like every
    * cached corpus table, so a regenerated corpus rebuilds.
    *
    * INCREMENTAL refresh on ascending append (doc_ids of new files all
    * above the standing corpus — the ingestion shape, checked with two
    * tiny aggregates, cold fallback otherwise): the per-bucket cap is
    * doc_id-ordered, so an ascending append never evicts an old bucket
    * member and the grown pair set is EXACTLY oldPairs ∪ (pairs touching
    * a new doc). Star-contraction therefore re-runs seeded with the
    * PREDECESSOR's labels (each old component contributes its star — one
    * edge per member, connectivity-equivalent to all its old pairs) plus
    * only the new-doc pairs: a new doc bridging two standing clusters
    * MERGES them to the global min rep, proven refresh ≡ cold in
    * IncrementalIndexSpec. Old pairs are never re-derived and old text is
    * never re-read (the sig index refreshes from its own predecessor);
    * the one linear-in-corpus step left is the capped band-key window
    * over the sig INDEX — 8 fixed-width rows per doc, no text, no joins.
    */
  def corpusClusterLabels(s: SparkSession, dir: String): DataFrame =
    cachedCorpusTable(s, dir, "cclabels", s"$NumSeeds|$BucketCap|cc",
      incr = (oldLabels, newDocs) => {
        val sigs = corpusSigs(s, dir)
        val newIds = newDocs.select("doc_id").distinct()
        val minNew = sigs.join(newIds, Seq("doc_id"), "left_semi")
          .agg(min(col("doc_id"))).first()
        val maxOld = sigs.join(newIds, Seq("doc_id"), "left_anti")
          .agg(max(col("doc_id"))).first()
        val ascending = minNew.isNullAt(0) || maxOld.isNullAt(0) ||
          minNew.getLong(0) > maxOld.getLong(0)
        if (!ascending)
          // a non-ascending append can evict standing bucket members
          // (the cap is doc_id-ordered), removing old pairs — labels are
          // not incrementally maintainable there; rebuild from the
          // (already-refreshed) sig index
          connectedComponents(bandPairs(sigs))
        else {
          val capped = cappedBandKeys(sigs)
          val newKeys = capped.join(newIds, Seq("doc_id"), "left_semi")
          val newPairs = newKeys.alias("a").join(capped.alias("b"),
              col("a.band") === col("b.band") &&
                col("a.bkey") === col("b.bkey") &&
                col("a.doc_id") =!= col("b.doc_id"))
            .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
            .distinct()
          val seed = oldLabels.select(col("doc_id").as("doc_a"),
            col("rep").as("doc_b"))
          connectedComponents(seed.unionByName(newPairs))
        }
      })(
      connectedComponents(bandPairs(corpusSigs(s, dir))))

  /** Persisted rare-gram-Jaccard-verified near-dup TRUTH pairs over the
    * exact-dedup reps (jac ≥ 0.25, the LSH candidate threshold) — the
    * ground-truth side of the recall audit (q_lsh_recall). Exactly the
    * kind of deterministic corpus derivation the standing-index ladder
    * already amortizes: the audit re-runs after every config change, but
    * the truth set only changes when the corpus does, so it is stamp-keyed
    * like every cached corpus table and the audit is ~free on re-runs.
    */
  def corpusTruthPairs(s: SparkSession, dir: String): DataFrame =
    cachedCorpusTable(s, dir, "truth", s"$DfCap|250000|jac") {
      rareGramJaccard(truthReps(s, dir), minJacMicro = 250000L)
        .select("doc_a", "doc_b")
    }

  /** The exact-dedup reps domain both audit sides share. */
  private def truthReps(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(normText(col("text")).as("s"), col("doc_id"))
      .groupBy("s").agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("s").as("text"))

  /** Deterministic doc_id stratum threshold of the SAMPLED recall audit
    * (md5-threshold convention shared with q_sample_hash): 16384/65536 =
    * a ¼ sample. Declared before `pack` (oracle-interpolation init-order
    * rule).
    */
  val TruthSampleThr = 16384

  /** SAMPLED truth pairs: exactly the [[corpusTruthPairs]] rows whose
    * MIN endpoint (doc_a) falls in the deterministic md5 stratum — the
    * quadratic verification join runs with only the stratum's postings
    * on the low side ([[jaccardFromPostingsBetween]]), so each audit run
    * costs ≈ the sample rate × the full audit while every emitted pair
    * is verbatim a full-audit row (df economy and sizes stay
    * corpus-wide). Pairs are sampled BY min-endpoint, so the recall/
    * precision ratios estimated from the stratum are unbiased for the
    * full audit's (each pair has exactly one min endpoint; inclusion is
    * an independent deterministic coin at the sample rate).
    *
    * Like the full family, this table REBUILDS on corpus append — the
    * df-cap non-monotonicity argument (SURVEY §4) applies verbatim to
    * any stratum — but sampling bounds what a rebuild costs, which is
    * the 100 TB answer for an audit run per-append: re-verify ¼ (or any
    * configured rate) of the pair space instead of all of it.
    */
  def sampledTruthPairs(s: SparkSession, dir: String,
                        thr: Int = TruthSampleThr): DataFrame =
    cachedCorpusTable(s, dir, "truthsmp", s"$DfCap|250000|jac|$thr") {
      val reps = truthReps(s, dir)
      val d = reps.select(col("doc_id"),
        split(normText(col("text")), " ").as("t"))
      val ng0 = d.select(col("doc_id"), explode(expr(
        "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1])) ELSE array() END"))
        .as("gram")).distinct()
      val rare = ng0.groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= DfCap).select("gram")
      val ng = ng0.join(rare, Seq("gram"), "left_semi")
      val ngA = ng.filter(docStratum(col("doc_id")) < thr)
      jaccardFromPostingsBetween(ngA, ng, minJacMicro = 250000L)
        .select("doc_a", "doc_b")
    }

  /** The md5-threshold stratum value of a doc_id — Spark side of the
    * q_sample_hash convention (big-endian first-4-hex of
    * md5(doc_id-as-string) in [0, 65536)).
    */
  private[graft] def docStratum(docId: Column): Column =
    conv(substring(md5(docId.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("int")

  /** DuckDB mirror of [[docStratum]] over column `c`. */
  private[operators] def docStratumSql(c: String): String =
    (0 until 4).map { d =>
      s"(strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), ${d + 1}, 1)) - 1) * ${math.pow(16, 3 - d).toInt}"
    }.mkString(" + ")

  /** (doc_id, sig) — per-doc 64-bit SimHash signatures as a ROW family
    * (empty sumCols: merge = doc-distinct union), so the same streaming
    * maintainer that keeps the count families current covers SimHash
    * (Docs.maintainCountsIndex + TextAnalysis.countsTable).
    */
  val SimhashFamily: TextAnalysis.CountFamily = TextAnalysis.CountFamily(
    "simhash", Seq("doc_id", "sig"), Seq.empty,
    d => simhashSigs(d).withColumnRenamed("simhash", "sig"))

  /** The SimHash twin of [[corpusSigs]]: the persisted 64-bit signature
    * table both simhash queries probe (column renamed to `sig`, the index
    * side's name).
    */
  def corpusSimhashSigs(s: SparkSession, dir: String): DataFrame =
    // per-doc rows: append-refresh unions the new files' signatures
    SimhashFamily.standing(s, dir, s"$SimhashBits")

  /** (doc_id, band, bkey) band keys of a signature table (h0..h7) — the
    * LSH bucket membership rows, uncapped.
    */
  def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(array(
      (0 until Bands).map(b => struct(lit(b).as("band"),
        md5s(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("bkey"))): _*))
      .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  /** Band keys with the deterministic per-bucket membership cap applied:
    * one shuffle by (band,bkey), ≤ cap doc_ids (lowest first) per bucket.
    */
  def cappedBandKeys(sigs: DataFrame, bucketCap: Int = BucketCap): DataFrame = {
    val bw = Window.partitionBy(col("band"), col("bkey")).orderBy(col("doc_id"))
    bandKeys(sigs).withColumn("rn", row_number().over(bw))
      .filter(col("rn") <= bucketCap).drop("rn")
  }

  /** Band-bucket candidate pairs from a signature table (h0..h7). */
  def bandPairs(sigs: DataFrame, bucketCap: Int = BucketCap): DataFrame = {
    val capped = cappedBandKeys(sigs, bucketCap)
    val a = capped.alias("a")
    val bb = capped.alias("b")
    a.join(bb,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Incremental-dedup split (q_dedup_incremental): the "new batch" is
    * doc_id % IncrMod == 0 (a fifth of the corpus); everything else is the
    * already-ingested corpus whose signature index is persisted on disk.
    * A new doc is a near-dup of the corpus when ≥ 2 of its 8 signature
    * slices match an LSH candidate's (estimated Jaccard ≥ 0.25).
    */
  val IncrMod = 5
  val IncrEstMicro: Long = 2L * (1000000 / NumSeeds)

  /** MinHash index BUILD — run once per ingested corpus, never per batch:
    * signatures + capped band keys of every already-ingested document
    * (doc_id % mod != 0), written as two parquet tables via the Export
    * sink. At 100 TB this is the standing dedup index an ingestion
    * pipeline maintains; each incoming batch computes signatures for ITS
    * OWN documents only and equi-joins the index (q_dedup_incremental) —
    * cost per batch ∝ batch size, not corpus size. Skips the build when
    * the index already exists (parquet _SUCCESS marker).
    */
  def buildMinhashIndex(s: SparkSession, dir: String,
                        mod: Int = IncrMod): String =
    // cachedCorpusTable's monitor: minhash and cached-table builds
    // exclude each other within one JVM
    StandingIndex.synchronized {
    def coldBuild(tmp: String): Unit = {
      val old = Tables.spread(Tables.load(s, dir, "documents"))
        .filter(pmod(col("doc_id"), lit(mod)) =!= 0)
      // the sig computation feeds both writes; localCheckpoint
      // materializes the shingle explode + 8-way min aggregate once
      val sigs = minhashSignatures(old).localCheckpoint()
      graft.sources.Export.flush(sigs, s"$tmp/sigs")
      // normalized-content keepers: the sidecar streaming maintenance
      // needs to drop cross-batch byte-copies exactly like this
      // build's corpus-wide exact-dedup pre-pass (bands written
      // LAST — its _SUCCESS is the index-complete marker)
      graft.sources.Export.flush(
        old.select(md5s(TextAnalysis.normText(col("text"))).as("h"),
            col("doc_id"))
          .groupBy("h").agg(min(col("doc_id")).as("doc_id")),
        s"$tmp/reps")
      graft.sources.Export.flush(cappedBandKeys(sigs), s"$tmp/bands")
    }
    // append-refresh: like cachedCorpusTable, an earlier build of a
    // smaller version of this corpus (pure file appends since) seeds the
    // new index — only the NEW files' documents are normalized, designed
    // and banded; carried-over rows are read from the predecessor's
    // parquet, never re-derived from text. Byte-copies of already-indexed
    // content drop against the predecessor's reps sidecar, and new band
    // keys admit under the existing buckets' occupancy — [[minhashGrowth]],
    // the rule the STREAMING maintainer applies per micro-batch
    // (Docs.maintainMinhashIndex), so for the doc_id-ascending appends an
    // ingestion pipeline produces, refresh ≡ cold rebuild exactly
    // (IncrementalIndexSpec pins it). All three subtables and the stamp
    // publish together: a second driver racing this build loses the move
    // and probes the winner's (same-keyed) index.
    StandingIndex.stampedBuild(s, dir, "minhash", "documents",
        s"$mod|$NumSeeds|$BucketCap", marker = "bands/_SUCCESS")(
      cold = coldBuild, grow = Some { (tmp, predRoot, newPaths) =>
        val newDocs = Tables.spread(s.read.parquet(newPaths: _*))
          .filter(pmod(col("doc_id"), lit(mod)) =!= 0)
        // the per-bucket cap is doc_id-ordered, so only an ASCENDING
        // append (every new id above the standing corpus — the
        // ingestion shape) preserves refresh ≡ cold: a backfill with
        // lower ids would need to EVICT standing bucket members and
        // replace reps, which an additive refresh cannot express —
        // rebuild cold instead (the corpusClusterLabels rule, two tiny
        // aggregates to decide)
        val minNew = newDocs.agg(min(col("doc_id"))).first()
        val maxOld = s.read.parquet(s"$predRoot/sigs")
          .agg(max(col("doc_id"))).first()
        val ascending = minNew.isNullAt(0) || maxOld.isNullAt(0) ||
          minNew.getLong(0) > maxOld.getLong(0)
        if (!ascending) coldBuild(tmp)
        else minhashGrowth(newDocs, Some(s.read.parquet(s"$predRoot/reps")),
            Some(s.read.parquet(s"$predRoot/bands")), BucketCap)
          .foreach { case (name, rows) =>
            graft.sources.Export.flush(
              s.read.parquet(s"$predRoot/$name").unionByName(rows),
              s"$tmp/$name")
          }
      })
  }

  /** The rows a batch of `docs` adds to a MinHash index whose standing
    * `reps`/`bands` are given — THE growth rule that the append-refresh
    * (unioned onto its predecessor) and the streaming maintainer
    * (Docs.maintainMinhashIndex, published as a part) both apply, as
    * named subtables: docs whose normalized text is already repped drop;
    * the rest are signed (`sigs`) and repped (`reps`); their band keys
    * admit per bucket in doc_id order while standing occupancy + rank ≤
    * `cap` (`bands`). For doc_id-ascending growth that reproduces the cold
    * build's lowest-doc_id cap exactly.
    */
  private[graft] def minhashGrowth(docs: DataFrame, reps: Option[DataFrame],
                                   bands: Option[DataFrame],
                                   cap: Int): Seq[(String, DataFrame)] = {
    val withH = docs.withColumn("__h", md5s(TextAnalysis.normText(col("text"))))
    val fresh = reps.map(r => withH.join(r.select(col("h").as("__h")),
      Seq("__h"), "left_anti")).getOrElse(withH)
    val sigs = minhashSignatures(fresh.drop("__h")).localCheckpoint()
    val keys = bandKeys(sigs)
    val occupied = bands.map(b => keys.join(
        b.groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n0")),
        Seq("band", "bkey"), "left")
      .withColumn("n0", coalesce(col("n0"), lit(0L))))
      .getOrElse(keys.withColumn("n0", lit(0L)))
    val w = Window.partitionBy(col("band"), col("bkey")).orderBy(col("doc_id"))
    Seq("sigs" -> sigs,
      "reps" -> fresh.select(col("__h").as("h"), col("doc_id"))
        .groupBy("h").agg(min(col("doc_id")).as("doc_id")),
      "bands" -> occupied.withColumn("rn", row_number().over(w))
        .filter(col("n0") + col("rn") <= cap)
        .select("doc_id", "band", "bkey"))
  }

  /** Read a MinHash-index subtable (`sigs`, `bands` or `reps`) INCLUDING
    * streaming-maintained rows: the seeded base `root/<sub>` (the static
    * build; [[StandingIndex.existingSeededDir]], the marker rule of every
    * family) plus the `<sub>` subtable of every published
    * `root/minhash_m/batch=<lineage>_<batchId>` part
    * (Docs.maintainMinhashIndex). Parts publish atomically, so no read
    * needs a fence. None when neither side exists.
    */
  def minhashIndexTable(s: SparkSession, root: String,
                        sub: String): Option[DataFrame] = {
    requireAtomicMinhashLayout(s, root)
    val conf = Tables.hadoopConf(s)
    val mRoot = new org.apache.hadoop.fs.Path(s"$root/minhash_m")
    val parts = StandingIndex.publishedBatches(mRoot.getFileSystem(conf), mRoot)
      .map(b => s"$b/$sub")
    (StandingIndex.existingSeededDir(conf, s"$root/$sub").map(s.read.parquet(_)) ++
      Option.when(parts.nonEmpty)(s.read.parquet(parts: _*)))
      .reduceOption(_.unionByName(_))
  }

  /** Refuses a root the pre-atomic MinHash maintainer wrote (its separate
    * per-subtable partition dirs): those rows follow a protocol this
    * reader no longer applies, and ignoring them would silently serve a
    * stale index.
    */
  private[graft] def requireAtomicMinhashLayout(s: SparkSession,
                                                root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(Tables.hadoopConf(s))
    val legacy = if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(Set("sigs_m", "bands_m", "reps_m", "sigs_retired_m"))
    if (legacy.nonEmpty)
      throw new IllegalStateException(
        s"MinHash index root $root holds ${legacy.sorted.mkString(", ")} " +
          "from the retired per-subtable maintainer layout; re-seed the " +
          "index (buildMinhashIndex) into a fresh root and re-run its " +
          "stream from a fresh checkpoint")
  }

  val SimhashBits = 64

  /** Bit value `1 << b` of the signature as a Long — bit 63 is the Long
    * sign bit (Long.MinValue).
    */
  private def simhashBit(b: Int): Long =
    if (b == 63) Long.MinValue else 1L << b

  /** The same bit value as SQL text both engines parse: the bit-63 literal
    * cannot be written directly (`-9223372036854775808` parses as unary
    * minus of an out-of-range positive), so it is spelled `min+1 - 1`.
    */
  private def simhashBitSql(b: Int): String =
    if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString

  /** 64-bit SimHash signatures over (doc_id, text): each distinct token
    * votes ±1 per bit of the first 64 bits of md5(token); the sign vector
    * assembles the signature. Shared by the bucket-dedup and multi-probe
    * queries.
    *
    * 64 bits is the scale-bearing width: a 2^64 signature space makes a
    * random collision between unrelated documents vanishingly rare even at
    * corpus scale (the 16-bit variant this replaced saturated its 65k
    * buckets — at sf0.01 it already reported 76 collision buckets where
    * the 64-bit signature reports exactly the 21 identical-token-set
    * groups and nothing else). The token hash is parsed as two 32-bit
    * words up front (conv on 8-hex slices), so the 64 vote aggregates are
    * pure integer shift/mask — tiny codegen, no per-bit string parsing.
    */
  def simhashSigs(docs0: DataFrame): DataFrame = {
    val tok = docs0
      .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("token"))
      .distinct()
    val dig = md5s(col("token"))
    val hashed = tok.select(col("doc_id"),
      conv(substring(dig, 1, 8), 16, 10).cast("long").as("w0"),
      conv(substring(dig, 9, 8), 16, 10).cast("long").as("w1"))
    val voteAggs = (0 until SimhashBits).map { b =>
      val w = if (b < 32) "w0" else "w1"
      sum(expr(s"2 * CAST(shiftright($w, ${b % 32}) & 1 AS INT) - 1")).as(s"s$b")
    }
    val votes = hashed.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    // bit 63 lands on the sign bit, so the 64-term sum stays in Long range
    // as long as it is added last (all positive bits first: ≤ 2^63-1)
    val simhash = (0 until SimhashBits)
      .map(b => when(col(s"s$b") > 0, lit(simhashBit(b))).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), simhash.cast("long").as("simhash"))
  }

  /** DuckDB mirror of [[simhashSigs]] as a WITH-clause body ending in
    * `sigs(doc_id, sig)` — shared by both simhash oracle queries so the
    * two can never drift.
    */
  private def simhashSigsSql: String = {
    val sums = (0 until SimhashBits).map { b =>
      val w = if (b < 32) "w0" else "w1"
      s"SUM(2 * ((($w >> ${b % 32})) & 1) - 1) AS s$b"
    }.mkString(",\n  ")
    val assemble = (0 until SimhashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN ${simhashBitSql(b)} ELSE 0 END")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT DISTINCT doc_id, t AS token
       |  FROM (SELECT doc_id, UNNEST(string_split($normSql, ' ')) AS t FROM documents)),
       |hashed AS (SELECT doc_id,
       |  CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS w0,
       |  CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) AS w1 FROM tok),
       |votes AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($assemble AS BIGINT) AS sig FROM votes)""".stripMargin
  }

  /** Connected components over candidate pairs → cluster representative
    * (min doc_id) per involved document. This is the step that turns
    * near-dup PAIRS into a dedup VERDICT: keep each cluster's
    * representative, drop the rest.
    *
    * Alternating large-star / small-star contraction (the MapReduce CC
    * algorithm of Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round rewires edges toward per-neighborhood
    * minima, contracting components in O(log n) rounds instead of the
    * O(diameter) that plain min-label propagation pays — a 64-doc chained
    * near-dup corpus converges in ~5 rounds here vs 64 there (DedupSpec
    * pins this). Per round: two groupBy-min passes + joins, a
    * localCheckpoint to stop lineage growth, and count-only fixpoint
    * probes back to the driver — never the data. At convergence the edge
    * set is a star per component pointing at its min node.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // canonical undirected edge set, stored as (u > v)
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    // convergence probe: (row count, xor of 64-bit edge hashes) — two
    // driver scalars off a partial-agg scan, vs the two extra shuffles an
    // except()-based set diff pays per round. xor is order-independent and
    // overflow-free (ANSI-safe), and the edge set is distinct so nothing
    // self-cancels. Equal fingerprints on different edge sets would need an
    // xxhash64 xor collision (~2⁻⁶⁴); the oracle's transitive-closure CTE
    // would catch that universe.
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var fp = fingerprint(edges)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // large-star: for every node's full neighborhood, link each LARGER
      // neighbor to the neighborhood min (including the node itself)
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // no distinct here: duplicate (u,m) rows don't move ssMin's min and
      // the ss-level distinct collapses them — one less shuffle per round
      val ls = sym.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: for every node's SMALLER neighbors, link them (and the
      // node) to the min of that set
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ssMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      val ssFp = fingerprint(ss)
      converged = ssFp == fp
      fp = ssFp
      edges = ss
      iters += 1
    }
    require(converged, s"connected components did not converge in $maxIters rounds")
    // converged edges are (node, component-min) stars; add the reps' own rows
    edges.select(col("u").as("doc_id"), col("v").as("rep"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("rep")))
      .distinct()
  }

  /** Rare-gram Jaccard similarity over (doc_id, text) — §2d.34 with the
    * df-cap bound (see [[DfCap]]); reusable and unit-tested on a synthetic
    * hot-gram corpus in DedupSpec.
    */
  def rareGramJaccard(docs0: DataFrame, dfCap: Int = DfCap,
                      minJacMicro: Long = 100000L): DataFrame = {
    val d = docs0.select(col("doc_id"), split(normText(col("text")), " ").as("t"))
    val ng0 = d.select(col("doc_id"), explode(expr(
      "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1])) ELSE array() END"))
      .as("gram")).distinct()
    // df-prune: keep only grams shared by ≤ dfCap docs. The rare set is
    // computed by one linear aggregate (same shuffle shape TF-IDF pays) and
    // applied as a semi-join; AQE broadcasts it when small, and at scale it
    // stays a well-partitioned hash semi-join — never a hot-key self-join.
    val rare = ng0.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("gram")
    val ng = ng0.join(rare, Seq("gram"), "left_semi")
    jaccardFromPostings(ng, minJacMicro)
  }

  /** The pair-scoring back half of [[rareGramJaccard]], starting from an
    * ALREADY df-capped postings table (doc_id, gram) — the shape the
    * standing [[corpusRareGramPostings]] index feeds directly, skipping
    * the per-run gram explode + df prune entirely.
    */
  def jaccardFromPostings(ng: DataFrame,
                          minJacMicro: Long = 100000L): DataFrame =
    jaccardFromPostingsBetween(ng, ng, minJacMicro)

  /** [[jaccardFromPostings]] with the LOW-side postings restricted to a
    * subset `ngA` ⊆ `ng`: emits exactly the pairs whose MIN endpoint
    * (doc_a) is an `ngA` doc — sizes and the df economy stay corpus-wide,
    * so the emitted pairs are verbatim rows of the full audit, and the
    * quadratic verification work shrinks by the subset rate. The engine
    * of the SAMPLED recall audit.
    */
  def jaccardFromPostingsBetween(ngA: DataFrame, ng: DataFrame,
                                 minJacMicro: Long = 100000L): DataFrame = {
    val sizes = ng.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = ngA.alias("a"); val b = ng.alias("b")
    val inter = a.join(b, col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
      .withColumn("n_union", col("sza") + col("szb") - col("n_inter"))
      .withColumn("jac_micro", expr("(n_inter * 1000000L) div n_union"))
      .filter(col("jac_micro") >= minJacMicro)
      .select("doc_a", "doc_b", "n_inter", "n_union", "jac_micro")
  }

  val pack: Seq[Q] = Seq(

    // 31. exact dedup: hash-groupBy of normalized text, min-PK winner.
    // One shuffle on the 32-hex digest; fully map-side parallel before it.
    Q("q_dedup_exact",
      s"""SELECT md5($normSql) AS norm_hash,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(MIN(doc_id) AS BIGINT) AS keeper
         |FROM documents GROUP BY 1 HAVING COUNT(*) > 1
         |ORDER BY norm_hash""".stripMargin)(
      (s, dir) => docs(s, dir)
        .groupBy(md5s(normText(col("text"))).as("norm_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
        .filter(col("n_docs") > 1)
        .orderBy("norm_hash")),

    // 32. MinHash + LSH near-dup: word 3-shingles → per-seed minhash → band
    // keys → candidate pairs within a band bucket. Three deliberate cost
    // moves, each preserving MinHash semantics and mirrored in the oracle:
    //  - TWO md5s per shingle (plain + prefixed), each split into four
    //    8-hex substrings — md5 bits are independent, so the 8 slices act as
    //    8 independent 32-bit hash permutations at 1/4 the hashing cost of
    //    md5(seed:shingle) per seed (an md5 is 32 hex chars: one digest only
    //    carries four 8-hex slices);
    //  - no DISTINCT before the signature aggregate: min over a multiset
    //    equals min over its set, so the extra shuffle bought nothing and
    //    the groupBy's map-side partial mins do all reduction locally;
    //  - bands come from exploding a 4-element array, not a 4-way union that
    //    would re-evaluate the whole signature subtree per branch.
    Q("q_dedup_minhash",
      s"""WITH $corpusBandsCtes
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin)(
      (s, dir) => bandPairs(corpusSigs(s, dir)).orderBy("doc_a", "doc_b")),

    // 33. SimHash (64-bit): distinct tokens vote ±1 per bit of md5(token);
    // docs sharing a simhash bucket are near-dup candidates. At 64 bits an
    // equal-signature collision means an (essentially) identical token
    // set — random collisions don't happen even at corpus scale — so
    // "same bucket ⇒ near-dup" is a real verdict, not 16-bit noise.
    Q("q_dedup_simhash",
      s"""WITH $simhashSigsSql
         |SELECT sig AS simhash, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS keeper
         |FROM sigs GROUP BY sig HAVING COUNT(*) > 1
         |ORDER BY simhash""".stripMargin)(
      (s, dir) => corpusSimhashSigs(s, dir)
        .groupBy(col("sig").as("simhash"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
        .filter(col("n_docs") > 1)
        .orderBy("simhash")),

    // 33b. multi-probe SimHash: near-dups at hamming distance ≤ 1, found by
    // probing each signature AND its 64 one-bit flips against the signature
    // index — 65 equi-join lookups per doc instead of any pairwise scan.
    // In the 64-bit space a probe hit is (near-)certainly a true hamming≤1
    // neighbor, so join fan-out is proportional to REAL near-dup density,
    // not n²/|space| (the 16-bit variant this replaced produced 727k
    // random-collision pairs at sf0.1). Output stays the per-document
    // neighbor SUMMARY (count + min neighbor) — emitting raw pairs would
    // be exactly the quadratic output shape the rest of §2d avoids.
    Q("q_dedup_simhash_multiprobe", {
      val probes = ("sig" +: (0 until SimhashBits)
        .map(b => s"xor(sig, ${simhashBitSql(b)})")).mkString(", ")
      s"""WITH $simhashSigsSql,
         |pr AS (SELECT doc_id, UNNEST([$probes]) AS probe FROM sigs),
         |nbrs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS nbr
         |  FROM pr a JOIN sigs b ON a.probe = b.sig AND a.doc_id <> b.doc_id)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near,
         |  CAST(MIN(nbr) AS BIGINT) AS nearest
         |FROM nbrs GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        // the persisted signature table is BOTH the probe source and the
        // index side of the join — two parquet probes, no recompute
        val sigs = corpusSimhashSigs(s, dir)
        val probeCols = col("sig") +:
          (0 until SimhashBits).map(b => col("sig").bitwiseXOR(lit(simhashBit(b))))
        val pr = sigs.select(col("doc_id"), explode(array(probeCols: _*)).as("probe"))
        pr.alias("a")
          .join(sigs.alias("b"),
            col("a.probe") === col("b.sig") && col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("nbr"))
          .distinct()
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_near"), min(col("nbr")).as("nearest"))
          .orderBy("doc_id")
      }),

    // 34. rare-gram Jaccard similarity: word-2-gram sets pruned of hot grams
    // (df > DfCap), pair intersection / union via self-join on the surviving
    // RARE grams — pairs exist only where rare-gram overlap exists, and each
    // gram contributes ≤ C(DfCap,2) pairs (no hot-key blowup). The 'en'
    // slice at sf0.1 drops from 1.75M candidate pairs to 180 — all of them
    // true near-dups ≥ 0.1 Jaccard. The df-capped postings are a standing
    // index (corpusRareGramPostings) like every other gram family: the
    // per-run work is the pair join + size rollup only.
    Q("q_ngram_jaccard", {
      s"""WITH d AS (SELECT doc_id, $normSql AS s FROM documents WHERE lang = 'en'),
         |toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM d),
         |ng0 AS (
         |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS gram
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |rare AS (SELECT gram FROM ng0 GROUP BY gram HAVING COUNT(*) <= $DfCap),
         |ng AS (SELECT ng0.* FROM ng0 JOIN rare USING (gram)),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ng GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM ng a JOIN ng b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_inter,
         |  sa.sz + sb.sz - n_inter AS n_union,
         |  CAST(n_inter * 1000000 // (sa.sz + sb.sz - n_inter) AS BIGINT) AS jac_micro
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE n_inter * 1000000 // (sa.sz + sb.sz - n_inter) >= 100000
         |ORDER BY doc_a, doc_b""".stripMargin
    })(
      (s, dir) => jaccardFromPostings(corpusRareGramPostings(s, dir))
        .orderBy("doc_a", "doc_b")),

    // 34g. ASYMMETRIC CONTAINMENT — the subset-duplication lens symmetric
    // Jaccard is blind to: a short doc fully quoted inside a much longer
    // one scores inter/|A∪B| ≈ |A|/|B| (tiny) but inter/|A| ≈ 1. Real
    // pipelines need this to catch quote-farms, wrapper boilerplate and
    // excerpt mirrors, where the smaller side should drop and the larger
    // side keep. Same standing rare-gram postings and pair join as 34
    // (df-cap bounds pair fan-out identically); only the denominators
    // differ — per-side set sizes instead of the union — plus the
    // contained-doc verdict (larger containment side, doc_a on ties).
    // All truncating integer division on positive counts ⇒ hash-exact.
    Q("q_ngram_containment", {
      s"""WITH d AS (SELECT doc_id, $normSql AS s FROM documents WHERE lang = 'en'),
         |toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM d),
         |ng0 AS (
         |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS gram
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |rare AS (SELECT gram FROM ng0 GROUP BY gram HAVING COUNT(*) <= $DfCap),
         |ng AS (SELECT ng0.* FROM ng0 JOIN rare USING (gram)),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ng GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM ng a JOIN ng b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT doc_a, doc_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
         |    CAST(n_inter * 1000000 // sa.sz AS BIGINT) AS cont_a_micro,
         |    CAST(n_inter * 1000000 // sb.sz AS BIGINT) AS cont_b_micro
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, n_inter, sz_a, sz_b, cont_a_micro, cont_b_micro,
         |  CAST(CASE WHEN cont_a_micro >= cont_b_micro THEN doc_a ELSE doc_b END AS BIGINT)
         |    AS contained_doc
         |FROM sc WHERE greatest(cont_a_micro, cont_b_micro) >= 250000
         |ORDER BY doc_a, doc_b""".stripMargin
    })(
      (s, dir) => containmentPairs(s, dir)
        .withColumn("contained_doc",
          when(col("cont_a_micro") >= col("cont_b_micro"), col("doc_a"))
            .otherwise(col("doc_b")))
        .select("doc_a", "doc_b", "n_inter", "sz_a", "sz_b",
          "cont_a_micro", "cont_b_micro", "contained_doc")
        .orderBy("doc_a", "doc_b")),

    // 34g2. CONTAINMENT HUBS — the graph lens on 34g's directed relation:
    // a doc whose content is ≥80% contained in MANY other docs is a
    // template/boilerplate body (drop it everywhere); a doc that contains
    // many others is a quote-farm/aggregator (keep one, audit the rest).
    // Per doc over the same capped pair frame: how often it is the ≥0.8
    // contained side vs the containing side, with the role verdict. Pure
    // rollup — the pair generation already paid by 34g's postings shapes.
    Q("q_containment_hubs", {
      s"""WITH d AS (SELECT doc_id, $normSql AS s FROM documents WHERE lang = 'en'),
         |toks AS (SELECT doc_id, string_split(s, ' ') AS t FROM d),
         |ng0 AS (
         |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS gram
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |rare AS (SELECT gram FROM ng0 GROUP BY gram HAVING COUNT(*) <= $DfCap),
         |ng AS (SELECT ng0.* FROM ng0 JOIN rare USING (gram)),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ng GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM ng a JOIN ng b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT doc_a, doc_b,
         |    CAST(n_inter * 1000000 // sa.sz AS BIGINT) AS cont_a_micro,
         |    CAST(n_inter * 1000000 // sb.sz AS BIGINT) AS cont_b_micro
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE greatest(n_inter * 1000000 // sa.sz, n_inter * 1000000 // sb.sz) >= 250000),
         |ev AS (
         |  SELECT doc_a AS d,
         |    CASE WHEN cont_a_micro >= 800000 THEN 1 ELSE 0 END AS cted,
         |    CASE WHEN cont_b_micro >= 800000 THEN 1 ELSE 0 END AS ctor
         |  FROM sc
         |  UNION ALL
         |  SELECT doc_b,
         |    CASE WHEN cont_b_micro >= 800000 THEN 1 ELSE 0 END,
         |    CASE WHEN cont_a_micro >= 800000 THEN 1 ELSE 0 END
         |  FROM sc),
         |agg AS (
         |  SELECT d AS doc_id, CAST(SUM(cted) AS BIGINT) AS n_contained_in,
         |    CAST(SUM(ctor) AS BIGINT) AS n_contains
         |  FROM ev GROUP BY d)
         |SELECT doc_id, n_contained_in, n_contains,
         |  CASE WHEN n_contained_in >= 2 THEN 'template'
         |    WHEN n_contains >= 2 THEN 'hub' ELSE 'normal' END AS role
         |FROM agg WHERE n_contained_in + n_contains > 0
         |ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        val sc = containmentPairs(s, dir)
        val ctedA = when(col("cont_a_micro") >= 800000L, 1L).otherwise(0L)
        val ctedB = when(col("cont_b_micro") >= 800000L, 1L).otherwise(0L)
        val ev = sc.select(col("doc_a").as("d"), ctedA.as("cted"), ctedB.as("ctor"))
          .unionByName(
            sc.select(col("doc_b").as("d"), ctedB.as("cted"), ctedA.as("ctor")))
        ev.groupBy(col("d").as("doc_id"))
          .agg(sum("cted").as("n_contained_in"), sum("ctor").as("n_contains"))
          .filter(col("n_contained_in") + col("n_contains") > 0)
          .withColumn("role",
            when(col("n_contained_in") >= 2, "template")
              .when(col("n_contains") >= 2, "hub").otherwise("normal"))
          .select("doc_id", "n_contained_in", "n_contains", "role")
          .orderBy("doc_id")
      }),

    // 34h. PER-SOURCE GRAM NOVELTY — the "does this crawl add anything"
    // number: of the rare grams a source contains, what fraction appears
    // in NO other source. Complements q_source_overlap (doc-level pair
    // matrix) with a gram-level marginal-contribution lens — a source
    // whose grams all exist elsewhere is redundant however few exact
    // dups it has. Probes the SAME standing df-capped postings as 34/34g
    // (tombstoned saturated grams are excluded on both engines by the
    // same cap rule), joins the doc→source map, and rolls up distinct
    // (gram, source) incidence — two skinny equi-joins + counts, no pair
    // join anywhere. Truncating division on positive longs ⇒ hash-exact.
    Q("q_source_novelty", {
      s"""WITH d AS (SELECT doc_id, source, $normSql AS s FROM documents WHERE lang = 'en'),
         |toks AS (SELECT doc_id, source, string_split(s, ' ') AS t FROM d),
         |ng0 AS (
         |  SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] AS gram
         |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
         |rare AS (SELECT gram FROM ng0 GROUP BY gram HAVING COUNT(*) <= $DfCap),
         |inc AS (SELECT DISTINCT gram, source FROM ng0 JOIN rare USING (gram)),
         |gs AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_sources FROM inc GROUP BY gram),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive
         |  FROM inc JOIN gs USING (gram) GROUP BY source)
         |SELECT source, n_grams, n_exclusive,
         |  CAST(n_exclusive * 1000000 // n_grams AS BIGINT) AS novelty_micros
         |FROM per ORDER BY source""".stripMargin
    })(
      (s, dir) => {
        val ng = corpusRareGramPostings(s, dir)
        val srcs = docs(s, dir).select("doc_id", "source")
        val inc = ng.join(srcs, "doc_id").select("gram", "source").distinct()
        val gs = inc.groupBy("gram").agg(count(lit(1)).as("n_sources"))
        inc.join(gs, "gram")
          .groupBy("source")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("n_exclusive"))
          .withColumn("novelty_micros", expr("n_exclusive * 1000000L div n_grams"))
          .orderBy("source")
      }),

    // 34c. exact substring-overlap dedup: pairs of documents sharing any
    // LONG word n-gram (n=8 here) — the Spark-able approximation of
    // suffix-array substring dedup ("docs that copy a long passage from
    // each other"), a distinct pass from similarity: one shared passage
    // flags a pair even when overall Jaccard is low. Same scale bounds as
    // 34: per-doc distinct grams, df-cap kills boilerplate passages before
    // the gram self-join (C(cap,2) pairs per gram max).
    Q("q_dedup_substring", {
      val grams = graft.operators.TextAnalysis.wordNgramsSql("t", 8)
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
         |ng0 AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(list_transform($grams, g -> substr(md5(g), 1, 16)))) AS gram
         |  FROM toks),
         |rare AS (SELECT gram FROM ng0 GROUP BY gram HAVING COUNT(*) <= $DfCap),
         |ng AS (SELECT ng0.* FROM ng0 JOIN rare USING (gram))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM ng a JOIN ng b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY doc_a, doc_b""".stripMargin
    })(
      (s, dir) => {
        // the df-capped postings persist as a standing corpus index (the
        // gram explode + md5s are the dominant cost and are identical
        // every run); warm executions are one read + one self-join
        val ng = corpusSubstrPostings(s, dir)
        val a = ng.select(col("doc_id").as("doc_a"), col("gram"))
        val b = ng.select(col("doc_id").as("doc_b"), col("gram"))
        a.join(b, Seq("gram"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_a", "doc_b")
      }),

    // 34d. chunk-level boilerplate removal (the line-dedup stage of
    // CCNet/RefinedWeb-style pipelines, chunked by word count because the
    // corpus has no line structure): split each doc into consecutive
    // 8-word chunks, count each chunk's document frequency corpus-wide,
    // drop every chunk seen in ≥2 docs, reassemble the doc from the
    // survivors. Scale shape: explode → one (doc,cid) shuffle to form
    // chunks → one df agg keyed on md5(chunk) (fixed-width shuffle key,
    // map-side combined, so a hot boilerplate chunk never skews a
    // reducer) → join back → one doc-keyed reassembly shuffle; everything
    // is linear in corpus tokens.
    Q("q_chunk_dedup", {
      val W = ChunkWidth
      s"""WITH tok AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS l FROM documents),
         |w AS (
         |  SELECT doc_id, unnest(l) AS word, generate_subscripts(l, 1) AS pos FROM tok),
         |ch AS (
         |  SELECT doc_id, CAST((pos - 1) // $W AS BIGINT) AS cid,
         |    string_agg(word, ' ' ORDER BY pos) AS chunk
         |  FROM w GROUP BY 1, 2),
         |dfc AS (
         |  SELECT md5(chunk) AS ck, count(DISTINCT doc_id) AS df
         |  FROM ch GROUP BY 1)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN df < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  md5(coalesce(string_agg(chunk, ' ' ORDER BY cid) FILTER (WHERE df < 2), '')) AS cleaned_md5
         |FROM ch JOIN dfc ON md5(chunk) = ck
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => chunkDedup(Tables.spread(docs(s, dir)),
        dupChunks = Some(corpusDupChunks(s, dir))).orderBy("doc_id")),

    // 34b. MinHash-ESTIMATED Jaccard: the scale path for pairwise
    // similarity — no gram self-join at all. Candidates come from the
    // capped LSH bands; the similarity estimate is the fraction of
    // matching signature slices (E[match] = true Jaccard), a constant-time
    // integer per pair. The md5-slice signatures are bit-identical across
    // engines, so unlike a float sketch this estimator hash-checks.
    Q("q_jaccard_minhash_est", {
      val matches = (0 until NumSeeds)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $corpusBandsCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(($matches) * ${1000000 / NumSeeds} AS BIGINT) AS jac_est_micro
         |FROM pairs
         |JOIN sigs sa ON doc_a = sa.doc_id
         |JOIN sigs sb ON doc_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    })(
      (s, dir) => {
        // the persisted signature table feeds the band explode AND both
        // pair-side joins — three probes of one parquet read
        val sigs = corpusSigs(s, dir)
        val pairs = bandPairs(sigs)
        val nMatch = (0 until NumSeeds)
          .map(i => when(col(s"sa.h$i") === col(s"sb.h$i"), 1).otherwise(0))
          .reduce(_ + _)
        pairs
          .join(sigs.alias("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sigs.alias("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            (nMatch * lit(1000000 / NumSeeds)).cast("long").as("jac_est_micro"))
          .orderBy("doc_a", "doc_b")
      }),

    // 34e. Edit-distance VERIFICATION of LSH candidates — the candidate-
    // then-verify pattern in its exact form: MinHash bands nominate
    // (cap-bounded, ≤ Bands·C(cap,2) per bucket flood), and only the
    // nominated pairs pay the O(len²) Levenshtein DP, on normalized text
    // capped at EditCap chars so per-pair cost is a constant ≤ EditCap²
    // cells. Two equi-join shuffles of the bounded pair set — the full
    // corpus never meets itself. Pairs are between exact-dedup
    // representatives (the reps pre-pass inside the signature build);
    // integer edit distance is engine-exact (both DPs run over codepoints
    // and the corpus is ASCII), so the verdict hash-checks — is_dup means
    // dist ≤ 20% of the longer capped text.
    Q("q_dedup_edit", {
      s"""WITH $corpusBandsCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |nt AS (SELECT doc_id, substr($normSql, 1, $EditCap) AS s FROM documents),
         |scored AS (
         |  SELECT p.doc_a, p.doc_b, levenshtein(x.s, y.s) AS dist,
         |    greatest(length(x.s), length(y.s)) AS mxlen
         |  FROM pairs p JOIN nt x ON p.doc_a = x.doc_id JOIN nt y ON p.doc_b = y.doc_id)
         |SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS edit_dist,
         |  CAST(CASE WHEN dist * 5 <= mxlen THEN 1 ELSE 0 END AS INTEGER) AS is_dup
         |FROM scored ORDER BY doc_a, doc_b""".stripMargin
    })(
      (s, dir) => {
        val pairs = bandPairs(corpusSigs(s, dir))
        val nt = docs(s, dir).select(col("doc_id"),
          substring(normText(col("text")), 1, EditCap).as("s"))
        pairs
          .join(nt.select(col("doc_id").as("doc_a"), col("s").as("sa")), Seq("doc_a"))
          .join(nt.select(col("doc_id").as("doc_b"), col("s").as("sb")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("sa"), col("sb")).as("dist"),
            greatest(length(col("sa")), length(col("sb"))).as("mxlen"))
          .select(col("doc_a"), col("doc_b"),
            col("dist").cast("long").as("edit_dist"),
            when(col("dist") * 5 <= col("mxlen"), 1).otherwise(0).as("is_dup"))
          .orderBy("doc_a", "doc_b")
      }),

    // 32d. INCREMENTAL near-dup detection — the ingestion-time shape of
    // MinHash dedup: the already-ingested corpus (doc_id % IncrMod != 0)
    // has a PERSISTED signature index (built once by buildMinhashIndex:
    // sigs + capped band keys as parquet); an incoming batch (doc_id %
    // IncrMod == 0) computes signatures for its own documents only and
    // equi-joins the index's band table, so per-batch cost is ∝ batch
    // size + index probe, never a corpus-wide recompute. A new doc is
    // flagged when ≥ 2 of its 8 signature slices match a candidate's
    // (estimated Jaccard ≥ 0.25). The oracle recomputes both sides
    // inline — same split, same caps, same estimate.
    Q("q_dedup_incremental", {
      val matches = (0 until NumSeeds)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      val isMatch = s"CASE WHEN est_micro >= $IncrEstMicro THEN 1 ELSE 0 END"
      s"""WITH ${sigSqlFor("old", s"doc_id % $IncrMod <> 0")},
         |${bandsSqlFor("old")},
         |bands_old AS (
         |  SELECT doc_id, band, bkey FROM bands0_old
         |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= $BucketCap),
         |${sigSqlFor("new", s"doc_id % $IncrMod = 0")},
         |${bandsSqlFor("new")},
         |cands AS (
         |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM bands0_new n JOIN bands_old o ON n.band = o.band AND n.bkey = o.bkey),
         |est AS (
         |  SELECT new_id, old_id, CAST(($matches) * ${1000000 / NumSeeds} AS BIGINT) AS est_micro
         |  FROM cands
         |  JOIN sigs_new sa ON new_id = sa.doc_id
         |  JOIN sigs_old sb ON old_id = sb.doc_id)
         |SELECT new_id AS doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_cands,
         |  CAST(SUM($isMatch) AS BIGINT) AS n_matches,
         |  CAST(MIN(CASE WHEN est_micro >= $IncrEstMicro THEN old_id END) AS BIGINT) AS best_match,
         |  CAST(MAX(est_micro) AS BIGINT) AS max_est_micro
         |FROM est GROUP BY new_id
         |HAVING SUM($isMatch) > 0
         |ORDER BY doc_id""".stripMargin
    })(
      (s, dir) => {
        val root = buildMinhashIndex(s, dir)
        val oldSigs = minhashIndexTable(s, root, "sigs").get
        val oldBands = minhashIndexTable(s, root, "bands").get
        // signatures of the NEW batch only — the index side never recomputes
        val newSigs = minhashSignatures(
          docs(s, dir).filter(pmod(col("doc_id"), lit(IncrMod)) === 0))
          .localCheckpoint()
        val cands = bandKeys(newSigs).alias("n")
          .join(oldBands.alias("o"),
            col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey"))
          .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
          .distinct()
        val nMatch = (0 until NumSeeds)
          .map(i => when(col(s"sa.h$i") === col(s"sb.h$i"), 1).otherwise(0))
          .reduce(_ + _)
        val isMatch = col("est_micro") >= IncrEstMicro
        cands
          .join(newSigs.alias("sa"), col("new_id") === col("sa.doc_id"))
          .join(oldSigs.alias("sb"), col("old_id") === col("sb.doc_id"))
          .select(col("new_id"), col("old_id"),
            (nMatch * lit(1000000 / NumSeeds)).cast("long").as("est_micro"))
          .groupBy(col("new_id").as("doc_id"))
          .agg(
            count(lit(1)).as("n_cands"),
            sum(when(isMatch, 1L).otherwise(0L)).as("n_matches"),
            min(when(isMatch, col("old_id"))).as("best_match"),
            max(col("est_micro")).as("max_est_micro"))
          .filter(col("n_matches") > 0)
          .orderBy("doc_id")
      }),

    // 32j. CORPUS DATASHEET — the per-source report a dataset card ships
    // with ("datasheets for datasets"), composed from the standing dedup
    // machinery: doc and token counts, language mix, byte-identical copy
    // count, and near-dup-cluster membership LIFTED over exact-copy groups
    // (a copy inherits its keeper's cluster, as in the split-leakage
    // audit). One doc-keyed norm-group window + one broadcastable join
    // against the (small) cluster-label index + one source-keyed rollup —
    // shuffle ∝ corpus docs once, never pairs. All-integer, hash-checked.
    Q("q_corpus_report", {
      s"""$lshLabelsCtes,
         |keepers AS (
         |  SELECT doc_id, source, lang,
         |    CAST(len(string_split(s, ' ')) AS BIGINT) AS n_words,
         |    MIN(doc_id) OVER (PARTITION BY s) AS keeper
         |  FROM (SELECT doc_id, source, lang, $normSql AS s FROM documents)),
         |flags AS (
         |  SELECT k.source, k.n_words,
         |    CASE WHEN k.doc_id <> k.keeper THEN 1 ELSE 0 END AS is_copy,
         |    CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_cluster,
         |    CASE WHEN k.lang = 'en' THEN 1 ELSE 0 END AS is_en
         |  FROM keepers k LEFT JOIN labels l ON k.keeper = l.doc_id)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS sum_words,
         |  CAST(SUM(is_en) AS BIGINT) AS n_en,
         |  CAST(SUM(is_copy) AS BIGINT) AS n_exact_copies,
         |  CAST(SUM(in_cluster) AS BIGINT) AS n_dup_members
         |FROM flags GROUP BY source ORDER BY source""".stripMargin
    })(
      (s, dir) => {
        val d = docs(s, dir)
        val withKeeper = d.select(col("doc_id"), col("source"), col("lang"),
            size(split(normText(col("text")), " ")).cast("long").as("n_words"))
          .join(corpusKeepers(s, dir), Seq("doc_id"))
        val labels = corpusClusterLabels(s, dir)
          .select(col("doc_id").as("keeper")).distinct()
          .withColumn("in_cluster", lit(1L))
        withKeeper
          .join(labels, Seq("keeper"), "left")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("sum_words"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
            sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
              .as("n_exact_copies"),
            sum(coalesce(col("in_cluster"), lit(0L))).as("n_dup_members"))
          .orderBy("source")
      }),

    // 32m. TOKEN-level dedup savings per source — the headline number a
    // data team quotes ("X% of this crawl's tokens are duplicates"): a
    // doc's words count as KEPT only when the doc survives full dedup
    // (it is its exact-copy group's keeper AND not a non-representative
    // LSH-cluster member); savings = 1 − kept/raw in exact micros. The
    // doc-level q_corpus_report counts copies; this weighs them by the
    // tokens they'd burn. Two standing-index probes (keepers + cluster
    // labels) + one source rollup — no pair joins, no text re-shuffles.
    Q("q_dedup_savings", {
      s"""$lshLabelsCtes,
         |k AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(s, ' ')) AS BIGINT) AS n_words,
         |    MIN(doc_id) OVER (PARTITION BY s) AS keeper
         |  FROM (SELECT doc_id, source, $normSql AS s FROM documents)),
         |f AS (
         |  SELECT k.source, k.n_words,
         |    CASE WHEN k.doc_id = k.keeper AND (l.rep IS NULL OR l.rep = k.doc_id)
         |      THEN k.n_words ELSE 0 END AS kept
         |  FROM k LEFT JOIN labels l ON k.doc_id = l.doc_id)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS raw_words,
         |  CAST(SUM(kept) AS BIGINT) AS kept_words,
         |  CAST(coalesce((SUM(n_words) - SUM(kept)) * 1000000 // nullif(SUM(n_words), 0), 0) AS BIGINT) AS savings_micros
         |FROM f GROUP BY source ORDER BY source""".stripMargin
    })(
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("source"),
          size(split(normText(col("text")), " ")).cast("long").as("n_words"))
        val k = d.join(corpusKeepers(s, dir), Seq("doc_id"))
        val labels = corpusClusterLabels(s, dir)
        k.join(labels, Seq("doc_id"), "left")
          .withColumn("kept", when(col("doc_id") === col("keeper") &&
              (col("rep").isNull || col("rep") === col("doc_id")),
            col("n_words")).otherwise(0L))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("raw_words"),
            sum(col("kept")).as("kept_words"))
          .withColumn("savings_micros", coalesce(
            expr("(raw_words - kept_words) * 1000000 div nullif(raw_words, 0)"),
            lit(0L)))
          .orderBy("source")
      }),

    // 32e. cross-source duplication matrix — "which sources copy from
    // which": every duplication pair (near-dup LSH pairs between exact-dedup
    // representatives, PLUS one (keeper, copy) pair per byte-identical
    // duplicate so exact mirrors stay linear, never C(cluster,2)) is
    // labeled with its two documents' sources and counted per unordered
    // source pair. The pipeline view a data curator reads to find which
    // crawl snapshots overlap and whether curated sets leak into the crawl.
    Q("q_source_overlap", {
      s"""WITH $corpusBandsCtes,
         |near AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |exact AS (
         |  SELECT keeper AS doc_a, doc_id AS doc_b FROM (
         |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY s) AS keeper
         |    FROM (SELECT doc_id, $normSql AS s FROM documents))
         |  WHERE doc_id <> keeper),
         |pairs AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exact)
         |SELECT LEAST(sa.source, sb.source) AS source_lo,
         |  GREATEST(sa.source, sb.source) AS source_hi,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs
         |JOIN documents sa ON doc_a = sa.doc_id
         |JOIN documents sb ON doc_b = sb.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    })(
      (s, dir) => {
        val d = docs(s, dir)
        val near = bandPairs(corpusSigs(s, dir))
        val exact = corpusKeepers(s, dir)
          .filter(col("doc_id") =!= col("keeper"))
          .select(col("keeper").as("doc_a"), col("doc_id").as("doc_b"))
        val pairs = near.unionByName(exact).distinct()
        val srcs = d.select(col("doc_id"), col("source"))
        pairs
          .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
          .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
          .groupBy(
            least(col("src_a"), col("src_b")).as("source_lo"),
            greatest(col("src_a"), col("src_b")).as("source_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_lo", "source_hi")
      }),

    // 32b. near-dup CLUSTER resolution: connected components over the
    // MinHash candidate pairs, each involved document labeled with its
    // cluster representative (min doc_id) — the "keep one per cluster"
    // verdict a dedup pipeline actually applies. The oracle recomputes the
    // same components with a recursive transitive-closure CTE (tractable
    // because LSH bands + bucket caps keep components small).
    Q("q_dedup_clusters",
      s"""$lshLabelsCtes
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(rep AS BIGINT) AS cluster_rep
         |FROM labels ORDER BY doc_id""".stripMargin)(
      (s, dir) => corpusClusterLabels(s, dir)
        .select(col("doc_id"), col("rep").as("cluster_rep"))
        .orderBy("doc_id")),

    // §2d.32f — quality-aware cluster keeper selection. Min-doc_id keeper
    // rules (q_dedup_clusters, q_pipeline_select) are arbitrary; real
    // pipelines keep the BEST member of each near-dup cluster. Keeper =
    // longest document (n_chars DESC, doc_id ASC on ties) per LSH cluster —
    // swap the order key for any quality score. One equi-join of the
    // cluster labels (already bounded by the band caps) against the doc
    // stats, one windowed arg-max per cluster: shuffle ∝ clustered docs,
    // never the corpus. Members are exact-dedup representatives (the
    // byte-identical copies collapsed before LSH follow their rep's fate).
    Q("q_dedup_keep_best",
      s"""$lshLabelsCtes,
         |j AS (
         |  SELECT l.rep, l.doc_id, d.n_chars
         |  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
         |SELECT CAST(rep AS BIGINT) AS cluster_rep,
         |  CAST(doc_id AS BIGINT) AS keeper_doc_id,
         |  CAST(n_chars AS BIGINT) AS keeper_chars,
         |  CAST(members AS BIGINT) AS n_members
         |FROM (
         |  SELECT rep, doc_id, n_chars,
         |    COUNT(*) OVER (PARTITION BY rep) AS members,
         |    row_number() OVER (PARTITION BY rep ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM j)
         |WHERE rn = 1 ORDER BY cluster_rep""".stripMargin)(
      (s, dir) => {
        val labels = corpusClusterLabels(s, dir)
        val stats = docs(s, dir).select(col("doc_id"), col("n_chars"))
        val byRep = Window.partitionBy(col("rep"))
        labels.join(stats, Seq("doc_id"))
          .withColumn("n_members", count(lit(1)).over(byRep).cast("long"))
          .withColumn("rn", row_number().over(
            byRep.orderBy(col("n_chars").desc, col("doc_id").asc)))
          .filter(col("rn") === 1)
          .select(col("rep").as("cluster_rep"), col("doc_id").as("keeper_doc_id"),
            col("n_chars").cast("long").as("keeper_chars"), col("n_members"))
          .orderBy("cluster_rep")
      }),

    // CAPSTONE — the end-to-end training-set selection a pipeline user
    // actually runs, composing the §2d operators: keep a document iff it
    // is (a) the target language, (b) above the quality floor (same
    // verdict rule as q_quality_score), and (c) NOT a duplicate — neither
    // a byte-identical copy of a smaller-doc_id document (the exact-dedup
    // pre-pass collapses those before LSH, so they must be dropped
    // explicitly here) nor a non-representative member of a near-dup
    // cluster (q_dedup_clusters' drop set). Both drop sets are applied as
    // one anti-join. Every stage is deterministic, so the whole
    // composition hash-checks end to end.
    Q("q_pipeline_select",
      s"""$selectionFlagsCtes
         |SELECT doc_id, source, toks AS n_words
         |FROM f WHERE f1 = 1 AND f2 = 1 AND f3 = 1 AND f4 = 1
         |ORDER BY doc_id""".stripMargin)(
      (s, dir) =>
        // a keep = every stage flag passes — the SAME shared flag frame
        // the funnel/explain/ablation read, so the four stay tied by
        // construction, not by test alone
        selectionFlags(s, dir)
          .filter(col("f1") === 1L && col("f2") === 1L &&
            col("f3") === 1L && col("f4") === 1L)
          .select(col("doc_id"), col("source"), col("toks").as("n_words"))
          .orderBy("doc_id")),

    // PIPELINE OBSERVABILITY — the per-source dedup FUNNEL a data team
    // reads before believing any selection run: how many documents each
    // source brings in, how many clear the language+quality floor, how
    // many of those are their text's exact keeper, and how many survive
    // the near-dup cluster drop (the last column is exactly
    // q_pipeline_select's per-source row count, tying the report to the
    // capstone by construction). Pure flag arithmetic over the standing
    // keeper and cluster-label indexes + ONE source-keyed rollup —
    // per-run shuffle is the corpus scan once; no pair joins, no CC.
    Q("q_dedup_funnel",
      s"""$selectionFlagsCtes
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_raw,
         |  CAST(SUM(f1 * f2) AS BIGINT) AS n_quality,
         |  CAST(SUM(f1 * f2 * f3) AS BIGINT) AS n_exact_kept,
         |  CAST(SUM(f1 * f2 * f3 * f4) AS BIGINT) AS n_selected
         |FROM f GROUP BY source
         |ORDER BY source""".stripMargin)(
      (s, dir) =>
        selectionFlags(s, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_raw"),
            sum(col("f1") * col("f2")).as("n_quality"),
            sum(col("f1") * col("f2") * col("f3")).as("n_exact_kept"),
            sum(col("f1") * col("f2") * col("f3") * col("f4"))
              .as("n_selected"))
          .orderBy("source")),

    // §2d.32o — PER-DOCUMENT SELECTION EXPLAIN: the decision audit trail
    // behind q_pipeline_select / q_dedup_funnel. For EVERY document, each
    // stage's flag (language, quality floor, exact-copy keeper, near-dup
    // cluster keeper) and the verdict = the FIRST failing stage — the
    // row a data team pulls when asking "why was doc X dropped?" and the
    // input to filtering-ablation studies (rerun selection with any one
    // rule lifted by recomputing one flag product). Same standing
    // keeper/label indexes and flag frame as the funnel — the funnel IS
    // this table's per-source rollup; per-run cost is one corpus scan +
    // two skinny index joins, no pair joins.
    Q("q_select_explain",
      s"""$selectionFlagsCtes
         |SELECT doc_id, source,
         |  CAST(f1 AS BIGINT) AS lang_ok,
         |  CAST(f2 AS BIGINT) AS quality_ok,
         |  CAST(f3 AS BIGINT) AS exact_keeper,
         |  CAST(f4 AS BIGINT) AS cluster_keeper,
         |  CASE WHEN f1 = 0 THEN 'lang'
         |       WHEN f2 = 0 THEN 'quality'
         |       WHEN f3 = 0 THEN 'exact_dup'
         |       WHEN f4 = 0 THEN 'near_dup'
         |       ELSE 'selected' END AS verdict
         |FROM f ORDER BY doc_id""".stripMargin)(
      (s, dir) =>
        selectionFlags(s, dir)
          .withColumn("verdict",
            when(col("f1") === 0, "lang")
              .when(col("f2") === 0, "quality")
              .when(col("f3") === 0, "exact_dup")
              .when(col("f4") === 0, "near_dup")
              .otherwise("selected"))
          .select(col("doc_id"), col("source"), col("f1").as("lang_ok"),
            col("f2").as("quality_ok"), col("f3").as("exact_keeper"),
            col("f4").as("cluster_keeper"), col("verdict"))
          .orderBy("doc_id")),

    // §2d.32p — FILTER ABLATION: what each selection rule costs,
    // read straight off the explain flags. Per stage: how many documents
    // (and tokens) fail ONLY that stage — i.e. what lifting that one rule
    // would add back to the training set — plus how many it rejects
    // overall. The standard filtering-ablation table (DataComp/RefinedWeb
    // style) a team reads before tightening or dropping a rule; docs
    // failing two or more stages appear in no only_-row, which is the
    // point (lifting one rule would not recover them). Same one corpus
    // scan + standing-index probes as the explain; output is 4 rows.
    Q("q_select_ablation",
      s"""$selectionFlagsCtes,
         |s AS (
         |  SELECT 'lang' AS stage, CAST(SUM(1 - f1) AS BIGINT) AS n_rejected,
         |    CAST(SUM(CASE WHEN f1 = 0 AND f2 = 1 AND f3 = 1 AND f4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_only,
         |    CAST(SUM(CASE WHEN f1 = 0 AND f2 = 1 AND f3 = 1 AND f4 = 1 THEN toks ELSE 0 END) AS BIGINT) AS toks_only
         |  FROM f
         |  UNION ALL SELECT 'quality', CAST(SUM(1 - f2) AS BIGINT),
         |    CAST(SUM(CASE WHEN f2 = 0 AND f1 = 1 AND f3 = 1 AND f4 = 1 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(SUM(CASE WHEN f2 = 0 AND f1 = 1 AND f3 = 1 AND f4 = 1 THEN toks ELSE 0 END) AS BIGINT)
         |  FROM f
         |  UNION ALL SELECT 'exact_dup', CAST(SUM(1 - f3) AS BIGINT),
         |    CAST(SUM(CASE WHEN f3 = 0 AND f1 = 1 AND f2 = 1 AND f4 = 1 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(SUM(CASE WHEN f3 = 0 AND f1 = 1 AND f2 = 1 AND f4 = 1 THEN toks ELSE 0 END) AS BIGINT)
         |  FROM f
         |  UNION ALL SELECT 'near_dup', CAST(SUM(1 - f4) AS BIGINT),
         |    CAST(SUM(CASE WHEN f4 = 0 AND f1 = 1 AND f2 = 1 AND f3 = 1 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(SUM(CASE WHEN f4 = 0 AND f1 = 1 AND f2 = 1 AND f3 = 1 THEN toks ELSE 0 END) AS BIGINT)
         |  FROM f)
         |SELECT stage, n_rejected, n_only, toks_only FROM s
         |ORDER BY stage""".stripMargin)(
      (s, dir) => {
        val flags = selectionFlags(s, dir)
        // ALL twelve statistics from ONE corpus-scan aggregate, then a
        // stack to rows — never one pass per stage
        val stages = Seq("lang" -> "f1", "quality" -> "f2",
          "exact_dup" -> "f3", "near_dup" -> "f4")
        val aggs = stages.flatMap { case (name, fc) =>
          val others = stages.map(_._2).filterNot(_ == fc)
          val only = col(fc) === 0L &&
            others.map(col(_) === 1L).reduce(_ && _)
          Seq(sum(lit(1L) - col(fc)).as(s"r_$name"),
            sum(when(only, 1L).otherwise(0L)).as(s"o_$name"),
            sum(when(only, col("toks")).otherwise(0L)).as(s"t_$name"))
        }
        val wide = flags.agg(aggs.head, aggs.tail: _*)
        val cells = stages.map { case (name, _) =>
          s"'$name', r_$name, o_$name, t_$name"
        }.mkString(", ")
        wide.select(expr(
          s"stack(4, $cells) AS (stage, n_rejected, n_only, toks_only)"))
          .orderBy("stage")
      }),

    // §2d.34f — winnowing-fingerprint dedup (MOSS): candidate pairs
    // sharing any winnowed substring fingerprint. Third dedup family
    // beside MinHash (set similarity) and SimHash (bag distance): the
    // window-min selection GUARANTEES any shared ≥8-word run is caught
    // while keeping ~2/(w+1) of positions, so the postings table stays a
    // small fraction of the gram stream. Same scale bounds as rare-gram
    // Jaccard: df-capped fingerprints before the self-join (a boilerplate
    // fingerprint shared by thousands of docs is dropped, not exploded),
    // fixed-width 16-hex shuffle keys.
    Q("q_dedup_winnow", {
      val gramsSql = TextAnalysis.wordNgramsSql("t", WinnowK)
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
         |hs AS (
         |  SELECT doc_id,
         |    list_transform($gramsSql, g -> substr(md5(g), 1, 16)) AS h
         |  FROM toks),
         |fps AS (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(h) >= $WinnowW
         |      THEN list_transform(range(1, len(h) - $WinnowW + 2),
         |                          j -> list_min(h[j : j + $WinnowW - 1]))
         |      ELSE CAST([] AS VARCHAR[]) END) AS f
         |  FROM hs),
         |e AS (SELECT doc_id, unnest(f) AS fp FROM fps),
         |df AS (SELECT fp, COUNT(*) AS c FROM e GROUP BY fp),
         |rare AS (SELECT e.doc_id, e.fp FROM e JOIN df ON e.fp = df.fp WHERE df.c <= $DfCap),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, n_shared FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin
    })((s, dir) => {
      val e = corpusWinnowPostings(s, dir)
      val dfc = e.groupBy("fp").agg(count(lit(1)).as("c"))
        .filter(col("c") <= DfCap).select("fp")
      val rare = e.join(dfc, Seq("fp"), "left_semi")
      val a = rare.alias("a")
      val b = rare.alias("b")
      // every pair with ANY shared fingerprint survives: a single shared
      // fingerprint is exactly what the MOSS guarantee promises for a
      // shared 8-word run, so a >=2 threshold would break it (n_shared is
      // reported for downstream ranking instead)
      a.join(b, col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_a", "doc_b")
    }),

    // §2d.32h — LSH RECALL AUDIT: the QA number every probabilistic dedup
    // deployment needs on real data — what fraction of the rare-gram-
    // Jaccard-verified near-dup pairs (jac ≥ 0.25, the candidate
    // threshold) did the LSH bands actually nominate, and how precise was
    // the candidate set? SimilaritySpec bounds ANN recall on crafted
    // data; this measures the TEXT pipeline's recall on the corpus
    // itself, hash-checked cross-engine. Both sides derive from the SAME
    // exact-dedup reps (the shared CTE), so the comparison is apples to
    // apples; one row out.
    Q("q_lsh_recall",
      s"""WITH $corpusBandsCtes,
         |$recallTruthCtes,
         |hit AS (SELECT t.* FROM truth t JOIN cand c
         |        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         |n AS (SELECT
         |  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
         |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
         |  CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit)
         |SELECT n_truth, n_cand, n_hit,
         |  CAST(COALESCE(n_hit * 1000 // NULLIF(n_truth, 0), 0) AS BIGINT) AS recall_milli,
         |  CAST(COALESCE(n_hit * 1000 // NULLIF(n_cand, 0), 0) AS BIGINT) AS precision_milli
         |FROM n""".stripMargin)((s, dir) => {
      val cand = bandPairs(corpusSigs(s, dir))
      val truth = corpusTruthPairs(s, dir)
      val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      val counts = truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      counts.select(col("n_truth"), col("n_cand"), col("n_hit"),
        coalesce(expr("n_hit * 1000 div nullif(n_truth, 0)"), lit(0L))
          .as("recall_milli"),
        coalesce(expr("n_hit * 1000 div nullif(n_cand, 0)"), lit(0L))
          .as("precision_milli"))
    }),

    // §2d.32h2 — SAMPLED recall audit (new r9): the per-append answer to
    // the full audit's rebuild cost. Pairs whose MIN endpoint falls in a
    // deterministic ¼ md5 stratum are verified verbatim (df economy and
    // set sizes stay corpus-wide, so a sampled pair is a full-audit row,
    // never an approximation of one); recall/precision estimated from
    // the stratum are unbiased for the full numbers — at 100 TB the
    // quadratic verify join runs at the sample rate, and DedupSpec pins
    // the estimate against the full audit on the real corpus. The oracle
    // recomputes the FULL truth/cand sets and applies the same stratum
    // filter — hash equality proves sampled-verify ≡ filter(full audit).
    Q("q_lsh_recall_sampled",
      s"""WITH $corpusBandsCtes,
         |$recallTruthCtes,
         |truth_s AS (SELECT * FROM truth
         |            WHERE ${docStratumSql("doc_a")} < $TruthSampleThr),
         |cand_s AS (SELECT * FROM cand
         |           WHERE ${docStratumSql("doc_a")} < $TruthSampleThr),
         |hit_s AS (SELECT t.* FROM truth_s t JOIN cand_s c
         |          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         |n AS (SELECT
         |  CAST((SELECT COUNT(*) FROM truth_s) AS BIGINT) AS n_truth_s,
         |  CAST((SELECT COUNT(*) FROM cand_s) AS BIGINT) AS n_cand_s,
         |  CAST((SELECT COUNT(*) FROM hit_s) AS BIGINT) AS n_hit_s)
         |SELECT n_truth_s, n_cand_s, n_hit_s,
         |  CAST(COALESCE(n_hit_s * 1000 // NULLIF(n_truth_s, 0), 0) AS BIGINT) AS recall_milli_est,
         |  CAST(COALESCE(n_hit_s * 1000 // NULLIF(n_cand_s, 0), 0) AS BIGINT) AS precision_milli_est
         |FROM n""".stripMargin)((s, dir) => {
      val cand = bandPairs(corpusSigs(s, dir))
        .filter(docStratum(col("doc_a")) < TruthSampleThr)
      val truthS = sampledTruthPairs(s, dir)
      val hit = truthS.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      truthS.agg(count(lit(1)).as("n_truth_s"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand_s")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit_s")))
        .select(col("n_truth_s"), col("n_cand_s"), col("n_hit_s"),
          coalesce(expr("n_hit_s * 1000 div nullif(n_truth_s, 0)"), lit(0L))
            .as("recall_milli_est"),
          coalesce(expr("n_hit_s * 1000 div nullif(n_cand_s, 0)"), lit(0L))
            .as("precision_milli_est"))
    }),

    // §2d.32f — duplication-graph centrality: PageRank (3 rounds, damping
    // 0.85) over the undirected LSH near-dup pair graph, ranking the
    // "template hubs" — documents whose near-dup neighborhoods are densest
    // (boilerplate generators, mirrored templates) and which deserve
    // curation attention first. All arithmetic in integer micros with the
    // SAME division order on both engines (share = rank div degree per
    // edge, then ×85 div 100), so three iterations stay bit-identical and
    // hash-check. Each round is one equi-join + one aggregate on the PAIR
    // graph (already bounded by the LSH band caps — never corpus-sized);
    // rounds are a constant, not O(diameter), because PageRank converges by
    // damping, not propagation. The oracle reuses the shared LSH CTE chain
    // (its recursive labels CTE goes unused — DuckDB prunes unreferenced
    // CTEs) so pair generation can never drift between engines.
    Q("q_graph_centrality", {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (
           |  SELECT e.dst AS node,
           |    CAST(150000 + (SUM(r.r // d.deg) * 85) // 100 AS BIGINT) AS r
           |  FROM edges e
           |  JOIN deg d ON d.src = e.src
           |  JOIN r${i - 1} r ON r.node = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""$lshLabelsCtes,
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
         |$rounds
         |SELECT node AS doc_id, r AS rank_micros FROM r3 ORDER BY doc_id""".stripMargin
    })((s, dir) =>
      pageRank(bandPairs(corpusSigs(s, dir)))
        .select(col("node").as("doc_id"), col("r").as("rank_micros"))
        .orderBy("doc_id")),

    // §2d.32l — duplication-graph TRIANGLES + clustering coefficient:
    // the third graph-analytics lens after connected components (32b)
    // and PageRank (32f). A high clustering coefficient marks a node
    // whose near-dup neighbors are ALSO near-dups of each other — dense
    // template cliques (mirrored boilerplate) rather than hub-and-spoke
    // duplication — the distinction that decides "drop the whole clique"
    // vs "keep spokes, drop the hub". Triangles enumerate as the
    // standard ordered 3-way equi-join over a<b<c pairs — each triangle
    // found exactly once, cost bounded by the band caps (the pair graph
    // is never corpus-sized); per-node counts come from one corner
    // union, coefficient = 2·tri·1e6 div deg·(deg−1) in exact integers.
    Q("q_graph_triangles", {
      s"""WITH $corpusBandsCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |tri AS (
         |  SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
         |  FROM pairs ab
         |  JOIN pairs bc ON ab.doc_b = bc.doc_a
         |  JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
         |corners AS (
         |  SELECT a AS doc_id FROM tri UNION ALL
         |  SELECT b FROM tri UNION ALL
         |  SELECT c FROM tri),
         |tcnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         |         FROM corners GROUP BY doc_id),
         |deg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT doc_a AS doc_id FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id)
         |SELECT t.doc_id, d.degree, t.n_triangles,
         |  CAST(2 * t.n_triangles * 1000000 // (d.degree * (d.degree - 1)) AS BIGINT)
         |    AS clustering_micros
         |FROM tcnt t JOIN deg d USING (doc_id)
         |ORDER BY clustering_micros DESC, n_triangles DESC, doc_id
         |LIMIT 20""".stripMargin
    })((s, dir) => {
      val pairs = bandPairs(corpusSigs(s, dir)).localCheckpoint()
      val tri = pairs.alias("ab")
        .join(pairs.alias("bc"), col("ab.doc_b") === col("bc.doc_a"))
        .join(pairs.alias("ac"),
          col("ac.doc_a") === col("ab.doc_a") &&
            col("ac.doc_b") === col("bc.doc_b"), "left_semi")
        .select(col("ab.doc_a").as("a"), col("ab.doc_b").as("b"),
          col("bc.doc_b").as("c"))
      val corners = tri.select(col("a").as("doc_id"))
        .unionByName(tri.select(col("b").as("doc_id")))
        .unionByName(tri.select(col("c").as("doc_id")))
      val tcnt = corners.groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      val deg = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      tcnt.join(deg, "doc_id")
        .select(col("doc_id"), col("degree"), col("n_triangles"),
          expr("2 * n_triangles * 1000000 div (degree * (degree - 1))")
            .as("clustering_micros"))
        .orderBy(col("clustering_micros").desc, col("n_triangles").desc,
          col("doc_id"))
        .limit(20)
    }),

    // §2d.32g — split-leakage audit: the QA gate between dedup and
    // shipping a corpus. A near-dup (or byte-identical) cluster whose
    // members land in DIFFERENT train/val/test splits leaks evaluation
    // content into training; this query lists every such cluster's
    // members with their splits. Effective cluster = LSH connected
    // component lifted over exact-copy groups (copies inherit their
    // keeper's component — exact dups never reach the pair graph, and
    // they are the worst leak). Every join is an equi-join on doc_id or
    // the md5(norm) group hash; the audit costs one norm-hash shuffle +
    // probes of the standing label index.
    Q("q_split_leakage", {
      s"""$lshLabelsCtes,
         |normd AS (SELECT doc_id, md5($normSql) AS h FROM documents),
         |keep AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS keeper
         |  FROM normd),
         |eff AS (
         |  SELECT k.doc_id, COALESCE(l.rep, k.keeper) AS rep
         |  FROM keep k LEFT JOIN labels l ON l.doc_id = k.keeper),
         |sp AS (SELECT doc_id, ${Analytic.splitSql()} AS split FROM documents),
         |j AS (SELECT e.rep, e.doc_id, s.split FROM eff e JOIN sp s ON e.doc_id = s.doc_id),
         |bad AS (SELECT rep FROM j GROUP BY rep HAVING COUNT(DISTINCT split) > 1)
         |SELECT rep, doc_id, split FROM j
         |WHERE rep IN (SELECT rep FROM bad)
         |ORDER BY rep, doc_id""".stripMargin
    })((s, dir) => {
      val d = docs(s, dir)
      val labels = corpusClusterLabels(s, dir)
        .withColumnRenamed("doc_id", "keeper")
      val eff = corpusKeepers(s, dir).join(labels, Seq("keeper"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("keeper")).as("rep"))
      val sp = d.select(col("doc_id"), Analytic.splitColumn().as("split"))
      val j = eff.join(sp, Seq("doc_id"))
      val bad = j.groupBy("rep")
        .agg(countDistinct(col("split")).as("ns"))
        .filter(col("ns") > 1)
        .select("rep")
      j.join(bad, Seq("rep"), "left_semi")
        .select("rep", "doc_id", "split")
        .orderBy("rep", "doc_id")
    }),

    // §2d.32k — LEAKAGE-SAFE split assignment: the FIX for what the
    // audit above detects. Assignment is keyed on each document's
    // leakage UNIT — its near-dup cluster representative, lifted over
    // exact-copy keepers — so a whole cluster (and every byte-copy of
    // its members) lands in ONE split by construction; cross-split
    // leakage is structurally impossible, not merely audited away. The
    // SAME split salt as q_split_assign means singleton documents keep
    // their naive assignment — only documents that would have leaked
    // move (reported as n_moved). Two probes of standing indexes + one
    // split rollup; zero pair joins.
    Q("q_split_safe", {
      s"""$lshLabelsCtes,
         |normd AS (SELECT doc_id, md5($normSql) AS h FROM documents),
         |keep AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS keeper
         |  FROM normd),
         |eff AS (
         |  SELECT k.doc_id, COALESCE(l.rep, k.keeper) AS anchor
         |  FROM keep k LEFT JOIN labels l ON l.doc_id = k.keeper),
         |a AS (
         |  SELECT e.doc_id, e.anchor, d.n_chars,
         |    ${Analytic.splitSql("anchor")} AS split,
         |    ${Analytic.splitSql("e.doc_id")} AS naive
         |  FROM eff e JOIN documents d ON e.doc_id = d.doc_id)
         |SELECT split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT anchor) AS BIGINT) AS n_units,
         |  CAST(sum(CASE WHEN split <> naive THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM a GROUP BY split ORDER BY split""".stripMargin
    })((s, dir) => {
      val labels = corpusClusterLabels(s, dir)
        .withColumnRenamed("doc_id", "keeper")
      val eff = corpusKeepers(s, dir).join(labels, Seq("keeper"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("keeper")).as("anchor"))
      eff.join(docs(s, dir).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .select(col("doc_id"), col("anchor"), col("n_chars"),
          Analytic.splitColumn("anchor").as("split"),
          Analytic.splitColumn("doc_id").as("naive"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("anchor")).as("n_units"),
          sum(when(col("split") =!= col("naive"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    })
  )

  /** The winnowing postings table (doc_id, fp) as a standing corpus index
    * like [[corpusSigs]]: built once per corpus (stamp-keyed), probed by
    * q_dedup_winnow's three consumers and by the streaming incremental
    * twin (Docs.winnowAgainstIndex).
    */
  def corpusWinnowPostings(s: SparkSession, dir: String): DataFrame = {
    // per-doc rows: append-refresh unions the new files' fingerprints
    val fam = WinnowFamily
    cachedCorpusTable(s, dir, fam.name, s"$WinnowK|$WinnowW",
      incr = (old, newDocs) => old.unionByName(fam.counts(newDocs)))(
      fam.counts(Tables.spread(Tables.load(s, dir, "documents"))))
  }

  /** (doc_id, fp) — per-doc winnowing fingerprints as a ROW family
    * (WinnowFps emits per-doc-DISTINCT fps, so doc-disjoint batches make
    * the key-distinct union a no-op merge): the same streaming maintainer
    * that keeps the count families current keeps the winnow postings
    * current (Docs.maintainCountsIndex + TextAnalysis.countsTable). The
    * df cap of this family is applied at PROBE time
    * (Docs.winnowAgainstIndex counts df over the table), so the stored
    * rows are uncapped and purely additive — no tombstone economy needed.
    */
  val WinnowFamily: TextAnalysis.CountFamily = TextAnalysis.CountFamily(
    "winnow", Seq("doc_id", "fp"), Seq.empty,
    d => winnowFingerprints(d)
      .select(col("doc_id"), explode(col("fps")).as("fp")))

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    * MOSS algorithm): hash every k-word gram, keep the minimum hash of
    * each sliding window of `w` consecutive gram hashes. The selected set
    * is tiny (expected 2/(w+1) of positions) yet GUARANTEES that any two
    * documents sharing a run of ≥ w+k-1 words share at least one
    * fingerprint — the detection floor MinHash (whole-doc similarity) and
    * SimHash (global token bag) do not offer. Hashes compare as
    * fixed-width hex strings: lexicographic min ≡ numeric min, identical
    * cross-engine.
    */
  def winnowFingerprints(docs: DataFrame, textCol: String = "text",
                         k: Int = WinnowK, w: Int = WinnowW): DataFrame =
    // ONE native expression (functions/TextSketchOps.scala), not a chain
    // of higher-order functions: the composed wordNgrams → transform(md5)
    // → arrays_zip/least form evaluated interpreted AND CollapseProject
    // inlined its whole subtree into every downstream slice/size
    // reference — 92 copies of the md5 chain in the optimized plan,
    // 30-60 s at sf0.1 for a 5000-doc corpus (SURVEY §7d scale lesson).
    // WinnowFps evaluates once per reference by construction, stays in
    // whole-stage codegen, and needs no localCheckpoint barrier — so the
    // STREAMING twin can share it verbatim (no barrier = stream-safe).
    docs.withColumn("fps",
      graft.functions.WinnowFps.winnowFps(
        split(normText(col(textCol)), " "), k, w))

  /** Integer-micros PageRank over an undirected pair graph (doc_a, doc_b):
    * ranks start at 1,000,000 and each round redistributes share = rank
    * div degree along every edge with damping 0.85 (×85 div 100 AFTER the
    * sum, so rounding order is deterministic cross-engine). Returns
    * (node, r) for every node that appears in a pair.
    */
  def pageRank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val init = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    (1 to iters).foldLeft(init) { (r, _) =>
      edges.join(deg, "src")
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("r div deg").as("share"))
        .groupBy("dst")
        .agg(sum(col("share")).as("in_share"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("in_share * 85 div 100")).as("r"))
    }
  }
}
