package graft.operators

import graft.{Q, Tables}
import graft.index.StandingIndex
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2d items 35-37 — similarity search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Scale design: the query set is tiny and broadcast; the corpus is scanned
  * once. Dot products are fixed-order left folds over zipped arrays
  * (`aggregate`/`zip_with` — codegen'd, no UDF), each float promoted to
  * double *before* the multiply so both engines run the identical IEEE op
  * sequence. Top-k per query is a bounded window, never a global sort of
  * the corpus.
  */
object Similarity {

  private def emb(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorOps.register(s)
    Tables.load(s, dir, "embeddings")
  }

  /** Fixed-order dot product via the codegen'd native expression
    * ([[graft.functions.VecDot]]) — identical fold semantics to the SQL/
    * DuckDB formulation, but a primitive loop inside whole-stage codegen.
    */
  private def dotExpr(a: String, b: String): String = s"vec_dot($a, $b)"

  /** Same fold in DuckDB (list_reduce folds left-to-right). */
  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
       |(acc, v) -> acc + v)""".stripMargin.replace("\n", " ")

  private def norm(v: String): String = s"sqrt(${dotExpr(v, v)})"
  private def duckNorm(v: String): String = s"sqrt(${duckDot(v, v)})"

  /** Unit-normalized embeddings (vec_id, label, unit) — the shared front
    * half of the label-centroid queries.
    */
  private def unitVecs(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), col("label"),
      expr(s"transform(embedding, x -> CAST(x AS DOUBLE) / ${norm("embedding")})")
        .as("unit"))

  /** Exact integer label centroids (label, cvec): per-component
    * floor-micros BEFORE the per-label LONG sum — associative, so any
    * partition/fold order gives identical bits — reassembled in component
    * order. The sum vector stands in for the mean (cosine needs only
    * direction). ONE definition shared by q_embed_cohesion and
    * q_label_affinity so the exactness trick can never drift between
    * them; SQL mirror: [[labelCentroidCtes]].
    */
  private def labelCentroids(u: DataFrame): DataFrame =
    u.select(col("label"), posexplode(col("unit")).as(Seq("i", "x")))
      .select(col("label"), col("i"),
        floor(col("x") * lit(1000000L)).cast("long").as("m"))
      .groupBy("label", "i").agg(sum(col("m")).as("sm"))
      .groupBy("label")
      .agg(expr(
        "transform(array_sort(collect_list(struct(i, sm))), p -> CAST(p.sm AS DOUBLE))")
        .as("cvec"))

  /** DuckDB mirror of [[unitVecs]] + [[labelCentroids]]: CTEs `u`
    * (vec_id, label, unit) and `cent` (label, cvec). Embed as
    * `WITH $labelCentroidCtes, ...`.
    */
  private def labelCentroidCtes: String =
    s"""u AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / ${duckNorm("embedding")}) AS unit
       |  FROM embeddings),
       |comp AS (
       |  SELECT label, i,
       |    CAST(sum(CAST(floor(unit[i] * 1000000) AS BIGINT)) AS BIGINT) AS sm
       |  FROM u, UNNEST(range(1, 65)) AS t(i) GROUP BY label, i),
       |cent AS (
       |  SELECT label, list(CAST(sm AS DOUBLE) ORDER BY i) AS cvec
       |  FROM comp GROUP BY label)""".stripMargin

  val NumQueries = 5
  val TopK = 10
  val HardK = 5 // hard negatives mined per anchor (q_hard_negatives)

  /** Deterministic pseudo-random ±1 hyperplane components: component i of
    * plane j follows the first md5 hex digit of "j:i" — no RNG, identical
    * across runs and engines.
    */
  def planeSigns(j: Int): Seq[Double] = (0 until 64).map { i =>
    val bit = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 1), 16) % 2
    if (bit == 1) 1.0 else -1.0
  }

  /** Spherical k-means centroids over unit vectors (cols: vec_id,
    * unit: array<double>): deterministic init from the first k vectors by
    * vec_id, then `iters` Lloyd rounds — assign every vector to its
    * max-dot centroid (≡ nearest on the sphere), recompute each centroid
    * as the renormalized mean of its members. Returns (cell INT,
    * cvec array<double>).
    *
    * Scale shape: assignment is a broadcast of k centroids against one
    * corpus scan (same plan the IVF query uses); the update aggregates
    * k×dim partial sums map-side. Only the k×dim centroid matrix — model
    * state, not data — ever reaches the driver, so the iteration cost is
    * `iters` linear passes.
    */
  def kmeansCentroids(unitized: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = unitized.sparkSession
    def centDf(c: Array[Array[Double]]): DataFrame = {
      val rows = c.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i, v.toSeq)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("cvec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false)))))
    }
    // the corpus is re-scanned once per Lloyd round (+ the init read):
    // materialize the normalized vectors once instead of recomputing the
    // parquet scan + per-element divide every round
    val cached = unitized.persist()
    var cents: Array[Array[Double]] = cached.orderBy("vec_id").limit(k)
      .select(col("unit")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, "kmeansCentroids: empty input")
    // dimensionality comes from the data, not a constant — the doc promises
    // generic unit vectors
    val dim = cents(0).length
    for (_ <- 0 until iters) {
      val assigned = cached.crossJoin(broadcast(centDf(cents)))
        .withColumn("cdot", expr(dotExpr("unit", "cvec")))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cdot"), col("cell"))).as("m"),
          first(col("unit")).as("unit"))
        .select(col("m.cell").as("cell"), col("unit"))
      val sums = assigned
        .select(col("cell"), posexplode(col("unit")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("sx"))
        .collect() // k×dim partial sums — model state, tiny
      val next = cents.map(_.clone())
      sums.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
        val mean = new Array[Double](dim)
        rows.foreach(r => mean(r.getInt(1)) = r.getDouble(2))
        val n = math.sqrt(mean.map(x => x * x).sum)
        if (n > 0) next(cell) = mean.map(_ / n) // renormalized member mean
        // empty cells keep their previous centroid
      }
      cents = next
    }
    cached.unpersist(blocking = false)
    centDf(cents)
  }

  val IvfK = 16
  val IvfNprobe = 4
  val IvfIters = 3

  /** IVF index BUILD — the expensive phase, run once per corpus, never per
    * query: spherical-k-means training (k corpus passes × iters), vector
    * assignment, and the two index tables written as parquet via the
    * Export sink:
    *   `<root>/centroids`: (cell INT, cvec ARRAY<DOUBLE>) — k rows;
    *   `<root>/lists`:     (c_id, ce ARRAY<DOUBLE> unit vector, cell) —
    *                       the inverted file, one row per corpus vector.
    * At 100 TB this is the offline indexing job; queries (q_knn_ivf) only
    * READ the tables. Returns the index root; skips the build when the
    * index already exists (parquet _SUCCESS marker).
    */
  /** (vec_id, unit) — unit-normalized vectors of any (vec_id, embedding)
    * frame; the shared front half of every build/assign/encode path.
    */
  private[graft] def unitizeVecs(d: DataFrame): DataFrame =
    d.select(col("vec_id"),
      expr(s"transform(embedding, x -> CAST(x AS DOUBLE) / ${norm("embedding")})")
        .as("unit"))

  /** FROZEN-centroid IVF assignment — each vector joins its argmax-dot
    * cell (deterministic tie: highest cell wins via the max-struct).
    * Model state is an argument, never retrained here: the batch
    * append-refresh and the streaming assigner
    * ([[graft.streaming.Docs.maintainIvfIndex]]) share this exact
    * function, so maintained ≡ append-refresh by construction.
    */
  private[graft] def ivfAssign(u: DataFrame, cents: DataFrame): DataFrame =
    u.crossJoin(broadcast(cents))
      .withColumn("cdot", expr(dotExpr("unit", "cvec")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cdot"), col("cell"))).as("m"),
        first(col("unit")).as("unit"))
      .select(col("vec_id").as("c_id"), col("unit").as("ce"),
        col("m.cell").as("cell"))

  def buildIvfIndex(s: SparkSession, dir: String, k: Int = IvfK,
                    iters: Int = IvfIters): String = synchronized {
    graft.functions.VectorOps.register(s)
    // append-refresh: centroids are MODEL STATE frozen at train time —
    // retraining on every append would shift every assignment and
    // invalidate the whole inverted file, so (like every production IVF)
    // a grown corpus keeps the predecessor's centroids and only assigns
    // the NEW files' vectors against them, appending their list rows.
    // The staleness trade is explicit: recall on appended vectors is
    // bounded by how well the frozen centroids still cover the
    // distribution (SimilaritySpec pins the bound on a half-then-append
    // build); rebuild cold when the appended fraction grows large by
    // deleting the index dirs (or bumping params).
    StandingIndex.stampedBuild(s, dir, "ivf", "embeddings", s"$k|$iters",
        marker = "lists/_SUCCESS")(
      cold = seedIvfIndex(s, dir, _, k, iters),
      grow = Some { (tmp, predRoot, newPaths) =>
        val cents = s.read.parquet(s"$predRoot/centroids")
        val newLists = ivfAssign(
          unitizeVecs(Tables.spread(s.read.parquet(newPaths: _*))), cents)
        graft.sources.Export.flush(cents, s"$tmp/centroids")
        graft.sources.Export.flush(
          s.read.parquet(s"$predRoot/lists").unionByName(newLists),
          s"$tmp/lists")
      })
  }

  val PqM = 8        // subvectors per vector
  val PqK = 16       // codes per subvector codebook
  val PqIters = 2    // Lloyd rounds for codebook training
  val PqRerank = 50  // ADC candidates kept for exact rescoring

  /** Squared-L2 between two double arrays as a codegen'd higher-order
    * expression (zip_with + aggregate — no UDF).
    */
  private def l2Expr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"

  /** Product-quantization codebooks, all `m` trained JOINTLY: the corpus's
    * unit vectors are exploded into (vec_id, sub, sv) subvector rows once,
    * and every Lloyd round assigns all m×k cells in the same corpus pass
    * (broadcast codebook equi-joined on sub, min-(dist, code) struct for a
    * deterministic argmin) and recomputes means per (sub, code, dim) —
    * m separate trainings would cost m× the passes for identical results.
    * Only the m·k·subdim codebook (model state, ~1k doubles) reaches the
    * driver. Empty cells keep their previous centroid.
    */
  def pqCodebooks(subvecs: DataFrame, m: Int, k: Int, iters: Int): DataFrame = {
    val spark = subvecs.sparkSession
    def cbDf(c: Map[(Int, Int), Seq[Double]]): DataFrame = {
      val rows = c.toSeq.sortBy(x => (x._1._1, x._1._2)).map { case ((s0, c0), v) =>
        org.apache.spark.sql.Row(s0, c0, v)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sub",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("code",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("cvec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false)))))
    }
    val cached = subvecs.persist()
    // deterministic init: the k SMALLEST vec_ids seed codes 0..k-1 —
    // rank-based, not `vec_id < k`, which silently trained a codebook
    // with fewer than k codes whenever ids were sparse or offset (and
    // none at all for ids starting past k). Identical seeds for the
    // dense-from-0 corpora every existing index was built from.
    val seedRank: Map[Long, Int] = cached.select("vec_id").distinct()
      .orderBy("vec_id").limit(k).collect()
      .map(_.getLong(0)).zipWithIndex.toMap
    var cb: Map[(Int, Int), Seq[Double]] =
      cached.filter(col("vec_id").isin(seedRank.keys.toSeq: _*))
        .collect()
        .map(r => (r.getAs[Int]("sub"),
          seedRank(r.getAs[Long]("vec_id"))) ->
          r.getSeq[Double](r.fieldIndex("sv")))
        .toMap
    require(cb.nonEmpty, "pqCodebooks: empty input")
    for (_ <- 0 until iters) {
      val assigned = cached.join(broadcast(cbDf(cb)), "sub")
        .withColumn("dist", expr(l2Expr("sv", "cvec")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("code"))).as("mn"),
          first(col("sv")).as("sv"))
      val means = assigned
        .select(col("sub"), col("mn.code").as("code"),
          posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy(col("sub"), col("code"), col("i"))
        .agg(avg(col("x")).as("mx"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rs) =>
          key -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      cb = cb ++ means // empty cells keep their previous centroid
    }
    cached.unpersist(blocking = false)
    cbDf(cb)
  }

  /** (vec_id, sub, sv) — the m subvectors of each unit-normalized vector. */
  private[graft] def pqSubvecs(d: DataFrame): DataFrame = {
    val sub = 64 / PqM
    unitizeVecs(d).select(col("vec_id"),
      posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> slice(unit, j * $sub + 1, $sub))"))
        .as(Seq("sub", "sv")))
  }

  /** FROZEN-codebook PQ encoding — each subvector takes its argmin-L2
    * code (deterministic tie: lowest code). Shared by the batch
    * append-refresh and the streaming encoder
    * ([[graft.streaming.Docs.maintainPqIndex]]), same frozen-model rule
    * as [[ivfAssign]].
    */
  private[graft] def pqEncode(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), "sub")
      .withColumn("dist", expr(l2Expr("sv", "cvec")))
      .groupBy(col("vec_id").as("c_id"), col("sub"))
      .agg(min(struct(col("dist"), col("code"))).as("mn"))
      .select(col("c_id"), col("sub"), col("mn.code").as("code"))

  /** PQ index BUILD — the 100 TB ANN *memory* path: each corpus vector is
    * stored as m small codes instead of dim floats (here 8 codes ≈ 16×
    * smaller than 64 float32s), so the searchable corpus fits in a
    * fraction of the footprint and ADC search touches only code tables.
    * Writes:
    *   `<root>/codebook`: (sub, code, cvec ARRAY<DOUBLE>) — m·k rows;
    *   `<root>/codes`:    (c_id, sub, code) — the encoded corpus, long
    *                      format so ADC stays a pure equi-join (a packed
    *                      byte-array column is the production layout; the
    *                      join shape is identical).
    * Run once per corpus; queries only read. Skips when already built.
    */
  def buildPqIndex(s: SparkSession, dir: String): String = synchronized {
    graft.functions.VectorOps.register(s)
    // append-refresh mirrors the IVF rule: the codebook is frozen model
    // state (retrained codes would re-encode the whole corpus), a grown
    // corpus encodes only the NEW files' vectors against it and appends
    // their code rows; ADC quality on appended vectors carries the same
    // explicit staleness trade (spec-pinned).
    StandingIndex.stampedBuild(s, dir, "pq", "embeddings",
        s"$PqM|$PqK|$PqIters", marker = "codes/_SUCCESS")(
      cold = seedPqIndex(s, dir, _),
      grow = Some { (tmp, predRoot, newPaths) =>
        val cb = s.read.parquet(s"$predRoot/codebook")
        graft.sources.Export.flush(cb, s"$tmp/codebook")
        graft.sources.Export.flush(
          s.read.parquet(s"$predRoot/codes").unionByName(
            pqEncode(pqSubvecs(Tables.spread(s.read.parquet(newPaths: _*))),
              cb)),
          s"$tmp/codes")
      })
  }

  /** Seed a MAINTAINABLE IVF root from the corpus-so-far: centroids
    * trained here become the root's FROZEN model state, the corpus's
    * inverted-file rows its static base — the vector counterpart of
    * TextAnalysis.seedCountsIndex, and the cold body of [[buildIvfIndex]]. A maintainer
    * ([[graft.streaming.Docs.maintainIvfIndex]]) then assigns arriving
    * vectors against the frozen centroids, exactly the batch
    * append-refresh rule.
    */
  def seedIvfIndex(s: SparkSession, dir: String, root: String,
                   k: Int = IvfK, iters: Int = IvfIters): Unit = {
    graft.functions.VectorOps.register(s)
    val unitized = unitizeVecs(emb(s, dir))
    val cents = kmeansCentroids(unitized, k, iters)
    graft.sources.Export.flush(cents, s"$root/centroids")
    graft.sources.Export.flush(ivfAssign(unitized, cents), s"$root/lists")
  }

  /** Seed a MAINTAINABLE PQ root: codebook = frozen model state,
    * corpus codes = static base (see [[seedIvfIndex]]).
    */
  def seedPqIndex(s: SparkSession, dir: String, root: String): Unit = {
    graft.functions.VectorOps.register(s)
    val subvecs = pqSubvecs(emb(s, dir))
    val cb = pqCodebooks(subvecs, PqM, PqK, PqIters).persist()
    graft.sources.Export.flush(cb, s"$root/codebook")
    graft.sources.Export.flush(pqEncode(subvecs, cb), s"$root/codes")
    cb.unpersist(blocking = false): Unit
  }

  /** The live inverted file of a maintainable IVF root: the static base
    * lists plus every maintained part — a plain union (list rows are
    * per-vector, batches vec-disjoint by the maintainer's `_ids` fence).
    * None when neither side exists.
    */
  def ivfListsTable(s: SparkSession, root: String): Option[DataFrame] =
    StandingIndex.maintainedRows(s, root, "lists", Seq("c_id", "ce", "cell"))

  /** The live code table of a maintainable PQ root (the same union). */
  def pqCodesTable(s: SparkSession, root: String): Option[DataFrame] =
    StandingIndex.maintainedRows(s, root, "codes", Seq("c_id", "sub", "code"))

  /** The RE-SEED TRIGGER for a maintained IVF root — the measurable half
    * of the frozen-model staleness trade: per cohort (the static `base`
    * vs the `maintained` streamed parts), the count, mean and p10 of
    * each listed vector's fit to its OWN centroid (best-cell cosine —
    * the quantity IVF recall degrades through). A maintained cohort
    * whose fit sits well below the base's means the frozen centroids no
    * longer cover the arriving distribution: re-seed (retrain) the root
    * and re-assign. One scan of the lists + a broadcast of k centroids;
    * no pairwise work, so it can run on every maintenance shift.
    * NOTE: unlike every query here that says "percentile", p10_fit is
    * APPROXIMATE (`percentile_approx`) — a monitoring threshold, not an
    * oracle-checked statistic, so the sketch's error is the right trade
    * for a scan that runs every shift.
    */
  def ivfDriftStats(s: SparkSession, root: String): DataFrame = {
    graft.functions.VectorOps.register(s)
    val cents = s.read.parquet(s"$root/centroids")
    def fit(lists: DataFrame, origin: String): DataFrame =
      lists.join(broadcast(cents), "cell")
        .withColumn("fit", expr(dotExpr("ce", "cvec")))
        .groupBy(lit(origin).as("origin"))
        .agg(count(lit(1)).as("n_vectors"),
          avg(col("fit")).as("mean_fit"),
          expr("percentile_approx(fit, 0.1)").as("p10_fit"))
    val (base, maintained) = StandingIndex.maintainedParts(s, root, "lists",
      Seq("c_id", "ce", "cell"))
    val parts = Seq(base.map(fit(_, "base")),
      maintained.map(fit(_, "maintained"))).flatten
    require(parts.nonEmpty, s"no IVF lists at $root")
    parts.reduce(_.unionByName(_))
  }

  /** RE-SEED a drifted IVF root INTO A FRESH ROOT — the actuator behind
    * [[ivfDriftStats]], and the closing move of the frozen-model trade:
    * the inverted lists already store each vector AS its unit vector, so
    * retraining reads the index itself (base + maintained parts), never
    * the original corpus — at 100 TB that is the difference between a
    * k-means over the (already unitized, already columnar) lists and a
    * full embedding-table re-scan + re-normalize. Centroids retrain over
    * EVERYTHING listed so far, every vector re-assigns, and the result
    * lands in `newRoot` under the immutable-dir rule: an incomplete new
    * root is simply unused, readers/maintainers switch by path flip, the
    * old root serves until retired. Run with the old root's maintainer
    * stopped (a part landing after the lists read would be left behind —
    * the compaction rule). PQ has no such shortcut (codes cannot
    * reconstruct vectors): re-seed PQ from the corpus via [[seedPqIndex]].
    */
  def reseedIvfIndex(s: SparkSession, oldRoot: String, newRoot: String,
                     k: Int = IvfK, iters: Int = IvfIters): Unit = {
    graft.functions.VectorOps.register(s)
    val lists = ivfListsTable(s, oldRoot).getOrElse(
      throw new IllegalStateException(s"no IVF lists at $oldRoot"))
    val unitized = lists.select(col("c_id").as("vec_id"), col("ce").as("unit"))
    val cents = kmeansCentroids(unitized, k, iters)
    graft.sources.Export.flush(cents, s"$newRoot/centroids")
    graft.sources.Export.flush(ivfAssign(unitized, cents), s"$newRoot/lists")
    // CARRY THE EXACTLY-ONCE FENCE (the compactCountsIndex rule): the
    // documented restart is a maintainer with a FRESH checkpoint, which
    // may re-feed the whole source — without a fence every vector just
    // folded into the new base would re-index under lists_m and surface
    // at duplicate ranks in every search. The lists store each vector's
    // id, so the new root fences its ENTIRE base (strictly stronger
    // than carrying the old batch fences): one compact fence batch of
    // zero list rows + all base vec_ids, published atomically.
    val newLists = s.read.parquet(s"$newRoot/lists")
    StandingIndex.publishPart(s"$newRoot/lists_m",
      s"reseed_${java.util.UUID.randomUUID.toString.take(8)}",
      Seq("" -> newLists.limit(0)),
      newLists.select(col("c_id").as("vec_id")).distinct())
  }

  /** The drift-policy LOOP closed into one call — what a deployment
    * previously wrote itself around the detector ([[ivfDriftStats]]) and
    * the actuator ([[reseedIvfIndex]]):
    *
    *   1. THRESHOLD: read the drift stats (one lists scan + a broadcast
    *      of k centroids). No re-seed unless the maintained cohort has at
    *      least `minMaintained` vectors (small cohorts are noise, and a
    *      fresh root re-pays the retrain for nothing) AND its mean fit
    *      fell below `maxFitRatio` × the base cohort's mean fit — the
    *      ratio form keeps the policy corpus-independent (absolute fit
    *      depends on the data's cluster tightness).
    *   2. STOP the maintainer BEFORE the lists read that retrains (a
    *      part published after the read would be left behind — the
    *      compaction rule every maintained family shares).
    *   3. RE-SEED into a fresh token-named sibling root (never in place:
    *      immutable-dir rule — an incomplete new root is simply unused,
    *      and concurrent readers keep serving from the old root).
    *   4. PATH FLIP: the returned root IS the flip — the caller hands it
    *      to readers ([[ivfListsTable]]/[[ivfSearch]]) and restarts a
    *      maintainer against it with a FRESH checkpoint (the old
    *      checkpoint's offsets describe the old root's parts; its
    *      vectors are already folded into the new root's base).
    *   5. RETIRE: with `retireOldRoot` the old root is deleted after the
    *      new one is fully written — only safe once no reader is pinned
    *      to the old path (single-driver deployments; fleets retire by
    *      retention, like vacuum).
    *
    * Returns the root now serving: the old root untouched (maintainer
    * still running) when the policy does not fire, the fresh root (and a
    * stopped maintainer) when it does. No-drift calls cost one stats
    * scan, so the loop can run every maintenance shift.
    */
  def reseedIvfIfDrifted(s: SparkSession, root: String,
                         maintainer: Option[org.apache.spark.sql.streaming.StreamingQuery] = None,
                         minMaintained: Long = 64L,
                         maxFitRatio: Double = 0.5,
                         k: Int = IvfK, iters: Int = IvfIters,
                         retireOldRoot: Boolean = false): String = {
    val stats = ivfDriftStats(s, root).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val drifted = (for {
      (bn, bFit) <- stats.get("base")
      (mn, mFit) <- stats.get("maintained")
    } yield bn > 0 && mn >= minMaintained && mFit < maxFitRatio * bFit)
      .getOrElse(false)
    if (!drifted) return root
    maintainer.foreach(_.stop())
    // SIBLING of the old root — strip trailing separators first: a
    // root passed as "/x/ivf/" would otherwise nest the fresh root
    // INSIDE the old one, and retirement would recursively delete the
    // index it just built
    val base = root.reverse.dropWhile(_ == '/').reverse
    val fresh = s"${base}_r${java.util.UUID.randomUUID.toString.take(8)}"
    reseedIvfIndex(s, root, fresh, k, iters)
    if (retireOldRoot) {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(Tables.hadoopConf(s)).delete(p, true): Unit
    }
    fresh
  }

  /** Re-seed a drifted PQ root from the CORPUS, into a fresh root —
    * [[reseedIvfIndex]]'s symmetric move for the memory path, with the
    * one asymmetry made explicit in the signature: PQ codes cannot
    * reconstruct vectors (that is the whole memory trade), so the
    * retrain must re-read the embedding table (`dir`) instead of the
    * index itself. Same lifecycle otherwise: run with the old root's
    * maintainer stopped, flip readers/maintainers to `newRoot` (fresh
    * checkpoint), retire the old root by retention. Trigger:
    * [[pqDriftStats]] over a recent cohort vs a base sample.
    */
  def reseedPqIndex(s: SparkSession, dir: String, newRoot: String): Unit =
    seedPqIndex(s, dir, newRoot)

  /** [[ivfDriftStats]]'s memory-path twin — the PQ re-seed trigger. PQ
    * codes store no original vectors (that is the point), so drift is
    * measured on a cohort the CALLER supplies (the latest arrivals, or
    * a base-corpus sample for the reference band): per vector, the
    * total squared quantization error of its best-code assignment under
    * the root's frozen codebook. One row out (n_vectors, mean_err,
    * p90_err); a recent cohort whose error sits well above the base
    * sample's means the codebook stopped covering the distribution —
    * re-seed and re-encode. Cost: one encode-shaped pass over the
    * cohort + a broadcast of the m·k codebook. p90_err is APPROXIMATE
    * (`percentile_approx`), the same monitor-not-oracle trade as
    * [[ivfDriftStats]]'s p10_fit.
    */
  def pqDriftStats(s: SparkSession, root: String,
                   vecs: DataFrame): DataFrame = {
    graft.functions.VectorOps.register(s)
    val cb = s.read.parquet(s"$root/codebook")
    pqSubvecs(vecs).join(broadcast(cb), "sub")
      .withColumn("dist", expr(l2Expr("sv", "cvec")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("dist")).as("d"))
      .groupBy("vec_id").agg(sum(col("d")).as("err"))
      .agg(count(lit(1)).as("n_vectors"),
        avg(col("err")).as("mean_err"),
        expr("percentile_approx(err, 0.9)").as("p90_err"))
  }

  /** IVF search over any (centroids, lists) pair — the q_knn_ivf plan
    * factored so batch indexes and streaming-MAINTAINED roots probe
    * through one definition: nprobe highest-dot cells per query, exact
    * cosine within the probed lists, bounded top-k window.
    */
  def ivfSearch(cents: DataFrame, lists: DataFrame, qs: DataFrame,
                nprobe: Int = IvfNprobe, topK: Int = TopK): DataFrame = {
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("cdot").desc, col("cell"))
    val probes = qs.crossJoin(broadcast(cents))
      .withColumn("cdot", expr(dotExpr("qe", "cvec")))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("qe"), col("cell"))
    val scored = lists.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", expr(dotExpr("qe", "ce")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select("q_id", "c_id", "rn", "cosine")
      .orderBy("q_id", "rn")
  }

  /** Candidate-bucketed embedding near-dup pairs (§2d.35's core): sign-
    * projection buckets sized from parquet footers, exact cosine confirm at
    * τ. τ=0.30 because the synthetic embeddings are near-uniform (max
    * pairwise cosine ≈0.48) — a production-style 0.95 would be empty. Plane
    * count targets ~256-vector buckets so within-bucket pair generation
    * stays ~n·256 as the corpus grows; the count comes from footers
    * (driver-side metadata), not a corpus scan.
    */
  /** Smallest p with 2^p buckets averaging ≤ 256 vectors, clamped to
    * [4, 12] — INTEGER arithmetic, not ceil(log2(...)): the oracle
    * reproduces this rule in SQL, and a float log at an exact power of
    * two can ceil differently across engines. The plane count is part of
    * every embedding family's cache params, so growing the corpus across
    * a bucket-count boundary invalidates predecessors automatically (all
    * bucket memberships change — nothing is incrementally reusable).
    */
  def embPlanes(s: SparkSession, dir: String): Int = {
    val n = Tables.footerRowCount(s, Tables.path(dir, "embeddings"))
    math.min(12, math.max(4,
      (0 to 12).find(p => (1L << p) * 256L >= n).getOrElse(12)))
  }

  /** (vec_id, unit, bucket) for `vecs`: normalize ONCE per vector (pair
    * cosine is then a single dot fold), bucket bit j = sign of the fold
    * against hyperplane j's md5-derived ±1 components.
    */
  private[graft] def unitBuckets(s: SparkSession, vecs: DataFrame,
                          planes: Int): DataFrame = {
    graft.functions.VectorOps.register(s)
    val unitized = vecs.select(col("vec_id"),
      expr(s"transform(embedding, x -> CAST(x AS DOUBLE) / ${norm("embedding")})")
        .as("unit"))
    val bucketBits = (0 until planes).map { j =>
      // "D" suffix: bare 1.0 literals parse as DECIMAL(2,1) in Spark SQL
      val planeArr = s"array(${Similarity.planeSigns(j).map(v => s"${v}D").mkString(",")})"
      when(expr(s"vec_dot(unit, $planeArr)") >= 0, lit("1")).otherwise(lit("0"))
    }
    unitized.select(col("vec_id"), col("unit"),
      concat(bucketBits: _*).as("bucket"))
  }

  /** Standing (vec_id, unit, bucket) table — the bucketing layer of the
    * embedding dedup ladder, append-refreshed: bucket membership of a
    * standing vector never changes under append (planes are keyed into
    * the params), so new files' vectors just union in.
    */
  def corpusEmbedBuckets(s: SparkSession, dir: String): DataFrame = {
    val planes = embPlanes(s, dir)
    StandingIndex.cachedCorpusTable(s, dir, "embbuckets", s"p$planes",
      table = "embeddings",
      incr = (old, newVecs) =>
        old.unionByName(unitBuckets(s, newVecs, planes)))(
      unitBuckets(s, emb(s, dir), planes))
  }

  def embedNearDupPairs(s: SparkSession, dir: String,
                        tau: Double = 0.30): DataFrame = {
    val bucketed = unitBuckets(s, emb(s, dir), embPlanes(s, dir))
    val a = bucketed.alias("a"); val b = bucketed.alias("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", expr(dotExpr("a.unit", "b.unit")))
      .filter(col("cosine") >= tau)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
  }

  /** Persisted (vec_a, vec_b, cosine) near-dup pair table — build-once/
    * probe-many (stamp-keyed on the embeddings files), the same
    * standing-index design as [[Dedup.corpusSigs]]: hyperplane bucketing +
    * exact-cosine verification is deterministic ingestion work, not
    * per-analysis work. Both embedding near-dup queries probe it.
    *
    * Append-refresh: with the plane count unchanged (params-keyed), the
    * pair set is append-MONOTONE — standing buckets never lose members,
    * so the grown pairs are exactly oldPairs ∪ (pairs touching a new
    * vector). The refresh probes the standing bucket table for the new
    * vectors' buckets and pays one bucket equi-join sized by the new
    * side; the element-wise dot is order-symmetric (same ascending fold),
    * so the cosine is bit-identical whichever side is the probe.
    */
  def corpusEmbedPairs(s: SparkSession, dir: String): DataFrame = {
    val planes = embPlanes(s, dir)
    StandingIndex.cachedCorpusTable(s, dir, "embpairs", s"tau0.30|p$planes",
      table = "embeddings",
      incr = (oldPairs, newVecs) => {
        val buckets = corpusEmbedBuckets(s, dir)
        val newIds = newVecs.select("vec_id").distinct()
        val nk = buckets.join(newIds, Seq("vec_id"), "left_semi")
        val np = nk.alias("a").join(buckets.alias("b"),
            col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .withColumn("cosine", expr(dotExpr("a.unit", "b.unit")))
          .filter(col("cosine") >= lit(0.30))
          .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
            greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
            col("cosine"))
          .distinct()
        oldPairs.unionByName(np)
      })(
      embedNearDupPairs(s, dir))
  }

  /** Persisted semantic-dedup cluster labels (doc_id, rep) over
    * [[corpusEmbedPairs]] — the embedding face of the MinHash cluster
    * labels, with the same incremental-seeding refresh (see the embcc
    * call site for why no ascending-id check is needed here).
    */
  def embClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val planes = embPlanes(s, dir)
    StandingIndex.cachedCorpusTable(s, dir, "embcc", s"tau0.30|cc|p$planes",
      table = "embeddings",
      incr = (oldLabels, newVecs) => {
        val pairs = corpusEmbedPairs(s, dir)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        val newIds = newVecs.select(col("vec_id")).distinct()
        val touching = pairs
          .join(newIds.withColumnRenamed("vec_id", "doc_a"),
            Seq("doc_a"), "left_semi")
          .unionByName(pairs
            .join(newIds.withColumnRenamed("vec_id", "doc_b"),
              Seq("doc_b"), "left_semi"))
          .distinct()
        Dedup.connectedComponents(
          oldLabels.select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
            .unionByName(touching))
      })(
      Dedup.connectedComponents(corpusEmbedPairs(s, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
  }

  /** DuckDB CTE chain reproducing [[embedNearDupPairs]] BIT-for-bit,
    * ending in `nd(vec_a, vec_b, cos_micros)`: the integer plane-count
    * rule, md5-derived ±1 plane components (same "j:i" keys), unit
    * vectors via the same left-to-right dot fold VecDot runs, bucket
    * string, in-bucket pair cosine, τ filter. Every float op happens in
    * the same order on both engines, so the τ boundary and the floored
    * micros agree exactly — this is what turned the embedding dedup pair
    * from rows-only into hash-checked.
    */
  private def embedPairsCtes: String = {
    val signExpr = "CASE WHEN CAST('0x' || substr(md5(CAST(j AS VARCHAR) " +
      "|| ':' || CAST(i - 1 AS VARCHAR)), 1, 1) AS INT) % 2 = 1 " +
      "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
    s"""params AS (
       |  SELECT least(12, greatest(4, coalesce((
       |    SELECT min(p) FROM (SELECT UNNEST(range(0, 13)) AS p)
       |    WHERE (1 << p) * 256 >= (SELECT count(*) FROM embeddings)), 12))) AS np),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / ${duckNorm("embedding")}) AS unit
       |  FROM embeddings),
       |bits AS (
       |  SELECT vec_id, j,
       |    CASE WHEN list_reduce(list_transform(range(1, 65),
       |      i -> unit[i] * $signExpr), (acc, v) -> acc + v) >= 0
       |    THEN '1' ELSE '0' END AS bit
       |  FROM u, UNNEST(range(0, (SELECT np FROM params))) AS t(j)),
       |bk AS (
       |  SELECT vec_id, string_agg(bit, '' ORDER BY j) AS bucket
       |  FROM bits GROUP BY vec_id),
       |bu AS (SELECT bk.vec_id, bk.bucket, u.unit FROM bk JOIN u USING (vec_id)),
       |cand AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    list_reduce(list_transform(range(1, 65), i -> a.unit[i] * b.unit[i]),
       |      (acc, v) -> acc + v) AS cosine
       |  FROM bu a JOIN bu b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |nd AS (
       |  SELECT vec_a, vec_b, CAST(floor(cosine * 1000000) AS BIGINT) AS cos_micros
       |  FROM cand WHERE cosine >= 0.30)""".stripMargin
  }

  val pack: Seq[Q] = Seq(

    // 36. brute-force cosine top-k: broadcast tiny query set × corpus scan,
    // one fused dot product per (query, corpus) pair, windowed top-k.
    Q("q_knn_brute",
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
         |scored AS (
         |  SELECT q_id, c_id,
         |    ${duckDot("qe", "ce")} / (${duckNorm("qe")} * ${duckNorm("ce")}) AS cosine
         |  FROM q, c WHERE q_id <> c_id),
         |ranked AS (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
         |  FROM scored)
         |SELECT q_id, c_id, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= $TopK
         |ORDER BY q_id, rn""".stripMargin)(
      (s, dir) => {
        val q = emb(s, dir).filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val c = emb(s, dir)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
          // fused single-pass cosine (VecCosine): one array traversal for
          // dot + both norms, bit-identical to the composed three-vec_dot
          // form the oracle expresses — see functions/VectorOps.scala
          .withColumn("cosine", expr("vec_cosine(qe, ce)"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= TopK)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // 36b. HARD-NEGATIVE MINING — the contrastive-training companion of
    // q_knn_brute: for each anchor, the top-5 most-similar vectors with a
    // DIFFERENT label (the "closest impostors" an embedding model trains
    // against). Identical scale shape: broadcast anchors × one corpus
    // scan, fused VecCosine, per-anchor top-k window over the tiny scored
    // slice; the label inequality rides the join condition, so same-label
    // candidates never reach scoring. Rank output (not the float) keeps
    // it hash-checkable.
    Q("q_hard_negatives",
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS qe, label AS ql
         |  FROM embeddings WHERE vec_id < $NumQueries),
         |c AS (SELECT vec_id AS c_id, embedding AS ce, label AS cl FROM embeddings),
         |scored AS (
         |  SELECT q_id, c_id,
         |    ${duckDot("qe", "ce")} / (${duckNorm("qe")} * ${duckNorm("ce")}) AS cosine
         |  FROM q, c WHERE ql <> cl),
         |ranked AS (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
         |  FROM scored)
         |SELECT q_id, c_id, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= $HardK
         |ORDER BY q_id, rn""".stripMargin)(
      (s, dir) => {
        val q = emb(s, dir).filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
            col("label").as("ql"))
        val c = emb(s, dir)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
            col("label").as("cl"))
        val scored = c.join(broadcast(q), col("ql") =!= col("cl"))
          .withColumn("cosine", expr("vec_cosine(qe, ce)"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cosine").desc, col("c_id"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= HardK)
          .select("q_id", "c_id", "rn")
          .orderBy("q_id", "rn")
      }),

    // 35. embedding cosine near-dup — HASH-checked since round 7: both
    // engines run the identical fold order for norms, plane dots and pair
    // cosine (VecDot ≡ left-to-right list_reduce), the plane count is an
    // integer rule, and the emitted similarity is floor-micros — so the τ
    // boundary decision and the output agree bit-for-bit. Bucketing: sign
    // of the dot product against deterministic pseudo-random hyperplanes
    // (md5-derived ±1 components) — candidate pairs share a bucket; exact
    // cosine confirms.
    Q("q_embed_neardup",
      s"""WITH $embedPairsCtes
         |SELECT vec_a, vec_b, cos_micros FROM nd
         |ORDER BY vec_a, vec_b""".stripMargin)(
      (s, dir) => corpusEmbedPairs(s, dir)
        .select(col("vec_a"), col("vec_b"),
          expr("CAST(floor(cosine * 1000000D) AS BIGINT)").as("cos_micros"))
        .orderBy("vec_a", "vec_b")),

    // 35b. semantic-dedup cluster resolution: the embedding analogue of
    // q_dedup_clusters — near-dup pairs feed the same large-star/small-star
    // connected components; min-vec_id representative per cluster. Oracle:
    // the same transitive-closure labels the MinHash clustering oracles
    // use, over the now-hash-exact pair set of 35.
    Q("q_embed_clusters",
      s"""WITH RECURSIVE $embedPairsCtes,
         |edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM nd
         |  UNION SELECT vec_b, vec_a FROM nd),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (
         |  SELECT src AS vec_id, LEAST(src, MIN(dst)) AS rep
         |  FROM reach GROUP BY src)
         |SELECT vec_id, rep, vec_id = rep AS is_rep FROM labels
         |ORDER BY vec_id""".stripMargin)(
      (s, dir) => {
        // labels persist too — the iterative CC is the dominant cost and
        // is the same deterministic ingestion-time work as the pairs.
        // Append-refresh seeds star-contraction with the predecessor's
        // labels (one star edge per clustered vector) plus only pairs
        // touching a new vector — sound because the pair set is
        // append-monotone at a fixed plane count (see corpusEmbedPairs);
        // no ascending-id requirement, unlike the MinHash ladder's
        // doc_id-ordered cap
        val labels = embClusterLabels(s, dir)
        labels
          .select(col("doc_id").as("vec_id"), col("rep"),
            (col("doc_id") === col("rep")).as("is_rep"))
          .orderBy("vec_id")
      }),

    // 37b. IVF-bucketed ANN (rows-only), build/search SPLIT: the index —
    // k-means-trained centroids + inverted lists — is built once per
    // corpus by [[buildIvfIndex]] and persisted as parquet tables; the
    // query only READS it. At 100 TB nobody retrains k-means inside every
    // search: training costs ~k·iters corpus passes, while the search is
    // one tiny probe table (nprobe cells per query, centroids broadcast)
    // semi-joined against the inverted lists. Centroids stay a broadcast
    // TABLE, never codegen literals: literal arrays cap K at what janino
    // will compile, a broadcast side scales to thousands of cells. Recall
    // vs brute force is pinned in SimilaritySpec.
    Q.rowsOnly("q_knn_ivf")(
      (s, dir) => {
        graft.functions.VectorOps.register(s)
        val root = buildIvfIndex(s, dir)
        val cents = s.read.parquet(s"$root/centroids")
        val lists = s.read.parquet(s"$root/lists")
        // queries come from the index itself (unit vectors already stored)
        val qs = lists.filter(col("c_id") < NumQueries)
          .select(col("c_id").as("q_id"), col("ce").as("qe"))
        ivfSearch(cents, lists, qs)
      }),

    // 37c. PQ-compressed ANN (rows-only), build/search split like IVF —
    // the 100 TB MEMORY path: the searchable corpus is (c_id, sub, code)
    // codes (~16× smaller than raw float32 vectors), so ADC scoring never
    // touches an embedding. Search: (1) the query's distance table — its
    // dot contribution against every (sub, code) centroid, m·k tiny rows —
    // broadcasts onto the code table; (2) approximate score = one
    // equi-join + per-(q,c) sum (unit vectors make cosine ≈ Σ_j
    // dot(q_j, centroid(code_j))); (3) the top PqRerank candidates per
    // query get an EXACT cosine rescore against their true vectors before
    // the final top-k — the standard ADC + rerank design. Recall vs brute
    // force is pinned in SimilaritySpec.
    Q.rowsOnly("q_knn_pq")(
      (s, dir) => {
        graft.functions.VectorOps.register(s)
        val root = buildPqIndex(s, dir)
        val cb = s.read.parquet(s"$root/codebook")
        val codes = s.read.parquet(s"$root/codes")
        val sub = 64 / PqM
        val unitized = emb(s, dir).select(col("vec_id"),
          expr(s"transform(embedding, x -> CAST(x AS DOUBLE) / ${norm("embedding")})")
            .as("unit"))
        val qs = unitized.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("unit").as("qe"))
        // distance table: query subvector j · centroid, for all m·k cells
        val dt = qs.crossJoin(broadcast(cb))
          .withColumn("part",
            expr(s"vec_dot(slice(qe, sub * $sub + 1, $sub), cvec)"))
          .select(col("q_id"), col("sub"), col("code"), col("part"))
        val adcW = Window.partitionBy(col("q_id"))
          .orderBy(col("adc").desc, col("c_id"))
        val cands = codes.join(broadcast(dt), Seq("sub", "code"))
          .filter(col("q_id") =!= col("c_id"))
          .groupBy(col("q_id"), col("c_id"))
          .agg(sum(col("part")).as("adc"))
          .withColumn("arn", row_number().over(adcW))
          .filter(col("arn") <= PqRerank)
          .select(col("q_id"), col("c_id"))
        // exact rescore of the shortlist only
        val rescored = cands
          .join(qs, "q_id")
          .join(unitized.select(col("vec_id").as("c_id"), col("unit").as("ce")), "c_id")
          .withColumn("cosine", expr("vec_cosine(qe, ce)"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
        rescored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= TopK)
          .select("q_id", "c_id", "rn", "cosine")
          .orderBy("q_id", "rn")
      }),

    // 37. LSH-bucketed ANN — HASH-checked since round 8 with the same
    // machinery that converted the embedding near-dup pair (35): 4 fixed
    // sign-random-projection planes (md5-derived ±1 components, "j:i"
    // keys reproduced in SQL), unit vectors and every dot as the
    // identical left-to-right fold on both engines (VecDot ≡
    // list_reduce), similarity emitted as floor-micros, (cosine DESC,
    // c_id) rank tiebreak. Search each query only within its bucket —
    // the scale path where brute force would be corpus × queries.
    Q("q_knn_lsh", {
      val signExpr = "CASE WHEN CAST('0x' || substr(md5(CAST(j AS VARCHAR) " +
        "|| ':' || CAST(i - 1 AS VARCHAR)), 1, 1) AS INT) % 2 = 1 " +
        "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
      s"""WITH u AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) / ${duckNorm("embedding")}) AS unit
         |  FROM embeddings),
         |bits AS (
         |  SELECT vec_id, j,
         |    CASE WHEN list_reduce(list_transform(range(1, 65),
         |      i -> unit[i] * $signExpr), (acc, v) -> acc + v) >= 0
         |    THEN '1' ELSE '0' END AS bit
         |  FROM u, UNNEST(range(0, 4)) AS t(j)),
         |bk AS (
         |  SELECT vec_id, string_agg(bit, '' ORDER BY j) AS bucket
         |  FROM bits GROUP BY vec_id),
         |bu AS (SELECT bk.vec_id, bk.bucket, u.unit FROM bk JOIN u USING (vec_id)),
         |scored AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    list_reduce(list_transform(range(1, 65), i -> a.unit[i] * b.unit[i]),
         |      (acc, v) -> acc + v) AS cosine
         |  FROM bu a JOIN bu b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < $NumQueries),
         |ranked AS (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
         |  FROM scored)
         |SELECT q_id, c_id, CAST(rn AS BIGINT) AS rn,
         |  CAST(floor(cosine * 1000000) AS BIGINT) AS cos_micros
         |FROM ranked WHERE rn <= $TopK
         |ORDER BY q_id, rn""".stripMargin
    })(
      (s, dir) => {
        graft.functions.VectorOps.register(s)
        val planes = 4
        val unitized = emb(s, dir).select(col("vec_id"),
          expr(s"transform(embedding, x -> CAST(x AS DOUBLE) / ${norm("embedding")})")
            .as("unit"))
        val bucketBits = (0 until planes).map { j =>
          val planeArr = s"array(${Similarity.planeSigns(j).map(v => s"${v}D").mkString(",")})"
          val dot = s"vec_dot(unit, $planeArr)"
          when(expr(dot) >= 0, lit("1")).otherwise(lit("0"))
        }
        val bucketed = unitized
          .select(col("vec_id"), col("unit"), concat(bucketBits: _*).as("bucket"))
        val q = bucketed.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("unit").as("qe"), col("bucket"))
        val c = bucketed
          .select(col("vec_id").as("c_id"), col("unit").as("ce"), col("bucket"))
        val scored = c.join(broadcast(q), Seq("bucket"))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("cosine", expr(dotExpr("qe", "ce")))
        val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= TopK)
          .select(col("q_id"), col("c_id"), col("rn"),
            floor(col("cosine") * lit(1000000L)).cast("long").as("cos_micros"))
          .orderBy("q_id", "rn")
      }),

    // 35c. SEMANTIC DECONTAMINATION — the embedding face of
    // q_decontaminate: token-gram overlap misses paraphrased benchmark
    // leaks, cosine near-dup catches them. The benchmark slice is the
    // deterministic vec_id % 10 = 0 subset (stand-in for a held-out eval
    // set); a corpus vector is contaminated when the STANDING near-dup
    // pair table (same τ=0.30, bucketed-then-verified — never an
    // all-pairs probe) links it to any benchmark vector. Per flagged
    // vector: hit count + best-matching benchmark (cos desc, id asc
    // tiebreak). Rides nd's bit-exact cos_micros, so it hash-checks.
    Q("q_embed_decontaminate",
      s"""WITH $embedPairsCtes,
         |x AS (
         |  SELECT CASE WHEN vec_a % 10 = 0 THEN vec_b ELSE vec_a END AS corpus_vec,
         |    CASE WHEN vec_a % 10 = 0 THEN vec_a ELSE vec_b END AS bench_vec,
         |    cos_micros
         |  FROM nd WHERE (vec_a % 10 = 0) <> (vec_b % 10 = 0)),
         |r AS (
         |  SELECT corpus_vec, bench_vec, cos_micros,
         |    row_number() OVER (PARTITION BY corpus_vec
         |      ORDER BY cos_micros DESC, bench_vec) AS rn,
         |    CAST(count(*) OVER (PARTITION BY corpus_vec) AS BIGINT) AS n_bench_hits
         |  FROM x)
         |SELECT corpus_vec, n_bench_hits, bench_vec AS best_bench,
         |  cos_micros AS best_cos_micros
         |FROM r WHERE rn = 1 ORDER BY corpus_vec""".stripMargin)(
      (s, dir) => {
        val nd = corpusEmbedPairs(s, dir)
          .select(col("vec_a"), col("vec_b"),
            expr("CAST(floor(cosine * 1000000D) AS BIGINT)").as("cos_micros"))
        def isBench(c: Column) = c % 10 === 0
        val x = nd.filter(isBench(col("vec_a")) =!= isBench(col("vec_b")))
          .select(
            when(isBench(col("vec_a")), col("vec_b")).otherwise(col("vec_a"))
              .as("corpus_vec"),
            when(isBench(col("vec_a")), col("vec_a")).otherwise(col("vec_b"))
              .as("bench_vec"),
            col("cos_micros"))
        val w = Window.partitionBy(col("corpus_vec"))
          .orderBy(col("cos_micros").desc, col("bench_vec"))
        x.withColumn("rn", row_number().over(w))
          .withColumn("n_bench_hits",
            count(lit(1)).over(Window.partitionBy(col("corpus_vec"))))
          .filter(col("rn") === 1)
          .select(col("corpus_vec"), col("n_bench_hits"),
            col("bench_vec").as("best_bench"),
            col("cos_micros").as("best_cos_micros"))
          .orderBy("corpus_vec")
      }),

    // 35d. PER-LABEL COHESION — the SemDeDup-style compactness audit:
    // how tight each label's embedding cluster sits around its centroid
    // (prune low-cohesion classes, spot mislabeled slices). Exactness
    // trick: per-component floor-micros BEFORE the per-label sum, so the
    // centroid accumulates in LONG arithmetic (associative — any
    // partition/fold order gives identical bits, unlike a double sum);
    // cosine-to-centroid needs only the centroid DIRECTION, so the sum
    // vector stands in for the mean and no integer division ever
    // happens. Per-row cosine is then a fixed-order double fold against
    // exact-integer components — bit-identical on both engines — and the
    // per-label rollup is again all-long. Scale: one 64×n posexplode
    // (map-side combined) + a broadcast centroid join; no pair joins.
    Q("q_embed_cohesion",
      s"""WITH $labelCentroidCtes,
         |sc AS (
         |  SELECT u.label,
         |    CAST(floor(${duckDot("unit", "cvec")} /
         |      (${duckNorm("unit")} * ${duckNorm("cvec")}) * 1000000) AS BIGINT) AS cm
         |  FROM u JOIN cent ON u.label = cent.label)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(sum(cm) AS BIGINT) AS sum_cos_micros,
         |  CAST(min(cm) AS BIGINT) AS min_cos_micros,
         |  CAST(max(cm) AS BIGINT) AS max_cos_micros
         |FROM sc GROUP BY label ORDER BY label""".stripMargin)(
      (s, dir) => {
        val u = unitVecs(s, dir)
        val cent = labelCentroids(u)
        u.join(broadcast(cent), "label")
          .withColumn("cm",
            floor(expr("vec_cosine(unit, cvec)") * lit(1000000L)).cast("long"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vectors"),
            sum(col("cm")).as("sum_cos_micros"),
            min(col("cm")).as("min_cos_micros"),
            max(col("cm")).as("max_cos_micros"))
          .orderBy("label")
      }),

    // 35e. LABEL AFFINITY MAP — pairwise cosine between label centroids:
    // the domain-similarity matrix data-selection work reads to pick
    // auxiliary domains nearest a target (and the confusion map for
    // "which classes will semantic dedup blur together"). Same exactness
    // trick as 35d: centroids are per-component floored-micros LONG sums
    // (fold-order-free), the pair cosine is one fixed-order double fold
    // over those exact integers — bit-identical cross-engine. Scale: the
    // centroid table is |labels| rows, so the pair join is a broadcast
    // nested loop over a TINY square (10×10 here) — never the corpus;
    // everything corpus-sized is the one 64×n posexplode aggregate 35d
    // already pays.
    Q("q_label_affinity",
      s"""WITH $labelCentroidCtes
         |SELECT a.label AS label_a, b.label AS label_b,
         |  CAST(floor(${duckDot("a.cvec", "b.cvec")} /
         |    (${duckNorm("a.cvec")} * ${duckNorm("b.cvec")}) * 1000000) AS BIGINT)
         |    AS cos_micros
         |FROM cent a JOIN cent b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin)(
      (s, dir) => {
        val cent = labelCentroids(unitVecs(s, dir))
        val a = cent.select(col("label").as("label_a"), col("cvec").as("ca"))
        val b = cent.select(col("label").as("label_b"), col("cvec").as("cb"))
        a.join(broadcast(b), col("label_a") < col("label_b"))
          .select(col("label_a"), col("label_b"),
            floor(expr("vec_cosine(ca, cb)") * lit(1000000L)).cast("long")
              .as("cos_micros"))
          .orderBy("label_a", "label_b")
      })
  )
}
