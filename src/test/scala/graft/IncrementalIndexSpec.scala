package graft

import graft.index.StandingIndex
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental standing-index refresh on corpus APPEND: growing a corpus
  * by new files must (a) refresh every incremental index family from the
  * predecessor index + the NEW files only — proven by corrupting the old
  * files' bytes (lengths/mtimes preserved) so any cold re-read would
  * explode — and (b) produce row-for-row the same index a cold rebuild of
  * the grown corpus produces. Mutating an existing file must instead fall
  * back to a cold rebuild (no stale predecessor reuse).
  */
class IncrementalIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def families(dir: String): Seq[(String, () => DataFrame)] = Seq(
    "sigs" -> (() => Dedup.corpusSigs(spark, dir)),
    "keepers" -> (() => Dedup.corpusKeepers(spark, dir)),
    "dupgrams" -> (() => TextAnalysis.corpusDupGrams(spark, dir)),
    "bgmodel" -> (() => TextAnalysis.corpusBigramModel(spark, dir)),
    "unigrams" -> (() => TextAnalysis.corpusUnigramCounts(spark, dir)),
    "dsirfeat" -> (() => TextAnalysis.corpusDsirFeatures(spark, dir)),
    "chunkdf" -> (() => Dedup.corpusDupChunks(spark, dir)),
    "substr8" -> (() => Dedup.corpusSubstrPostings(spark, dir)),
    "engram2" -> (() => Dedup.corpusRareGramPostings(spark, dir)),
    "simhash" -> (() => Dedup.corpusSimhashSigs(spark, dir)),
    "winnow" -> (() => Dedup.corpusWinnowPostings(spark, dir)))

  test("append-refresh touches only new files and equals a cold rebuild") {
    val base = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val grown = s"$base/grown"
    val cold = s"$base/cold"
    val all = Tables.load(spark, TestSpark.sf, "documents")

    // grown corpus starts as 2/3 of the docs...
    all.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .write.parquet(s"$grown/documents.parquet")
    // ...cold reference corpus carries all of them from the start
    all.write.parquet(s"$cold/documents.parquet")

    // build every family on the initial grown corpus (the predecessors)
    families(grown).foreach { case (_, f) => f().count() }

    // append the remaining third as NEW part files (old files untouched)
    all.filter(pmod(col("doc_id"), lit(3)) === 0)
      .write.mode("append").parquet(s"$grown/documents.parquet")

    // corrupt every ORIGINAL data file byte-for-byte, preserving length
    // and mtime: the stamp still matches, but any code path that re-reads
    // the old corpus files now fails loudly. Incremental refresh must not
    // care. (The appended files are younger than the originals by
    // construction of the two writes.)
    val dirP = java.nio.file.Paths.get(s"$grown/documents.parquet")
    val cutoff = java.nio.file.Files.list(dirP).iterator()
    var oldest = List.empty[java.nio.file.Path]
    var stamps = Map.empty[java.nio.file.Path, java.nio.file.attribute.FileTime]
    cutoff.forEachRemaining { p =>
      val n = p.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith("."))
        stamps += p -> java.nio.file.Files.getLastModifiedTime(p)
    }
    // originals = files also present in a listing taken before the append?
    // simpler: re-derive membership from content — originals hold only
    // doc_id % 3 != 0. Identify by reading each file alone.
    stamps.keys.foreach { p =>
      val ids = spark.read.parquet(p.toString).select("doc_id")
        .collect().map(_.getLong(0))
      if (ids.nonEmpty && ids.forall(_ % 3 != 0)) oldest ::= p
    }
    assert(oldest.nonEmpty, "no original data files identified")
    oldest.foreach { p =>
      val len = java.nio.file.Files.size(p)
      java.nio.file.Files.write(p, new Array[Byte](len.toInt))
      java.nio.file.Files.setLastModifiedTime(p, stamps(p))
    }

    // refresh each family on the grown corpus; compare to the cold build
    families(grown).zip(families(cold)).foreach {
      case ((name, g), (_, c)) =>
        val gr = rows(g())
        val cr = rows(c())
        assert(gr == cr,
          s"$name: incremental refresh != cold rebuild " +
            s"(${gr.size} vs ${cr.size} rows; " +
            s"onlyIncr=${(gr -- cr).take(3)} onlyCold=${(cr -- gr).take(3)})")
        assert(gr.nonEmpty, s"$name produced no rows")
    }
  }

  test("minhash incremental-dedup index append equals the static build") {
    val base = java.nio.file.Files.createTempDirectory("graft_mh").toString
    val grown = s"$base/grown"
    val cold = s"$base/cold"
    val all = Tables.load(spark, TestSpark.sf, "documents")
    val mid = 250L
    // ascending append — the ingestion shape whose per-bucket cap
    // admission is EXACTLY the static build's lowest-doc_id rule (the
    // same contract the streaming maintainer's parity test pins)
    all.filter(col("doc_id") < mid)
      .write.parquet(s"$grown/documents.parquet")
    all.write.parquet(s"$cold/documents.parquet")
    val predRoot = Dedup.buildMinhashIndex(spark, grown)
    assert(spark.read.parquet(s"$predRoot/sigs").count() > 0)
    all.filter(col("doc_id") >= mid)
      .write.mode("append").parquet(s"$grown/documents.parquet")
    val grownRoot = Dedup.buildMinhashIndex(spark, grown)
    val coldRoot = Dedup.buildMinhashIndex(spark, cold)
    assert(grownRoot != predRoot, "stamp did not change on append")
    def tbl(root: String, sub: String, cols: String*) =
      spark.read.parquet(s"$root/$sub").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    val sigCols = "doc_id" +: (0 until 8).map(i => s"h$i")
    assert(tbl(grownRoot, "sigs", sigCols: _*) ==
      tbl(coldRoot, "sigs", sigCols: _*), "sigs diverged")
    assert(tbl(grownRoot, "reps", "h", "doc_id") ==
      tbl(coldRoot, "reps", "h", "doc_id"), "reps diverged")
    assert(tbl(grownRoot, "bands", "doc_id", "band", "bkey") ==
      tbl(coldRoot, "bands", "doc_id", "band", "bkey"), "bands diverged")
  }

  test("a BACKFILL append (lower doc_ids) rebuilds the minhash index cold") {
    // the per-bucket cap and the reps pre-pass are doc_id-ordered, so a
    // backfill must EVICT standing bucket members / replace reps — an
    // additive refresh cannot express that; the builder must detect the
    // non-ascending shape and fall back to a cold rebuild (the
    // corpusClusterLabels rule), or the index silently diverges from
    // cold semantics and the q_dedup_incremental oracle
    val base = java.nio.file.Files.createTempDirectory("graft_mhb").toString
    val grown = s"$base/grown"
    val cold = s"$base/cold"
    val all = Tables.load(spark, TestSpark.sf, "documents")
    val mid = 250L
    // seed with the HIGH ids, then backfill the low ones
    all.filter(col("doc_id") >= mid)
      .write.parquet(s"$grown/documents.parquet")
    all.write.parquet(s"$cold/documents.parquet")
    val predRoot = Dedup.buildMinhashIndex(spark, grown)
    assert(spark.read.parquet(s"$predRoot/sigs").count() > 0)
    all.filter(col("doc_id") < mid)
      .write.mode("append").parquet(s"$grown/documents.parquet")
    val grownRoot = Dedup.buildMinhashIndex(spark, grown)
    val coldRoot = Dedup.buildMinhashIndex(spark, cold)
    def tbl(root: String, sub: String, cols: String*) =
      spark.read.parquet(s"$root/$sub").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(tbl(grownRoot, "reps", "h", "doc_id") ==
      tbl(coldRoot, "reps", "h", "doc_id"),
      "backfill reps diverged from cold (low-id rep not installed)")
    assert(tbl(grownRoot, "bands", "doc_id", "band", "bkey") ==
      tbl(coldRoot, "bands", "doc_id", "band", "bkey"),
      "backfill bands diverged from cold (cap admitted arrival order)")
  }

  test("IVF/PQ append freezes model state and keeps appended vectors searchable") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_ann").toString
    val grown = s"$base/grown"
    val all = Tables.load(spark, TestSpark.sf, "embeddings")
    val n = all.count()
    val mid = n / 2
    all.filter(col("vec_id") < mid).write.parquet(s"$grown/embeddings.parquet")
    val predIvf = Similarity.buildIvfIndex(spark, grown)
    val predPq = Similarity.buildPqIndex(spark, grown)
    val predCents = rows(spark.read.parquet(s"$predIvf/centroids"))
    val predCb = rows(spark.read.parquet(s"$predPq/codebook"))
    all.filter(col("vec_id") >= mid)
      .write.mode("append").parquet(s"$grown/embeddings.parquet")
    val ivf2 = Similarity.buildIvfIndex(spark, grown)
    val pq2 = Similarity.buildPqIndex(spark, grown)
    assert(ivf2 != predIvf && pq2 != predPq, "stamp did not move on append")
    // model state is FROZEN: no retrain on append
    assert(rows(spark.read.parquet(s"$ivf2/centroids")) == predCents)
    assert(rows(spark.read.parquet(s"$pq2/codebook")) == predCb)
    // every vector (old + appended) is in the inverted file exactly once
    val lists = spark.read.parquet(s"$ivf2/lists")
    assert(lists.count() == n && lists.select("c_id").distinct().count() == n)
    assert(spark.read.parquet(s"$pq2/codes").count() == n * Similarity.PqM)
    // appended vectors are REACHABLE through the refreshed index: the
    // IVF search on the grown corpus still recovers a usable fraction of
    // the brute-force top-k (the explicit staleness trade, bounded)
    val brute = SparkEntry.queries("q_knn_brute")(spark, grown).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ivfTop = SparkEntry.queries("q_knn_ivf")(spark, grown).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val hit = brute.map { case (q, want) =>
      (want & ivfTop.getOrElse(q, Set.empty)).size }.sum.toDouble
    val recall = hit / brute.values.map(_.size).sum
    assert(ivfTop.nonEmpty && recall >= 0.2, s"pooled recall $recall")
    assert(ivfTop.values.exists(_.exists(_ >= mid)),
      "no appended vector ever surfaces in search results")
  }

  test("postings tombstones: appends can saturate a gram but never resurrect one") {
    // adversarial df-cap crossing: the substring postings cap is 50 docs
    // per gram. 40 docs share an 8-word passage (live), an append of 20
    // more pushes it over the cap (newly-saturated -> postings drop,
    // tombstone keeps df), a second append of 5 more must ADD to the
    // tombstone's df, never re-admit postings at df=small. A rare gram
    // stays live throughout. Every step compares against a cold rebuild
    // of the same corpus state.
    val base = java.nio.file.Files.createTempDirectory("graft_tomb").toString
    val grown = s"$base/grown"
    import spark.implicits._
    val hot = "alpha beta gamma delta epsilon zeta eta theta"
    def docRows(ids: Range, text: Long => String) =
      ids.map(i => (i.toLong, text(i.toLong), "en", "s0", 40L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // distinct tail word keeps each doc's OTHER grams unique
    docRows(0 until 40, i => s"$hot tail$i one two three four five six")
      .write.parquet(s"$grown/documents.parquet")
    def cold(data: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_tombc").toString
      data.write.parquet(s"$dir/documents.parquet")
      rows(Dedup.corpusSubstrPostings(spark, dir))
    }
    val p0 = rows(Dedup.corpusSubstrPostings(spark, grown))
    assert(p0.nonEmpty, "phase 0 should have live postings")

    docRows(40 until 60, i => s"$hot tail$i one two three four five six")
      .write.mode("append").parquet(s"$grown/documents.parquet")
    val all60 = docRows(0 until 60, i => s"$hot tail$i one two three four five six")
    val p1 = rows(Dedup.corpusSubstrPostings(spark, grown))
    assert(p1 == cold(all60), "newly-saturated gram diverged from cold rebuild")

    docRows(60 until 65, i => s"$hot tail$i one two three four five six")
      .write.mode("append").parquet(s"$grown/documents.parquet")
    val all65 = docRows(0 until 65, i => s"$hot tail$i one two three four five six")
    val p2 = rows(Dedup.corpusSubstrPostings(spark, grown))
    assert(p2 == cold(all65), "resurrected a saturated gram (or df drifted)")
    // the saturated passage's grams never reappear; per-doc unique grams do
    assert(p2.size > p1.size, "appended docs' unique grams missing")
  }

  test("vacuum reclaims superseded index dirs, respecting the reader grace") {
    val base = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val grown = s"$base/grown"
    val all = Tables.load(spark, TestSpark.sf, "documents")
    all.filter(col("doc_id") < 100).write.parquet(s"$grown/documents.parquet")
    Dedup.corpusSigs(spark, grown).count()
    all.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .write.mode("append").parquet(s"$grown/documents.parquet")
    val afterAppend = rows(Dedup.corpusSigs(spark, grown))
    // within the grace window NOTHING deletes, superseded or not
    assert(StandingIndex.vacuumIndexes(spark, grown).isEmpty,
      "vacuum ignored the concurrent-reader grace")
    // grace 0 (no concurrent readers here): exactly the predecessor goes
    val gone = StandingIndex.vacuumIndexes(spark, grown, graceMs = 0)
    assert(gone.exists(_.contains("graft_sigs_")), s"deleted: $gone")
    gone.foreach(p => assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(
        if (p.startsWith("file:")) p else s"file://$p")))))
    // the surviving (current) index still answers, and a re-vacuum is empty
    assert(rows(Dedup.corpusSigs(spark, grown)) == afterAppend)
    assert(StandingIndex.vacuumIndexes(spark, grown, graceMs = 0).isEmpty)
  }

  test("cluster labels refresh by seeding CC with predecessor labels; a bridge doc merges clusters") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ccinc").toString
    val grown = s"$base/grown"
    val cold = s"$base/cold"
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // word order chosen (offline md5 search) so the concatenated bridge's
    // per-seed minima split across the bases: band 0 favors base1, bands
    // 2-3 favor base2 — the bridge deterministically LSH-matches BOTH
    // clusters while base1/base2 share no band with each other
    val base2 = "cyan orange pearl jade amber blue beige green scarlet " +
      "ebony plum yellow slate coral rust red bronze violet sand onyx"
    def docRows(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // two standing near-dup clusters, far apart in content
    val initial = Seq(
      1L -> base1, 2L -> (base1 + " extraword"),
      10L -> base2, 11L -> (base2 + " otherword"),
      15L -> "solo uno dos tres cuatro cinco seis siete ocho nueve diez")
    docRows(initial).coalesce(1).write.parquet(s"$grown/documents.parquet")
    val before = rows(Dedup.corpusClusterLabels(spark, grown))
    assert(before.map(_(1)).toSet == Set(1L, 10L),
      s"expected two standing clusters (reps 1 and 10), got $before")

    // append a BRIDGE doc near-dup with both clusters (its shingle set
    // contains each base's shingles, so per-seed minima coincide with one
    // or the other side's and bands match both) — ascending doc_id
    val appended = Seq(20L -> (base1 + " " + base2))
    docRows(appended).coalesce(1)
      .write.mode("append").parquet(s"$grown/documents.parquet")
    docRows(initial ++ appended).coalesce(1)
      .write.parquet(s"$cold/documents.parquet")

    // corrupt the ORIGINAL grown data file in place (length/mtime kept):
    // the incremental label refresh must never re-read old text — it
    // seeds from the predecessor labels and the refreshed sig index
    val dirP = java.nio.file.Paths.get(s"$grown/documents.parquet")
    scala.util.Using.resource(java.nio.file.Files.list(dirP)) { st =>
      st.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (!n.startsWith("_") && !n.startsWith(".")) {
          val ids = spark.read.parquet(p.toString).select("doc_id")
            .collect().map(_.getLong(0))
          if (!ids.contains(20L)) {
            val mt = java.nio.file.Files.getLastModifiedTime(p)
            java.nio.file.Files.write(p,
              new Array[Byte](java.nio.file.Files.size(p).toInt))
            java.nio.file.Files.setLastModifiedTime(p, mt)
          }
        }
      }
    }

    val refreshed = rows(Dedup.corpusClusterLabels(spark, grown))
    val coldLabels = rows(Dedup.corpusClusterLabels(spark, cold))
    assert(refreshed == coldLabels,
      s"incremental label refresh != cold rebuild\nincr=$refreshed\ncold=$coldLabels")
    // the bridge merged BOTH standing clusters onto the global min rep
    val reps = refreshed.map(r => r(0).asInstanceOf[Long] ->
      r(1).asInstanceOf[Long]).toMap
    assert(Set(1L, 2L, 10L, 11L, 20L).subsetOf(reps.keySet),
      s"merged component lost members: $reps")
    assert(Seq(2L, 10L, 11L, 20L).forall(reps(_) == 1L),
      s"bridge doc failed to merge the clusters to rep 1: $reps")
  }

  test("embedding pair/CC families refresh from predecessors without re-reading old vectors") {
    import graft.operators.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_embinc").toString
    val grown = s"$base/grown"
    val cold = s"$base/cold"
    val all = Tables.load(spark, TestSpark.sf, "embeddings")
    val n = all.count()
    val mid = n / 2
    // both halves sit below the first plane-count boundary (2^4·256), so
    // the plane count is identical and the incremental path is eligible
    assert(Similarity.embPlanes(spark, TestSpark.sf) == 4)
    all.filter(col("vec_id") < mid).coalesce(1)
      .write.parquet(s"$grown/embeddings.parquet")
    all.coalesce(1).write.parquet(s"$cold/embeddings.parquet")
    // build the predecessors on the half corpus (the whole ladder: a
    // standing corpus has buckets, pairs AND labels before the append)
    Similarity.corpusEmbedBuckets(spark, grown).count()
    Similarity.corpusEmbedPairs(spark, grown).count()
    Similarity.embClusterLabels(spark, grown).count()
    // append the second half as a NEW file, then corrupt the ORIGINAL
    // file in place (length/mtime preserved): the refresh must derive
    // everything from the standing bucket/pair/label tables + new file
    all.filter(col("vec_id") >= mid).coalesce(1)
      .write.mode("append").parquet(s"$grown/embeddings.parquet")
    val dirP = java.nio.file.Paths.get(s"$grown/embeddings.parquet")
    scala.util.Using.resource(java.nio.file.Files.list(dirP)) { st =>
      st.iterator().forEachRemaining { p =>
        val nm = p.getFileName.toString
        if (!nm.startsWith("_") && !nm.startsWith(".")) {
          val ids = spark.read.parquet(p.toString).select("vec_id")
            .collect().map(_.getLong(0))
          if (ids.nonEmpty && ids.forall(_ < mid)) {
            // zero the DATA pages but keep the header magic and the
            // footer: embPlanes sizes the bucket count from parquet
            // FOOTERS (metadata-only, legitimately cheap), while any
            // path that re-reads old VECTORS must explode
            val mt = java.nio.file.Files.getLastModifiedTime(p)
            val len = java.nio.file.Files.size(p)
            val raf = new java.io.RandomAccessFile(p.toFile, "rw")
            try {
              raf.seek(4)
              raf.write(new Array[Byte]((len / 2).toInt - 4))
            } finally raf.close()
            java.nio.file.Files.setLastModifiedTime(p, mt)
          }
        }
      }
    }
    val incrPairs = rows(Similarity.corpusEmbedPairs(spark, grown))
    val coldPairs = rows(Similarity.corpusEmbedPairs(spark, cold))
    assert(incrPairs == coldPairs,
      s"embpairs refresh != cold (${incrPairs.size} vs ${coldPairs.size})")
    assert(incrPairs.nonEmpty, "no pairs at all — the spec proves nothing")
    // pairs must span the append boundary (old↔new pairs found via the
    // standing buckets, not only new↔new)
    assert(incrPairs.exists(r => r(0).asInstanceOf[Long] < mid &&
      r(1).asInstanceOf[Long] >= mid), "no cross-boundary pair")
    val incrCc = rows(Similarity.embClusterLabels(spark, grown))
    val coldCc = rows(Similarity.embClusterLabels(spark, cold))
    assert(incrCc == coldCc,
      s"embcc refresh != cold (${incrCc.size} vs ${coldCc.size})")
  }

  test("index publish is atomic across builders: one winner, loser reads the winner") {
    import spark.implicits._
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_pub").toString
    val fs = new org.apache.hadoop.fs.Path(idxRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // two drivers race the same content key: each builds its own temp dir
    // (the winner's rows carry marker 1, the loser's marker 2 — same key
    // would mean same data in production; distinct data here PROVES which
    // build survived)
    val tmpA = s"$idxRoot/.build_race_k_aaaa"
    val tmpB = s"$idxRoot/.build_race_k_bbbb"
    Seq((1L, 1L)).toDF("doc_id", "m").write.parquet(tmpA)
    Seq((1L, 2L)).toDF("doc_id", "m").write.parquet(tmpB)
    val root = new org.apache.hadoop.fs.Path(s"$idxRoot/graft_race_k")
    val wonA = StandingIndex.publishIndexDir(spark, fs,
      new org.apache.hadoop.fs.Path(tmpA), root)
    // a reader that resolved the winner's table mid-scan
    val reader = spark.read.parquet(root.toString)
    val wonB = StandingIndex.publishIndexDir(spark, fs,
      new org.apache.hadoop.fs.Path(tmpB), root)
    assert(wonA && !wonB, s"wonA=$wonA wonB=$wonB")
    // the loser's attempt neither replaced nor tore the winner's data...
    assert(reader.select("m").as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.parquet(root.toString).select("m")
      .as[Long].collect().toSeq == Seq(1L))
    // ...and its temp dir is cleaned up (nothing for vacuum to trip on)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmpB)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmpA)))
  }

  test("a markerless partial occupant is evicted, not conceded to") {
    import spark.implicits._
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_evict").toString
    val fs = new org.apache.hadoop.fs.Path(idxRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a pre-two-phase crashed direct flush left PARTIAL parquet at the
    // final path with no _SUCCESS: parquet would silently serve it
    val root = new org.apache.hadoop.fs.Path(s"$idxRoot/graft_evict_k")
    Seq((1L, 0L)).toDF("doc_id", "m").write.parquet(root.toString)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_SUCCESS"), false)
    // a fresh builder must EVICT the garbage and publish, not lose the
    // race to it forever
    val tmp = s"$idxRoot/.build_evict_k_cccc"
    Seq((1L, 7L), (2L, 7L)).toDF("doc_id", "m").write.parquet(tmp)
    assert(StandingIndex.publishIndexDir(spark, fs, new org.apache.hadoop.fs.Path(tmp), root),
      "builder conceded to a markerless partial dir")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS")))
    assert(spark.read.parquet(root.toString).select("m")
      .as[Long].collect().toSet == Set(7L))
    // ...while a COMPLETE occupant (marker present) still wins the race
    val tmp2 = s"$idxRoot/.build_evict_k_dddd"
    Seq((1L, 9L)).toDF("doc_id", "m").write.parquet(tmp2)
    assert(!StandingIndex.publishIndexDir(spark, fs, new org.apache.hadoop.fs.Path(tmp2), root))
    assert(spark.read.parquet(root.toString).select("m")
      .as[Long].collect().toSet == Set(7L))
  }

  test("vacuum sweeps aged crashed-build temp dirs, never fresh ones") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tsweep").toString
    val corpus = s"$base/c"
    Tables.load(spark, TestSpark.sf, "documents").limit(20)
      .write.parquet(s"$corpus/documents.parquet")
    val idxRoot = Tables.indexRoot(spark, corpus)
    val fs = new org.apache.hadoop.fs.Path(idxRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed builder's leftover, older than any real build...
    val stale = new org.apache.hadoop.fs.Path(
      s"$idxRoot/.build_tsweep_stale_eeee")
    fs.mkdirs(stale)
    fs.setTimes(stale, System.currentTimeMillis() - 8L * 24 * 3600 * 1000, -1)
    // ...and a FRESH in-flight build dir another driver is writing now
    val live = new org.apache.hadoop.fs.Path(
      s"$idxRoot/.build_tsweep_live_ffff")
    fs.mkdirs(live)
    // ...and an old-looking top dir whose NESTED subtree is still being
    // written (Spark writes under _temporary without touching the top
    // dir's mtime — a >1h legitimate build): must be spared too
    val busy = new org.apache.hadoop.fs.Path(
      s"$idxRoot/.build_tsweep_busy_gggg")
    val busyTmp = new org.apache.hadoop.fs.Path(busy, "_temporary")
    fs.mkdirs(busyTmp)
    fs.create(new org.apache.hadoop.fs.Path(busyTmp, "part-0")).close()
    fs.setTimes(busy, System.currentTimeMillis() - 8L * 24 * 3600 * 1000, -1)
    fs.setTimes(busyTmp, System.currentTimeMillis() - 8L * 24 * 3600 * 1000, -1)
    val gone = StandingIndex.vacuumIndexes(spark, corpus, graceMs = 0)
    assert(gone.exists(_.contains(".build_tsweep_stale")),
      s"aged temp dir not swept: $gone")
    assert(!fs.exists(stale))
    assert(fs.exists(live),
      "sweep deleted an in-flight build dir inside the one-hour floor")
    assert(fs.exists(busy),
      "sweep keyed on the frozen top mtime and deleted a dir whose " +
        "subtree is still being written")
    fs.delete(live, true): Unit
    fs.delete(busy, true): Unit
  }

  test("vacuum never deletes the live index after an in-place corpus shrink") {
    val base = java.nio.file.Files.createTempDirectory("graft_shrink").toString
    val grown = s"$base/grown"
    val all = Tables.load(spark, TestSpark.sf, "documents")
    all.filter(col("doc_id") < 100).write.parquet(s"$grown/documents.parquet")
    val small = rows(Dedup.corpusSigs(spark, grown))
    // grow, refresh (the grown index records a SUPERSET stamp)...
    all.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .write.mode("append").parquet(s"$grown/documents.parquet")
    Dedup.corpusSigs(spark, grown).count()
    // ...then shrink IN PLACE back to exactly the original files: the
    // live index for the current corpus is the ORIGINAL small build
    // again, and the stale grown dir records a strict superset of its
    // stamp — under the unguarded supersession rule the stale dir
    // "supersedes" the live index and vacuum tears it immediately
    val dirP = java.nio.file.Paths.get(s"$grown/documents.parquet")
    scala.util.Using.resource(java.nio.file.Files.list(dirP)) { st =>
      st.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (!n.startsWith("_") && !n.startsWith(".")) {
          val ids = spark.read.parquet(p.toString).select("doc_id")
            .collect().map(_.getLong(0))
          if (ids.exists(_ >= 100)) java.nio.file.Files.delete(p)
        }
      }
    }
    val gone = StandingIndex.vacuumIndexes(spark, grown, graceMs = 0)
    assert(!gone.exists(_.contains("graft_sigs_")),
      s"vacuum deleted a sigs dir after a shrink (live index torn): $gone")
    // the live (pre-grow) index still answers identically
    assert(rows(Dedup.corpusSigs(spark, grown)) == small)
  }

  test("in-place corpus mutation falls back to a cold rebuild") {
    val base = java.nio.file.Files.createTempDirectory("graft_mut").toString
    val dir = s"$base/c"
    val all = Tables.load(spark, TestSpark.sf, "documents")

    all.filter(col("doc_id") < 100).write.parquet(s"$dir/documents.parquet")
    val before = rows(Dedup.corpusKeepers(spark, dir))

    // overwrite REPLACES the data files: not an append, so the refresh
    // must not reuse the old index even though one existed for this path
    all.filter(col("doc_id") >= 100)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = rows(Dedup.corpusKeepers(spark, dir))

    assert(after.nonEmpty && after != before)
    val ids = after.map(_.head.asInstanceOf[Long])
    assert(ids.forall(_ >= 100), "stale rows from the replaced corpus leaked")
  }
}
