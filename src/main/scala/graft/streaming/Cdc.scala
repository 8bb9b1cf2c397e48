package graft.streaming

import graft.operators.Lakehouse
import graft.sources.Versioned
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC apply — the ingestion face of §2f: an unbounded stream of
  * change rows (key, op, new values, sequence number) continuously MERGEs
  * into a [[Versioned]] table, one committed version per micro-batch.
  * This is the standard lakehouse CDC sink shape (Delta's
  * `foreachBatch` + MERGE): Structured Streaming owns offsets/retries via
  * the checkpoint, and the versioned commit is the atomic publish.
  * Batch-retry idempotence is EXACT: every commit records its stream
  * identity and epoch (Delta's txnAppId/txnVersion — here the checkpoint
  * path and the foreachBatch batchId) in the manifest, and a replayed
  * epoch of the SAME stream skips the commit entirely. The fence is the
  * PER-APPID high-water (`Versioned.latestEpochFor` scans manifests
  * newest-first for this stream's identity), not the last writer's
  * manifest — so a second stream, a batch `applyBatch`, or a CLI
  * snapshot interleaving between this stream's commit and its
  * crash-replay cannot disarm it. Version history stays
  * one-version-per-applied-batch even across crash/replay and mixed
  * writers, so a downstream version-count assertion never flakes.
  * A different stream's colliding batch number never fences (its appId
  * differs), and the merge itself is also idempotent (updates set the
  * same values, deletes of gone keys no-op) as defense in depth.
  *
  * Per batch:
  *   1. compact the batch to its LATEST change per key (row_number over
  *      seqCol descending — CDC feeds carry multiple ops per key);
  *   2. find the hash buckets the batch's keys land in, and merge the
  *      batch into ONLY those buckets' data ([[Lakehouse.mergeUpsert]]
  *      over the touched directories);
  *   3. commit a version whose manifest replaces the touched bucket
  *      directories and carries every untouched directory BY REFERENCE
  *      ([[Versioned.commitDirs]] — readers time-travel to any pre-batch
  *      state, and the untouched files are never opened, let alone
  *      rewritten).
  *
  * Scale: per-batch IO is proportional to batch size + touched-bucket
  * size, never table size — the Delta/Iceberg MERGE granularity. A table
  * committed by other means (plain snapshot commits) migrates to the
  * bucketed layout on its FIRST CDC batch (one full rewrite, one-time);
  * `nBuckets` sizes the rewrite unit and is fixed at migration — size it
  * so a bucket ≈ the target file size at expected table volume (the
  * local default 64 is test-scale; a 100 TB table wants ~100k buckets of
  * ~1 GB, still O(1) manifest work per commit since only TOUCHED buckets
  * appear in the diff).
  */
object Cdc {

  /** Start the CDC-apply sink. `changes` must carry `key`, `op`
    * ('U'/'D'), `seqCol`, and `new_<c>` for every value column `c`.
    * `appId` is the stream's transactional identity (Delta's txnAppId):
    * it defaults to the checkpoint path, which is stable across restarts
    * of the same stream and distinct per stream — a DIFFERENT stream
    * whose batch numbers happen to collide is never fenced.
    */
  def applyChanges(changes: DataFrame, tableDir: String, checkpointDir: String,
                   key: String, valueCols: Seq[String], seqCol: String,
                   appId: Option[String] = None,
                   nBuckets: Int = DefaultBuckets,
                   maxRecordsPerFile: Long = 0L): StreamingQuery =
    applyChangesKeyed(changes, tableDir, checkpointDir, Seq(key), valueCols,
      seqCol, appId, nBuckets, maxRecordsPerFile)

  /** [[applyChanges]] generalized to a COMPOSITE key — the streaming face
    * of [[applyBatchKeyed]].
    */
  def applyChangesKeyed(changes: DataFrame, tableDir: String,
                        checkpointDir: String,
                        keys: Seq[String], valueCols: Seq[String],
                        seqCol: String,
                        appId: Option[String] = None,
                        nBuckets: Int = DefaultBuckets,
                        maxRecordsPerFile: Long = 0L): StreamingQuery = {
    val app = appId.getOrElse(s"cdc:$checkpointDir")
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatchKeyed(batch, tableDir, keys, valueCols, seqCol,
          Some(batchId), Some(app), nBuckets, maxRecordsPerFile)
        ()
      }
      .start()
  }

  private def deliveredMarker(checkpointDir: String) =
    new org.apache.hadoop.fs.Path(s"$checkpointDir/_graft_delivered")

  /** The marker's batchId, or None when absent or unparsable (a crash
    * mid-publish — repaired by the next [[recordDelivered]]). Read once
    * per micro-batch, and once more on a batch's first delivery until
    * the marker is recorded; an in-memory copy would outlive a checkpoint
    * wiped and recreated at the same path.
    */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Option[Long] = {
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    txt.trim.toLongOption
  }

  /** Whether THIS subscription (identified by its checkpoint) DELIVERED
    * a version in a batch before the given one. Bootstrap-vs-lag is
    * decided by this, NOT by `batchId == 0`: with `maxFilesPerTrigger`
    * set (or an empty first poll on a not-yet-committed table) the
    * initial backlog legitimately spans several batches, and the oldest
    * retained version can surface in batch 1+ while still being the
    * subscription's honest initial load.
    *
    * Decided from ACTUAL delivery, recorded durably: the first `apply`
    * writes a tiny marker under the checkpoint carrying its batchId
    * ([[recordDelivered]]), and "delivered before batch N" ⟺ "the
    * marker's batchId < N". Inferring delivery from the file-source
    * metadata log (the pre-r11 rule: "a prior batch PLANNED files")
    * wedged one corner permanently: when every version in the first
    * batch(es) fell before the retention window, nothing was applied,
    * yet the log carried lower batchIds — so the next batch's oldest
    * retained version took the loud vacuumed-mid-stream exception
    * instead of the bootstrap snapshot. The marker records the FIRST
    * delivering batch, so a replay of that same batch reaches the same
    * bootstrap decision as its original run (strict `<`), and a crash
    * between apply and marker write just re-bootstraps the same version
    * — fenced by `_commit_version` like every at-least-once delivery.
    * An unparsable marker reads as "never delivered" for this batch (one
    * extra bootstrap snapshot, version-fenced by the consumer — never a
    * wedge or silent skip) and is repaired by the delivery's own
    * [[recordDelivered]].
    */
  private[graft] def deliveredBefore(spark: org.apache.spark.sql.SparkSession,
                                     checkpointDir: String, batchId: Long): Boolean = {
    val p = deliveredMarker(checkpointDir)
    readMarker(p.getFileSystem(graft.Tables.hadoopConf(spark)), p)
      .exists(_ < batchId)
  }

  /** Record the subscription's FIRST delivery durably (see
    * [[deliveredBefore]]); later batches keep the original batchId.
    * Written whole, then published over any occupant
    * ([[graft.Publish.swap]]), so no reader ever sees a partial marker,
    * and RE-VERIFIED on each batch's first delivery until a parsable
    * marker provably exists: a crash mid-publish, a transient FS error
    * or a truncated file from an earlier process must all repair
    * themselves — a permanently unparsable marker would revert every
    * restart to "never delivered" and re-enable the bootstrap
    * double-apply this marker exists to prevent.
    */
  private def recordDelivered(spark: org.apache.spark.sql.SparkSession,
                              checkpointDir: String, batchId: Long): Unit = {
    val p = deliveredMarker(checkpointDir)
    val fs = p.getFileSystem(graft.Tables.hadoopConf(spark))
    if (readMarker(fs, p).isEmpty) {
      val tmp = new org.apache.hadoop.fs.Path(checkpointDir,
        s"._graft_delivered.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(batchId.toString.getBytes("UTF-8"))
      finally out.close()
      graft.Publish.swap(fs, tmp, p)
    }
  }

  /** SUBSCRIBE to a Versioned table's change feed as a Structured
    * Streaming query (CDC OUT, the streaming face of
    * [[graft.sources.Versioned.changes]]). Spark's own FileStreamSource
    * tails the COMMIT LOG — the `.json` manifests under `_commits` are
    * immutable files published atomically, so they are a perfect file stream:
    * offsets, replay and exactly-once file discovery are owned by the
    * checkpoint, no custom source needed. Per micro-batch, the newly
    * discovered versions are processed IN ORDER: each version's feed is
    * computed from its own manifest delta (touched dirs only) and handed
    * to `apply(feed, version)`.
    *
    * Bootstrap semantics: starting a fresh subscription on an existing
    * table delivers its retained history from the oldest version forward
    * — the oldest retained version arrives as a full `insert`-image
    * snapshot when its parent manifest was vacuumed away (the honest
    * initial load), and every later version as its per-commit feed.
    *
    * Delivery is at-least-once per version (a crash between `apply` and
    * the checkpoint commit redelivers the batch): consumers fence on the
    * version number — [[graft.operators.Lakehouse.refreshMvFromFeed]]'s
    * manifest-cursor pattern, or any transactional sink keyed on
    * `_commit_version`.
    */
  def followChanges(spark: org.apache.spark.sql.SparkSession,
                    tableDir: String, checkpointDir: String, key: String,
                    valueCols: Seq[String] = Seq.empty,
                    sourceOptions: Map[String, String] = Map.empty)(
                    apply: (DataFrame, Int) => Unit): StreamingQuery = {
    import org.apache.spark.sql.types.{IntegerType, StructType}
    val schema = new StructType().add("version", IntegerType)
    // a subscription may legitimately start BEFORE the table's first
    // commit (the consumer waits for the producer); FileStreamSource
    // requires the path to exist, and commit() mkdirs the same dir, so
    // pre-creating it is safe whichever side wins
    val commitsDir = new org.apache.hadoop.fs.Path(s"$tableDir/_commits")
    commitsDir.getFileSystem(graft.Tables.hadoopConf(spark))
      .mkdirs(commitsDir): Unit
    spark.readStream.schema(schema).options(sourceOptions)
      .json(s"$tableDir/_commits")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        // a batch is a handful of O(100-byte) manifests — the collect is
        // metadata, never data
        val vs = b.select("version").collect().map(_.getInt(0)).sorted
        val retained = Versioned.versions(spark, tableDir).toSet
        // the durable half of the bootstrap decision; the in-batch half
        // (deliveredThisBatch) flips after the FIRST delivery so a
        // SECOND retained-gap version in the same batch hits the loud
        // lost-history path, exactly as it would split across batches —
        // a replayed batch walks the same sorted versions and reaches
        // the same flip sequence
        val bootstrap = !deliveredBefore(spark, checkpointDir, batchId)
        var deliveredThisBatch = false
        vs.foreach { v =>
          val feed =
            if (retained.contains(v - 1) || v == 1)
              Versioned.changes(spark, tableDir, v - 1, v, key, valueCols)
            else if (retained.contains(v) && bootstrap && !deliveredThisBatch) {
              // parent vacuumed AT BOOTSTRAP (nothing delivered yet on
              // this checkpoint — which may be batch 1+ when
              // maxFilesPerTrigger splits the initial backlog or the
              // first poll raced an empty table): this is the
              // subscription's oldest retained version — deliver it as a
              // full snapshot of insert images (the honest initial load),
              // shaped exactly like the per-commit feed (key + the same
              // value columns — a consumer must see ONE frame shape)
              val snap = Versioned.read(spark, tableDir, Some(v))
              val vcols = if (valueCols.nonEmpty) valueCols
                          else snap.columns.filterNot(_ == key).toSeq
              snap.select((key +: vcols).map(org.apache.spark.sql.functions.col): _*)
                .withColumn("_change_type", lit("insert"))
                .withColumn("_commit_version", lit(v))
            } else if (retained.contains(v))
              // parent vacuumed MID-SUBSCRIPTION: retention was cut
              // below the consumer's lag — delivering a snapshot here
              // would double-apply everything the consumer already has.
              // Fail loudly, the Delta CDF rule: widen retention or
              // re-bootstrap the subscription.
              throw new IllegalStateException(
                s"change-feed subscription on $tableDir lost version " +
                  s"${v - 1} to vacuum while lagging — widen vacuum " +
                  "retention past the consumer's lag, or re-bootstrap " +
                  "with a fresh checkpoint")
            else null // version AND parent vacuumed in the bootstrap
                      // backlog: history before the retention window —
                      // nothing to deliver
          if (feed != null) {
            apply(feed, v)
            // durable first-delivery record: later batches (and restarts)
            // must see the subscription as live — a vacuum racing between
            // batches must hit the loud path, not a second "bootstrap"
            // snapshot (= double-apply). Once delivered before, the marker
            // was just read back parsable, so there is nothing to record.
            if (bootstrap && !deliveredThisBatch)
              recordDelivered(spark, checkpointDir, batchId)
            deliveredThisBatch = true
          }
        }
      }
      .start()
  }

  /** Max distinct batch keys collected driver-side for FILE-level footer
    * pruning — bounded like Delta's touched-file planning. Batches with
    * more distinct keys fall back to bucket-level replace (at that
    * volume whole buckets are genuinely touched anyway).
    */
  val KeyPruneCap = 4096

  /** Test-scale default; a production table sizes buckets to ≈ the target
    * file size (see the class doc). Only consulted when the table is
    * first bucketed — afterwards the layout in the manifest wins.
    */
  val DefaultBuckets = 64

  /** One micro-batch of the CDC merge (factored out so batch jobs and
    * tests drive the identical code path). With an epoch: a batch whose
    * (appId, epochId) is at or behind THIS appId's committed high-water
    * is a REPLAY and is skipped — the commit already happened; the crash
    * hit after publish. Epochs from a different appId never fence (a new
    * stream legitimately restarts at batch 0), and commits from OTHER
    * writers between this stream's publish and its replay never un-fence
    * (the high-water is per appId, not last-writer).
    */
  def applyBatch(batch: DataFrame, tableDir: String, key: String,
                 valueCols: Seq[String], seqCol: String,
                 epochId: Option[Long] = None,
                 appId: Option[String] = None,
                 nBuckets: Int = DefaultBuckets,
                 maxRecordsPerFile: Long = 0L): Unit =
    applyBatchKeyed(batch, tableDir, Seq(key), valueCols, seqCol, epochId,
      appId, nBuckets, maxRecordsPerFile)

  /** [[applyBatch]] generalized to a COMPOSITE key: the batch compacts,
    * buckets, prunes, merges and deletes on the key TUPLE — the manifest
    * records the comma-joined column list as its bucket column
    * ([[graft.sources.Versioned.splitKeyCols]]), every bucketing
    * expression hashes all the columns, deletion-vector sidecars carry
    * one column per key column, and the feed reads back through
    * [[graft.sources.Versioned.changesKeyed]]. Closes the asymmetry
    * where a composite-PK table could subscribe to changes but not
    * stream-apply them.
    */
  def applyBatchKeyed(batch: DataFrame, tableDir: String, keys: Seq[String],
                      valueCols: Seq[String], seqCol: String,
                      epochId: Option[Long] = None,
                      appId: Option[String] = None,
                      nBuckets: Int = DefaultBuckets,
                      maxRecordsPerFile: Long = 0L): Unit = {
    require(keys.nonEmpty, "applyBatchKeyed: empty key column list")
    val bcJoined = keys.mkString(",")
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // the fence reads this stream's newest manifest on every batch: a
    // table wiped and recreated at the same path has only its own
    // manifests to answer from
    val replayed = (for {
      e <- epochId; a <- appId
      hw <- Versioned.latestEpochFor(spark, tableDir, a)
    } yield e <= hw).getOrElse(false)
    if (replayed) return
    // seq ties break on a content hash, NOT shuffle arrival order: a
    // replayed batch must pick the SAME winner or the idempotent-replay
    // contract (byte-identical duplicate version) breaks. Identical-
    // content ties are trivially stable; differing-content ties resolve
    // deterministically by the hash.
    val tieCols = batch.columns.filterNot(_ == seqCol).sorted.toIndexedSeq.map(col)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, xxhash64(tieCols: _*))
    // persisted: the compacted batch is referenced up to three times on
    // the hot path (key/bucket distinct, the pure-delete check, the
    // merge itself) and each reference would otherwise re-run the
    // row_number window — a full shuffle of the micro-batch per use
    val compacted = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", seqCol)
      .persist()
    try applyCompacted(compacted, tableDir, keys, valueCols, epochId,
      appId, nBuckets, maxRecordsPerFile, bcJoined)
    finally compacted.unpersist(blocking = false): Unit
  }

  private def applyCompacted(compacted: DataFrame, tableDir: String,
                             keys: Seq[String], valueCols: Seq[String],
                             epochId: Option[Long], appId: Option[String],
                             nBuckets: Int, maxRecordsPerFile: Long,
                             bcJoined: String): Unit = {
    val spark = compacted.sparkSession
    // the parent layout decides the apply granularity: a bucketed parent
    // gets a file-level replace commit; anything else (fresh table, or a
    // table last written by plain snapshot commits) gets a one-time full
    // rewrite INTO the bucketed layout
    val parentM = Versioned.versions(spark, tableDir).lastOption
      .map(v => Versioned.manifest(spark, tableDir, Some(v)))
    val layout = parentM.flatMap(m => Versioned.bucketLayout(m)
      .collect { case (bc, n) if bc == bcJoined => (m, n) })

    layout match {
      case Some((m, n)) =>
        // distinct (key, bucket) pairs, collected only up to KeyPruneCap —
        // a batch with few distinct keys (the common CDC shape) enables
        // FILE-level footer pruning inside its buckets; a bigger batch
        // falls back to bucket-level replace via a tiny bucket-only
        // distinct (bounded by nBuckets driver-side values either way)
        val bexpr = Versioned.bucketExpr(bcJoined, n)
        val keyed = compacted.select(struct(keys.map(col): _*).as("__k"),
            bexpr.as("__b"))
          .distinct()
        // a key VALUE is the scalar for a single-column key, the
        // component Seq for a composite one (Versioned.keyComponents'
        // normalized shape — what deleteKeys/fileMayContain accept)
        def keyOf(r: org.apache.spark.sql.Row): Any = {
          val s = r.getStruct(0)
          if (keys.length == 1) s.get(0) else s.toSeq
        }
        val cappedKeys = keyed.limit(KeyPruneCap + 1).collect()
        val exact: Option[Map[Long, Seq[Any]]] =
          if (cappedKeys.length > KeyPruneCap) None
          else Some(cappedKeys.groupBy(_.getLong(1))
            .map { case (b, rows) => b -> rows.toSeq.map(keyOf) })
        val touched: Set[Long] = exact.map(_.keySet)
          .getOrElse(keyed.select("__b").distinct().collect()
            .map(_.getLong(0)).toSet)
        // PURE-DELETE fast path: a small all-'D' batch needs no merge —
        // a deletion-vector commit hides the keys behind per-entry
        // sidecars and rewrites NOTHING (Versioned.deleteKeys, the
        // granularity rung under file-level replace: retention/GDPR
        // deletes arriving on the stream stop costing a file rewrite
        // each). The epoch/appId ride the DV commit's manifest, so the
        // replay fence is the same one every apply path uses.
        if (exact.isDefined && compacted.filter(col("op") =!= "D").isEmpty) {
          Versioned.deleteKeys(spark, tableDir,
            cappedKeys.toSeq.map(keyOf), epochId, appId)
          return
        }
        // a bucket can be backed by SEVERAL entries (the migrated base,
        // bucketed plain appends, files carried by earlier file-level
        // replaces) — group, don't .toMap, which would keep one entry
        // per bucket and silently drop the others from the merge while
        // the manifest still replaces only the kept one (stale keys
        // resurface)
        val byBucket = m.dataDirs
          .flatMap(d => Versioned.bucketOf(d).map(_ -> d))
          .groupMap(_._1)(_._2)
        // SUB-BUCKET granularity: per touched bucket, its backing files
        // split into must-merge (footer key range may contain a batch
        // key) and carried (proven key-free — referenced VERBATIM in the
        // new manifest, never opened). With key-sorted multi-file
        // buckets (writeBucketed maxRecordsPerFile) a 1-row update
        // rewrites one ~file, not one ~bucket. The whole bucket's old
        // entries are always REPLACED in the manifest (carried files
        // re-enter as individual file references); compactCommit folds
        // the file fragments back into one dir per bucket.
        val hconf = graft.Tables.hadoopConf(spark)
        // entries carrying a deletion vector always rewrite WHOLE (no
        // file carry): the rewrite materializes the DV away, so DVs
        // never propagate through replaces and per-file row bookkeeping
        // stays footer-exact
        val dvByEntry = m.dvs.map(d => d.entry -> d).toMap
        var replacedEntries = Vector.empty[String]
        var baseFiles = Vector.empty[String]
        var dvdEntries = Vector.empty[String]
        var carriedFiles = Vector.empty[String]
        touched.toSeq.sorted.foreach { b =>
          val entries = byBucket.getOrElse(b, Seq.empty)
          if (entries.nonEmpty) {
            val (dvd, free) = entries.partition(dvByEntry.contains)
            replacedEntries ++= entries
            dvdEntries ++= dvd
            exact match {
              case Some(keysByBucket) =>
                val ks = keysByBucket(b)
                val files = free.flatMap(e =>
                  Versioned.parquetFiles(hconf, e))
                val (hit, miss) = files.partition(f =>
                  Versioned.fileMayContain(hconf, f, bcJoined, ks))
                baseFiles ++= hit
                carriedFiles ++= miss
              case None =>
                baseFiles ++= free
            }
          }
        }
        def rdFiles(fsq: Seq[String]) =
          spark.read.option("mergeSchema", "true").parquet(fsq: _*)
        // a replaced entry's DV keys must stay deleted through the merge
        // (reading its files raw would RESURRECT them) — and each entry
        // masks against its OWN sidecar only (readEntriesMasked): a key
        // deleted from one entry and re-inserted by a later append lives
        // in ANOTHER entry of the same bucket, and a union mask across
        // entries would silently drop the live copy from the rewrite the
        // moment that entry carries a DV for a different key
        val maskedDvd =
          Versioned.readEntriesMasked(spark, dvdEntries, m.dvs)
        val freeBase = if (baseFiles.isEmpty) None else Some(rdFiles(baseFiles))
        val base = (maskedDvd, freeBase) match {
          case (Some(a), Some(b)) => a.unionByName(b, allowMissingColumns = true)
          case (a, b) => a.orElse(b)
            .getOrElse(Versioned.read(spark, tableDir).limit(0))
        }
        val merged = Lakehouse.mergeUpsertKeyed(base, compacted, keys,
          valueCols).drop("src")
        val (fresh, freshRows) = Versioned.writeData(merged, tableDir,
          Some((bcJoined, n)), maxRecordsPerFile)
        val newDirs = fresh ++ carriedFiles
        // exact row bookkeeping from parquet FOOTERS — metadata reads,
        // no second scan of the touched data
        val newRows = freshRows +
          carriedFiles.map(graft.Tables.footerRowCount(spark, _)).sum
        // logical rows of a replaced entry = its footer rows minus the
        // rows its deletion vector hid
        val replacedRows =
          replacedEntries.map(graft.Tables.footerRowCount(spark, _)).sum -
            replacedEntries.flatMap(dvByEntry.get).map(_.n).sum
        Versioned.commitDirs(spark, tableDir, newDirs, newRows,
          replacedEntries.toSet, replacedRows, epochId, appId,
          bucketCol = Some(bcJoined), nBuckets = Some(n),
          baseVersion = Some(m.version))
      case None =>
        val base = parentM match {
          case None =>
            // first batch: empty base with the value schema merges produce
            compacted.select(keys.map(col) ++
              valueCols.map(c => col(s"new_$c").as(c)): _*).limit(0)
          case Some(_) => Versioned.read(spark, tableDir)
        }
        val merged = Lakehouse.mergeUpsertKeyed(base, compacted, keys,
          valueCols).drop("src")
        val (newDirs, newRows) = Versioned.writeData(merged, tableDir,
          Some((bcJoined, nBuckets)), maxRecordsPerFile)
        Versioned.commitDirs(spark, tableDir, newDirs, newRows,
          parentM.map(_.dataDirs.toSet).getOrElse(Set.empty),
          parentM.map(_.nRows).getOrElse(0L), epochId, appId,
          bucketCol = Some(bcJoined), nBuckets = Some(nBuckets),
          baseVersion = parentM.map(_.version))
    }
  }
}
