package graft.sources

import graft.model.RelGraph
import graft.operators.Subset.Extraction
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Extraction sinks — the reinjection side of the reference
  * (`/root/reference/dbcut/cli/operations.py:84-139`, `serializer.py:57-78`):
  * write the extracted subset to a destination as parquet or JSON, in
  * parent-before-child FK order (the Spark analogue of inserting with FK
  * checks disabled is simply ordering the writes), plus `flush`/`clear`
  * semantics as overwrite/truncate writers.
  */
object Export {

  /** Write every extracted table as parquet under `destDir/<table>/`,
    * parents before children so a downstream FK-checking importer can load
    * in directory order (prefixed with a 2-digit rank).
    */
  /** The FK-safe write order shared by every per-table exporter: parents
    * before children (downstream FK-checking importers load in directory
    * order), one definition so the ordering rule cannot drift between
    * formats.
    */
  private def writeOrdered(e: Extraction)(
      write: (DataFrame, String, Int) => String): Seq[String] = {
    val order = e.plan.graph.topological.filter(e.tables.contains)
    order.zipWithIndex.map { case (name, i) =>
      write(e.tables(name), name, i)
    }
  }

  def parquet(e: Extraction, destDir: String): Seq[String] =
    writeOrdered(e) { (df, name, i) =>
      val path = f"$destDir/$i%02d_$name"
      graft.Tables.writer(df).mode(SaveMode.Overwrite).parquet(path)
      path
    }

  /** dbcut `dumpjson`: one JSON-lines file per table (canonical export —
    * single file via coalesce(1), acceptable because extractions are small
    * by construction; large exports should keep natural partitioning).
    */
  def json(e: Extraction, destDir: String, singleFile: Boolean = true): Seq[String] =
    writeOrdered(e) { (df, name, _) =>
      val out = if (singleFile) df.coalesce(1) else df
      val path = s"$destDir/$name.json"
      graft.Tables.writer(out).mode(SaveMode.Overwrite).json(path)
      path
    }

  /** dbcut `flush`: drop + recreate ≡ overwrite the destination table. */
  def flush(df: DataFrame, destPath: String): Unit =
    graft.Tables.writer(df).mode(SaveMode.Overwrite).parquet(destPath)

  /** ORC export: the extraction in FK order as ORC — the other columnar
    * format Spark ships a native vectorized reader/writer for, so a graft
    * extraction can feed ORC-first warehouses (Hive ACID, older Trino
    * catalogs) without a conversion job. Same scan-side behaviors as
    * parquet: column pruning, predicate pushdown into file/stripe stats.
    */
  def orc(e: Extraction, destDir: String): Seq[String] =
    writeOrdered(e) { (df, name, i) =>
      val path = f"$destDir/$i%02d_$name"
      graft.Tables.writer(df).mode(SaveMode.Overwrite).orc(path)
      path
    }

  /** dbcut `clear`: delete all rows but keep schema ≡ overwrite with the
    * empty slice of the same schema.
    */
  def clear(df: DataFrame, destPath: String): Unit =
    graft.Tables.writer(df.limit(0)).mode(SaveMode.Overwrite).parquet(destPath)

  /** Small-files repair: rewrite a parquet directory into files of
    * ~`targetBytes` each. Streaming sinks and over-partitioned jobs leave
    * thousands of tiny files whose per-file open/footer cost dominates the
    * next scan; at 100 TB an uncompacted table can spend longer listing
    * than reading. Writes to `<path>__compact_tmp`, then publishes it
    * with [[graft.Publish.swap]], keeping the original at
    * `<path>__compact_old` until the rewrite is in place (crash-safe, not
    * a transaction; the Versioned commit log is the full answer at
    * warehouse scale). Returns (filesBefore, filesAfter).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 256L << 20): (Int, Int) = {
    val conf = graft.Tables.hadoopConf(spark)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    // a hive-partitioned table has no top-level data files; compacting it
    // here would compute parts=1 and FLATTEN the partition layout into a
    // single file — refuse instead (partition-aware compaction rewrites
    // per partition directory)
    require(files.nonEmpty,
      s"compact: no top-level parquet files at $path — partitioned " +
        "tables must be compacted per partition directory")
    val parts = math.max(1L,
      math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toLong).toInt
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "__compact_old")
    graft.Tables.writer(spark.read.parquet(path).repartition(parts))
      .mode(SaveMode.Overwrite).parquet(tmp.toString)
    graft.Publish.swap(fs, tmp, p, aside = old)
    (files.length, parts)
  }

  /** Range-partitioned, sorted parquet write: every output file covers a
    * DISJOINT range of `sortCol`, so parquet min/max statistics let a
    * range/point predicate skip whole files (and row groups within them) —
    * the layout step that makes `WHERE key BETWEEN ...` scans read a
    * sliver of a 100 TB table instead of all of it.
    */
  def sortedParquet(df: DataFrame, destPath: String, sortCol: String,
                    numFiles: Int): Unit = {
    val sorted = df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(sortCol))
      .sortWithinPartitions(sortCol)
    graft.Tables.writer(sorted).mode(SaveMode.Overwrite).parquet(destPath)
  }

  /** Z-ORDER (Morton-curve) layout: the multi-dimensional twin of
    * [[sortedParquet]]. A lexicographic sort gives tight per-file min/max
    * statistics on the LEADING column only — a predicate on the second
    * column still reads every file, because each file spans its full
    * range. Interleaving the bits of every column's normalized rank into
    * one Z-address and range-sorting by THAT clusters rows so each file
    * covers a small hyper-rectangle: parquet footer min/max stay tight on
    * EVERY layout column at once, and pushed-down range/point predicates
    * on any of them skip whole files and row groups. This is the layout
    * pass a 100 TB table gets before serving multi-key scans.
    *
    * Normalization is equi-width over each numeric column's [min, max]
    * (one metadata-size aggregate, broadcast back as literals) into
    * `bitsPerCol`-bit cells, so the Z-address is a pure codegen
    * shift/or expression over the scan — no shuffle beyond the final
    * range partition, no UDF. Equi-width cells degrade for heavily skewed
    * columns (most cells empty); quantile-based cells via ExactQuantiles
    * boundaries are the upgrade path there.
    */
  def zorderParquet(df: DataFrame, destPath: String, cols: Seq[String],
                    numFiles: Int, bitsPerCol: Int = 16,
                    quantileCells: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && cols.size * bitsPerCol <= 63,
      s"z-address must fit a long: ${cols.size} cols x $bitsPerCol bits")
    val cellCols =
      if (quantileCells) {
        // EQUI-DEPTH cells: boundaries are exact distributed quantiles
        // (ExactQuantiles — no single-reducer percentile), so every cell
        // holds ~1/2^bits of the ROWS no matter how skewed the values.
        // Equi-width cells degrade under skew (most rows share cell 0 and
        // the skewed column stops contributing locality to the curve —
        // its footer min/max go slack in every file). Boundaries inline
        // as a when-sum like q_histogram's bucketing, hence the bit cap.
        require(bitsPerCol <= 8,
          s"quantile cells inline 2^bits-1 boundaries as a codegen when-sum; use <= 8 bits, got $bitsPerCol")
        val cells = 1 << bitsPerCol
        cols.map { c =>
          // ExactQuantiles works in the 2-decimal×1e6 micros domain:
          // values outside it (|v| beyond ~9.2e12, NaN) or columns whose
          // 2-decimal rounding collapses every value (all |v| < 0.005)
          // cannot produce usable boundaries — fail loudly rather than
          // silently writing a layout where the column steers nothing
          val bs = graft.operators.ExactQuantiles.continuous(
            df, lit(""), col(c), (1 until cells).map(_.toDouble / cells))
            .getOrElse("", sys.error(
              s"quantile cells: column $c has no in-domain values " +
                "(2-decimal micros domain; use equi-width cells instead)"))
          require(bs.forall(b => !b.isNaN && !b.isInfinite),
            s"quantile cells: non-finite boundary for column $c")
          require(bs.distinct.length > 1,
            s"quantile cells degenerate for column $c (all boundaries equal " +
              "after 2-decimal rounding); use equi-width cells instead")
          (1 until cells)
            .map(i => when(col(c).cast("double") > lit(bs(i - 1)), 1L)
              .otherwise(0L))
            .reduce(_ + _)
        }
      } else {
        val mmCols = cols.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(col(c)).cast("double").as(s"mn$i"),
            max(col(c)).cast("double").as(s"mx$i"))
        }
        val mm = df.agg(mmCols.head, mmCols.tail: _*).head()
        val cells = (1L << bitsPerCol) - 1
        // per-column cell index in [0, 2^bits): exact long arithmetic over
        // the micros-scaled value keeps the bucketing deterministic
        cols.zipWithIndex.map { case (c, i) =>
          // all-null / non-castable / empty-frame columns surface as a
          // named error like the quantile branch, not a bare NPE
          if (mm.isNullAt(2 * i) || mm.isNullAt(2 * i + 1))
            sys.error(s"z-order column $c has no numeric values " +
              "(all null, non-castable, or empty input)")
          val (mn, mx) = (mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
          val width = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
          least(lit(cells), greatest(lit(0L),
            ((col(c).cast("double") - lit(mn)) / lit(width) * lit(cells.toDouble))
              .cast("long")))
        }
      }
    // interleave: output bit (b*nCols + i) = bit b of column i's cell
    val z = (0 until bitsPerCol).flatMap { b =>
      cellCols.zipWithIndex.map { case (cc, i) =>
        shiftleft(shiftright(cc, b) bitwiseAND lit(1L), b * cols.size + i)
      }
    }.reduce(_ bitwiseOR _)
    val sorted = df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    graft.Tables.writer(sorted).mode(SaveMode.Overwrite).parquet(destPath)
  }
}
