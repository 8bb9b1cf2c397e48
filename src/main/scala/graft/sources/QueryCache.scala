package graft.sources

import graft.model.RelGraph
import graft.operators.Subset
import graft.operators.Subset.Extraction
import graft.spec.{QuerySpec, SpecJson}
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import scala.jdk.CollectionConverters._

/** Extraction result cache — the reference's serialized object cache keyed by
  * SHA1 over engine/table/query info (`/root/reference/dbcut/query.py:68-131`),
  * re-expressed as a parquet cache directory per canonical spec: hit → read
  * parquet (no recompute), miss → run the closure and persist it, plus
  * `purge` (dbcut `purgecache`) and `force` (dbcut `--force-refresh`).
  */
object QueryCache {

  /** SHA1 cache key over the canonical spec + source dir + graph shape —
    * the same inputs dbcut hashes (engine info ≈ source dir, table info ≈
    * graph, query dict ≈ canonical spec).
    */
  def cacheKey(spec: QuerySpec, sfDir: String, graph: RelGraph): String = {
    val graphSig = graph.tables.toSeq.sortBy(_._1).map { case (n, m) =>
      s"$n:${m.pk.mkString(",")}:${m.fks.map(fk => s"${fk.childCols.mkString(",")}>${fk.parent}").sorted.mkString(";")}"
    }.mkString("|")
    val payload = s"${SpecJson.canonical(spec)} $sfDir $graphSig"
    MessageDigest.getInstance("SHA-1")
      .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def countFile(dir: Path): Path = dir.resolve("_counts")

  /** Extract through the cache: returns the per-table DataFrames, reading
    * parquet on a hit. A `_counts` sidecar (table=count lines) mirrors
    * dbcut's count file and marks the cache entry complete.
    */
  def extract(spark: SparkSession, sfDir: String, spec: QuerySpec,
              cacheRoot: String, graph: RelGraph = RelGraph.tpch,
              force: Boolean = false): (Map[String, DataFrame], Boolean) = {
    val key = cacheKey(spec, sfDir, graph)
    val dir = Paths.get(cacheRoot, key)
    if (!force && Files.exists(countFile(dir))) {
      val names = Files.readAllLines(countFile(dir)).asScala.map(_.split("=")(0))
      (names.map(n => n -> spark.read.parquet(dir.resolve(n).toString)).toMap, true)
    } else {
      val e: Extraction = Subset.extract(spark, sfDir, spec, graph)
      Files.createDirectories(dir)
      // invalidate the completeness marker BEFORE the first overwrite: a
      // force-refresh killed mid-rewrite would otherwise leave the OLD
      // marker over mixed old/new table dirs, and the next plain run
      // would serve that mix as a complete, consistent extraction
      Files.deleteIfExists(countFile(dir))
      // one concurrent write wave, like CLI load: the tables are
      // independent files
      graft.Wave.run(e.tables.toSeq) { case (n, df) =>
        graft.Tables.writer(df).mode(SaveMode.Overwrite).parquet(dir.resolve(n).toString)
      }
      // count FROM the just-written files' parquet footers, not the live
      // closure lineage (counting that re-runs the extraction per table);
      // hand out the cached data, exactly like the hit path
      val cached = e.tables.keys.map(n =>
        n -> spark.read.parquet(dir.resolve(n).toString)).toMap
      val counts = cached.keys.toSeq.sorted.map(n =>
        s"$n=${graft.Tables.footerRowCount(spark, dir.resolve(n).toString)}")
      // the marker lands whole: a crash mid-write must not leave a
      // partial table list that the next run serves as a complete hit
      val tmp = Files.createTempFile(dir, "._counts", ".tmp")
      Files.write(tmp, counts.asJava)
      graft.Publish.swapLocal(tmp, countFile(dir))
      (cached, false)
    }
  }

  /** dbcut `purgecache`: drop every cache entry (or one key). The
    * directory streams close deterministically (Using.resource) — leaked
    * ones release only on GC, and a long session purging many entries
    * would exhaust fds (the Cli.listDir rule).
    */
  def purge(cacheRoot: String, key: Option[String] = None): Unit = {
    val root = Paths.get(cacheRoot)
    if (Files.exists(root)) {
      val targets = key match {
        case Some(k) => Seq(root.resolve(k)).filter(Files.exists(_))
        case None => scala.util.Using.resource(Files.list(root))(
          _.iterator().asScala.toSeq)
      }
      targets.foreach { dir =>
        scala.util.Using.resource(Files.walk(dir))(
          _.iterator().asScala.toSeq).reverse.foreach(Files.deleteIfExists(_))
      }
    }
  }
}
