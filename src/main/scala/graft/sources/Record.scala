package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** VCR-style query record/replay — the test-fixture workflow of the
  * reference's contrib recorder (`/root/reference/dbcut/contrib/record.py:13-127`):
  * a NAMED cassette file records query results on first run and replays
  * them on later runs without touching the source, under three
  * write-protect modes. What it is for: a test suite extracts a subset
  * once against the live source, commits the cassette, and every CI run
  * after that replays the fixture offline.
  *
  *  - `Once` (default): an empty cassette records everything; a non-empty
  *    cassette is WRITE-PROTECTED — hits replay, a miss raises.
  *  - `All`: the cassette is cleared on open and everything re-records.
  *  - `None_`: never records — hits replay, any miss raises (pure replay).
  *
  * Keys mirror the reference: SHA1 over the statement text plus a
  * per-session iteration counter, so the SAME statement executed twice
  * records two entries and replays them in order (the cassette is a
  * sequence of query events, not a map of statements). Hit decisions use
  * the keys present at OPEN time — a record appended in this session is
  * not replayed by this session (reference `cached_keys` semantics).
  *
  * Storage is ONE portable JSON file `<outputDir>/<name>.json`: per
  * record the key, statement, iteration count, the result schema as a
  * Spark DDL string, and the rows as JSON lines. Fixture-scale by design
  * (the reference serializes ORM rows into its JSON the same way):
  * results pass through the driver. Replay reconstructs the exact
  * DataFrame via the recorded schema, so types — including ones JSON
  * can't distinguish — round-trip.
  */
final class Recorder(val spark: SparkSession, val name: String,
                     val mode: Recorder.Mode = Recorder.Once,
                     outputDir: String = Recorder.DefaultDir) {

  import Recorder._

  private val mapper = new ObjectMapper()

  private def recordPath = Paths.get(outputDir, s"$name.json")

  private val records: scala.collection.mutable.ArrayBuffer[Rec] = open()
  if (mode == All) {
    records.clear()
    // clear on open must be DURABLE: a re-record run that fails early (or
    // records nothing) must not leave the stale cassette for the next
    // ONCE/NONE run to silently replay
    Files.deleteIfExists(recordPath)
  }
  /** Keys present when the cassette was opened — the replay set. */
  private val openKeys: Set[String] = records.map(_.key).toSet
  private var iterCount = 0
  /** True once this session appended a record — [[save]]'s write gate. */
  private var dirty = false

  private def open(): scala.collection.mutable.ArrayBuffer[Rec] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Rec]
    if (Files.isRegularFile(recordPath)) {
      val root = mapper.readTree(Files.readString(recordPath))
      root.elements().asScala.foreach { n =>
        buf += Rec(n.get("key").asText(), n.get("statement").asText(),
          n.get("iter_count").asInt(), n.get("schema").asText(),
          n.get("rows").elements().asScala.map(_.toString).toSeq)
      }
    }
    buf
  }

  /** True when a miss would raise instead of recording. */
  def writeProtected: Boolean =
    (openKeys.nonEmpty && mode == Once) || mode == None_

  /** Statements in recorded order — lets a pure-replay caller drive the
    * same call sequence without knowing it (e.g. the CLI replaying an
    * extraction's table list with the source offline).
    */
  def statements: Seq[String] = records.map(_.statement).toSeq

  private def key(statement: String, iter: Int): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$statement$iter".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Execute-or-replay one query event. `body` is by-name and is NEVER
    * evaluated on a hit — replay runs with the source unreachable.
    */
  def query(statement: String)(body: => DataFrame): DataFrame = {
    val k = key(statement, iterCount)
    iterCount += 1
    records.find(r => r.key == k && openKeys.contains(k)) match {
      case Some(rec) =>
        import spark.implicits._
        spark.read.schema(StructType.fromDDL(rec.schemaDdl))
          .json(spark.createDataset(rec.rows))
      case scala.None =>
        if (writeProtected)
          throw new IllegalStateException(
            s"Cannot overwrite existing record '$name' (mode $mode, " +
              s"statement '$statement' not in cassette)")
        val df = body
        records += Rec(k, statement, iterCount - 1, df.schema.toDDL,
          df.toJSON.collect().toSeq)
        dirty = true
        df
    }
  }

  /** Persist the cassette — the reference saves on context-manager exit;
    * use [[Recorder.using]] for the same shape. Pure replays skip the
    * write entirely (nothing was appended, so rewriting would only churn
    * a committed fixture and risk truncating it on a crash mid-write);
    * when something WAS recorded, the bytes go to a temp file in the
    * same directory and replace it whole ([[graft.Publish.swapLocal]]), so a
    * reader (or a crash) never sees a half-written cassette.
    */
  def save(): Unit = if (dirty && records.nonEmpty) {
    Files.createDirectories(recordPath.getParent)
    val arr = mapper.createArrayNode()
    records.foreach { r =>
      val o = arr.addObject()
      o.put("key", r.key)
      o.put("statement", r.statement)
      o.put("iter_count", r.iterCount)
      o.put("schema", r.schemaDdl)
      val rows = o.putArray("rows")
      r.rows.foreach(j => rows.add(mapper.readTree(j)))
    }
    val tmp = Files.createTempFile(recordPath.getParent, s".$name", ".json.tmp")
    Files.writeString(tmp,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(arr))
    graft.Publish.swapLocal(tmp, recordPath)
  }
}

object Recorder {
  sealed trait Mode
  case object Once extends Mode
  case object All extends Mode
  case object None_ extends Mode { override def toString = "None" }

  val DefaultDir = "graft_records"

  def mode(s: String): Mode = s.toUpperCase match {
    case "ONCE" => Once
    case "ALL" => All
    case "NONE" => None_
    case other => throw new IllegalArgumentException(
      s"unknown record mode '$other' (ONCE, ALL or NONE)")
  }

  private final case class Rec(key: String, statement: String, iterCount: Int,
                               schemaDdl: String, rows: Seq[String])

  /** Context-manager analogue: open, run, save on the way out. */
  def using[T](spark: SparkSession, name: String, mode: Mode = Once,
               outputDir: String = DefaultDir)(f: Recorder => T): T = {
    val rec = new Recorder(spark, name, mode, outputDir)
    try f(rec) finally rec.save()
  }

  /** Record or replay a whole named-table extraction. Recording wraps each
    * table of `run` as one query event; replay drives the cassette's own
    * event sequence, so the table list (and the data) comes entirely from
    * the fixture — the source is never touched.
    */
  def extraction(rec: Recorder)(run: => Map[String, DataFrame])
      : Map[String, DataFrame] =
    if (rec.writeProtected) {
      // replay ONLY the extraction's own events: a cassette recorded by
      // a mixed command chain (`load query:q1` — the CLI's advertised
      // shape, one shared recorder) also holds `query:` events, and
      // replaying those here would both fabricate a bogus table named
      // "query:…" and burn their iteration slots so the real query
      // replay misses. Iteration alignment holds because replay runs
      // the same command order as the recording did (the cassette is
      // iteration-keyed by contract).
      val tableStmts = rec.statements.filter(_.startsWith("table:"))
      // a pure-replay run against a missing/empty cassette is a MISS, not
      // an empty extraction — raise like every other write-protected miss
      if (tableStmts.isEmpty)
        throw new IllegalStateException(
          s"Cannot replay extraction: cassette '${rec.name}' is empty, " +
            "missing, or holds no extraction events (record it first, or " +
            "check --record-dir)")
      tableStmts.map { stmt =>
        stmt.stripPrefix("table:") -> rec.query(stmt)(
          throw new IllegalStateException("replay must not execute"))
      }.toMap
    } else
      run.toSeq.sortBy(_._1).map { case (n, df) =>
        n -> rec.query(s"table:$n")(df)
      }.toMap

  /** Record or replay ONE registered query (the q_* surface) — the
    * recorder extended past table extractions: recording executes
    * `SparkEntry.queries(queryName)` against `sfDir` and captures
    * schema + rows; replay reconstructs the result with the corpus
    * offline/deleted, so any q_* result can ship as a committed CI
    * fixture (`graft ... --record NAME query:<q_name>`).
    */
  def registeredQuery(rec: Recorder, queryName: String,
                      sfDir: String): DataFrame =
    rec.query(s"query:$queryName")(
      graft.SparkEntry.queries(queryName)(rec.spark, sfDir))
}
