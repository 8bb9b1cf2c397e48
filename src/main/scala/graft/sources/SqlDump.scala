package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQL dump export — the reference's `dumpsql` (DDL + INSERT statements,
  * `/root/reference/dbcut/cli/cmd_dumpsql.py`), re-expressed distributed:
  * the INSERT statements are rendered as a string column *on the executors*
  * (pure Column expressions, codegen'd — no driver-side row loop) and
  * written as a text file; only the DDL header is built on the driver from
  * the schema.
  *
  * Cross-DBMS fidelity mirrors the reference's SQLAlchemy dialect layer
  * (`database.py:267-305` per-dialect FK toggles, `sqlalchemy_utils.py`
  * type rendering): a [[Dialect]] picks type names, identifier quoting,
  * boolean/binary literal syntax, autoincrement PK rendering, and the
  * FK-checks-off prologue the reference wraps loads in
  * (`no_fkc_session`, `database.py:283-310`).
  */
object SqlDump {

  /** Column-level type-fidelity hints, carried as Spark `StructField`
    * metadata. Spark's type system has no enum/unsigned/collation/length,
    * but the reference round-trips them through SQLAlchemy reflection
    * (`/root/reference/dbcut/database.py:166-211` automap; the dump DDL
    * inherits them from the reflected `Column.type`). graft's analogue:
    * a JDBC reflector (or config) attaches these hints to the schema and
    * every [[Dialect]] renders them in its own syntax. Absent hints cost
    * nothing — rendering falls back to the plain Spark-type mapping.
    */
  object TypeHints {
    val EnumKey = "graft.sql.enum"           // string-array of allowed values
    val UnsignedKey = "graft.sql.unsigned"   // boolean, integral columns
    val CollationKey = "graft.sql.collation" // string, text columns
    val LengthKey = "graft.sql.length"       // long, VARCHAR(n) for strings

    /** Builder — compose then attach via `col(c).as(c, metadata)` or a
      * `StructField.copy(metadata = ...)`.
      */
    final case class Hints(
        enumValues: Seq[String] = Nil,
        unsigned: Boolean = false,
        collation: Option[String] = None,
        length: Option[Long] = None) {
      def metadata: Metadata = {
        val b = new MetadataBuilder()
        if (enumValues.nonEmpty) b.putStringArray(EnumKey, enumValues.toArray)
        if (unsigned) b.putBoolean(UnsignedKey, true)
        collation.foreach(b.putString(CollationKey, _))
        length.foreach(b.putLong(LengthKey, _))
        b.build()
      }
    }

    def enumOf(f: StructField): Option[Seq[String]] =
      if (f.metadata.contains(EnumKey)) Some(f.metadata.getStringArray(EnumKey).toSeq)
      else None
    def unsigned(f: StructField): Boolean =
      f.metadata.contains(UnsignedKey) && f.metadata.getBoolean(UnsignedKey)
    def collation(f: StructField): Option[String] =
      if (f.metadata.contains(CollationKey)) Some(f.metadata.getString(CollationKey))
      else None
    def length(f: StructField): Option[Long] =
      if (f.metadata.contains(LengthKey)) Some(f.metadata.getLong(LengthKey))
      else None

    /** Quoted-list parser for `ENUM('a','b c','it''s')` bodies: values may
      * contain commas and doubled-quote escapes, so a naive split corrupts
      * them. Text outside quotes (commas, spaces) is separator noise.
      */
    private[sources] def parseQuotedList(body: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var i = 0
      var inQuote = false
      while (i < body.length) {
        val c = body.charAt(i)
        if (inQuote) {
          if (c == '\'') {
            if (i + 1 < body.length && body.charAt(i + 1) == '\'') {
              cur.append('\''); i += 1
            } else { inQuote = false; out += cur.result(); cur.clear() }
          } else cur.append(c)
        } else if (c == '\'') inQuote = true
        i += 1
      }
      out.result()
    }

    /** Parse hints out of a raw database type name, the shape JDBC
      * `ResultSetMetaData.getColumnTypeName` / information_schema return —
      * e.g. `INT UNSIGNED`, `ENUM('a','b')`, `VARCHAR(25)`. This is the
      * reflection edge: what SQLAlchemy gives the reference for free.
      */
    def fromTypeName(typeName: String): Hints = {
      val t = typeName.trim
      val upper = t.toUpperCase
      val enumVals =
        if (upper.startsWith("ENUM(") && t.endsWith(")"))
          parseQuotedList(t.substring(5, t.length - 1))
        else Nil
      val len = "^(?:VARCHAR|CHARACTER VARYING|NVARCHAR|NCHAR|CHARACTER|CHAR)\\((\\d+)\\)".r
        .findFirstMatchIn(upper).map(_.group(1).toLong)
      Hints(
        enumValues = enumVals,
        // an enum is never unsigned, and its VALUES must not trip the check
        // ("ENUM('unsigned','signed')" is a string column)
        unsigned = enumVals.isEmpty && upper.contains("UNSIGNED"),
        length = len)
    }
  }

  /** SQL string literal for a driver-side constant (enum CHECK lists). */
  private def sqlString(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Target-DBMS rendering rules. `Ansi` is the portable default. */
  sealed trait Dialect {
    def name: String
    def quote(ident: String): String = "\"" + ident + "\""

    /** Full rendered column type honoring [[TypeHints]]: enum, unsigned,
      * length, collation. Dialects without a native spelling emit the
      * portable equivalent (CHECK constraints, widened signed types).
      * COLLATE is placed immediately after the data type — before any CHECK
      * — because Postgres/ANSI column grammar requires `type [COLLATE]
      * constraints...`; a COLLATE after a constraint is a syntax error.
      */
    def columnType(f: StructField): String = {
      import TypeHints._
      val q = quote(f.name)
      val (core, check) = enumOf(f) match {
        case Some(vals) => enumType(vals, q)
        case None =>
          val t = (f.dataType, length(f)) match {
            case (StringType, Some(n)) => s"VARCHAR($n)"
            case (dt, _) => sqlType(dt)
          }
          if (unsigned(f)) unsignedType(f.dataType, t, q) else (t, "")
      }
      val collate = collation(f) match {
        case Some(coll) if f.dataType == StringType => s" COLLATE ${collationIdent(coll)}"
        case _ => ""
      }
      s"$core$collate$check"
    }

    /** Enum rendering hook: (core type, trailing constraint). Portable
      * default: sized VARCHAR + membership CHECK; MySQL overrides natively.
      */
    protected def enumType(vals: Seq[String], quotedName: String): (String, String) = {
      val width = (vals.map(_.length) :+ 1).max
      (s"VARCHAR($width)",
        s" CHECK ($quotedName IN (${vals.map(sqlString).mkString(", ")}))")
    }

    /** Unsigned integral hook: no portable unsigned types exist, so widen to
      * the next signed type that holds the full unsigned range and pin the
      * sign with a CHECK (the lossless direction; MySQL overrides natively).
      */
    protected def unsignedType(dt: DataType, rendered: String,
                               quotedName: String): (String, String) = {
      val widened = dt match {
        case ByteType | ShortType => "INTEGER"
        case IntegerType => "BIGINT"
        case LongType => "DECIMAL(20,0)"
        case _ => rendered
      }
      (widened, s" CHECK ($quotedName >= 0)")
    }
    protected def collationIdent(coll: String): String = quote(coll)

    def sqlType(dt: DataType): String = dt match {
      case ByteType | ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "REAL"
      case DoubleType => "DOUBLE PRECISION"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case BinaryType => "BLOB"
      case _ => "TEXT"
    }
    /** Single-PK integer column rendered as auto-increment. */
    def autoIncrementSuffix: String = ""
    /** Lines emitted before/after the INSERTs (FK checks off/on). */
    def prologue(tables: Seq[String]): Seq[String] = Nil
    def epilogue(tables: Seq[String]): Seq[String] = Nil
    def boolLiteral(c: Column): Column = when(c, "TRUE").otherwise("FALSE")
    def binaryLiteral(c: Column): Column =
      concat(lit("X'"), upper(hex(c)), lit("'"))
    /** Escaping INSIDE a string literal. Standard SQL only doubles the
      * quote; MySQL additionally treats backslash as an escape character
      * (default sql_mode), so it must double those too — otherwise a
      * value like {{{C:\tmp}}} silently corrupts ({{{\t}}} → tab) and a
      * trailing backslash eats the closing quote, splicing the rest of
      * the row INTO the string (an injection, not just a load error).
      */
    def stringEscape(c: Column): Column = regexp_replace(c, "'", "''")
  }

  case object Ansi extends Dialect {
    val name = "ansi"
    // bare identifiers: the portable dump stays loadable (and diffable)
    // everywhere without quote-style commitments
    override def quote(ident: String): String = ident
  }

  case object MySql extends Dialect {
    val name = "mysql"
    override def quote(ident: String): String = s"`$ident`"
    // backslash first, then quote doubling — the other order would
    // re-escape the backslashes inserted for quotes
    override def stringEscape(c: Column): Column =
      regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "'", "''")
    override def sqlType(dt: DataType): String = dt match {
      case DoubleType => "DOUBLE"
      case BooleanType => "TINYINT(1)"
      // TIMESTAMP in MySQL is range-limited + zone-shifted; DATETIME(6)
      // matches Spark's microsecond timestamps
      case TimestampType | TimestampNTZType => "DATETIME(6)"
      case StringType => "LONGTEXT"
      case BinaryType => "LONGBLOB"
      case other => super.sqlType(other)
    }
    override def autoIncrementSuffix: String = " AUTO_INCREMENT"
    // MySQL spells all three hints natively: ENUM(...), <int> UNSIGNED,
    // COLLATE utf8mb4_bin (bare identifier, not quoted)
    override protected def enumType(vals: Seq[String], quotedName: String): (String, String) =
      (s"ENUM(${vals.map(sqlString).mkString(", ")})", "")
    override protected def unsignedType(dt: DataType, rendered: String,
                                        quotedName: String): (String, String) =
      (dt match {
        case ByteType | ShortType => "SMALLINT UNSIGNED"
        case IntegerType => "INT UNSIGNED"
        case LongType => "BIGINT UNSIGNED"
        case _ => rendered
      }, "")
    override protected def collationIdent(coll: String): String = coll
    override def prologue(tables: Seq[String]): Seq[String] =
      Seq("SET FOREIGN_KEY_CHECKS = 0;")
    override def epilogue(tables: Seq[String]): Seq[String] =
      Seq("SET FOREIGN_KEY_CHECKS = 1;")
    override def boolLiteral(c: Column): Column = when(c, "1").otherwise("0")
  }

  case object Postgres extends Dialect {
    val name = "postgresql"
    override def sqlType(dt: DataType): String = dt match {
      case BinaryType => "BYTEA"
      case other => super.sqlType(other)
    }
    // the reference re-creates sequences via SQLAlchemy; SERIAL is the
    // dump-file equivalent
    override def autoIncrementSuffix: String = "" // rendered via type below
    override def prologue(tables: Seq[String]): Seq[String] =
      tables.map(t => s"ALTER TABLE IF EXISTS ${quote(t)} DISABLE TRIGGER ALL;")
    override def epilogue(tables: Seq[String]): Seq[String] =
      tables.map(t => s"ALTER TABLE IF EXISTS ${quote(t)} ENABLE TRIGGER ALL;")
    override def binaryLiteral(c: Column): Column =
      concat(lit("'\\x"), upper(hex(c)), lit("'"))
  }

  case object Sqlite extends Dialect {
    val name = "sqlite"
    override def sqlType(dt: DataType): String = dt match {
      // SQLite type affinity: INTEGER / REAL / TEXT / BLOB
      case ByteType | ShortType | IntegerType | LongType | BooleanType => "INTEGER"
      case FloatType | DoubleType => "REAL"
      case _: DecimalType => "NUMERIC"
      case BinaryType => "BLOB"
      case _ => "TEXT"
    }
    // SQLite collations are bare keywords (BINARY / NOCASE / RTRIM)
    override protected def collationIdent(coll: String): String = coll
    override def prologue(tables: Seq[String]): Seq[String] =
      Seq("PRAGMA foreign_keys = OFF;")
    override def epilogue(tables: Seq[String]): Seq[String] =
      Seq("PRAGMA foreign_keys = ON;")
    override def boolLiteral(c: Column): Column = when(c, "1").otherwise("0")
  }

  val dialects: Map[String, Dialect] =
    Seq(Ansi, MySql, Postgres, Sqlite).map(d => d.name -> d).toMap

  /** A foreign-key clause for the DDL: childCols REFERENCES parent(parentCols). */
  final case class FkClause(childCols: Seq[String], parent: String, parentCols: Seq[String])

  /** Portable type name (ANSI dialect) — kept for callers/tests. */
  def sqlType(dt: DataType): String = Ansi.sqlType(dt)

  /** CREATE TABLE statement for a DataFrame's schema, with PK, FK clauses,
    * and dialect-specific types/quoting. A single integer PK column gets
    * the dialect's auto-increment rendering (Postgres: SERIAL types).
    */
  def ddl(table: String, df: DataFrame, pk: Seq[String] = Nil,
          fks: Seq[FkClause] = Nil, dialect: Dialect = Ansi): String =
    ddl(table, df.schema, pk, fks, dialect)

  /** Schema-only DDL (no DataFrame needed — model generation uses this). */
  /** The single integer PK column (if any) — the auto-increment case the
    * DDL renders specially and the Postgres dump must sequence-sync.
    */
  private def singleIntPkOf(schema: StructType,
                            pk: Seq[String]): Option[String] = pk match {
    case Seq(one) => schema.fields.find(_.name == one).map(_.dataType) match {
      case Some(IntegerType | LongType) => Some(one)
      case _ => None
    }
    case _ => None
  }

  def ddl(table: String, schema: StructType, pk: Seq[String],
          fks: Seq[FkClause], dialect: Dialect): String = {
    val singleIntPk = singleIntPkOf(schema, pk)
    val cols = schema.fields.map { f =>
      val notNull = if (f.nullable) "" else " NOT NULL"
      val tpe = (dialect, singleIntPk.contains(f.name), f.dataType) match {
        // Postgres spells auto-increment as a type, not a suffix (and its
        // sequences are signed anyway, so the unsigned hint can't apply)
        case (Postgres, true, IntegerType) => "SERIAL"
        case (Postgres, true, LongType) => "BIGSERIAL"
        // columnType keeps reflected hints (MySQL: INT UNSIGNED AUTO_INCREMENT)
        case (d, true, _) => d.columnType(f) + d.autoIncrementSuffix
        case (d, false, _) => d.columnType(f)
      }
      s"  ${dialect.quote(f.name)} $tpe$notNull"
    }
    val pkLine =
      if (pk.nonEmpty) Seq(s"  PRIMARY KEY (${pk.map(dialect.quote).mkString(", ")})")
      else Nil
    val fkLines = fks.map(fk =>
      s"  FOREIGN KEY (${fk.childCols.map(dialect.quote).mkString(", ")}) " +
        s"REFERENCES ${dialect.quote(fk.parent)} (${fk.parentCols.map(dialect.quote).mkString(", ")})")
    (s"CREATE TABLE ${dialect.quote(table)} (" +:
      (cols ++ pkLine ++ fkLines).mkString(",\n") +: Seq(");"))
      .mkString("\n")
  }

  /** SQL literal rendering of one column, as a Column expression. */
  def literal(f: StructField, dialect: Dialect = Ansi): Column = {
    val c = col(f.name)
    val rendered: Column = f.dataType match {
      case StringType =>
        concat(lit("'"), dialect.stringEscape(c), lit("'"))
      case DateType =>
        concat(lit("'"), c.cast("string"), lit("'"))
      case TimestampType | TimestampNTZType =>
        concat(lit("'"), date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"), lit("'"))
      case BinaryType => dialect.binaryLiteral(c)
      case BooleanType => dialect.boolLiteral(c)
      case _ => c.cast("string")
    }
    when(c.isNull, lit("NULL")).otherwise(rendered)
  }

  /** DataFrame of one `INSERT INTO t (cols) VALUES (...);` string per row. */
  def insertStatements(table: String, df: DataFrame,
                       dialect: Dialect = Ansi): DataFrame = {
    val colList = df.schema.fieldNames.map(dialect.quote).mkString(", ")
    val values = df.schema.fields.map(literal(_, dialect))
    val parts: Seq[Column] =
      lit(s"INSERT INTO ${dialect.quote(table)} ($colList) VALUES (") +:
        values.zipWithIndex.flatMap { case (v, i) =>
          if (i == 0) Seq(v) else Seq(lit(", "), v)
        }.toSeq :+ lit(");")
    df.select(concat(parts: _*).as("stmt"))
  }

  /** Full dump of one table to a text file: dialect prologue (FK checks
    * off — the reference inserts inside `no_fkc_session`), DDL header,
    * distributed INSERTs, epilogue. `orderBy` keeps output deterministic
    * for diffing/tests.
    */
  def dump(table: String, df: DataFrame, destPath: String,
           pk: Seq[String] = Nil, fks: Seq[FkClause] = Nil,
           dialect: Dialect = Ansi): Unit = {
    import org.apache.spark.sql.SaveMode
    val spark = df.sparkSession
    import spark.implicits._
    // ord pins section order through the global sort: 0 prologue, 1 DDL,
    // 2 INSERTs (deterministic within), 3 sequence sync, 4 epilogue
    // Postgres SERIAL/BIGSERIAL: the INSERTs carry explicit ids that do
    // NOT advance the backing sequence — without a setval epilogue the
    // restored database's first application insert collides on
    // nextval=1 (the reference gets this from SQLAlchemy's sequence
    // re-creation)
    val seqSync = dialect match {
      case Postgres => singleIntPkOf(df.schema, pk).map { c =>
        (s"SELECT setval(pg_get_serial_sequence('$table', '$c'), " +
          s"(SELECT COALESCE(MAX(${dialect.quote(c)}), 1) " +
          s"FROM ${dialect.quote(table)}));", 3)
      }.toSeq
      case _ => Nil
    }
    val header =
      dialect.prologue(Seq(table)).map((_, 0)) ++
        Seq((ddl(table, df, pk, fks, dialect), 1)) ++
        seqSync ++
        dialect.epilogue(Seq(table)).map((_, 4))
    val script = header.toDF("stmt", "ord")
      .unionByName(insertStatements(table, df, dialect).withColumn("ord", lit(2)))
      .orderBy("ord", "stmt").select("stmt")
      .coalesce(1)
    graft.Tables.writer(script).mode(SaveMode.Overwrite).text(destPath)
  }
}
