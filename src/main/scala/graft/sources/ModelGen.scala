package graft.sources

import graft.model.{FK, RelGraph}
import org.apache.spark.sql.types._

/** Model-code generation — the reference materializes an ORM model class per
  * reflected table into a generated-models registry
  * (`/root/reference/dbcut/generated_models.py:10-28` lazy module registry,
  * `models.py:42-52` `BaseDeclarativeMeta` registering each declarative class,
  * `database.py:166-211` reflection that drives it). graft's analogue for a
  * compiled language emits *source*: one Scala case class per table (typed
  * fields, `Option` for nullable, relationship Scaladoc from the
  * [[graft.model.RelGraph]]) plus a registry object, and — the DDL face of the
  * same schema — a parent-before-child CREATE TABLE script per
  * [[SqlDump.Dialect]].
  *
  * Pure string emission from driver-side schema metadata: no Spark jobs, no
  * data reads — scale-independent by construction.
  */
object ModelGen {

  private val scalaKeywords = Set(
    "abstract", "case", "catch", "class", "def", "do", "else", "extends",
    "false", "final", "finally", "for", "forSome", "if", "implicit",
    "import", "lazy", "match", "new", "null", "object", "override",
    "package", "private", "protected", "return", "sealed", "super", "this",
    "throw", "trait", "true", "try", "type", "val", "var", "while", "with",
    "yield")

  /** Backtick-escape anything that is not a plain Scala identifier — a
    * column named `type` or `2fa_code` must still produce compilable source.
    */
  private def ident(name: String): String =
    if (name.matches("[A-Za-z_][A-Za-z0-9_]*") && !scalaKeywords(name)) name
    else s"`$name`"

  /** `lineitem` → `Lineitem`, `order_line` → `OrderLine`. */
  def className(table: String): String =
    ident(table.split('_').filter(_.nonEmpty)
      .map(_.capitalize).mkString)

  /** camelCase field name for a snake_case column (`l_orderkey` → `lOrderkey`). */
  def fieldName(column: String): String = {
    val parts = column.split('_').filter(_.nonEmpty)
    ident(
      if (parts.isEmpty) column
      else (parts.head +: parts.tail.map(_.capitalize)).mkString)
  }

  /** Scala source type for a Spark SQL type. */
  def scalaType(dt: DataType): String = dt match {
    case ByteType => "Byte"
    case ShortType => "Short"
    case IntegerType => "Int"
    case LongType => "Long"
    case FloatType => "Float"
    case DoubleType => "Double"
    case BooleanType => "Boolean"
    case StringType => "String"
    case BinaryType => "Array[Byte]"
    case DateType => "java.sql.Date"
    case TimestampType | TimestampNTZType => "java.sql.Timestamp"
    case _: DecimalType => "java.math.BigDecimal"
    case ArrayType(e, _) => s"Seq[${scalaType(e)}]"
    case MapType(k, v, _) => s"Map[${scalaType(k)}, ${scalaType(v)}]"
    case s: StructType =>
      s"(${s.fields.map(f => scalaType(f.dataType)).mkString(", ")})"
    case other => sys.error(s"no Scala mapping for $other")
  }

  /** Field declaration: nullable columns become `Option[T]` (the reflected
    * NOT NULL constraint is the only thing deciding — same rule SQLAlchemy
    * applies to reflected `nullable`).
    */
  def fieldDecl(f: StructField): String = {
    val t = scalaType(f.dataType)
    s"    ${fieldName(f.name)}: ${if (f.nullable) s"Option[$t]" else t}"
  }

  private def fkDoc(fk: FK): String =
    s"${fk.childCols.mkString(",")} -> ${fk.parent}(${fk.parentCols.mkString(",")})"

  /** One case class with relationship Scaladoc (the declarative-model
    * analogue: PK, many-to-one FKs out, one-to-many backrefs in).
    */
  def caseClass(table: String, schema: StructType, graph: RelGraph): String = {
    val meta = graph.tables.get(table)
    val pk = graph.pkOf(table, schema.fieldNames.toSeq)
    val fks = meta.map(_.fks).getOrElse(Nil)
    val backrefs = if (meta.isDefined) graph.backrefEdges(table) else Nil
    val doc = Seq(
      Seq(s"/** Table `$table` — PK (${pk.mkString(", ")})."),
      fks.map(fk => s"  * many-to-one: ${fkDoc(fk)}"),
      backrefs.map { case (child, fk) => s"  * one-to-many: $child.${fkDoc(fk)}" },
      Seq("  */")
    ).flatten.mkString("\n")
    val fields = schema.fields.map(fieldDecl).mkString(",\n")
    s"$doc\nfinal case class ${className(table)}(\n$fields)"
  }

  /** A complete generated-models source file: every table's case class plus
    * a registry object mapping table name → (class name, PK) — the
    * compile-time mirror of the reference's `__all_models__` dict
    * (`generated_models.py:10-16`).
    */
  def module(pkg: String, catalog: Seq[(String, StructType)], graph: RelGraph): String = {
    val classes = catalog.map { case (t, s) => caseClass(t, s, graph) }
    val registry = catalog.map { case (t, s) =>
      val pk = graph.pkOf(t, s.fieldNames.toSeq)
      s"""    "$t" -> ("${className(t)}", Seq(${pk.map("\"" + _ + "\"").mkString(", ")}))"""
    }.mkString(",\n")
    (Seq(s"package $pkg", "",
      "// GENERATED by graft.sources.ModelGen — do not edit.") ++
      classes ++
      Seq("object Models {",
        "  /** table -> (case class name, primary key) */",
        "  val registry: Map[String, (String, Seq[String])] = Map(",
        registry,
        "  )",
        "}")).mkString("\n\n")
  }

  /** Parent-before-child CREATE TABLE script for the whole catalog — the DDL
    * face of the generated models, FK-safe to execute top to bottom (same
    * ordering contract as [[Jdbc.loadOrder]]).
    */
  def ddlScript(catalog: Map[String, StructType], graph: RelGraph,
                dialect: SqlDump.Dialect = SqlDump.Ansi): String = {
    val present = catalog.keySet
    // tables outside the relation graph still get DDL (synthesized PK, no
    // FKs) — module() emits their classes, so the script must match
    val order = graph.onlyTables(present).topological ++
      (present -- graph.tables.keySet).toSeq.sorted
    order.map { t =>
      val meta = graph.tables.get(t)
      val pk = graph.pkOf(t, catalog(t).fieldNames.toSeq)
      val fks = meta.map(_.fks).getOrElse(Nil).filter(fk => present(fk.parent))
        .map(fk => SqlDump.FkClause(fk.childCols, fk.parent, fk.parentCols))
      SqlDump.ddl(t, catalog(t), pk, fks, dialect)
    }.mkString("\n\n")
  }

  /** Write the generated module to a file (driver-side, tiny). */
  def writeModule(path: String, pkg: String, catalog: Seq[(String, StructType)],
                  graph: RelGraph): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p,
      module(pkg, catalog, graph).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
