package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import scala.jdk.CollectionConverters._

/** Parser for the declarative query language — the same YAML surface as the
  * reference (`/root/reference/dbcut/parser.py:117-185`, mlalchemy dialect):
  *
  * {{{
  * from: customer
  * where:
  *   $or:
  *     - c_mktsegment: BUILDING
  *     - c_acctbal: {$gte: 5000}
  * order-by: [-c_acctbal, c_custkey]
  * limit: 20
  * backref_depth: 2
  * }}}
  *
  * YAML is a superset of JSON, so JSON specs parse too. Also provides the
  * canonical form used for cache keys (mirrors dbcut's sorted query-dict SHA1,
  * `/root/reference/dbcut/query.py:68-131`).
  */
object SpecJson {

  private val yaml = new ObjectMapper(new YAMLFactory())

  def parse(text: String): QuerySpec = fromNode(yaml.readTree(text))

  /** Normalized YAML echo of a spec — the analogue of dbcut printing the
    * normalized query dict back to the user. `parse(toYaml(s)) == s`.
    */
  def toYaml(spec: QuerySpec): String = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    def valueNode(v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
      case null => yaml.getNodeFactory.nullNode()
      case x: Long => yaml.getNodeFactory.numberNode(x)
      case x: Int => yaml.getNodeFactory.numberNode(x.toLong)
      case x: Double => yaml.getNodeFactory.numberNode(x)
      case x: Boolean => yaml.getNodeFactory.booleanNode(x)
      case xs: Seq[_] =>
        val a = yaml.createArrayNode()
        xs.foreach(e => a.add(valueNode(e)))
        a
      case other => yaml.getNodeFactory.textNode(String.valueOf(other))
    }
    def condNode(c: Cond): com.fasterxml.jackson.databind.JsonNode = c match {
      case And(cs) =>
        val o = yaml.createObjectNode(); val a = o.putArray("$and")
        cs.foreach(x => a.add(condNode(x))); o
      case Or(cs) =>
        val o = yaml.createObjectNode(); val a = o.putArray("$or")
        cs.foreach(x => a.add(condNode(x))); o
      case Not(c0) =>
        val o = yaml.createObjectNode(); o.set[ObjectNode]("$not", condNode(c0)); o
      case Pred(f, op, v) =>
        val o = yaml.createObjectNode()
        val inner = o.putObject(f)
        inner.set[ObjectNode](s"$$$op", valueNode(v))
        o
    }
    val root = yaml.createObjectNode()
    root.put("from", spec.from)
    spec.where.foreach(c => root.set[ObjectNode]("where", condNode(c)))
    if (spec.orderBy.nonEmpty) {
      val a = root.putArray("order-by")
      spec.orderBy.foreach(k => a.add((if (k.desc) "-" else "") + k.field))
    }
    spec.offset.foreach(root.put("offset", _))
    spec.limit match {
      case Some(l) => root.put("limit", l)
      case None => root.putNull("limit")
    }
    spec.backrefLimit match {
      case Some(l) => root.put("backref_limit", l)
      case None => root.putNull("backref_limit")
    }
    // include lifts depths to unlimited; echo them as null like the reference
    if (spec.include.isEmpty) {
      root.put("join_depth", spec.joinDepth)
      root.put("backref_depth", spec.backrefDepth)
    }
    if (spec.exclude.nonEmpty) {
      val a = root.putArray("exclude"); spec.exclude.foreach(a.add)
    }
    if (spec.include.nonEmpty) {
      val a = root.putArray("include"); spec.include.foreach(a.add)
    }
    yaml.writeValueAsString(root)
  }

  private def scalarValue(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isNull) null
    else n.asText()

  private def fieldNames(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  /** mlalchemy where-tree: maps are implicit $and over entries; an entry is
    * `$and/$or/$not` (list of sub-trees) or `field: scalar` ($eq) or
    * `field: {$op: value}`.
    */
  private def parseCond(n: JsonNode): Cond = {
    require(n.isObject, s"where clause must be a mapping, got: $n")
    val conds = fieldNames(n).map { key =>
      val v = n.get(key)
      key match {
        case "$and" | "$or" | "$not" =>
          val subs: Seq[Cond] =
            if (v.isArray) v.elements().asScala.toSeq.map(parseCond)
            else Seq(parseCond(v))
          key match {
            case "$and" => And(subs)
            case "$or"  => Or(subs)
            case _      => Not(if (subs.size == 1) subs.head else And(subs))
          }
        case field if v.isObject =>
          val ops = fieldNames(v).map { op =>
            require(op.startsWith("$"), s"expected operator under $field, got $op")
            val ov = v.get(op)
            val value: Any =
              if (ov.isArray) ov.elements().asScala.toSeq.map(scalarValue)
              else scalarValue(ov)
            Pred(field, op.stripPrefix("$"), value)
          }
          if (ops.size == 1) ops.head else And(ops)
        case field if v.isArray =>
          Pred(field, "in", v.elements().asScala.toSeq.map(scalarValue))
        case field =>
          Pred(field, "eq", scalarValue(v))
      }
    }
    if (conds.size == 1) conds.head else And(conds)
  }

  private def parseOrderBy(n: JsonNode): Seq[OrderKey] = {
    def one(s: String): OrderKey =
      if (s.startsWith("-")) OrderKey(s.substring(1), desc = true) else OrderKey(s)
    if (n.isArray) n.elements().asScala.toSeq.map(e => one(e.asText()))
    else one(n.asText()) :: Nil
  }

  private def strList(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Nil
    else if (n.isArray) n.elements().asScala.toSeq.map(_.asText())
    else Seq(n.asText())

  private def fromNode(n: JsonNode): QuerySpec = {
    require(n.hasNonNull("from"), "query needs a 'from' table")
    val include = strList(n.get("include"))
    def optLong(key: String): Option[Long] = Option(n.get(key)) match {
      case Some(v) if v.isNull || (v.isBoolean && !v.asBoolean()) => None
      case Some(v) => Some(v.asLong())
      case None => null // caller distinguishes "absent" via orNull sentinel
    }
    // limit: absent → default 10; explicit null/false → unlimited (dbcut parse_query)
    val limit = optLong("limit") match {
      case null => Some(QuerySpec.DefaultLimit)
      case other => other
    }
    val backrefLimit = optLong("backref_limit") match {
      case null => Some(QuerySpec.DefaultBackrefLimit)
      case other => other
    }
    def depth(key: String, dflt: Int): Int = Option(n.get(key)) match {
      // include set → depths unlimited (dbcut parser.py:166-170); null → 0
      case _ if include.nonEmpty => Int.MaxValue
      case Some(v) if v.isNull => 0
      case Some(v) => v.asInt()
      case None => dflt
    }
    QuerySpec(
      from = n.get("from").asText(),
      where = Option(n.get("where")).filter(w => w.isObject && w.size() > 0).map(parseCond),
      orderBy = Option(n.get("order-by")).orElse(Option(n.get("order_by"))).toSeq.flatMap(parseOrderBy),
      offset = Option(n.get("offset")).filterNot(_.isNull).map(_.asLong()),
      limit = limit,
      joinDepth = depth("join_depth", QuerySpec.DefaultJoinDepth),
      backrefDepth = depth("backref_depth", QuerySpec.DefaultBackrefDepth),
      backrefLimit = backrefLimit,
      exclude = strList(n.get("exclude")),
      include = include)
  }

  /** Deterministic canonical rendering for cache keys — fixed key order
    * matching the reference's `qd_key_sort` (`parser.py:151-162`), values
    * rendered as sorted JSON.
    */
  def canonical(spec: QuerySpec): String = {
    def condJson(c: Cond): String = c match {
      case And(cs) => s"""{"$$and":[${cs.map(condJson).mkString(",")}]}"""
      case Or(cs)  => s"""{"$$or":[${cs.map(condJson).mkString(",")}]}"""
      case Not(c0) => s"""{"$$not":${condJson(c0)}}"""
      case Pred(f, op, v) => s"""{"field":"$f","op":"$op","value":${valueJson(v)}}"""
    }
    def valueJson(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case vs: Seq[_] => vs.map(valueJson).mkString("[", ",", "]")
      case other => other.toString
    }
    val parts = Seq(
      "from" -> s""""${spec.from}"""",
      "where" -> spec.where.map(condJson).getOrElse("null"),
      "order_by" -> spec.orderBy.map(k => s""""${if (k.desc) "-" else ""}${k.field}"""").mkString("[", ",", "]"),
      "offset" -> spec.offset.map(_.toString).getOrElse("null"),
      "limit" -> spec.limit.map(_.toString).getOrElse("null"),
      "backref_limit" -> spec.backrefLimit.map(_.toString).getOrElse("null"),
      "backref_depth" -> spec.backrefDepth.toString,
      "join_depth" -> spec.joinDepth.toString,
      "exclude" -> spec.exclude.sorted.map(s => s""""$s"""").mkString("[", ",", "]"),
      "include" -> spec.include.sorted.map(s => s""""$s"""").mkString("[", ",", "]"))
    parts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}
