package graft

import graft.model.{FK, RelGraph}
import org.scalatest.funsuite.AnyFunSuite

class RelGraphSpec extends AnyFunSuite {

  test("PK synthesis prefers id, uuid, *_id, *key, then first column") {
    assert(RelGraph.synthesizePk(Seq("name", "id")) == Seq("id"))
    assert(RelGraph.synthesizePk(Seq("name", "uuid")) == Seq("uuid"))
    assert(RelGraph.synthesizePk(Seq("name", "user_id")) == Seq("user_id"))
    assert(RelGraph.synthesizePk(Seq("name", "o_orderkey")) == Seq("o_orderkey"))
    assert(RelGraph.synthesizePk(Seq("alpha", "beta")) == Seq("alpha"))
  }

  test("naming-convention FK inference recovers the TPC-H edges") {
    val schemas = Map(
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey", "c_name"))
    val pks = Map("orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey"))
    val fks = RelGraph.inferFks(schemas, pks)
    assert(fks("orders") == Seq(FK(Seq("o_custkey"), "customer", Seq("c_custkey"))))
    assert(fks("customer").isEmpty)
  }

  test("topological order puts parents before children") {
    val order = RelGraph.tpch.topological
    def idx(n: String) = order.indexOf(n)
    assert(idx("region") < idx("nation"))
    assert(idx("nation") < idx("customer"))
    assert(idx("customer") < idx("orders"))
    assert(idx("orders") < idx("lineitem"))
    assert(idx("part") < idx("lineitem"))
    assert(idx("supplier") < idx("lineitem"))
  }

  test("backref edges find children deterministically") {
    val children = RelGraph.tpch.backrefEdges("nation").map(_._1)
    assert(children == Seq("customer", "supplier"))
  }

  test("excluding removes tables and their edges") {
    val g = RelGraph.tpch.excluding(Set("supplier"))
    assert(!g.tables.contains("supplier"))
    assert(g.joinEdges("lineitem").forall(_.parent != "supplier"))
  }

  test("no main source but RelGraph synthesizes a PK on its own") {
    // every key lookup goes through RelGraph.pkOf, so a PK-less table is
    // keyed the same way by the closure, its summary, the job merge, the
    // CLI and the generated models
    val hits = TestSpark.mainSourceHits("RelGraph.scala")((_, line) =>
      line.contains("synthesizePk("))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
