package graft

import graft.graph.{Scc, Topo}
import org.apache.spark.sql.DataFrame

class TopoSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (String, String)*) = rows.toDF("src", "dst")
  private def lv(e: DataFrame): Set[(String, Int)] =
    Topo.levels(e).as[(String, Int)].collect().toSet

  test("chain and diamond: level = longest path from the source frontier") {
    assert(lv(edges(("a", "b"), ("b", "c"))) ==
      Set(("a", 0), ("b", 1), ("c", 2)))
    // diamond with a shortcut: d waits for the LONGEST path (a->b->c->d)
    assert(lv(edges(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"))) ==
      Set(("a", 0), ("b", 1), ("c", 2), ("d", 3)))
  }

  test("multiple sources start at level 0 together") {
    assert(lv(edges(("a", "c"), ("b", "c"), ("x", "y"))) ==
      Set(("a", 0), ("b", 0), ("x", 0), ("c", 1), ("y", 1)))
  }

  test("a cycle fails loudly instead of looping") {
    val e = intercept[IllegalStateException] {
      Topo.levels(edges(("a", "b"), ("b", "a"), ("b", "c"))).collect()
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("condense collapses SCCs, drops intra edges, dedups inter edges") {
    // {a,b} cycle -> c, plus a->c directly: condensation must be one edge
    val g = edges(("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"))
    val comps = Scc.components(g)
    val dag = Topo.condense(g, comps).as[(String, String)].collect().toSet
    assert(dag == Set(("a", "c")))
    assert(lv(Topo.condense(g, comps)) == Set(("a", 0), ("c", 1)))
  }

  test("condense + levels over an SCC-chain: one level per component") {
    // {e,f} -> {c,d} -> {a,b} as in SccSpec
    val g = edges(("e", "f"), ("f", "e"), ("c", "d"), ("d", "c"),
      ("a", "b"), ("b", "a"), ("f", "c"), ("d", "a"))
    val out = lv(Topo.condense(g, Scc.components(g)))
    assert(out == Set(("e", 0), ("c", 1), ("a", 2)))
  }

  test("levels match a naive driver longest-path on a pseudo-random DAG") {
    // forward-only edges (i -> j with i < j) are acyclic by construction
    val es = (1 to 120).map { k =>
      val i = k * 7 % 40; val j = i + 1 + (k * 13 % 9)
      (f"n$i%02d", f"n$j%02d")
    }.distinct
    val adjIn = es.groupBy(_._2).map { case (d, v) => (d, v.map(_._1)) }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val memo = scala.collection.mutable.HashMap.empty[String, Int]
    def depth(n: String): Int = memo.getOrElseUpdate(n,
      adjIn.get(n).map(_.map(depth).max + 1).getOrElse(0))
    val expected = nodes.map(n => (n, depth(n))).toSet
    assert(lv(edges(es: _*)) == expected)
  }

  test("layout invariance and empty input") {
    val es = (1 to 60).map { k =>
      (f"n${k * 7 % 20}%02d", f"n${k * 7 % 20 + 1 + k % 4}%02d")
    }.distinct
    val base = lv(edges(es: _*))
    assert(lv(edges(es: _*).repartition(9)) == base)
    assert(lv(Seq.empty[(String, String)].toDF("src", "dst")).isEmpty)
  }

  test("gate-forced parity: local Kahn peel == distributed anti-join rounds") {
    val es = (1 to 60).map { k =>
      (f"n${k * 7 % 20}%02d", f"n${k * 7 % 20 + 1 + k % 4}%02d")
    }.distinct
    val local = lv(edges(es: _*))
    val dist = withLocalBudget(0)(lv(edges(es: _*)))
    assert(local == dist)
  }
}
