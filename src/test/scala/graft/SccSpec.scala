package graft

import graft.graph.Scc
import org.apache.spark.sql.DataFrame

class SccSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (String, String)*) = rows.toDF("src", "dst")
  /** `distributed` runs at a driver budget of 0, which forces the
    * distributed twin for any non-empty edge set. */
  private def run(e: DataFrame, distributed: Boolean = false): Set[(String, String)] = {
    def go = Scc.components(e).as[(String, String)].collect().toSet
    if (distributed) withLocalBudget(0)(go) else go
  }

  test("cycle with a tail: the cycle is one SCC, the tail a singleton") {
    val out = run(edges(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")))
    assert(out == Set(("a", "a"), ("b", "a"), ("c", "a"), ("d", "d")))
  }

  test("two cycles bridged one-way stay two SCCs") {
    val out = run(edges(("a", "b"), ("b", "a"), ("c", "d"), ("d", "c"), ("b", "c")))
    assert(out == Set(("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")))
  }

  test("a DAG is all singletons; duplicates and self-loops collapse") {
    val out = run(edges(("a", "b"), ("a", "b"), ("b", "c"), ("a", "c"),
      ("z", "z")))
    assert(out == Set(("a", "a"), ("b", "b"), ("c", "c"), ("z", "z")))
  }

  test("direction matters: the weakly-connected diamond is 4 singletons") {
    // undirected CC would merge all of these
    val out = run(edges(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")))
    assert(out.forall { case (id, scc) => id == scc } && out.size == 4)
  }

  private def naiveScc(es: Seq[(String, String)]): Set[(String, String)] = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = es.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSet) }
    def reach(s: String): Set[String] = {
      var seen = Set(s); var frontier = Set(s)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    val r = nodes.map(n => (n, reach(n))).toMap
    nodes.map(n => (n, (r(n).filter(m => r(m).contains(n)) + n).min)).toSet
  }

  test("distributed and Tarjan paths both match a naive mutual-reachability" +
      " cross-check on a pseudo-random graph") {
    // ~45 nodes, deterministic edge mix with planted cycles of size 2..5
    val es = ((1 to 80).map { i =>
      (f"n${i * 13 % 45}%02d", f"n${(i * 13 % 45 + i % 7 + 1) % 45}%02d")
    } ++ Seq(("n03", "n09"), ("n09", "n03"), // planted 2-cycle
      ("n20", "n21"), ("n21", "n22"), ("n22", "n20"))).distinct
    val expected = naiveScc(es)
    assert(run(edges(es: _*)) == expected, "driver Tarjan path")
    assert(run(edges(es: _*), distributed = true) == expected, "distributed path")
  }

  test("integral ids label by NUMERIC min without caller zero-padding") {
    val e = Seq((2L, 10L), (10L, 2L), (10L, 7L)).toDF("src", "dst")
    val out = Scc.components(e).as[(Long, Long)].collect().toSet
    assert(out == Set((2L, 2L), (10L, 2L), (7L, 7L)))
  }

  test("NEGATIVE integral ids (xxhash64-shaped) still label by numeric min") {
    // plain zero-padding would invert order within negatives
    val e = Seq((-2L, -10L), (-10L, -2L), (-2L, 5L), (5L, -2L),
      (Long.MinValue, -10L)).toDF("src", "dst")
    val out = Scc.components(e).as[(Long, Long)].collect().toSet
    assert(out == Set((-10L, -10L), (-2L, -10L), (5L, -10L),
      (Long.MinValue, Long.MinValue)))
    // distributed path agrees
    val dist = withLocalBudget(0)(Scc.components(e).as[(Long, Long)].collect().toSet)
    assert(dist == out)
  }

  test("SCC-chain in descending-id order needs multiple harvest rounds" +
      " and still finishes; tight maxRounds fails loudly") {
    // {e,f} -> {c,d} -> {a,b}: coloring floods everything with 'f', so
    // round 1 harvests only {e,f}, round 2 {c,d}, round 3 {a,b}
    val chain = edges(("e", "f"), ("f", "e"), ("c", "d"), ("d", "c"),
      ("a", "b"), ("b", "a"), ("f", "c"), ("d", "a"))
    val out = run(chain, distributed = true)
    assert(out == Set(("a", "a"), ("b", "a"), ("c", "c"), ("d", "c"),
      ("e", "e"), ("f", "e")))
    intercept[IllegalStateException] {
      withLocalBudget(0)(Scc.components(chain, maxRounds = 2).collect())
    }
  }

  test("layout invariance: partitioning never changes the labeling") {
    val es = (1 to 60).map { i =>
      (f"n${i * 17 % 31}%02d", f"n${(i * 17 % 31 + i % 5 + 1) % 31}%02d")
    }.distinct
    val base = run(edges(es: _*), distributed = true)
    val shuffled = edges(es: _*).repartition(7)
    assert(run(shuffled, distributed = true) == base)
    assert(run(shuffled) == base)
  }

  test("empty edge set yields an empty result on both paths") {
    val e = Seq.empty[(String, String)].toDF("src", "dst")
    // an empty edge set fits a budget of 0; a negative budget skips the
    // probe, so the distributed twin runs
    val dist = withLocalBudget(-1)(Scc.components(e).collect())
    assert(run(e).isEmpty && dist.isEmpty)
  }
}
