package graft

import graft.graph.Distances
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DistancesSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (String, String)*) = rows.toDF("src", "dst")
  private def lm(ids: String*) = ids.toDF("id")
  private def triples(df: DataFrame) =
    df.as[(String, String, Int)].collect().toSet

  test("chain: distances are hop counts from the landmark") {
    val out = triples(Distances.fromLandmarks(
      edges(("a", "b"), ("b", "c"), ("c", "d")), lm("a")))
    assert(out == Set(("a", "a", 0), ("b", "a", 1), ("c", "a", 2), ("d", "a", 3)))
  }

  test("diamond: two equal-length paths settle once at the min distance") {
    val out = triples(Distances.fromLandmarks(
      edges(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")), lm("a")))
    assert(out == Set(("a", "a", 0), ("b", "a", 1), ("c", "a", 1),
      ("d", "a", 2), ("e", "a", 3)))
  }

  test("shortcut beats the long way: first-seen IS the minimum") {
    // a→b→c→d and a direct a→d: d must settle at 1, not 3
    val out = triples(Distances.fromLandmarks(
      edges(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")), lm("a")))
    assert(out(("d", "a", 1)) && !out.exists(t => t._1 == "d" && t._3 == 3))
  }

  test("multi-source: k landmarks advance in one BFS, per-landmark rows") {
    val e = edges(("a", "b"), ("b", "c"), ("x", "b"))
    val out = triples(Distances.fromLandmarks(e, lm("a", "x")))
    assert(out == Set(("a", "a", 0), ("b", "a", 1), ("c", "a", 2),
      ("x", "x", 0), ("b", "x", 1), ("c", "x", 2)))
  }

  test("cycles terminate; unreachable nodes are absent, not infinite") {
    val e = edges(("a", "b"), ("b", "a"), ("b", "c"), ("z", "q"))
    val out = triples(Distances.fromLandmarks(e, lm("a")))
    assert(out == Set(("a", "a", 0), ("b", "a", 1), ("c", "a", 2)))
  }

  test("maxDepth bounds the frontier expansion") {
    val e = edges(("a", "b"), ("b", "c"), ("c", "d"))
    val out = triples(Distances.fromLandmarks(e, lm("a"), maxDepth = 2))
    assert(out == Set(("a", "a", 0), ("b", "a", 1), ("c", "a", 2)))
    val zero = triples(Distances.fromLandmarks(e, lm("a"), maxDepth = 0))
    assert(zero == Set(("a", "a", 0)))
  }

  test("a landmark missing from the graph still settles itself at 0") {
    val out = triples(Distances.fromLandmarks(edges(("a", "b")), lm("zz")))
    assert(out == Set(("zz", "zz", 0)))
  }

  test("partition-layout invariance and duplicate-edge tolerance") {
    val e = edges(("a", "b"), ("b", "c"), ("a", "b"), ("c", "d"), ("b", "c"))
    val one = triples(Distances.fromLandmarks(e.coalesce(1), lm("a", "b")))
    val many = triples(Distances.fromLandmarks(e.repartition(7), lm("b", "a")))
    assert(one == many)
    assert(one.size == 7)
  }

  // ---- weighted (Bellman-Ford) ----

  private def wedges(rows: (String, String, Long)*) = rows.toDF("src", "dst", "w")
  private def wt(df: DataFrame) = df.as[(String, String, Long)].collect().toSet

  test("weighted: a cheap long way beats an expensive direct edge") {
    // a→d direct costs 10; a→b→c→d costs 3 — BFS would say 1 hop, SSSP 3
    val out = wt(Distances.weighted(
      wedges(("a", "d", 10L), ("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L)), lm("a")))
    assert(out == Set(("a", "a", 0L), ("b", "a", 1L), ("c", "a", 2L), ("d", "a", 3L)))
  }

  test("weighted: a later round can still improve an already-settled node") {
    // d first reached at cost 9 (a→d), improved to 4 two rounds later
    val out = wt(Distances.weighted(
      wedges(("a", "d", 9L), ("a", "b", 1L), ("b", "c", 1L), ("c", "d", 2L),
        ("d", "e", 1L)), lm("a")))
    assert(out(("d", "a", 4L)) && out(("e", "a", 5L)))
  }

  test("weighted: parallel edges keep the cheapest; zero weights allowed") {
    val out = wt(Distances.weighted(
      wedges(("a", "b", 5L), ("a", "b", 2L), ("b", "c", 0L)), lm("a")))
    assert(out == Set(("a", "a", 0L), ("b", "a", 2L), ("c", "a", 2L)))
  }

  test("weighted: positive cycle terminates at the fixpoint") {
    val out = wt(Distances.weighted(
      wedges(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L)), lm("a")))
    assert(out == Set(("a", "a", 0L), ("b", "a", 1L), ("c", "a", 2L)))
  }

  test("weighted: multi-landmark advances in the same rounds") {
    val e = wedges(("a", "b", 2L), ("b", "c", 3L), ("x", "b", 1L))
    val out = wt(Distances.weighted(e, lm("a", "x")))
    assert(out == Set(("a", "a", 0L), ("b", "a", 2L), ("c", "a", 5L),
      ("x", "x", 0L), ("b", "x", 1L), ("c", "x", 4L)))
  }

  test("weighted: maxRounds caps relaxation depth") {
    val e = wedges(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L))
    val out = wt(Distances.weighted(e, lm("a"), maxRounds = 2))
    assert(out == Set(("a", "a", 0L), ("b", "a", 1L), ("c", "a", 2L)))
  }

  test("weighted: partition-layout invariance, unreachable nodes absent") {
    val e = wedges(("a", "b", 1L), ("b", "c", 7L), ("z", "a", 1L), ("q", "r", 1L))
    val one = wt(Distances.weighted(e.coalesce(1), lm("a")))
    val many = wt(Distances.weighted(e.repartition(5), lm("a")))
    assert(one == many)
    assert(!one.exists(t => Set("q", "r", "z")(t._1)))
  }

  test("gate-forced parity: local BFS == distributed semi-naive loop") {
    val e = edges(("a", "b"), ("a", "d"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "b"), ("x", "a"), ("z", "q"))
    val marks = lm("a", "x", "z")
    val local = triples(Distances.fromLandmarks(e, marks))
    val dist = withLocalBudget(0)(triples(Distances.fromLandmarks(e, marks)))
    assert(local == dist)
  }

  test("pair-budget abort falls back to the distributed loop, same result") {
    val e = edges(("a", "b"), ("b", "c"), ("c", "d"))
    val base = triples(Distances.fromLandmarks(e, lm("a", "b")))
    // at a budget of |E| the 3 edges fit but the 7 settled pairs (2
    // entries each) do not
    val (forced, aborted) = withLocalBudget(e.count()) {
      val df = Distances.fromLandmarks(e, lm("a", "b"))
      (triples(df), !df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    }
    assert(aborted)
    assert(forced == base)
  }
}
