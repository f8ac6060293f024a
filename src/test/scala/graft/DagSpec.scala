package graft

import graft.graph.Dag

class DagSpec extends SparkSuite {
  import spark.implicits._

  private def run(edges: Seq[(String, String, Long)]) =
    Dag.longestPaths(edges.toDF("src", "dst", "w"))
      .as[(String, Long)].collect().toMap

  test("diamond with unequal arms: the longest arm wins; the critical " +
    "path is the max dist") {
    // s →(1) a →(1) t   and   s →(5) b →(1) t
    val d = run(Seq(("s", "a", 1L), ("a", "t", 1L),
      ("s", "b", 5L), ("b", "t", 1L)))
    assert(d == Map("s" -> 0L, "a" -> 1L, "b" -> 5L, "t" -> 6L))
  }

  test("multiple sources, skip edges, zero weights: dist is the max over " +
    "ALL source paths, matching an independent topological-order fold") {
    val edges = (for {
      u <- 0 until 30; v <- (u + 1) until 30
      if (u * 11 + v * 5) % 7 == 0
    } yield (s"n$u", s"n$v", ((u + v) % 4).toLong)).toSeq
    val got = run(edges)
    // reference: process nodes in increasing index (a topological order)
    val dist = scala.collection.mutable.Map[String, Long]()
    val hasIn = edges.map(_._2).toSet
    (0 until 30).foreach { v =>
      val in = edges.filter(_._2 == s"n$v")
      if (!hasIn(s"n$v")) {
        if (edges.exists(_._1 == s"n$v")) dist(s"n$v") = 0L
      } else {
        val reached = in.filter(e => dist.contains(e._1))
        if (reached.nonEmpty)
          dist(s"n$v") = reached.map(e => dist(e._1) + e._3).max
      }
    }
    assert(got == dist.toMap)
  }

  test("a cycle is rejected, not silently looped") {
    intercept[IllegalStateException] {
      Dag.longestPaths(
        Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L), ("s", "a", 1L))
          .toDF("src", "dst", "w"), maxRounds = 8)
    }
  }

  test("isolated source-only / degenerate inputs: negative weights and " +
    "nulls are dropped; a single edge yields the two-node answer") {
    val d = Dag.longestPaths(Seq(("a", "b", Some(3L)), ("x", "y", None),
      ("p", "q", Some(-1L))).toDF("src", "dst", "w"))
      .as[(String, Long)].collect().toMap
    assert(d == Map("a" -> 0L, "b" -> 3L))
  }

  test("gate-forced parity: local replay == join rounds (incl. cycle rejection)") {
    import spark.implicits._
    val e = Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "d", 3L), ("c", "d", 10L),
      ("d", "e", 1L), ("x", "y", 4L)).toDF("src", "dst", "w")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.Dag.longestPaths(df).as[(String, Long)].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
    val cyc = Seq(("a", "b", 1L), ("b", "a", 1L), ("s", "a", 1L)).toDF("src", "dst", "w")
    val eLocal = intercept[IllegalStateException] {
      graft.graph.Dag.longestPaths(cyc).collect()
    }
    assert(eLocal.getMessage.contains("no fixed point"))
    // cycles that do not grow converge on both twins: one no source
    // reaches gives no rows, a zero-weight one a source reaches its fixed
    // point
    Seq(Seq(("a", "b", 1L), ("b", "a", 1L)) -> Set.empty[(String, Long)],
      Seq(("s", "a", 1L), ("a", "b", 0L), ("b", "a", 0L)) ->
        Set(("s", 0L), ("a", 1L), ("b", 1L))).foreach { case (es, want) =>
      val df = es.toDF("src", "dst", "w")
      assert(go(df) == want && withLocalBudget(0)(go(df)) == want, es)
    }
  }
}
