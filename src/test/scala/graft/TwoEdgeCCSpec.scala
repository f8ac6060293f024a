package graft

import graft.graph.TwoEdgeCC

class TwoEdgeCCSpec extends SparkSuite {
  import spark.implicits._

  private def engine(edges: Seq[(String, String)]): Map[String, String] =
    TwoEdgeCC.components(edges.toDF("src", "dst").repartition(4))
      .as[(String, String)].collect().toMap

  /** Independent reference: bridges BY DEFINITION (remove each edge,
    * BFS), then CC over the remainder — no spanning forest, no stars. */
  private def brute(edges: Seq[(String, String)]): Map[String, String] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    val verts = und.flatMap(e => Seq(e._1, e._2)).distinct
    def reach(es: Seq[(String, String)], from: String): Set[String] = {
      val adj = es.flatMap(e => Seq(e, e.swap)).groupMap(_._1)(_._2)
        .view.mapValues(_.toSet).toMap.withDefaultValue(Set.empty)
      var seen = Set(from); var frontier = Set(from)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj) -- seen; seen ++= frontier
      }
      seen
    }
    val bridges = und.filter(e => !reach(und.filterNot(_ == e), e._1)(e._2))
    val rest = und.filterNot(bridges.contains)
    verts.map(v => v -> reach(rest, v).min).toMap
  }

  test("matches definitional bridges+CC on random sparse graphs") {
    for (seed <- Seq(3, 4, 5)) {
      val rnd = new scala.util.Random(seed)
      val vs = (0 until 40).map(i => f"s${seed}v$i%02d")
      val edges = (for {
        i <- vs.indices; j <- (i + 1) until vs.length
        if rnd.nextDouble() < 0.055
      } yield (vs(i), vs(j))).toSeq
      assert(engine(edges) === brute(edges), s"seed=$seed")
    }
  }

  test("two cycles joined by a bridge split into two classes + nothing else") {
    val c1 = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"))
    val c2 = Seq(("b1", "b2"), ("b2", "b3"), ("b3", "b1"))
    val got = engine(c1 ++ c2 :+ (("a1", "b1")))
    assert(got === Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "b1", "b2" -> "b1", "b3" -> "b1"))
  }

  test("a pure tree is all singletons; a cycle is one class") {
    val tree = Seq(("t1", "t2"), ("t2", "t3"), ("t2", "t4"))
    assert(engine(tree) === tree.flatMap(e => Seq(e._1, e._2))
      .distinct.map(v => v -> v).toMap)
    val cyc = Seq(("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c1"))
    assert(engine(cyc).values.toSet === Set("c1"))
  }

  test("pendant off a cycle is a singleton; multi-edges collapse (simple-graph law)") {
    val g = Seq(("x1", "x2"), ("x2", "x3"), ("x3", "x1"), ("x3", "p"),
      ("p", "x3"))
    val got = engine(g)
    assert(got("p") === "p")
    assert(Seq("x1", "x2", "x3").map(got) === Seq("x1", "x1", "x1"))
  }

  test("gate-forced parity: local union-find == distributed pipeline") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "d"), ("x", "y")).toDF("src", "dst")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.TwoEdgeCC.components(df).as[(String, String)].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
  }
}
