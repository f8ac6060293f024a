package graft

import graft.graph.Mst

class MstSpec extends ReplayTwins {
  import spark.implicits._

  private def forest(rows: (String, String, Long)*) =
    Mst.spanningForest(rows.toDF("src", "dst", "w"))
      .select("src", "dst", "w").as[(String, String, Long)].collect().toSet

  /** Independent oracle: sequential Kruskal under the same total edge
    * order (w, src, dst) with a plain union-find — a genuinely different
    * algorithm (global sort + sequential union) from the engine's
    * Borůvka rounds. */
  private def kruskal(rows: Seq[(String, String, Long)]): Set[(String, String, Long)] = {
    val es = rows.filter(e => e._1 != e._2)
      .map(e => (if (e._1 <= e._2) e._1 else e._2,
        if (e._1 <= e._2) e._2 else e._1, e._3))
      .groupBy(e => (e._1, e._2)).map { case (_, g) => g.minBy(_._3) }
      .toSeq.sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = Set.newBuilder[(String, String, Long)]
    es.foreach { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(ru) = rv; out += ((u, v, w)) }
    }
    out.result()
  }

  test("hand graph: the classic 4-cycle with a diagonal") {
    // a-b:1, b-c:2, c-d:3, d-a:4, a-c:5 — MST is the three cheapest
    val out = forest(("a", "b", 1L), ("b", "c", 2L), ("c", "d", 3L),
      ("d", "a", 4L), ("a", "c", 5L))
    assert(out == Set(("a", "b", 1L), ("b", "c", 2L), ("c", "d", 3L)))
  }

  test("equal weights resolve by the (w, src, dst) total order") {
    // triangle, all weight 7: keep (a,b) and (a,c) — the two smallest
    // under the lexicographic tie-break — never (b,c)
    val out = forest(("a", "b", 7L), ("b", "c", 7L), ("a", "c", 7L))
    assert(out == Set(("a", "b", 7L), ("a", "c", 7L)))
  }

  test("direction is ignored, parallel edges keep the cheapest, self-loops drop") {
    val out = forest(("b", "a", 3L), ("a", "b", 9L), ("a", "a", 1L), ("b", "c", 5L))
    assert(out == Set(("a", "b", 3L), ("b", "c", 5L)))
  }

  test("disconnected input yields a spanning forest, |E| = V - #components") {
    val out = forest(("a", "b", 1L), ("b", "c", 9L), ("x", "y", 2L))
    assert(out == Set(("a", "b", 1L), ("b", "c", 9L), ("x", "y", 2L)))
  }

  test("matches sequential Kruskal on a dense deterministic graph") {
    // 40 nodes, pseudo-random long weights with REPEATED values (w % 13)
    // so the total-order tie-break is genuinely exercised
    val rows = for {
      i <- 0 until 40; j <- i + 1 until 40
      if (i * 31 + j * 17) % 3 != 0
    } yield (f"n$i%02d", f"n$j%02d", ((i * 7919L + j * 104729L) % 13) + 1L)
    val out = forest(rows: _*)
    val expected = kruskal(rows)
    assert(out == expected)
    // spanning: one component over 40 nodes -> 39 edges
    assert(out.size == 39)
  }

  test("deterministic across partition layouts") {
    val rows = (for {
      i <- 0 until 25; j <- i + 1 until 25
      if (i + j) % 4 != 1
    } yield (s"v$i", s"v$j", ((i * 131L + j * 37L) % 9) + 1L)).toDF("src", "dst", "w")
    val a = Mst.spanningForest(rows.repartition(1))
      .select("src", "dst", "w").as[(String, String, Long)].collect().toSet
    val b = Mst.spanningForest(rows.repartition(11))
      .select("src", "dst", "w").as[(String, String, Long)].collect().toSet
    assert(a == b)
  }

  test("empty input yields an empty forest with the contract schema") {
    val e = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    val out = Mst.spanningForest(e)
    assert(out.columns.toSeq == Seq("src", "dst", "w", "round"))
    assert(out.isEmpty)
  }

  test("gate-forced parity: local Boruvka replay == join rounds (incl. round col)") {
    val es = Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "a", 2L), ("c", "d", 5L),
      ("d", "e", 1L), ("e", "c", 4L), ("x", "y", 2L), ("b", "a", 3L))
      .map { case (s, d, w) => (s, d, Option(w)) }
    wavesAgree(es, es.toString, _ == "Mst")
  }
}
