package graft

import graft.graph.Centrality
import org.apache.spark.sql.functions._

class CentralitySpec extends SparkSuite {
  import spark.implicits._

  private val S = Centrality.Scale

  private def edges(rows: (String, String)*) = rows.toDF("src", "dst")

  test("harmonic: exact fixed-point sums on a path graph") {
    val e = edges("a" -> "b", "b" -> "c", "c" -> "d")
    val lm = Seq("a", "b", "c", "d").toDF("id")
    val out = Centrality.harmonic(e, lm).as[(String, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // inbound scores: who reaches me, at what distance
    assert(out("b") == (S, 1L)) // a at d=1
    assert(out("c") == (S + S / 2, 2L)) // b@1, a@2
    assert(out("d") == (S + S / 2 + S / 3, 3L)) // c@1, b@2, a@3
    assert(!out.contains("a")) // nothing reaches a; d(a,a)=0 excluded
  }

  test("harmonic: disconnected components never contribute") {
    val e = edges("a" -> "b", "x" -> "y")
    val lm = Seq("a", "b", "x", "y").toDF("id")
    val out = Centrality.harmonic(e, lm).as[(String, Long, Long)]
      .collect().map(r => r._1 -> r._2).toMap
    assert(out == Map("b" -> S, "y" -> S))
  }

  test("harmonic: landmark subset scores only from those sources") {
    val e = edges("a" -> "c", "b" -> "c")
    val out = Centrality.harmonic(e, Seq("a").toDF("id"))
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("c", S, 1L)))
  }

  /** Independent HITS oracle: plain sequential loop over driver adjacency
    * maps with the SAME integer arithmetic spec (exact long sums, re-scale
    * by q = max(1, max div scale) after each half-step). */
  private def hitsSeq(es: Seq[(String, String)], iters: Int, scale: Long)
      : Map[String, (Long, Long)] = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> scale).toMap
    def rescale(m: Map[String, Long]): Map[String, Long] = {
      val mx = if (m.isEmpty) 0L else m.values.max
      val q = math.max(1L, mx / scale)
      if (q == 1L) m else m.map { case (k, v) => k -> v / q }
    }
    for (_ <- 0 until iters) {
      auth = rescale(nodes.map(v =>
        v -> es.filter(_._2 == v).map(e => hub(e._1)).sum).toMap)
      hub = rescale(nodes.map(u =>
        u -> es.filter(_._1 == u).map(e => auth(e._2)).sum).toMap)
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  test("hits: bit-equal to the sequential replay on a bipartite-ish graph") {
    val es = Seq("u1" -> "v1", "u2" -> "v1", "u3" -> "v1",
      "u1" -> "v2", "u3" -> "v3", "v1" -> "v2")
    val out = Centrality.hits(es.toDF("src", "dst"), iters = 4)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == hitsSeq(es, 4, 1000000L))
    // structure: v1 (in-degree 3) is the top authority; u1 (out to the two
    // strongest authorities) is the top hub; pure sinks have hub 0
    assert(out("v1")._2 == out.values.map(_._2).max)
    assert(out("u1")._1 == out.values.map(_._1).max)
    assert(out("v2")._1 == 0L && out("v3")._1 == 0L)
  }

  test("hits: deterministic across partition layouts") {
    val es = (1 to 40).map(i => (s"h${i % 7}", s"a${i % 11}"))
    val a = Centrality.hits(es.toDF("src", "dst").repartition(1), iters = 3)
      .as[(String, Long, Long)].collect().toSet
    val b = Centrality.hits(es.toDF("src", "dst").repartition(13), iters = 3)
      .as[(String, Long, Long)].collect().toSet
    assert(a == b)
    assert(a == hitsSeq(es.distinct, 3, 1000000L)
      .map { case (k, (h, au)) => (k, h, au) }.toSet)
  }

  test("hits: empty edge set yields an empty frame") {
    val e = edges().where(lit(false))
    assert(Centrality.hits(e, iters = 2).isEmpty)
  }

  test("gate-forced parity: local HITS replay == shuffle half-steps") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
      ("e", "a"), ("e", "b")).toDF("src", "dst")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.Centrality.hits(df, iters = 5)
        .as[(String, Long, Long)].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
  }
}
