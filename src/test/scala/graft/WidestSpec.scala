package graft

import graft.graph.Widest

class WidestSpec extends SparkSuite {
  import spark.implicits._

  private def run(edges: Seq[(String, String, Long)], seeds: Seq[String]) =
    Widest.paths(edges.toDF("src", "dst", "w"), seeds.toDF("id"))
      .as[(String, Long)].collect().toMap

  test("maximin beats shortest-path logic: the long strong chain wins " +
    "over the short weak hop") {
    // s →(9) a →(8) t   vs   s →(3) t : bottleneck(t) = 8, not 3
    val d = run(Seq(("s", "a", 9L), ("a", "t", 8L), ("s", "t", 3L)), Seq("s"))
    assert(d == Map("a" -> 9L, "t" -> 8L))
  }

  test("cycles are harmless (a loop cannot raise its own bottleneck) and " +
    "multi-seed takes the best seed") {
    val edges = Seq(("s1", "a", 5L), ("s2", "a", 7L),
      ("a", "b", 6L), ("b", "a", 9L), ("b", "c", 2L))
    val d = run(edges, Seq("s1", "s2"))
    // a: max(5, 7, via b loop min(6,9)=6) = 7; b: min(7,6) = 6; c: 2
    assert(d == Map("a" -> 7L, "b" -> 6L, "c" -> 2L))
  }

  test("parity with an independent driver-side maximin Dijkstra on a " +
    "pseudo-random weighted digraph") {
    val n = 16
    val edges = (for {
      u <- 0 until n; v <- 0 until n
      if u != v && (u * 17 + v * 5) % 7 < 2
    } yield (s"n$u", s"n$v", ((u * 3 + v) % 9 + 1).toLong)).toSeq
    val seeds = Seq("n0", "n5")
    val got = run(edges, seeds)
    // reference: maximin Dijkstra (max-heap on bottleneck)
    val best = scala.collection.mutable.Map[String, Long]()
    val pq = scala.collection.mutable.PriorityQueue[(Long, String)]()
    seeds.foreach(s => pq.enqueue((Long.MaxValue, s)))
    val settled = scala.collection.mutable.Set[String]()
    while (pq.nonEmpty) {
      val (b, v) = pq.dequeue()
      if (!settled(v)) {
        settled += v
        if (!seeds.contains(v)) best(v) = b
        edges.filter(_._1 == v).foreach { case (_, to, w) =>
          if (!settled(to)) pq.enqueue((math.min(b, w), to))
        }
      }
    }
    assert(got == best.toMap)
  }

  test("unreachable nodes are absent; seeds are excluded from the output") {
    val d = run(Seq(("s", "a", 4L), ("x", "y", 9L)), Seq("s"))
    assert(d == Map("a" -> 4L))
  }

  test("gate-forced parity: local replay == join rounds") {
    import spark.implicits._
    val e = Seq(("s", "a", 5L), ("a", "b", 3L), ("s", "b", 2L), ("b", "c", 9L),
      ("c", "a", 9L), ("z", "q", 1L)).toDF("src", "dst", "w")
    val seeds = Seq("s").toDF("id")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.Widest.paths(df, seeds).as[(String, Long)].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
    // a null seed is dropped on both sides (the final anti join on `id`
    // would keep a null seed row)
    val chain = Seq(("a", "b", 5L), ("b", "c", 3L)).toDF("src", "dst", "w")
    val nullSeed = Seq("a", null).toDF("id")
    def goN = graft.graph.Widest.paths(chain, nullSeed).as[(String, Long)].collect().toSet
    assert(goN == Set(("b", 5L), ("c", 3L)))
    assert(withLocalBudget(0)(goN) == goN)
  }
}
