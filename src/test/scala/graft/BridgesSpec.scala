package graft

import graft.graph.Bridges

class BridgesSpec extends SparkSuite {
  import spark.implicits._

  private def run(edges: Seq[(String, String)], parts: Int = 3) =
    Bridges.bridges(edges.toDF("src", "dst").repartition(parts))
      .as[(String, String)].collect().toSet

  /** Independent sequential bridge finder: iterative Tarjan low-link DFS
    * (a completely different algorithm from the engine's spanning-forest
    * covering — no BFS, no chains, no symmetric differences). */
  private def tarjanBridges(edges: Seq[(String, String)]): Set[(String, String)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    val adj = scala.collection.mutable.Map
      .empty[String, List[String]].withDefaultValue(Nil)
    und.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
    val disc = scala.collection.mutable.Map.empty[String, Int]
    val low = scala.collection.mutable.Map.empty[String, Int]
    val out = scala.collection.mutable.Set.empty[(String, String)]
    var timer = 0
    // iterative DFS (explicit stack — deep fixture graphs must not blow
    // the JVM stack); frames carry (node, parentEdgeUsed flag)
    def dfs(root: String): Unit = {
      val stack = scala.collection.mutable.Stack[(String, String, Iterator[String])]()
      disc(root) = timer; low(root) = timer; timer += 1
      stack.push((root, null, adj(root).iterator))
      while (stack.nonEmpty) {
        val (u, parent, it) = stack.top
        if (it.hasNext) {
          val v = it.next()
          if (!disc.contains(v)) {
            disc(v) = timer; low(v) = timer; timer += 1
            stack.push((v, u, adj(v).iterator))
          } else if (v != parent) low(u) = math.min(low(u), disc(v))
        } else {
          stack.pop()
          if (parent != null) {
            low(parent) = math.min(low(parent), low(u))
            if (low(u) > disc(parent))
              out += (if (parent < u) (parent, u) else (u, parent))
          }
        }
      }
    }
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach(n => if (!disc.contains(n)) dfs(n))
    out.toSet
  }

  test("a tree is all bridges; a cycle is none; triangle + pendant " +
    "keeps only the pendant") {
    val tree = Seq(("a", "b"), ("b", "c"), ("b", "d"), ("d", "e"))
    assert(run(tree) == tree.map(e => if (e._1 < e._2) e else e.swap).toSet)
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "a"))).isEmpty)
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "p"))) ==
      Set(("c", "p")))
  }

  test("two cliques joined by one edge: exactly that edge (the " +
    "over-merge signature)") {
    val k1 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"x$i", s"x$j")
    val k2 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"y$i", s"y$j")
    assert(run(k1 ++ k2 :+ (("x1", "y1"))) == Set(("x1", "y1")))
  }

  test("non-tree cross edges kill ancestors correctly (cycle through " +
    "the root) and disconnected components are independent") {
    // square a-b-c-d-a plus pendant d-e, separate component p-q
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("d", "e"), ("p", "q"))
    assert(run(edges) == Set(("d", "e"), ("p", "q")))
  }

  test("self-loops, duplicate and reversed-duplicate edges are cleaned") {
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
      ("b", "c"))
    assert(run(edges) == Set(("a", "b"), ("b", "c")))
  }

  test("parity with an independent sequential Tarjan low-link DFS on a " +
    "pseudo-random graph; layout invariance") {
    // deterministic pseudo-random graph: tree spine + extra chords
    def h(i: Int): Int = (i * 1103515245 + 12345) & 0x7fffffff
    val n = 120
    val spine = (2 to n).map(i => (s"v${i / 2}", s"v$i"))
    val chords = (1 to 45).map { i =>
      val a = h(i) % n + 1; val b = h(i * 7 + 3) % n + 1
      (s"v$a", s"v$b")
    }.filter(e => e._1 != e._2)
    val edges = spine ++ chords
    val expected = tarjanBridges(edges)
    assert(run(edges, parts = 1) == expected)
    assert(run(edges, parts = 13) == expected)
    assert(expected.nonEmpty && expected.size < spine.size) // non-trivial
  }

  test("gate-forced parity: local Tarjan DFS == cycle-cover formulation") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "d"), ("x", "y")).toDF("src", "dst")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.Bridges.bridges(df).as[(String, String)].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
  }
}
