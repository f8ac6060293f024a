package graft

import graft.graph.Articulation

class ArticulationSpec extends SparkSuite {
  import spark.implicits._

  private def run(edges: Seq[(String, String)], parts: Int = 3): Set[String] =
    Articulation.articulationPoints(
      edges.toDF("src", "dst").repartition(parts))
      .as[String].collect().toSet

  /** Independent sequential reference: Tarjan's low-link DFS articulation
    * rule (root: >= 2 DFS children; non-root v: some child c with
    * low(c) >= disc(v)) — discovery times and low-links, nothing shared
    * with the engine's block-CC formulation. */
  private def tarjan(edges: Seq[(String, String)]): Set[String] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    val adj = scala.collection.mutable.Map
      .empty[String, List[String]].withDefaultValue(Nil)
    und.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
    val disc = scala.collection.mutable.Map.empty[String, Int]
    val low = scala.collection.mutable.Map.empty[String, Int]
    val out = scala.collection.mutable.Set.empty[String]
    var timer = 0
    def dfs(root: String): Unit = {
      var rootChildren = 0
      val stack = scala.collection.mutable.Stack[(String, String, Iterator[String])]()
      disc(root) = timer; low(root) = timer; timer += 1
      stack.push((root, null, adj(root).iterator))
      while (stack.nonEmpty) {
        val (u, parent, it) = stack.top
        if (it.hasNext) {
          val v = it.next()
          if (!disc.contains(v)) {
            if (u == root) rootChildren += 1
            disc(v) = timer; low(v) = timer; timer += 1
            stack.push((v, u, adj(v).iterator))
          } else if (v != parent) low(u) = math.min(low(u), disc(v))
        } else {
          stack.pop()
          if (parent != null) {
            low(parent) = math.min(low(parent), low(u))
            if (parent != root && low(u) >= disc(parent)) out += parent
          }
        }
      }
      if (rootChildren >= 2) out += root
    }
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach(n => if (!disc.contains(n)) dfs(n))
    out.toSet
  }

  test("path: every interior vertex cuts") {
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "d"))) === Set("b", "c"))
  }

  test("cycle: no articulation points") {
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "a"))) === Set.empty)
  }

  test("two triangles sharing one vertex: the shared vertex cuts") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("c", "d"), ("d", "e"), ("e", "c"))
    assert(run(e) === Set("c"))
  }

  test("star: the hub cuts; cycle with a pendant: attachment cuts") {
    assert(run(Seq(("h", "a"), ("h", "b"), ("h", "c"))) === Set("h"))
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "x"))) === Set("c"))
  }

  test("disconnected components handled independently") {
    val e = Seq(("a", "b"), ("b", "c"), // path -> b
      ("x", "y"), ("y", "z"), ("z", "x")) // triangle -> none
    assert(run(e) === Set("b"))
  }

  test("parity with Tarjan low-link on random sparse graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 6) {
      val n = 24 + rnd.nextInt(30)
      val extra = rnd.nextInt(20)
      // random forest skeleton + random chords (mixed density)
      val tree = (1 until n).map(i => (f"v${rnd.nextInt(i)}%03d", f"v$i%03d"))
      val chords = (0 until extra).map { _ =>
        (f"v${rnd.nextInt(n)}%03d", f"v${rnd.nextInt(n)}%03d")
      }.filter(e => e._1 != e._2)
      val e = tree ++ chords
      assert(run(e, parts = 4) === tarjan(e), s"trial $trial n=$n extra=$extra")
    }
  }

  test("gate-forced parity: local DFS low-link == block counting") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "d"), ("x", "y"), ("y", "z")).toDF("src", "dst")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.Articulation.articulationPoints(df).as[String].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
  }
}
