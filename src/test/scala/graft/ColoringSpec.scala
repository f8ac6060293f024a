package graft

import graft.graph.Coloring
import org.apache.spark.sql.functions._

class ColoringSpec extends ReplayTwins {
  import spark.implicits._

  /** Independent sequential greedy in decreasing (priority, id) order —
    * the classic equivalence JP is built on, transcribed directly (dense
    * maps and a sort, nothing shared with the engine's round loop). */
  private def sequentialGreedy(edges: Seq[(String, String)]): Map[String, Int] = {
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (a, b) => a != b }.distinct
    val nbrs = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val prio = nbrs.keys.toSeq.toDF("v")
      .select(col("v"), graft.ops.Sketch.kmvHash(col("v")).as("p"))
      .as[(String, Long)].collect().toMap
    val order = nbrs.keys.toSeq.sortWith { (x, y) =>
      prio(x) > prio(y) || (prio(x) == prio(y) && x > y)
    }
    val colors = scala.collection.mutable.Map[String, Int]()
    order.foreach { v =>
      val used = nbrs(v).flatMap(colors.get)
      colors(v) = Iterator.from(0).find(c => !used.contains(c)).get
    }
    colors.toMap
  }

  private def engine(edges: Seq[(String, String)]) =
    Coloring.jonesPlassmann(edges.toDF("src", "dst"))
      .select("id", "color").as[(String, Int)].collect().toMap

  test("engine equals the sequential greedy in decreasing (priority, id) " +
    "order — the JP equivalence, on an irregular little graph") {
    val edges = (for {
      u <- 0 until 24; v <- 0 until 24
      if u < v && (u * 13 + v * 7) % 6 < 2
    } yield (s"v$u", s"v$v")) ++ Seq(("v0", "v23"), ("v1", "v22"))
    assert(engine(edges.distinct) == sequentialGreedy(edges.distinct))
  }

  test("proper coloring: no monochromatic edge; colors bounded by Δ+1") {
    val edges = (for {
      u <- 0 until 40; v <- 0 until 40
      if u < v && (u * 31 + v * 17) % 11 < 3
    } yield (s"n$u", s"n$v")).distinct
    val c = engine(edges)
    edges.foreach { case (a, b) => assert(c(a) != c(b), s"edge $a-$b") }
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map(_._2.size)
    assert(c.values.max <= deg.max) // colors are 0-based: max color ≤ Δ
  }

  test("local fast path == distributed wave loop, incl. wave numbers " +
    "(gate forced)") {
    val es = ((for {
      u <- 0 until 30; v <- 0 until 30
      if u < v && (u * 13 + v * 7) % 6 < 2
    } yield (s"v$u", s"v$v")) ++ Seq(("v0", "v29"), ("v1", "v28"))).distinct
      .map { case (s, d) => (s, d, Option(1L)) }
    val out = wavesAgree(es, "30 nodes", _.startsWith("Coloring"))
    assert(out("Coloring").isRight && out("Coloring.2").isLeft, out)
  }
  test("a clique needs exactly n colors; a path stays within Δ+1 = 3; " +
    "repartitioned input colors identically") {
    val k5 = for { u <- 0 until 5; v <- 0 until 5 if u < v }
      yield (s"k$u", s"k$v")
    assert(engine(k5).values.toSet == Set(0, 1, 2, 3, 4))
    val path = (0 until 10).sliding(2).map(p => (s"p${p(0)}", s"p${p(1)}")).toSeq
    assert(engine(path).values.max <= 2) // greedy can spend Δ+1 on a path
    val df = path.toDF("src", "dst")
    val a = Coloring.jonesPlassmann(df.repartition(7))
      .select("id", "color").as[(String, Int)].collect().toMap
    assert(a == engine(path))
  }
}
