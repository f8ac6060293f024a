package graft

import graft.graph.Betweenness

class BetweennessSpec extends SparkSuite {
  import spark.implicits._

  private val S = 1000000L

  private def bc(es: Seq[(String, String)], sources: Seq[String]) =
    Betweenness.fromSources(es.toDF("src", "dst"), sources.toDF("id"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._2).toMap

  /** Independent oracle: sequential Brandes (driver adjacency maps, per
    * source a plain BFS + descending-level accumulation) with the SAME
    * fixed-point arithmetic spec: exact long σ sums, per-edge term
    * floor(σ_u · (S + δ_v) / σ_v). */
  private def brandesSeq(es: Seq[(String, String)], sources: Seq[String])
      : Map[String, Long] = {
    val edges = es.filter(e => e._1 != e._2).distinct
    val adj = edges.groupBy(_._1).map { case (k, g) => k -> g.map(_._2) }
    val acc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for (s <- sources.distinct) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Seq(s)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        val contrib = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        frontier.foreach(u => adj.getOrElse(u, Nil).foreach { v =>
          if (!dist.contains(v)) contrib(v) += sigma(u)
        })
        frontier = contrib.keys.toSeq.sorted
        frontier.foreach { v => dist(v) = d; sigma(v) = contrib(v) }
      }
      val delta = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      val maxD = if (dist.isEmpty) 0 else dist.values.max
      for (level <- (maxD - 1) to 0 by -1;
           u <- dist.keys.toSeq.sorted if dist(u) == level;
           v <- adj.getOrElse(u, Nil) if dist.get(v).contains(level + 1))
        delta(u) += sigma(u) * (S + delta(v)) / sigma(v)
      delta.foreach { case (v, dl) => if (v != s && dl > 0) acc(v) += dl }
    }
    acc.toMap
  }

  test("path graph: interior nodes carry the chain's dependency") {
    val es = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val out = bc(es, Seq("a", "b", "c", "d"))
    // δ_a(b) = S + δ_a(c) = 2S; c gets S from a and S from b
    assert(out == Map("b" -> 2 * S, "c" -> 2 * S))
  }

  test("diamond: split paths halve the dependency (truncating division)") {
    val es = Seq("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
    val out = bc(es, Seq("a"))
    // σ_d = 2; δ(b) = floor(1·(S+0)/2) = S/2, same for c
    assert(out == Map("b" -> S / 2, "c" -> S / 2))
  }

  test("matches sequential Brandes on a layered graph with multiplicities") {
    // layered DAG with heavy path multiplicity so σ genuinely compounds
    val es = for {
      l <- 0 until 4; i <- 0 until 4; j <- 0 until 4
      if (l * 5 + i * 3 + j * 7) % 3 != 0
    } yield (s"n${l}_$i", s"n${l + 1}_$j")
    val sources = (0 until 4).map(i => s"n0_$i")
    assert(bc(es, sources) == brandesSeq(es, sources))
  }

  test("deterministic across partition layouts") {
    val es = (for {
      i <- 0 until 30; j <- 0 until 30
      if i != j && (i * 13 + j * 7) % 11 == 0
    } yield (s"v$i", s"v$j")).toDF("src", "dst")
    val srcs = (0 until 30 by 3).map(i => s"v$i").toDF("id")
    val a = Betweenness.fromSources(es.repartition(1), srcs)
      .as[(String, Long, Long)].collect().toSet
    val b = Betweenness.fromSources(es.repartition(9), srcs)
      .as[(String, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("sources with no outgoing paths contribute nothing") {
    val out = bc(Seq("a" -> "b"), Seq("b"))
    assert(out.isEmpty)
  }

  test("gate-forced parity: local Brandes replay == join rounds") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"),
      ("d", "c"), ("b", "d"), ("d", "b"), ("a", "e"), ("e", "a"),
      ("e", "d"), ("d", "e")).toDF("src", "dst")
    val srcs = Seq("a", "c", "e").toDF("id")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.Betweenness.fromSources(df, srcs)
        .as[(String, Long, Long)].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
    // pair-budget abort falls back, same result: at a budget of |E| the
    // 12 edges fit but the 3 sources' 15 settled pairs (2 entries each)
    // do not
    val (forced, aborted) = withLocalBudget(e.count()) {
      val df = Betweenness.fromSources(e, srcs)
      (df.as[(String, Long, Long)].collect().toSet,
        !df.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    }
    assert(aborted)
    assert(forced == local)
  }
}
