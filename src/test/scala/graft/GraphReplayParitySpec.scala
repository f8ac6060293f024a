package graft

import graft.graph.{Betweenness, Dag, Distances, GraphQuery, Scc, Topo, Widest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The driver replays over `Local.directed` (the BFS kernel, Kahn, Tarjan,
  * the max relaxation) against their distributed twins, on generated
  * graphs: every operator runs at the default budget and at budget 0 and
  * must give the same rows, or throw the same error. */
class GraphReplayParitySpec extends SparkSuite {
  import spark.implicits._

  // ids mixing non-BMP chars with U+E000–U+FFFF (Spark's UTF-8 order and
  // Java's UTF-16 order disagree on them) and the empty string
  private val ids = Seq("a", "b", "c", "d", "", "😀", "😁x", "\uE000", "\uFFFD", "Ａ", "𝒜")
  private val id = Gen.frequency(12 -> Gen.oneOf(ids), 1 -> Gen.const(null: String))
  private val weight = Gen.frequency(8 -> Gen.choose(0L, 9L).map(Option(_)),
    1 -> Gen.const(Some(-1L)), 1 -> Gen.const(None))

  /** Edges `(src, dst, w)`: self loops, nulls, and parallel edges with
    * different weights come from the small id pool; `acyclic` orients
    * every edge up the pool order and drops self loops. */
  private def graph(acyclic: Boolean) = Gen.choose(0, 24).flatMap(Gen.listOfN(_,
    for { s <- id; d <- id; w <- weight } yield
      if (!acyclic || s == null || d == null) (s, d, w)
      else if (ids.indexOf(s) < ids.indexOf(d)) (s, d, w) else (d, s, w)))
    .map(_.filter { case (s, d, _) => !acyclic || s == null || s != d })

  private val seeds = Gen.choose(0, 4).flatMap(Gen.listOfN(_,
    Gen.frequency(6 -> id, 1 -> Gen.const("absent"))))

  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().map(_.toString).sorted.toSeq)
    catch { case e: IllegalStateException => Left(e.getMessage) }

  private def ops(es: Seq[(String, String, Option[Long])], ss: Seq[String],
      d: Int): Seq[(String, () => DataFrame)] = {
    val e = es.toDF("src", "dst", "w")
    val s = ss.toDF("id")
    Seq(
      "reachable" -> (() => GraphQuery.reachable(e, maxHops = math.max(d, 1))),
      "fromLandmarks" -> (() => Distances.fromLandmarks(e, s, maxDepth = d)),
      "fromSources" -> (() => Betweenness.fromSources(e, s, maxDepth = d)),
      "Topo.levels" -> (() => Topo.levels(e)),
      "Scc.components" -> (() => Scc.components(e)),
      "Dag.longestPaths" -> (() => Dag.longestPaths(e, maxRounds = 8)),
      "Widest.paths" -> (() => Widest.paths(e, s, maxRounds = 8)))
  }

  test("driver replays == distributed twins on generated graphs (3 seeds)") {
    val thrown = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val cases = for (seed <- Seq(1L, 2L, 3L); acyclic <- Seq(false, true)) yield (seed, acyclic)
    // each case its own depth bound: 0–4 and none
    cases.zip(Seq(0, 1, 2, 3, 4, Int.MaxValue)).foreach { case ((seed, acyclic), d) =>
      val (es, ss) = Gen.zip(graph(acyclic), seeds)
        .apply(Gen.Parameters.default, Seed(seed)).get
      ops(es, ss, d).foreach { case (name, op) =>
        val local = outcome(op())
        val dist = withLocalBudget(0)(outcome(op()))
        assert(local == dist, s"$name, seed $seed, acyclic $acyclic, depth $d: $es / $ss")
        if (local.isLeft) thrown(name) += 1
      }
    }
    // the cyclic graphs reach the "no sources" and "no fixed point" errors
    assert(thrown("Topo.levels") >= 1 && thrown("Topo.levels") < 6, thrown)
    assert(thrown("Dag.longestPaths") >= 1, thrown)
  }

  test("pair-budget aborts at a budget of |E| give the default result") {
    val (es, ss) = Gen.zip(graph(acyclic = false), seeds)
      .apply(Gen.Parameters.default, Seed(4L)).get
    // every id a landmark/source: 2·pairs outgrow |E|
    ops(es, ss ++ ids, Int.MaxValue).take(3).foreach { case (name, op) =>
      val base = outcome(op())
      val (forced, aborted) = withLocalBudget(es.length.toLong) {
        val df = op()
        (outcome(df), !df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      }
      assert(forced == base, name)
      assert(aborted, s"$name: $es / $ss")
    }
  }
}
