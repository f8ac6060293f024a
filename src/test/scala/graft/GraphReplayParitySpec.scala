package graft

import graft.graph.{Betweenness, Coloring, Dag, Distances, GraphQuery, Matching, Mis, Mst, Scc,
  Topo, Widest}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Driver replays against their distributed twins: an operator runs at
  * the default budget and at budget 0 and must give the same rows, or
  * throw the same error. */
trait ReplayTwins extends SparkSuite {
  import spark.implicits._

  protected def outcome(df: => DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq.sortBy(_.toString))
    catch { case e: IllegalStateException => Left(e.getMessage) }

  /** Both twins' outcomes of each op, asserted equal; the default's by
    * name. */
  protected def twinsAgree(ops: Seq[(String, () => DataFrame)],
      what: String): Map[String, Either[String, Seq[Row]]] =
    ops.map { case (name, op) =>
      val local = outcome(op())
      val dist = withLocalBudget(0)(outcome(op()))
      assert(local == dist, s"$name: $what")
      name -> local
    }.toMap

  /** Mis under five priority shapes (the default, a null field, a Float
    * field, a -0.0/0.0 Double field, a constant), Coloring at the default
    * and at `maxRounds = 2`, Matching, and Mst over the weights `w`; Mis,
    * Matching and Mst also at a round limit of 1 (`.1`). */
  private def waveOps(es: Seq[(String, String, Option[Long])]): Seq[(String, () => DataFrame)] = {
    val e = es.toDF("src", "dst", "w")
    val prios: Seq[(String, Column => Column)] = Seq(
      "null" -> (c => struct(lit(null).cast("long"), xxhash64(c))),
      "float" -> (c => struct(xxhash64(c).cast("float"))),
      "zeros" -> (c => struct(when(c === "d", lit(-0.0)).otherwise(lit(0.0)))),
      "const" -> (_ => struct(lit(1L))))
    Seq[(String, () => DataFrame)]("Mis" -> (() => Mis.maximalIndependentSet(e))) ++
      prios.map { case (n, p) => s"Mis.$n" -> (() => Mis.maximalIndependentSet(e, prioOf = p)) } ++
      Seq(
        "Coloring" -> (() => Coloring.jonesPlassmann(e)),
        "Coloring.2" -> (() => Coloring.jonesPlassmann(e, maxRounds = 2)),
        "Matching" -> (() => Matching.maximal(e)),
        "Mst" -> (() => Mst.spanningForest(e)),
        "Mis.1" -> (() => Mis.maximalIndependentSet(e, maxRounds = 1)),
        "Matching.1" -> (() => Matching.maximal(e, maxIter = 1)),
        "Mst.1" -> (() => Mst.spanningForest(e, maxRounds = 1)))
  }

  /** [[twinsAgree]] over the [[waveOps]] whose name `keep` accepts, and
    * every Mis result an independent set that no graph node can join. */
  protected def wavesAgree(es: Seq[(String, String, Option[Long])], what: String,
      keep: String => Boolean = _ => true): Map[String, Either[String, Seq[Row]]] = {
    val out = twinsAgree(waveOps(es).filter(op => keep(op._1)), what)
    val und = es.collect { case (a, b, _) if a != null && b != null && a != b =>
      Seq(a -> b, b -> a) }.flatten.toSet
    out.collect { case (name, Right(rows)) if name.startsWith("Mis") =>
      val sel = rows.map(_.getString(0))
      assert(sel.distinct.size == sel.size, s"$name: $what")
      assert(und.forall { case (a, b) => !(sel.contains(a) && sel.contains(b)) },
        s"$name: not independent: $sel, $what")
      assert(und.forall { case (a, _) => sel.contains(a) ||
        und.exists { case (x, y) => x == a && sel.contains(y) } },
        s"$name: not maximal: $sel, $what")
    }
    out
  }
}

class GraphReplayParitySpec extends ReplayTwins {
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
      twinsAgree(ops(es, ss, d), s"seed $seed, acyclic $acyclic, depth $d: $es / $ss")
        .foreach { case (name, r) => if (r.isLeft) thrown(name) += 1 }
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

  test("wave replays == distributed twins on generated undirected graphs (3 seeds)") {
    val thrown = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    // a path: the constant priority ties every node
    val path = Seq(("a", "b", Some(1L)), ("b", "c", Some(1L)), ("c", "d", Some(1L)))
    val cases = Seq(1L, 2L, 3L).map(seed => s"seed $seed" ->
      graph(acyclic = false).apply(Gen.Parameters.default, Seed(seed)).get) :+ ("path" -> path)
    cases.foreach { case (what, es) =>
      wavesAgree(es, s"$what: $es", !_.endsWith(".1"))
        .foreach { case (name, r) => if (r.isLeft) thrown(name) += 1 }
    }
    // only the small maxRounds gives up, and not on every graph
    assert(thrown.keySet == Set("Coloring.2") && thrown("Coloring.2") < cases.size, thrown)
  }

  test("a round limit of 1 settles a single edge; a path of two waves exceeds it") {
    // one round selects, matches and spans a–b: no second round is needed
    val edge = Seq(("a", "b", Some(1L)))
    val settled = wavesAgree(edge, "a–b", _.endsWith(".1"))
    assert(settled.size == 3 && settled.values.forall(_.isRight), settled)
    // Borůvka needs two rounds on a–b–c–d whose middle edge is heaviest
    val path = Seq(("a", "b", Some(1L)), ("b", "c", Some(3L)), ("c", "d", Some(1L)))
    val out = wavesAgree(path, "a–b–c–d", _.endsWith(".1"))
    assert(out("Mst.1").isLeft, out)
  }
}
