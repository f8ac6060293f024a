package graft

import graft.graph.NullModel
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

class NullModelSpec extends SparkSuite {
  import spark.implicits._

  private def rewire(edges: Seq[(String, String)]) =
    NullModel.rewire(edges.toDF("src", "dst"))
      .as[(String, String, Long)].collect()

  test("degree sequence is preserved exactly (self-loops count twice)") {
    val edges = (2 to 64).map(i => s"n$i" -> s"n${i / 2}")
    val out = rewire(edges)
    def degrees(pairs: Seq[(String, String, Long)]): Map[String, Long] =
      pairs.flatMap { case (a, b, n) => Seq(a -> n, b -> n) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val orig = edges.map { case (a, b) => (a, b, 1L) }
    assert(degrees(out) == degrees(orig))
    assert(out.map(_._3).sum == edges.length) // same number of edges
  }

  test("rewiring actually rewires (not the identity) but is deterministic " +
    "and layout-invariant") {
    val edges = (2 to 200).map(i => s"n$i" -> s"n${i / 2}")
    val a = NullModel.rewire(edges.toDF("src", "dst").repartition(1))
      .as[(String, String, Long)].collect().toSet
    val b = NullModel.rewire(edges.toDF("src", "dst").repartition(13))
      .as[(String, String, Long)].collect().toSet
    assert(a == b)
    val orig = edges.map { case (x, y) =>
      (Seq(x, y).min, Seq(x, y).max, 1L) }.toSet
    assert(a != orig) // vanishingly unlikely to re-deal the same wiring
  }

  test("null-model assortativity strips the real graph's degree " +
    "correlation structure") {
    // a strongly disassortative star: hub-leaf only
    val star = (1 to 40).map(i => "hub" -> s"l$i")
    val real = graft.graph.GraphStats.assortativity(star.toDF("src", "dst"))
      .select("assortativity").as[Double].collect().head
    assert(real < -0.9) // pure hub-leaf wiring is maximally disassortative
    val rewired = NullModel.rewire(star.toDF("src", "dst"))
      .flatMap(r => Seq.fill(r.getLong(2).toInt)((r.getString(0), r.getString(1))))
      .toDF("src", "dst")
    val nullr = graft.graph.GraphStats.assortativity(rewired)
      .select("assortativity").as[Double].collect().head
    assert(nullr > real) // stub pairing mixes hub-hub/leaf-leaf back in
  }

  test("pairs stubs without a single-partition global window") {
    // a Window with no partition spec moves every stub to one task
    spark.conf.set(Materialize.ModeKey, "none") // keep the row number in the plan
    val plan = try NullModel.rewire((2 to 30).map(i => s"n$i" -> s"n${i / 3}").toDF("src", "dst"))
      .queryExecution.optimizedPlan
      finally spark.conf.unset(Materialize.ModeKey)
    val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, global)
  }
}
