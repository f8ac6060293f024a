package graft

import graft.graph.NegativeSampler
import org.apache.spark.sql.catalyst.plans.logical.Window

class NegativeSamplerSpec extends SparkSuite {
  import spark.implicits._

  private val triples = Seq(
    ("inv1", "hasVendor", "acme"), ("inv2", "hasVendor", "globex"),
    ("inv3", "hasVendor", "acme"), ("inv1", "hasTotal", "100"),
    ("inv2", "hasTotal", "250"), ("inv3", "hasVendor", "initech"))

  /** Independent replay of the draw: rolling fingerprint over codepoints
    * (h*31 + cp) mod (2^31-1), pool = sorted distinct objects. */
  private def fp(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 2147483647L)

  private def expected(k: Int): Set[(String, String, String, Int, String)] = {
    val t = triples.distinct
    val pool = t.map(_._3).distinct.sorted
    val truths = t.toSet
    (for {
      (s, p, o) <- t; i <- 0 until k
      cand = pool((fp(s"$s|$p|$o|$i") % pool.length).toInt)
      if cand != o && !truths.contains((s, p, cand))
    } yield (s, p, o, i, cand)).toSet
  }

  test("draws match the sequential fingerprint replay exactly") {
    val out = NegativeSampler.corruptTail(triples.toDF("subj", "pred", "obj"), k = 3)
      .as[(String, String, String, Int, String)].collect().toSet
    assert(out == expected(3))
    assert(out.nonEmpty)
  }

  test("filtered contract: no output row is a true triple or a no-op") {
    val out = NegativeSampler.corruptTail(triples.toDF("subj", "pred", "obj"), k = 8)
      .as[(String, String, String, Int, String)].collect()
    val truths = triples.toSet
    out.foreach { case (s, p, o, i, neg) =>
      assert(neg != o)
      assert(!truths.contains((s, p, neg)), s"true triple leaked: ($s,$p,$neg)")
      assert(i >= 0 && i < 8)
    }
    // at most k negatives per triple
    out.groupBy(r => (r._1, r._2, r._3)).foreach { case (_, g) =>
      assert(g.length <= 8)
    }
  }

  test("deterministic across partition layouts") {
    val df = triples.toDF("subj", "pred", "obj")
    val a = NegativeSampler.corruptTail(df.repartition(1), k = 4)
      .as[(String, String, String, Int, String)].collect().toSet
    val b = NegativeSampler.corruptTail(df.repartition(7), k = 4)
      .as[(String, String, String, Int, String)].collect().toSet
    assert(a == b)
  }

  test("degenerate pools: single object or empty input yield no negatives") {
    val single = Seq(("a", "p", "x"), ("b", "p", "x")).toDF("subj", "pred", "obj")
    assert(NegativeSampler.corruptTail(single, k = 5).isEmpty)
    val empty = Seq.empty[(String, String, String)].toDF("subj", "pred", "obj")
    assert(NegativeSampler.corruptTail(empty, k = 5).isEmpty)
  }

  test("indexes the pool without a single-partition global window") {
    // a Window with no partition spec moves the whole pool to one task
    spark.conf.set(Materialize.ModeKey, "none") // keep the pool index in the plan
    val plan = try NegativeSampler.corruptTail(triples.toDF("subj", "pred", "obj"), k = 3)
      .queryExecution.optimizedPlan
      finally spark.conf.unset(Materialize.ModeKey)
    val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, global)
  }
}
