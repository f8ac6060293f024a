package graft

import graft.metrics.Agreement
import graft.ops.Trend
import org.apache.spark.sql.catalyst.plans.logical.Window

class AgreementSpec extends SparkSuite {
  import spark.implicits._

  private def kappa(rows: Seq[(String, String)]) =
    Agreement.cohensKappa(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Double)].collect().head

  test("cohen's kappa: the textbook 2x2 example") {
    // 20 yes-yes, 5 yes-no, 10 no-yes, 15 no-no (Cohen 1960 shape):
    // po = 35/50; pe = (25*30 + 25*20)/2500 = 0.5; kappa = 0.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val (n, agree, chance, k) = kappa(rows)
    assert(n == 50L && agree == 35L && chance == 1250L)
    assert(k == 0.4)
  }

  test("perfect agreement = 1; skewed chance agreement is corrected " +
    "toward 0; disjoint labels floor below 0") {
    assert(kappa(Seq.fill(30)(("x", "x")) ++ Seq.fill(3)(("y", "y")))._4 == 1.0)
    // 90% 'a' base rate, agreement only by chance structure
    val skew = Seq.fill(81)(("a", "a")) ++ Seq.fill(9)(("a", "b")) ++
      Seq.fill(9)(("b", "a")) ++ Seq.fill(1)(("b", "b"))
    assert(math.abs(kappa(skew)._4) < 0.01) // independent annotators
    assert(kappa(Seq.fill(10)(("a", "b")) ++ Seq.fill(10)(("b", "a")))._4 < 0)
  }

  test("null labels are excluded; single-cell degenerate kappa is null") {
    val df = Seq((Some("a"), Some("a")), (Some("b"), Some("b")),
      (None, Some("a")), (Some("b"), None)).toDF("a", "b")
    val out = Agreement.cohensKappa(df, "a", "b")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(out._1 == 2L && out._4.contains(1.0))
    // pe = 1: kappa is 0/0 — null, not a fabricated verdict
    val degen = Agreement.cohensKappa(
        Seq(("a", "a"), ("a", "a")).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(degen._4.isEmpty)
  }

  private def mk(vals: Seq[Long]) =
    Trend.mannKendall(vals.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("t", "v"), "t", "v")
      .as[(Long, Long, Long, Long, String)].collect().head

  test("mann-kendall: monotone series saturate S at ±C(n,2); noise nets " +
    "out; ties counted") {
    assert(mk(Seq(1L, 2L, 3L, 4L, 5L)) == (5L, 10L, 10L, 0L, "asc"))
    assert(mk(Seq(5L, 4L, 3L, 2L, 1L)) == (5L, -10L, 10L, 0L, "desc"))
    assert(mk(Seq(2L, 2L, 2L)) == (3L, 0L, 3L, 3L, "none"))
    val (_, s, _, _, trend) = mk(Seq(1L, 3L, 2L, 4L, 3L, 5L))
    assert(s > 0 && trend == "asc") // drift visible through the sawtooth
  }

  // ---- CUSUM changepoint ----

  private def cusum(vals: Seq[Long], parts: Int = 3) =
    Trend.cusumChangepoint(
      vals.zipWithIndex.map { case (v, i) => (i + 1, v) }
        .toDF("t", "v").repartition(parts), "t", "v")
      .as[(Long, Long, Option[String], Option[Int], Option[Long],
        Option[String])].collect().head

  test("cusum: locates a hand-computed level shift (argmax |S'| at the " +
    "last pre-shift bucket)") {
    // 10,10,10,50,50: T=130, S' = -80,-160,-240,-120 -> peak i=3, 'up'
    val (n, total, cpT, cpI, s, shift) = cusum(Seq(10L, 10L, 10L, 50L, 50L))
    assert(n == 5L && total == 130L)
    assert(cpT.contains("3") && cpI.contains(3))
    assert(s.contains(-240L) && shift.contains("up"))
  }

  test("cusum: positions and running sums without a single-partition global window") {
    spark.conf.set(Materialize.ModeKey, "none") // keep the scans in the plan
    val plan = try Trend.cusumChangepoint(Seq((1, 10L), (2, 50L), (3, 50L)).toDF("t", "v"),
        "t", "v").queryExecution.optimizedPlan
      finally spark.conf.unset(Materialize.ModeKey)
    val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, global)
  }

  test("cusum: down-shift sign, tie -> earliest bucket, flat -> none") {
    val down = cusum(Seq(50L, 50L, 10L, 10L, 10L))
    assert(down._4.contains(2) && down._6.contains("down"))
    // 1,2,2,1: |S'| = 2,0,2 -> tie between i=1 and i=3, earliest wins
    val tie = cusum(Seq(1L, 2L, 2L, 1L))
    assert(tie._4.contains(1) && tie._5.contains(-2L))
    val flat = cusum(Seq(5L, 5L, 5L))
    assert(flat._4.contains(1) && flat._6.contains("none"))
  }

  test("cusum: n < 2 yields the degenerate null row; layout invariant") {
    val single = cusum(Seq(7L))
    assert(single._1 == 1L && single._2 == 7L && single._4.isEmpty &&
      single._6.isEmpty)
    val a = cusum(Seq(3L, 9L, 4L, 8L, 2L, 20L, 19L), parts = 1)
    val b = cusum(Seq(3L, 9L, 4L, 8L, 2L, 20L, 19L), parts = 7)
    assert(a == b)
  }
}
