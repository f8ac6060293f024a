package graft

import graft.ops.SetSim
import org.apache.spark.sql.DataFrame

class SetSimSpec extends SparkSuite {
  import spark.implicits._

  private def D(rows: (String, Seq[String])*) = rows.toDF("id", "toks")

  private def pairs(df: DataFrame, t: Double, maxBucket: Int = 10000):
      Set[(String, String, Double)] =
    SetSim.jaccardJoin(df, "id", "toks", t, maxBucket)
      .as[(String, String, Double)].collect().toSet

  private def naive(rows: Seq[(String, Seq[String])], t: Double):
      Set[(String, String, Double)] = {
    val sets = rows.map { case (i, ts) => (i, ts.distinct.toSet) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= t
    } yield (a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .toDouble)).toSet
  }

  test("finds exactly the pairs at jaccard >= t, with the exact score") {
    val rows = Seq(
      ("d1", Seq("a", "b", "c", "d")),
      ("d2", Seq("a", "b", "c", "e")),   // j(d1,d2) = 3/5 = 0.6
      ("d3", Seq("a", "b", "c", "d")),   // j(d1,d3) = 1.0
      ("d4", Seq("x", "y", "z", "w")))   // unrelated
    assert(pairs(D(rows: _*), 0.5) == naive(rows, 0.5))
    assert(pairs(D(rows: _*), 0.5).contains(("d1", "d2", 0.6)))
  }

  test("threshold 1.0: only set-identical records pair (order/dupes ignored)") {
    val rows = Seq(
      ("d1", Seq("a", "b", "c")),
      ("d2", Seq("c", "b", "a", "a")),   // same SET
      ("d3", Seq("a", "b")))
    assert(pairs(D(rows: _*), 1.0) == Set(("d1", "d2", 1.0)))
  }

  test("low threshold exercises multi-token prefixes; still exact") {
    val rows = (1 to 20).map { i =>
      (f"d$i%02d", (0 to 6).map(k => "t" + ((i * 3 + k * k) % 11)))
    }
    assert(pairs(D(rows: _*), 0.3) == naive(rows, 0.3))
  }

  test("null ids and null/empty token arrays drop") {
    val df = Seq(
      (Some("d1"), Some(Seq("a", "b"))),
      (None, Some(Seq("a", "b"))),
      (Some("d3"), None),
      (Some("d4"), Some(Seq.empty[String]))).toDF("id", "toks")
    assert(pairs(df, 0.1) == Set.empty)
  }

  test("over-cap prefix buckets drop WITH an in-operator warning") {
    // 5 identical singleton sets: one prefix bucket of size 5 > cap 2
    val rows = (1 to 5).map(i => (s"d$i", Seq("hot")))
    val (out, warns) = graft.Audit.capturing(pairs(D(rows: _*), 1.0, maxBucket = 2))
    assert(out == Set.empty)
    assert(warns.exists(_.contains("SetSim.jaccardJoin: dropping 1 over-cap")))
    // and silent when nothing is over cap
    val (_, quiet) = graft.Audit.capturing(pairs(D(rows.take(2): _*), 1.0))
    assert(!quiet.exists(_.contains("over-cap")))
  }

  test("property: matches the naive all-pairs scan on a mixed corpus") {
    val rows = (1 to 40).map { i =>
      val base = (0 until 5 + i % 4).map(k => "w" + ((i / 4) * 7 + k) % 23)
      (f"d$i%02d", base)
    }
    for (t <- Seq(0.4, 0.6, 0.8))
      assert(pairs(D(rows: _*).repartition(7), t) == naive(rows, t), s"t=$t")
  }

  test("verify broadcast gates on the records' tid entries, not their count") {
    // 3 records of 20 tokens (60 tid entries, 30 tokens, over 10 prefix
    // buckets) against a broadcast gate of 10 rows: no join may be hinted
    val rows = (0 until 3).map(r => (s"r$r", (0 until 20).map(i => s"t${r * 5 + i}")))
    val plan = try {
      spark.conf.set(Hints.MaxRowsKey, "10")
      SetSim.jaccardJoin(D(rows: _*), "id", "toks", 0.5).queryExecution.analyzed.toString
    } finally spark.conf.unset(Hints.MaxRowsKey)
    assert(!plan.contains("ResolvedHint"), plan)
  }
}
