package graft

import graft.ops.Coverage

class CoverageSpec extends SparkSuite {
  import spark.implicits._

  private def select(rows: Seq[(String, String)], k: Int) =
    Coverage.greedySelect(rows.toDF("id", "item"), "id", "item", k)
      .as[(Int, String, Long)].collect().toSeq

  test("hand-traced greedy: biggest first, marginal gains after, early " +
    "stop when nothing new is covered") {
    val rows = Seq("A" -> Set(1, 2, 3, 4), "B" -> Set(3, 4, 5),
      "C" -> Set(5, 6), "D" -> Set(1, 2))
      .flatMap { case (d, is) => is.map(i => d -> i.toString) }
    // A covers 4; then C adds {5,6}; then B/D add nothing → stop at 2
    assert(select(rows, 5) == Seq((1, "A", 4L), (2, "C", 2L)))
  }

  test("ties break on id ascending (string order), deterministically " +
    "under repartition") {
    val rows = Seq("x2" -> Seq(1, 2), "x10" -> Seq(3, 4), "y" -> Seq(5))
      .flatMap { case (d, is) => is.map(i => d -> i.toString) }
    // x2 and x10 both gain 2 — STRING order picks "x10" < "x2"
    val got = select(rows, 3)
    assert(got.map(_._2) == Seq("x10", "x2", "y"))
    val df = rows.toDF("id", "item").repartition(7)
    val again = Coverage.greedySelect(df, "id", "item", 3)
      .as[(Int, String, Long)].collect().toSeq
    assert(again == got)
  }

  test("(1-1/e) guarantee holds against the exhaustive optimum for k=2 " +
    "on a pseudo-random instance") {
    val docs = (0 until 8).map { d =>
      s"d$d" -> (0 until 20).filter(i => (d * 7 + i * 3) % 5 < 2).toSet
    }
    val rows = docs.flatMap { case (d, is) => is.map(i => d -> i.toString) }
    val got = select(rows, 2)
    val greedyCov = {
      val byId = docs.toMap
      got.map(_._2).map(byId).reduce(_ ++ _).size
    }
    val best = (for {
      i <- docs.indices; j <- (i + 1) until docs.size
    } yield (docs(i)._2 ++ docs(j)._2).size).max
    assert(greedyCov >= math.ceil(best * (1 - 1 / math.E)).toInt)
  }

  test("local fast path == distributed incremental rounds (gate forced)") {
    // r6: greedySelect runs driver-locally below
    // the driver-local budget; force the distributed rounds
    // with budget 0 and assert identical (rank, id, gain) picks, on an
    // instance with gain ties and overlapping sets, and on a gain tie
    // between ids that Spark's UTF-8 order and Java's UTF-16 order sort
    // apart.
    val rows = for {
      d <- 0 until 25; i <- 0 until 12
      if (d * 7 + i * 5) % 3 != 0
    } yield (f"d$d%02d", s"i${(d + i * i) % 40}")
    for ((rs, k) <- Seq((rows, 6), (Seq(("Ａ", "x"), ("😀", "y")), 2))) {
      def run() = Coverage.greedySelect(
        rs.toDF("id", "item"), "id", "item", k)
        .as[(Int, String, Long)].collect().toSeq
      val local = run()
      val dist = withLocalBudget(0)(run())
      assert(local == dist)
    }
  }

  test("a Long.MaxValue budget is clamped: same picks as the default budget") {
    val rows = Seq(("A", "x"), ("A", "y"), ("B", "y"), ("C", "z"))
    def run() = Coverage.greedySelect(rows.toDF("id", "item"), "id", "item", 3)
      .as[(Int, String, Long)].collect().toSeq
    assert(withLocalBudget(Long.MaxValue)(run()) == run())
  }

  test("duplicate membership rows don't inflate gains; nulls are dropped") {
    val rows = Seq(("A", Some("x")), ("A", Some("x")), ("A", Some("y")),
      ("B", Some("z")), ("B", None), (null, Some("q")))
    val got = Coverage.greedySelect(
      rows.toDF("id", "item"), "id", "item", 5)
      .as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, "A", 2L), (2, "B", 1L)))
  }
}
