package graft

import graft.link.StableMatch

class StableMatchSpec extends SparkSuite {
  import spark.implicits._

  private def run(prefs: Seq[(String, String, Long, Long)],
      parts: Int = 3): Set[(String, String)] =
    StableMatch.matchPairs(
      prefs.toDF("m", "w", "m_score", "w_score").repartition(parts))
      .as[(String, String)].collect().toSet

  /** Independent reference: the SEQUENTIAL textbook Gale–Shapley — one
    * proposal at a time, always the lexicographically smallest free man
    * (McVitie–Wilson: the proposal order does not change the result). */
  private def naive(prefs: Seq[(String, String, Long, Long)]): Set[(String, String)] = {
    val byM = prefs.groupBy(_._1).map { case (m, rs) =>
      m -> rs.sortBy(-_._3).map(_._2).toList
    }
    val wScore = prefs.map(r => (r._1, r._2) -> r._4).toMap
    val next = scala.collection.mutable.Map(byM.keys.map(_ -> 0).toSeq: _*)
    val fiance = scala.collection.mutable.Map.empty[String, String] // w -> m
    def free = byM.keys.toSeq.sorted.find(m =>
      !fiance.values.exists(_ == m) && next(m) < byM(m).length)
    var f = free
    while (f.isDefined) {
      val m = f.get
      val w = byM(m)(next(m))
      next(m) += 1
      fiance.get(w) match {
        case None => fiance(w) = m
        case Some(cur) =>
          if (wScore((m, w)) > wScore((cur, w))) fiance(w) = m
      }
      f = free
    }
    fiance.map { case (w, m) => (m, w) }.toSet
  }

  test("textbook 3x3 instance") {
    // classic example where naive per-row argmax would clash
    val prefs = for {
      (m, mi) <- Seq("m1" -> 0, "m2" -> 1, "m3" -> 2)
      (w, wi) <- Seq("w1" -> 0, "w2" -> 1, "w3" -> 2)
    } yield {
      val mScore = Seq(Seq(3L, 2L, 1L), Seq(2L, 3L, 1L), Seq(3L, 1L, 2L))(mi)(wi)
      val wScore = Seq(Seq(1L, 3L, 2L), Seq(3L, 2L, 1L), Seq(2L, 1L, 3L))(wi)(mi)
      (m, w, mScore, wScore)
    }
    val got = run(prefs)
    assert(got === naive(prefs))
    assert(got.size === 3)
  }

  test("everyone wants the same woman: scores settle it; rest cascade") {
    val prefs = Seq(
      ("m1", "w1", 10L, 1L), ("m1", "w2", 1L, 5L),
      ("m2", "w1", 10L, 2L), ("m2", "w2", 1L, 6L),
      ("m3", "w1", 10L, 3L), ("m3", "w2", 1L, 7L))
    val got = run(prefs)
    // w1 keeps m3 (her best), w2 ends with m2 (beats m1), m1 unmatched
    assert(got === Set(("m3", "w1"), ("m2", "w2")))
    assert(got === naive(prefs))
  }

  test("partial preference lists leave the unlisted unmatched") {
    val prefs = Seq(("m1", "w1", 1L, 1L))
    assert(run(prefs) === Set(("m1", "w1")))
  }

  test("stability: no blocking pair exists (checked explicitly)") {
    val rnd = new scala.util.Random(41)
    val n = 12
    // 251 prime: w -> 5mw mod 251 injective per m (tie-free both sides)
    val prefs = for (m <- 1 to n; w <- 1 to n) yield
      (f"m$m%02d", f"w$w%02d",
        ((m * w * 5) % 251).toLong, ((m * w * 7) % 251).toLong)
    val got = run(prefs, parts = 4)
    assert(got === naive(prefs))
    val mScore = prefs.map(r => (r._1, r._2) -> r._3).toMap
    val wScore = prefs.map(r => (r._1, r._2) -> r._4).toMap
    val mOf = got.map(_.swap).toMap // w -> m
    val wOf = got.toMap // m -> w
    for (m <- got.map(_._1); w <- got.map(_._2)
         if wOf(m) != w) {
      val blocking = mScore((m, w)) > mScore((m, wOf(m))) &&
        wScore((m, w)) > wScore((mOf(w), w))
      assert(!blocking, s"blocking pair $m-$w")
    }
  }

  test("local fast path == distributed round-parallel path (gate forced)") {
    // r6: matchPairs takes a driver-local sequential GS when the distinct
    // preference table fits the driver-local budget. Force
    // the distributed path with budget 0 and assert identical matchings —
    // including an instance WITH TIED scores, where both paths must apply
    // the same (score, id-string) struct-max tie orders.
    val rnd = new scala.util.Random(47)
    val instances = Seq(
      for (m <- 1 to 9; w <- 1 to 9) yield
        (f"m$m%02d", f"w$w%02d",
          ((m * w * 5) % 251).toLong, ((m * w * 7) % 251).toLong),
      // tied scores: many (m, w) share m_score/w_score values
      for (m <- 1 to 7; w <- 1 to 7) yield
        (f"m$m%02d", f"w$w%02d", ((m + w) % 3).toLong, ((m * w) % 4).toLong),
      // a tie between men that Spark's UTF-8 order and Java's UTF-16
      // order sort apart
      Seq(("Ａ", "w0", 5L, 1L), ("😀", "w0", 5L, 1L), ("Ａ", "w1", 1L, 1L),
        ("😀", "w1", 1L, 1L)))
    for ((prefs, i) <- instances.zipWithIndex) {
      val local = run(prefs, parts = 4)
      val dist = withLocalBudget(0)(run(prefs, parts = 4))
      assert(local === dist, s"instance $i")
    }
  }

  test("a Long.MaxValue budget is clamped: same matching as the default budget") {
    val prefs = for (m <- 1 to 4; w <- 1 to 4) yield
      (s"m$m", s"w$w", ((m * w * 5) % 17).toLong, ((m * w * 7) % 17).toLong)
    assert(withLocalBudget(Long.MaxValue)(run(prefs)) == run(prefs))
  }

  test("parity with sequential Gale-Shapley on random full instances") {
    val rnd = new scala.util.Random(43)
    for (trial <- 0 until 4) {
      val n = 6 + rnd.nextInt(8)
      // tie-free scores: random permutations per node
      def perm() = rnd.shuffle((1 to n).toList)
      val mp = (1 to n).map(_ => perm())
      val wp = (1 to n).map(_ => perm())
      val prefs = for (m <- 1 to n; w <- 1 to n) yield
        (f"m$m%02d", f"w$w%02d", mp(m - 1)(w - 1).toLong, wp(w - 1)(m - 1).toLong)
      assert(run(prefs, parts = 5) === naive(prefs), s"trial $trial n=$n")
    }
  }
}
