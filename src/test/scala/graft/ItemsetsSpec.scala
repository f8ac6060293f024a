package graft

import graft.ops.Itemsets
import org.apache.spark.sql.functions.col

class ItemsetsSpec extends SparkSuite {
  import spark.implicits._

  /** Independent reference: direct enumeration of EVERY itemset of size
    * 1–3 over the in-memory baskets — no level-wise pruning, no joins. */
  private def brute(baskets: Map[String, Set[String]], minSup: Long)
      : Map[(String, Int), Long] = {
    val sets = baskets.values.toSeq
    val items = sets.flatten.distinct.sorted
    val out = scala.collection.mutable.Map.empty[(String, Int), Long]
    for (a <- items) {
      val s = sets.count(_.contains(a))
      if (s >= minSup) out((a, 1)) = s
    }
    for (a <- items; b <- items if a < b) {
      val s = sets.count(x => x(a) && x(b))
      if (s >= minSup) out((s"$a|$b", 2)) = s
    }
    for (a <- items; b <- items if a < b; c <- items if b < c) {
      val s = sets.count(x => x(a) && x(b) && x(c))
      if (s >= minSup) out((s"$a|$b|$c", 3)) = s
    }
    out.toMap
  }

  private def corpus(seed: Int, nBaskets: Int, nItems: Int,
      maxPer: Int): Map[String, Set[String]] = {
    val rnd = new scala.util.Random(seed)
    (0 until nBaskets).map { i =>
      f"b$i%03d" -> (0 until (1 + rnd.nextInt(maxPer)))
        .map(_ => f"i${rnd.nextInt(nItems)}%02d").toSet
    }.toMap
  }

  private def runEngine(baskets: Map[String, Set[String]], minSup: Long,
      cap: Int = 10000): Map[(String, Int), Long] = {
    val df = baskets.toSeq.flatMap { case (b, its) => its.map(b -> _) }
      .toDF("bk", "it").repartition(5)
    Itemsets.frequentItemsets(df, col("bk"), col("it"), minSup, cap)
      .as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
  }

  test("level-wise Apriori == direct enumeration on random corpora") {
    for (seed <- Seq(1, 2, 3)) {
      val c = corpus(seed, 60, 12, 6)
      for (minSup <- Seq(2L, 5L, 9L))
        assert(runEngine(c, minSup) === brute(c, minSup),
          s"seed=$seed minSup=$minSup")
    }
  }

  test("duplicate (basket,item) rows count once; nulls dropped") {
    val df = Seq(("b1", "a"), ("b1", "a"), ("b1", "b"), ("b2", "a"),
      ("b2", "b"), (null, "z"), ("b3", null)).toDF("bk", "it")
    val got = Itemsets.frequentItemsets(df, col("bk"), col("it"), 2L)
      .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(("a", 1) -> 2L, ("b", 1) -> 2L, ("a|b", 2) -> 2L))
  }

  test("over-cap basket dropped WITH in-operator accounting") {
    // huge holds 6 items, each made frequent (support 2) by a singleton
    // basket; its PROJECTED size 6 > cap 4 -> dropped, so no pair from it
    // is counted, while F1 supports (pre-cap) still see it
    val big = (0 until 6).map(i => "huge" -> f"i$i%02d")
    val singles = (0 until 6).map(i => s"s$i" -> f"i$i%02d")
    val pairb = Seq("b1" -> "p", "b1" -> "q", "b2" -> "p", "b2" -> "q")
    val df = (big ++ singles ++ pairb).toDF("bk", "it")
    val (got, warns) = Audit.capturing {
      Itemsets.frequentItemsets(df, col("bk"), col("it"), 2L,
          maxBasketItems = 4)
        .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    }
    val expSingles = (0 until 6).map(i => (f"i$i%02d", 1) -> 2L).toMap
    assert(got === expSingles ++ Map(("p", 1) -> 2L, ("q", 1) -> 2L,
      ("p|q", 2) -> 2L))
    assert(warns.exists(w => w.contains("dropping 1 over-cap baskets") &&
      w.contains("covering 6")), warns)
    // silent when nothing is over cap
    val (_, w2) = Audit.capturing {
      Itemsets.frequentItemsets(pairb.toDF("bk", "it"),
        col("bk"), col("it"), 2L).collect()
    }
    assert(!w2.exists(_.contains("over-cap")), w2)
  }

  test("association rules: exact integer ppm scores, both directions") {
    // 10 baskets: a in 8, b in 5, {a,b} in 4
    val rows = (0 until 8).map(i => s"b$i" -> "a") ++
      (4 until 9).map(i => s"b$i" -> "b")
    val df = rows.toDF("bk", "it")
    val got = Itemsets.associationRules(df, col("bk"), col("it"), 2L)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // n = 9 baskets (b8 has only b); supp(ab)=4, supp(a)=8, supp(b)=5
    val liftAB = 1000000L * 4 * 9 / (8 * 5)
    assert(got === Map(
      ("a", "b") -> ((4L, 1000000L * 4 / 8, liftAB)),
      ("b", "a") -> ((4L, 1000000L * 4 / 5, liftAB))))
    // confidence floor filters the weak direction
    val hi = Itemsets.associationRules(df, col("bk"), col("it"), 2L,
        minConfPpm = 700000L)
      .as[(String, String, Long, Long, Long)].collect()
    assert(hi.map(r => (r._1, r._2)).toSet === Set(("b", "a")))
  }

  test("rules match a brute reference on a random corpus") {
    val c = corpus(7, 40, 8, 5)
    val sets = c.values.toSeq
    val n = sets.count(_.nonEmpty).toLong
    val df = c.toSeq.flatMap { case (b, its) => its.map(b -> _) }
      .toDF("bk", "it").repartition(4)
    val got = Itemsets.associationRules(df, col("bk"), col("it"), 3L)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val items = sets.flatten.distinct
    val exp = (for {
      x <- items; y <- items if x != y
      sx = sets.count(_.contains(x)).toLong
      sy = sets.count(_.contains(y)).toLong
      sxy = sets.count(s => s(x) && s(y)).toLong
      if sxy >= 3L && sx >= 3L && sy >= 3L
    } yield (x, y) -> ((sxy, 1000000L * sxy / sx,
      1000000L * sxy * n / (sx * sy)))).toMap
    assert(got === exp)
  }

  test("dense basket (1302 frequent items) takes the pruned path: no INT wrap in the triple bound") {
    // one dense basket holds every item; items come in groups of three
    // that also share a small basket, so only in-group pairs/triples reach
    // support 2. Σ C(|fa|, 3) ≈ 3.7e8 is far past directTriplesMax, but an
    // INT product size·(size-1)·(size-2) wraps negative at |fa| >= 1291 and
    // would send the basket into the direct C(n,3) enumeration.
    val groups = 434
    def it(i: Int) = f"x$i%04d"
    val dense = (0 until 3 * groups).map(i => "dense" -> it(i))
    val small = (0 until 3 * groups).map(i => s"g${i / 3}" -> it(i))
    val df = (dense ++ small).toDF("bk", "it")
    val res = Itemsets.frequentItemsets(df, col("bk"), col("it"), 2L)
    assert(res.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "dense basket must take the Apriori-pruned triple path")
    val got = res.as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exp = (0 until groups).flatMap { g =>
      val Seq(a, b, c) = (0 until 3).map(k => it(3 * g + k))
      Seq((a, 1), (b, 1), (c, 1), (s"$a|$b", 2), (s"$a|$c", 2), (s"$b|$c", 2),
        (s"$a|$b|$c", 3)).map(_ -> 2L)
    }.toMap
    assert(got === exp)
  }

  test("gate-forced parity: direct triple enumeration == Apriori-pruned path") {
    import spark.implicits._
    val rows = (1 to 200).flatMap { b =>
      Seq((b.toLong, s"i${b % 4}"), (b.toLong, s"i${b % 5}"), (b.toLong, s"i${(b * 3) % 6}"),
        (b.toLong, s"i${(b * 7) % 8}"))
    }.toDF("bk", "it")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Itemsets.frequentItemsets(df,
        org.apache.spark.sql.functions.col("bk"),
        org.apache.spark.sql.functions.col("it"), minSupport = 10L)
        .as[(String, Int, Long)].collect().toSet
    val direct = go(rows)
    val pruned = try {
      spark.conf.set("spark.graft.itemsets.directTriplesMax", "0")
      go(rows)
    } finally spark.conf.unset("spark.graft.itemsets.directTriplesMax")
    assert(direct == pruned)
    assert(direct.exists(_._2 == 3)) // the case actually exercises triples
  }
}
