package graft

import graft.graph.RandomWalks
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class RandomWalksSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (Long, Long)*) = rows.toDF("src", "dst")
  private def starts(ids: Long*) = ids.toDF("id")

  /** Independent replay of the step rule: same hash primitive
    * (XxHash64Function — the engine-wide keyed PRNG), independent walk
    * logic (plain maps and loops, no DataFrames). */
  private def replay(es: Seq[(Long, Long)], start: Long, length: Int,
      seed: Long): Seq[Long] = {
    val adj = es.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).distinct.sorted.toIndexedSeq) }
    val path = scala.collection.mutable.ArrayBuffer(start)
    var cur = start
    var step = 1
    var halted = false
    while (step <= length && !halted) {
      adj.get(cur) match {
        case Some(nbrs) =>
          var h = XxHash64Function.hash(seed, LongType, 42L)
          h = XxHash64Function.hash(start, LongType, h)
          h = XxHash64Function.hash(step.toLong, LongType, h)
          val idx = (((h % nbrs.length) + nbrs.length) % nbrs.length).toInt
          cur = nbrs(idx)
          path += cur
        case None => halted = true
      }
      step += 1
    }
    path.toSeq
  }

  private val diamond = Seq(
    (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L), (2L, 1L), (3L, 1L))

  test("walks match an independent sequential replay on every start") {
    val out = RandomWalks.walks(edges(diamond: _*), starts(1L, 2L, 3L, 4L),
      length = 10, seed = 7L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    for (s <- Seq(1L, 2L, 3L, 4L))
      assert(out(s) == replay(diamond, s, 10, 7L), s"walk from $s diverged")
  }

  test("every consecutive pair in a walk is a real edge") {
    val es = diamond.toSet
    val out = RandomWalks.walks(edges(diamond: _*), starts(1L, 2L, 3L, 4L),
      length = 12, seed = 3L).as[(Long, Seq[Long])].collect()
    out.foreach { case (_, path) =>
      path.sliding(2).foreach {
        case Seq(a, b) => assert(es.contains((a, b)), s"($a,$b) is not an edge")
        case _ =>
      }
    }
  }

  test("a walk halts at a node with no out-neighbors (path is shorter)") {
    // 1 -> 2 -> 3, 3 is a sink
    val chain = Seq((1L, 2L), (2L, 3L))
    val out = RandomWalks.walks(edges(chain: _*), starts(1L), length = 9, seed = 1L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(out(1L) == Seq(1L, 2L, 3L))
    // a start that is itself a sink yields the single-node path
    val sink = RandomWalks.walks(edges(chain: _*), starts(3L), length = 5, seed = 1L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(sink(3L) == Seq(3L))
  }

  test("deterministic across partition layouts and repeated runs") {
    val a = RandomWalks.walkSteps(edges(diamond: _*).repartition(7),
      starts(1L, 2L, 3L, 4L).repartition(3), length = 8, seed = 11L)
      .as[(Long, Int, Long)].collect().toSet
    val b = RandomWalks.walkSteps(edges(diamond: _*).coalesce(1),
      starts(1L, 2L, 3L, 4L), length = 8, seed = 11L)
      .as[(Long, Int, Long)].collect().toSet
    assert(a == b)
  }

  test("seed changes the walk; same seed reproduces it bit-for-bit") {
    val w1 = RandomWalks.walks(edges(diamond: _*), starts(1L), 10, seed = 5L)
      .as[(Long, Seq[Long])].collect().toMap
    val w2 = RandomWalks.walks(edges(diamond: _*), starts(1L), 10, seed = 5L)
      .as[(Long, Seq[Long])].collect().toMap
    val w3 = RandomWalks.walks(edges(diamond: _*), starts(1L), 10, seed = 6L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(w1 == w2)
    assert(w1(1L) == replay(diamond, 1L, 10, 5L))
    assert(w3(1L) == replay(diamond, 1L, 10, 6L))
  }

  test("length 0 emits just the start; duplicate starts collapse") {
    val out = RandomWalks.walks(edges(diamond: _*),
      starts(1L, 1L, 2L), length = 0, seed = 1L)
      .as[(Long, Seq[Long])].collect().toMap
    assert(out == Map(1L -> Seq(1L), 2L -> Seq(2L)))
  }

  // ---- skipGramPairs ----

  private def walkDf(paths: Seq[Long]*) =
    paths.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("walk_id", "path")
  private def pairCounts(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long)].collect().map(t => ((t._1, t._2), t._3)).toMap

  test("skip-gram window 1 on a single path") {
    val out = pairCounts(RandomWalks.skipGramPairs(walkDf(Seq(1L, 2L, 3L)), 1))
    assert(out == Map((1L, 2L) -> 1L, (2L, 1L) -> 1L, (2L, 3L) -> 1L, (3L, 2L) -> 1L))
  }

  test("skip-gram revisits pair a node with itself (word2vec semantics)") {
    // path 1,2,1: within window 2 every position sees both others
    val out = pairCounts(RandomWalks.skipGramPairs(walkDf(Seq(1L, 2L, 1L)), 2))
    assert(out == Map((1L, 1L) -> 2L, (1L, 2L) -> 2L, (2L, 1L) -> 2L))
  }

  test("skip-gram matches a naive per-walk driver expansion; symmetric") {
    val paths = Seq(Seq(1L, 2L, 3L, 4L, 2L), Seq(9L, 3L, 9L), Seq(7L))
    val w = 2
    val expected = paths.flatMap { p =>
      for {
        i <- p.indices; j <- p.indices
        if i != j && math.abs(i - j) <= w
      } yield (p(i), p(j))
    }.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val out = pairCounts(RandomWalks.skipGramPairs(walkDf(paths: _*), w))
    assert(out == expected)
    out.foreach { case ((a, b), n) => assert(out((b, a)) == n) }
  }

  test("skip-gram counts aggregate across walks; layout invariant") {
    val df = walkDf(Seq(1L, 2L), Seq(1L, 2L), Seq(2L, 1L))
    val out = pairCounts(RandomWalks.skipGramPairs(df, 3))
    assert(out == Map((1L, 2L) -> 3L, (2L, 1L) -> 3L))
    assert(pairCounts(RandomWalks.skipGramPairs(df.repartition(5), 3)) == out)
  }

  test("skip-gram over engine walks equals expansion of the walk output") {
    val walksOut = RandomWalks.walks(edges(diamond: _*), starts(1L, 2L, 3L, 4L),
      length = 6, seed = 13L)
    val paths = walksOut.as[(Long, Seq[Long])].collect().map(_._2).toSeq
    val expected = paths.flatMap { p =>
      for (i <- p.indices; j <- p.indices if i != j && math.abs(i - j) <= 2)
        yield (p(i), p(j))
    }.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    assert(pairCounts(RandomWalks.skipGramPairs(walksOut, 2)) == expected)
  }

  test("gate-forced parity: local walk replay == per-step joins (uniform + biased)") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L),
      (1L, 3L), (5L, 1L), (6L, 6L)).toDF("src", "dst")
    // a null start has no walk on either path
    val st = Seq(Some(1L), Some(3L), Some(5L), Some(9L), None).toDF("id")
    def uni(df: org.apache.spark.sql.DataFrame) =
      graft.graph.RandomWalks.walks(df, st, length = 6, seed = 7L)
        .as[(Option[Long], Seq[Option[Long]])].collect().toMap
    def bia(df: org.apache.spark.sql.DataFrame) =
      graft.graph.RandomWalks.walksBiased(df, st, length = 6,
        p = 4.0, q = 0.25, seed = 7L)
        .as[(Option[Long], Seq[Option[Long]])].collect().toMap
    val (lu, lbm) = (uni(e), bia(e))
    val (du, dbm) = withLocalBudget(0)((uni(e), bia(e)))
    assert(lu == du)
    assert(lbm == dbm)
    assert(lu.keySet == Set(1L, 3L, 5L, 9L).map(Option(_)))
  }

  test("the local gate counts the walks' path entries, not only the adjacency") {
    import spark.implicits._
    // 8 neighbour entries; 4 walks of length 6 hold 4·7 = 28 path entries
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L),
      (1L, 3L), (5L, 1L)).toDF("src", "dst")
    val st = Seq(1L, 3L, 5L, 9L).toDF("id")
    def local(budget: Long) = withLocalBudget(budget) {
      RandomWalks.walks(e, st, length = 6, seed = 7L).queryExecution.optimizedPlan
        .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        .isDefined
    }
    assert(local(36))
    assert(!local(20))
  }
}
