package graft

import graft.graph.Communities
import org.apache.spark.sql.functions._

class CommunitiesSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (Long, Long)*) = rows.toDF("src", "dst")
  private def labelMap(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long)].collect().toMap

  /** Independent sequential replay of the deterministic synchronous LPA:
    * plain driver maps, no engine plumbing. */
  private def replay(und: Set[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (und.map(e => (e._1, e._2)) ++ und.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
    var labels = adj.keys.map(k => (k, k)).toMap
    for (_ <- 0 until iters) {
      labels = adj.map { case (v, nbrs) =>
        val counts = nbrs.toSeq.map(labels).groupBy(identity)
          .map { case (l, occ) => (l, occ.size) }
        // most frequent, ties to the smallest label
        (v, counts.toSeq.maxBy { case (l, n) => (n.toLong, -l) }._1)
      }
    }
    labels
  }

  test("a triangle converges to one community (the minimum id)") {
    val out = labelMap(Communities.labelPropagation(
      edges((1L, 2L), (2L, 3L), (3L, 1L)), iters = 5))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("two cliques with one bridge edge stay two communities") {
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = Seq((11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L),
      (12L, 14L), (13L, 14L))
    val out = labelMap(Communities.labelPropagation(
      edges(k4a ++ k4b :+ ((4L, 11L)): _*), iters = 5))
    val ca = Set(1L, 2L, 3L, 4L).map(out)
    val cb = Set(11L, 12L, 13L, 14L).map(out)
    assert(ca.size == 1 && cb.size == 1 && ca != cb)
  }

  test("matches the sequential replay on a deterministic pseudo-random graph") {
    // edge iff a hash condition holds — deterministic (TrianglesSpec style)
    val und = (for {
      i <- 0 until 60; j <- 0 until 60
      if i < j && ((i * 2654435761L + j * 40503L) % 101) < 7
    } yield (i.toLong, j.toLong)).toSet
    val expected = replay(und, 4)
    val got = labelMap(Communities.labelPropagation(
      edges(und.toSeq: _*), iters = 4))
    assert(got == expected)
  }

  test("duplicate/reversed edges and self-loops do not distort the votes") {
    val base = edges((1L, 2L), (2L, 3L), (3L, 1L))
    val noisy = edges((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (2L, 2L), (1L, 2L))
    assert(labelMap(Communities.labelPropagation(base, 3)) ==
      labelMap(Communities.labelPropagation(noisy, 3)))
  }

  test("iters = 0 returns self-labels; empty graph returns empty") {
    val out = labelMap(Communities.labelPropagation(edges((5L, 9L)), iters = 0))
    assert(out == Map(5L -> 5L, 9L -> 9L))
    assert(Communities.labelPropagation(edges(), iters = 3).count() == 0)
  }

  test("partition-layout invariance") {
    val und = (for {
      i <- 0 until 40; j <- 0 until 40
      if i != j && ((i * 48271L + j * 2246822519L) % 89) < 6
    } yield (i.toLong, j.toLong))
    val e = edges(und: _*)
    assert(labelMap(Communities.labelPropagation(e.coalesce(1), 4)) ==
      labelMap(Communities.labelPropagation(e.repartition(7), 4)))
  }

  test("gate-forced parity: local LPA replay == synchronous rounds") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L), (7L, 1L), (7L, 2L), (7L, 5L)).toDF("src", "dst")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.Communities.labelPropagation(df, iters = 4)
        .as[(Long, Long)].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
  }
}
