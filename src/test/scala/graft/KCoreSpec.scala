package graft

import graft.graph.KCore

class KCoreSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (Long, Long)*) = rows.toDF("src", "dst")
  private def cores(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Int)].collect().toMap

  /** Independent oracle: Batagelj–Žaveršnik peeling — repeatedly remove a
    * minimum-degree node (ties to smallest id); a node's coreness is the
    * running max of the degree it had at removal. A genuinely different
    * algorithm (sequential, order-dependent route, same fixpoint) from
    * the engine's synchronous h-index iteration. */
  private def peel(und: Set[(Long, Long)]): Map[Long, Int] = {
    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
    und.foreach { case (x, y) =>
      if (x != y) {
        adj.getOrElseUpdate(x, scala.collection.mutable.Set()) += y
        adj.getOrElseUpdate(y, scala.collection.mutable.Set()) += x
      }
    }
    val core = scala.collection.mutable.Map[Long, Int]()
    var k = 0
    while (adj.nonEmpty) {
      val v = adj.keys.minBy(n => (adj(n).size, n))
      k = math.max(k, adj(v).size)
      core(v) = k
      adj(v).foreach { u => adj(u) -= v }
      adj -= v
    }
    core.toMap
  }

  test("triangle with a pendant: core 2 inside, core 1 outside") {
    val out = cores(KCore.coreness(edges((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))))
    assert(out == Map(1L -> 2, 2L -> 2, 3L -> 2, 4L -> 1))
  }

  test("K4 is a 3-core; a chain is all 1s") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(cores(KCore.coreness(k4)).values.toSet == Set(3))
    val chain = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(cores(KCore.coreness(chain)).values.toSet == Set(1))
  }

  test("coreness is NOT degree: a star hub has coreness 1") {
    val star = edges((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L), (9L, 5L))
    val out = cores(KCore.coreness(star))
    assert(out(9L) == 1 && out.values.toSet == Set(1))
  }

  test("matches independent peeling on a deterministic pseudo-random graph") {
    val und = (for {
      i <- 0 until 70; j <- 0 until 70
      if i < j && ((i * 2654435761L + j * 40503L) % 97) < 13
    } yield (i.toLong, j.toLong)).toSet
    val expected = peel(und)
    assert(cores(KCore.coreness(edges(und.toSeq: _*))) == expected)
  }

  test("local peel fast path == distributed h-index loop (gate forced)") {
    // r6: coreness takes a driver-local Batagelj–Žaveršnik peel below
    // the driver-local budget; force the h-index rounds with
    // budget 0 and assert identical coreness (also exercises the r6
    // broadcast-hinted round joins).
    val und = (for {
      i <- 0 until 60; j <- 0 until 60
      if i < j && ((i * 40503L + j * 2654435761L) % 83) < 11
    } yield (i.toLong, j.toLong))
    val e = edges(und: _*)
    val local = cores(KCore.coreness(e))
    val dist = withLocalBudget(0)(cores(KCore.coreness(e)))
    assert(local == dist)
  }

  test("duplicate/reversed edges and self-loops do not change coreness") {
    val base = edges((1L, 2L), (2L, 3L), (3L, 1L))
    val noisy = edges((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (3L, 1L))
    assert(cores(KCore.coreness(base)) == cores(KCore.coreness(noisy)))
  }

  test("partition-layout invariance; empty graph") {
    val und = (for {
      i <- 0 until 40; j <- 0 until 40
      if i < j && ((i * 48271L + j * 2246822519L) % 89) < 9
    } yield (i.toLong, j.toLong))
    val e = edges(und: _*)
    assert(cores(KCore.coreness(e.repartition(7))) ==
      cores(KCore.coreness(e.coalesce(1))))
    assert(KCore.coreness(edges()).count() == 0)
  }
}
