package graft

import graft.graph.PageRank
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (Long, Long)*) = rows.toDF("src", "dst")

  test("two-node cycle sits exactly at the fixpoint Scale/2") {
    // init = 5e11 each; one round: base 7.5e10 + (85 * 5e11) div 100
    // = 7.5e10 + 4.25e11 = 5e11 — the fixed point, bit-exact every round
    val out = PageRank.run(edges((1L, 2L), (2L, 1L)), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("star with a dangling sink: hand-computed exact ranks after one iteration") {
    // A→C, B→C; C dangling. N=3, init=333333333333, base=49999999999.
    // contribs: C gets 2·init; dangling share = init div 3 = 111111111111.
    // A=B: 49999999999 + (85·111111111111) div 100          = 144444444443
    // C:   49999999999 + (85·(666666666666+111111111111)) div 100
    //                                                        = 711111111109
    val out = PageRank.run(edges((1L, 3L), (2L, 3L)), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 144444444443L, 2L -> 144444444443L, 3L -> 711111111109L))
    // total mass lost to truncation: 5 units of 1e-12 — within the
    // documented iters·(N+E+2) bound
    assert(PageRank.Scale - out.values.sum == 5L)
  }

  test("more in-links rank higher; ranks are bit-identical across partition layouts") {
    // seeded pseudo-random digraph, hub node 0 receives extra in-edges
    val rng = new scala.util.Random(17)
    val es = (Seq.tabulate(40)(i => ((i % 20).toLong + 1L, 0L)) ++
      Seq.fill(120)((rng.nextInt(21).toLong, rng.nextInt(21).toLong)))
      .filter { case (a, b) => a != b }.distinct
    val df = es.toDF("src", "dst")
    val r1 = PageRank.run(df, iters = 10).as[(Long, Long)].collect().toMap
    val r2 = PageRank.run(df.repartition(7), iters = 10)
      .as[(Long, Long)].collect().toMap
    assert(r1 == r2, "fixed-point ranks must not depend on the layout")
    assert(es.map(_._2).distinct.forall(r1.contains))
    // the hub out-ranks every spoke
    val spokes = (1L to 20L).map(r1)
    assert(spokes.forall(_ < r1(0L)), s"hub=${r1(0L)} spokes=$spokes")
  }

  test("q56 oracle contract: distributed ranks == independent sequential replay (fixture current)") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val e = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .where(col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    val live = PageRank.run(e, iters = 5)
      .select(col("id").as("part_id"), col("rank_fp"))
    val fix = spark.read.parquet("src/test/resources/expected/q56_expected_pagerank.parquet")
    assert(live.exceptAll(fix).count() == 0, "live q56 rows missing from fixture")
    assert(fix.exceptAll(live).count() == 0, "fixture q56 rows missing from live output")
  }

  test("empty graph and zero iterations") {
    val none = PageRank.run(edges(), iters = 5).collect()
    assert(none.isEmpty)
    // iters=0 returns the uniform prior
    val flat = PageRank.run(edges((1L, 2L)), iters = 0).as[(Long, Long)].collect().toMap
    assert(flat == Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("gate-forced parity: local replay == shuffle iterations") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L),
      (5L, 5L), (6L, 2L)).toDF("src", "dst")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.PageRank.run(df, iters = 5)
        .as[(Long, Long)].collect().toSet
    val local = go(e)
    val dist = withLocalBudget(0)(go(e))
    assert(local == dist)
  }
}
