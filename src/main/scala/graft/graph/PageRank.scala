package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank with FIXED-POINT integer arithmetic — the KG
  * analytics pass a graph consumer runs after construction (entity
  * importance for ranking, canonical-candidate ordering, crawl/sample
  * prioritization over the doc–entity graph).
  *
  * Why fixed point: floating-point PageRank is NOT reproducible on a
  * cluster — the per-destination Σ of double contributions folds in
  * partition order, so the same graph on a different layout (or executor
  * count) yields different low bits, which flips near-tie rankings and
  * makes the result un-hash-oracle-able. Representing rank mass in 1e-12
  * units as a LONG makes every aggregation an exact integer sum —
  * associative, commutative, layout-independent — so the output is
  * BIT-IDENTICAL across runs, partition layouts and cluster sizes (the
  * same determinism contract as ivfCentroidsDeterministic / the CC
  * labels; asserted by layout-shuffled equality in PageRankSpec).
  *
  * Semantics (the standard damped model, truncating integer division):
  *   rank⁰(v)   = SCALE div N
  *   contrib(e) = rank(src(e)) div outdeg(src(e))
  *   dangling   = Σ rank(v) over v with outdeg(v)=0, shared div N
  *   rankᵗ⁺¹(v) = ((den-num)·(SCALE div N)) div den
  *                + (num·(Σ_{e→v} contrib(e) + dangling div N)) div den
  * with damping num/den = 85/100. Truncation loses ≤1 unit (10⁻¹²) per
  * division — deterministic, and bounded by iters·(N+E) units of total
  * mass; SCALE=1e12 keeps num·rank ≤ 8.5e13 ≪ Long.MaxValue.
  *
  * Scale shape: one job per iteration. The edge list is re-joined to the
  * current ranks on src (shuffle on node id — co-partitioned with the
  * previous round's aggregation, so AQE reuses the exchange layout), the
  * per-destination Σ is a long groupBy, the dangling scalar stays IN-PLAN
  * as a broadcast 1-row cross join (no per-round driver collect), and the
  * round result is materialized (config-gated graft.Materialize) to cut
  * the lineage — the CC discipline (canon/ConnectedComponents). Node and
  * outdegree tables are computed once and reused every round.
  *
  * Beyond-reference operator (the mandate's "operations a large-scale
  * pipeline would need"): the engine's entity registry ranks canonical
  * candidates by mention count (run/Pipeline); PageRank is the
  * graph-structural generalization a KG consumer reaches for next.
  */
object PageRank {
  val Scale = 1000000000000L // 1e-12 rank units

  /** edges: (srcCol, dstCol) castable to long; parallel edges are counted
    * once per occurrence (pre-`distinct` upstream for simple-graph
    * semantics). Returns (id: long, rank_fp: long) over every node that
    * appears as a source or destination. */
  def run(edges: DataFrame, iters: Int = 10,
      dampingNum: Long = 85L, dampingDen: Long = 100L,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, "pagerank: iters must be >= 0")
    val e = graft.Materialize(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull))
    val nodes = graft.Materialize(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    val outdeg = graft.Materialize(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg")))
    val n = nodes.count()
    if (n == 0) return nodes.select(col("id"), lit(0L).as("rank_fp"))
    // r6: size-gated driver-local replay (the k-core local-peel pattern):
    // every step is exact truncating long arithmetic — init, per-edge
    // contrib, dangling share, damped recombine — so a local loop is
    // bit-identical to the per-iteration shuffle jobs (PageRankSpec
    // gate-forces both paths). Beyond the gate the loop is unchanged.
    if (graft.Local.fits(edges.sparkSession, "pagerank", e.count())) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = e.as[(Long, Long)].collect()
      val g = graft.Local.dense(es.map(_._1), es.map(_._2))
      val (ids, nn, srcI, dstI) = (g.ids, g.n, g.src, g.dst)
      val deg = new Array[Long](nn)
      srcI.foreach(i => deg(i) += 1L)
      val init = Scale / n
      val base = ((dampingDen - dampingNum) * init) / dampingDen
      var rank = Array.fill(nn)(init)
      for (_ <- 0 until iters) {
        var dangling = 0L
        var v = 0
        while (v < nn) { if (deg(v) == 0L) dangling += rank(v); v += 1 }
        val inSum = new Array[Long](nn)
        var i = 0
        while (i < es.length) {
          inSum(dstI(i)) += rank(srcI(i)) / deg(srcI(i)); i += 1
        }
        val share = dangling / n
        val next = new Array[Long](nn)
        v = 0
        while (v < nn) {
          next(v) = base + (dampingNum * (inSum(v) + share)) / dampingDen
          v += 1
        }
        rank = next
      }
      return ids.indices.map(i => (ids(i), rank(i))).toDF("id", "rank_fp")
    }
    // n is known here: when the node-state table is gate-small, broadcast
    // it into the per-round edge join so the edge table is never shuffled
    // (guide §3.1 / §2.4 — the hint changes strategy, never results); at
    // production node counts the gate fails and the shuffle join remains.
    def st(df: DataFrame): DataFrame = graft.Hints.bcastIf(df, n)

    val init = Scale / n
    val base = ((dampingDen - dampingNum) * init) / dampingDen
    // out_deg rides INSIDE the rank table (null = dangling), so each round
    // pays exactly one node-scale join (ranks ⋈ in-sums) and one
    // edge-scale join — not a separate ranks ⋈ outdeg round trip
    var ranks = graft.Materialize(nodes
      .join(outdeg, Seq("id"), "left")
      .select(col("id"), col("out_deg"), lit(init).as("rank_fp")))

    for (_ <- 0 until iters) {
      // dangling mass stays in-plan: a 1-row aggregate broadcast-crossed
      // onto the per-node sums — no driver round trip per iteration
      val dangling = ranks.where(col("out_deg").isNull)
        .agg(coalesce(sum("rank_fp"), lit(0L)).as("dangling_fp"))
      val active = st(ranks.where(col("out_deg").isNotNull))
      val contribs = active
        .join(e, active("id") === e("src"))
        .select(col("dst").as("id"),
          expr("rank_fp div out_deg").as("contrib"))
        .groupBy("id").agg(sum("contrib").as("in_sum"))
      ranks = graft.Materialize(ranks
        .select(col("id"), col("out_deg"))
        .join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"), col("out_deg"),
          (lit(base) + expr(
            s"($dampingNum * (coalesce(in_sum, 0L) + dangling_fp div $n)) div $dampingDen"
          )).as("rank_fp")))
    }
    ranks.select("id", "rank_fp")
  }
}
