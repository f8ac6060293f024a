package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Betweenness centrality by Brandes' dependency accumulation (Brandes,
  * J. Math. Sociol. 2001) from a SOURCE SAMPLE — the standard unbiased
  * estimator (Brandes & Pich 2007): exact betweenness needs all-sources
  * ($O(VE)$), a hashed source sample scales it to 10^12 nodes with the
  * same plan. On the KG this ranks broker entities — the vendors/accounts
  * every cross-cluster path funnels through, fraud analytics' favorite.
  *
  * Determinism (the family contract): shortest-path COUNTS σ are exact
  * long sums; dependency accumulation runs in fixed-point integer — each
  * edge term is floor(σ_u · (SCALE + δ_v) / σ_v), then exact long sums —
  * so scores are bit-identical across runs/layouts/cluster sizes and a
  * sequential replay is term-for-term possible. (True Brandes sums
  * rationals; the truncation error is ≤ #terms ulps at SCALE=10^6 —
  * irrelevant for ranking, essential for auditability.)
  *
  * Shape: one multi-source forward BFS with σ-accumulation (all sources
  * advance in the same joins — the [[Distances]] discipline; per level the
  * contribution aggregate runs BEFORE the settled anti join so σ sums
  * arrive complete), one shortest-path-DAG materialization (edges ⋈
  * settled² on dist_v = dist_u + 1), then descending-level backward rounds
  * (per level: one DAG-scale join + one keyed long-sum aggregate). Rounds
  * = 2 × eccentricity. Overflow bound: σ_max · (SCALE + δ_max) must fit a
  * long — lower `scale` for graphs with astronomically many shortest
  * paths.
  */
object Betweenness {

  /** Fixed-point betweenness contributions from `sources`: returns
    * (id, bc_fp, n_sources) for every non-source-role node with a nonzero
    * score, where bc_fp = Σ_s δ_s(id) in SCALE units (δ excludes s itself,
    * per Brandes). `n_sources` counts sources whose DAG reaches the node
    * with a nonzero dependency. */
  def fromSources(edges: DataFrame, sources: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      sourceCol: String = "id", scale: Long = 1000000L,
      maxDepth: Int = Int.MaxValue): DataFrame = {
    require(scale >= 1L, "fromSources: scale must be >= 1")
    val e = graft.Materialize(edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct())
    def barrier(df: DataFrame): DataFrame =
      df.where(col("s").isNotNull && col("id").isNotNull)
    // r6: size-gated driver-local Brandes replay (the k-core local-peel
    // pattern): σ counts are exact long sums and each dependency term is
    // the same truncating integer expression, both order-independent, so
    // the local per-source BFS + descending-level accumulation is
    // bit-identical to the join rounds (BetweennessSpec gate-forces
    // both). The settled (source, node) state can outgrow the driver
    // under the edge gate, so the local run aborts to the distributed
    // loop past the pair budget — the bounded-probe discipline.
    // A settled (source, node) pair weighs 2 budget entries, its two ids
    // (this keeps the 4M-pair switch point).
    val sess = edges.sparkSession
    val budget = graft.Local.maxEntries(sess)
    if (graft.Local.fits(sess, "betweenness", e.count())) {
      import sess.implicits._
      val es = e.as[(String, String)].collect()
      val g = graft.Local.denseOf(es.map(_._1), es.map(_._2))
      val adj = graft.Local.directed(g)
      val bfs = new graft.Local.Bfs(adj)
      val (order, dist) = (bfs.order, bfs.dist)
      val srcs = sources.select(col(sourceCol).cast("string").as("s"))
        .where(col("s").isNotNull).distinct().as[String].collect()
      val sigma = new Array[Long](g.n)
      val delta = new Array[Long](g.n)
      val bcFp = new Array[Long](g.n)
      val bcN = new Array[Long](g.n)
      var totalPairs = 0L
      var si = 0
      while (si < srcs.length && 2L * totalPairs <= budget) {
        val s = g.id(srcs(si))
        if (s < 0) totalPairs += 1 // a source on no edge settles only itself
        else {
          bfs.run(s, maxDepth)
          totalPairs += bfs.size
          if (2L * totalPairs <= budget) {
            // forward: visit order is level order, so σ_u is final before
            // u passes it on to its next-level successors
            var i = 0
            while (i < bfs.size) { sigma(order(i)) = 0L; i += 1 }
            sigma(s) = 1L
            i = 0
            while (i < bfs.size) {
              val u = order(i)
              var k = adj.off(u)
              while (k < adj.off(u + 1)) {
                val v = adj.nbr(k)
                if (dist(v) == dist(u) + 1) sigma(v) += sigma(u)
                k += 1
              }
              i += 1
            }
            // backward: reverse visit order, δ_v final before its
            // predecessors; only δ > 0 counts (the distributed filter)
            i = bfs.size - 1
            while (i >= 0) {
              val u = order(i)
              var sum = 0L
              var k = adj.off(u)
              while (k < adj.off(u + 1)) {
                val v = adj.nbr(k)
                if (dist(v) == dist(u) + 1) sum += (sigma(u) * (scale + delta(v))) / sigma(v)
                k += 1
              }
              delta(u) = sum
              if (sum > 0L && u != s) { bcFp(u) += sum; bcN(u) += 1L }
              i -= 1
            }
          }
        }
        si += 1
      }
      if (graft.Local.fits(sess, "betweenness.pairs", 2L * totalPairs)) {
        return (0 until g.n).filter(bcN(_) > 0L)
          .map(u => (g.ids(u), bcFp(u), bcN(u))).toDF("id", "bc_fp", "n_sources")
      } // else fall through to the distributed loop
    }
    // ---- forward: (s, id, dist, sigma) ----
    var settled = graft.Materialize(sources
      .select(col(sourceCol).cast("string").as("s"))
      .where(col("s").isNotNull).distinct()
      .select(col("s"), col("s").as("id"), lit(0).as("dist"), lit(1L).as("sigma")))
    var frontier = settled
    var depth = 0
    var done = depth >= maxDepth
    while (!done) {
      depth += 1
      // σ contributions COMBINE before the anti join — a node first seen
      // at this level must receive the sum over ALL its level-(d-1)
      // predecessors, not one of them
      val next = barrier(graft.Materialize(
        frontier.join(e, frontier("id") === e("src"))
          .groupBy(col("s"), col("dst").as("id"))
          .agg(sum("sigma").as("sigma"))
          .join(settled.select("s", "id"), Seq("s", "id"), "left_anti")
          .select(col("s"), col("id"), lit(depth).as("dist"), col("sigma")),
        eager = false))
      val n = next.count()
      if (n == 0 || depth >= maxDepth) done = true
      if (n != 0) {
        settled = graft.Materialize(settled.union(next), eager = false)
        frontier = next
      }
    }
    // ---- shortest-path DAG: (s, u, v, sigma_u, sigma_v, dist_u) ----
    val su = settled.select(col("s"), col("id").as("u"),
      col("dist").as("dist_u"), col("sigma").as("sigma_u"))
    val sv = settled.select(col("s").as("s2"), col("id").as("v"),
      col("dist").as("dist_v"), col("sigma").as("sigma_v"))
    val dag = graft.Materialize(
      su.join(e, su("u") === e("src"))
        .join(sv, col("s") === col("s2") && col("dst") === col("v") &&
          col("dist_v") === col("dist_u") + 1)
        .select(col("s"), col("u"), col("v"), col("sigma_u"), col("sigma_v"),
          col("dist_u")))
    // ---- backward: descending levels; delta rows exist only where > 0 ----
    val spark = edges.sparkSession
    import spark.implicits._
    var delta = graft.Materialize(
      Seq.empty[(String, String, Long)].toDF("s", "id", "delta"))
    var level = depth - 1
    while (level >= 0) {
      val dl = delta.select(col("s"), col("id").as("v"), col("delta"))
      val contrib = dag.where(col("dist_u") === level)
        .join(dl, Seq("s", "v"), "left")
        .groupBy(col("s"), col("u").as("id"))
        .agg(sum(
          // floor(sigma_u * (SCALE + delta_v) / sigma_v), exact long ops
          expr(s"(sigma_u * (${scale}L + coalesce(delta, 0L))) div sigma_v"))
          .as("delta"))
        .where(col("delta") > 0)
      delta = graft.Materialize(delta.union(
        contrib.select(col("s"), col("id"), col("delta"))), eager = false)
      level -= 1
    }
    delta.where(col("id") =!= col("s"))
      .groupBy("id")
      .agg(sum("delta").as("bc_fp"), count(lit(1)).as("n_sources"))
  }
}
