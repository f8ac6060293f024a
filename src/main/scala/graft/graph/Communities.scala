package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (LPA) — the
  * modularity-structure pass of the post-construction analytics family
  * (PageRank = importance, Triangles = local density, LPA = mesoscale
  * grouping: vendor ecosystems, topic clusters, mirror farms in the
  * doc–entity graph).
  *
  * Classic LPA is nondeterministic twice over (random visit order, random
  * tie-breaks) — useless under this engine's bit-stability contract. This
  * is the DETERMINISTIC synchronous variant:
  *   label⁰(v)   = v's own id
  *   labelᵗ⁺¹(v) = the label that appears most often among v's neighbors'
  *                 round-t labels, ties broken by SMALLEST label
  * for a fixed number of rounds. Every step is a pure function of the
  * graph, so the output is identical across runs, partition layouts and
  * cluster sizes (asserted in CommunitiesSpec). Synchronous updates can
  * two-cycle on bipartite-ish structures — the standard price of the
  * deterministic variant — which bounded rounds absorb: communities are a
  * heuristic grouping, and `iters` caps work like PageRank's.
  *
  * Scale shape, per round: ONE edge-scale equi join (labels onto edge
  * sources), one (node, label)-keyed count, one node-keyed max_by — all
  * shuffle on node id so AQE reuses the exchange layout round to round;
  * the round result is materialized to cut lineage (the CC/PageRank
  * discipline). A mega-hub node costs its degree in count rows, never a
  * driver loop; no collect anywhere.
  */
object Communities {

  /** edges: undirected edge list (either or both directions per edge;
    * duplicates and self-loops dropped), ids castable to long. Returns
    * (id: long, community: long) for every node incident to an edge;
    * `community` is the converged (or round-`iters`) label — a node id,
    * NOT guaranteed to be a member's minimum like CC labels. */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, "labelPropagation: iters must be >= 0")
    val a = col(srcCol).cast("long")
    val b = col(dstCol).cast("long")
    val und = edges
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val undM = graft.Materialize(und)
    // r6: size-gated driver-local replay (the k-core local-peel pattern):
    // each round is a pure function of the previous labels — mode of
    // neighbor labels, ties to SMALLEST — so a local loop is identical to
    // the synchronous shuffle rounds (CommunitiesSpec gate-forces both).
    // Gate and collect on the a<b HALF (the corenessLocal discipline) —
    // the doubled table, its checkpoint and the node-set distinct only
    // exist on the beyond-gate path.
    val mHalf = undM.count()
    if (graft.Local.fits(edges.sparkSession, "lpa", 2 * mHalf)) {
      val spark = edges.sparkSession
      import spark.implicits._
      val half = undM.as[(Long, Long)].collect()
      val g = graft.Local.dense(half.map(_._1), half.map(_._2))
      val adj = graft.Local.undirected(g)
      val (ids, nn) = (g.ids, g.n)
      var lab = ids.clone()
      for (_ <- 0 until iters) {
        val next = new Array[Long](nn)
        var v = 0
        while (v < nn) {
          // run-scan == the sorted fold
          val votes = adj.nbr.slice(adj.off(v), adj.off(v + 1)).map(lab).sorted
          var best = votes(0); var bn = 0L; var cur = votes(0); var cn = 0L
          var i = 0
          while (i < votes.length) {
            if (votes(i) == cur) cn += 1L
            else {
              if (cn > bn) { best = cur; bn = cn }
              cur = votes(i); cn = 1L
            }
            i += 1
          }
          if (cn > bn) best = cur
          next(v) = best
          v += 1
        }
        lab = next
      }
      return ids.indices.map(i => (ids(i), lab(i))).toDF("id", "community")
    }
    // both directions: each undirected edge feeds both endpoints' votes
    val e = graft.Materialize(
      undM.select(col("a").as("src"), col("b").as("dst"))
        .union(undM.select(col("b").as("src"), col("a").as("dst"))))
    var labels = graft.Materialize(
      e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("community")))
    // loop-invariant node count gates the per-round broadcast of the
    // label state into the edge join (guide §3.1): the edge table is then
    // never shuffled inside the loop. At production node counts the gate
    // fails and the shuffle-join round is unchanged.
    val nNodes = labels.count()
    // r6: one exchange per round instead of two — the neighbor labels
    // collect per destination in a single aggregation and the mode (most
    // frequent, ties to SMALLEST label — exactly the old
    // max_by(community, (n, −community))) folds over the sorted array in
    // one pass: runs of equal labels are adjacent after sort_array, and
    // a later run only wins with a STRICTLY greater count, so the first
    // (smallest) label of the best count is kept.
    val mode = expr(
      """aggregate(
        |  cs,
        |  struct(cast(null as bigint) as best, 0L as bn,
        |         cast(null as bigint) as cur, 0L as cn),
        |  (a, x) -> IF(a.cur IS NOT NULL AND x = a.cur,
        |               struct(a.best as best, a.bn as bn,
        |                      a.cur as cur, a.cn + 1L as cn),
        |               IF(a.cn > a.bn,
        |                  struct(a.cur as best, a.cn as bn,
        |                         x as cur, 1L as cn),
        |                  struct(a.best as best, a.bn as bn,
        |                         x as cur, 1L as cn))),
        |  a -> IF(a.cn > a.bn, a.cur, a.best))""".stripMargin)
    for (_ <- 0 until iters) {
      val lb = graft.Hints.bcastIf(labels, nNodes)
      labels = graft.Materialize(lb
        .join(e, lb("id") === e("src"))
        .groupBy(col("dst").as("id"))
        .agg(sort_array(collect_list(col("community"))).as("cs"))
        .select(col("id"), mode.as("community")))
    }
    labels
  }
}
