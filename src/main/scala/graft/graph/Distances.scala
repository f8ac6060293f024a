package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS shortest-path distances — the "how far is every
  * entity from each landmark" pass a KG consumer runs for neighborhood
  * scoping (k-hop subgraph extraction), landmark-based distance sketches,
  * and taxonomy-depth features. Unweighted directed edges; distance = hop
  * count of the shortest path.
  *
  * Evaluation is level-synchronous BFS in SEMI-NAIVE form, the same
  * discipline as `GraphQuery.reachable`: the round-d frontier is the set
  * of (node, landmark) pairs first reached at distance d; each round joins
  * ONLY the frontier against the edge table and anti-joins everything
  * already settled, so per-round work is |frontier ⋈ E| and rounds = the
  * graph's eccentricity bound (or `maxDepth`). Because BFS settles a pair
  * the first time it is seen, the anti join IS the min() — no re-relax,
  * no priority queue. All landmarks advance in the SAME join (multi-source:
  * the frontier carries the landmark as a second key column), so k
  * landmarks cost one BFS, not k.
  *
  * Job discipline: one lazily-materialized job per level — the count()
  * that drives the loop also computes and stores the frontier checkpoint.
  * Each checkpoint gets a Filter constraint barrier (see
  * GraphQuery.reachable) before entering the settled-set union.
  */
object Distances {

  /** edges: directed (srcCol, dstCol); landmarks: one per row of
    * `landmarkCol`. Returns (id, landmark, dist) — every node reachable
    * from each landmark, including (L, L, 0). Node ids compare as strings
    * (the triple-store subject model). */
  def fromLandmarks(edges: DataFrame, landmarks: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      landmarkCol: String = "id", maxDepth: Int = Int.MaxValue): DataFrame = {
    require(maxDepth >= 0, "fromLandmarks: maxDepth must be >= 0")
    val e = graft.Materialize(edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // constraint barrier after every lazy checkpoint: see
    // GraphQuery.reachable — a no-op Filter that survives optimization and
    // re-filters captured constraints against the node's own output set.
    def barrier(df: DataFrame): DataFrame =
      df.where(col("id").isNotNull && col("landmark").isNotNull)
    var settled = graft.Materialize(landmarks
      .select(col(landmarkCol).cast("string").as("id"))
      .where(col("id").isNotNull).distinct()
      .select(col("id"), col("id").as("landmark"), lit(0).as("dist")))
    var frontier = settled
    // r6: the loop counts the frontier each round anyway and the settled
    // size is the running sum, so gate-hint the frontier side of the edge
    // join and the settled side of the anti join (guide §3.1) — within
    // the gate a BFS level is one distinct shuffle; beyond it the SMJ
    // level is unchanged.
    val nE = e.count()
    // r6: size-gated driver-local BFS (the k-core local-peel pattern —
    // BFS min-dist is a unique fixpoint, so any evaluation order yields
    // the same (id, landmark, dist) set; the level-synchronous loop below
    // stays the at-scale shape). The settled PAIR set can exceed driver
    // memory even under the edge gate (many landmarks × dense
    // reachability), so the local run aborts back to the distributed
    // loop the moment it crosses the pair budget — a bounded probe, the
    // StableMatch/EntityLinker discipline.
    // A settled pair weighs 2 budget entries, its two ids (this keeps the
    // 4M-pair switch point).
    val sess = edges.sparkSession
    val budget = graft.Local.maxEntries(sess)
    if (graft.Local.fits(sess, "distances", nE)) {
      import sess.implicits._
      val es = e.as[(String, String)].collect()
      val g = graft.Local.denseOf(es.map(_._1), es.map(_._2))
      val bfs = new graft.Local.Bfs(graft.Local.directed(g))
      val lms = settled.select("landmark").as[String].collect()
      val out = new scala.collection.mutable.ArrayBuffer[(String, String, Int)]
      var li = 0
      while (li < lms.length && 2L * out.length <= budget) {
        val lm = lms(li)
        val s = g.id(lm)
        if (s < 0) out += ((lm, lm, 0)) // a landmark on no edge reaches itself
        else {
          bfs.run(s, maxDepth)
          var i = 0
          while (i < bfs.size) {
            val v = bfs.order(i)
            out += ((g.ids(v), lm, bfs.dist(v)))
            i += 1
          }
        }
        li += 1
      }
      if (graft.Local.fits(sess, "distances.pairs", 2L * out.length))
        return out.toSeq.toDF("id", "landmark", "dist")
      // else fall through to the distributed loop (budget exceeded)
    }
    var nFrontier = settled.count()
    var nSettled = nFrontier
    var depth = 0
    var done = maxDepth == 0
    while (!done) {
      depth += 1
      val fr = graft.Hints.bcastIf(frontier, nFrontier)
      val next = barrier(graft.Materialize(
        fr.join(graft.Hints.bcastIf(e, nE), fr("id") === e("src"))
          .select(col("dst").as("id"), col("landmark"))
          .distinct()
          .join(graft.Hints.bcastIf(settled, nSettled),
            Seq("id", "landmark"), "left_anti")
          .select(col("id"), col("landmark"), lit(depth).as("dist")),
        eager = false))
      val n = next.count()
      if (n == 0 || depth >= maxDepth) done = true
      if (n != 0) {
        settled = graft.Materialize(settled.union(next), eager = false)
        nSettled += n
        frontier = next
        nFrontier = n
      }
    }
    settled
  }

  /** WEIGHTED single/multi-source shortest paths — Bellman-Ford in
    * semi-naive form (the distributed SSSP shape: no priority queue to
    * serialize on, every relaxation round is one data-parallel join).
    * Weights are LONG units (fixed-point — price cents, millisecond
    * latencies, scaled floats), so distance sums are exact integer
    * arithmetic: bit-identical across runs, layouts and cluster sizes,
    * the family's determinism contract (a double Σ would fold in
    * partition order).
    *
    * Per round, only the DELTA — pairs whose distance improved last
    * round — joins the edge table (semi-naive: settled mass is never
    * re-relaxed unless genuinely beaten); candidates min-combine per
    * (node, landmark), keep only strict improvements over the current
    * table, and merge. Rounds ≤ the longest shortest path's hop count
    * (≤ V-1; `maxRounds` is the safety bound — a NEGATIVE cycle, if the
    * caller feeds negative weights, is cut off there). All landmarks
    * advance in the same joins, like [[fromLandmarks]]. One
    * lazily-materialized job per round via the improvement count. */
  def weighted(edges: DataFrame, landmarks: DataFrame,
      srcCol: String = "src", dstCol: String = "dst", weightCol: String = "w",
      landmarkCol: String = "id", maxRounds: Int = 1000): DataFrame = {
    require(maxRounds >= 1, "weighted: maxRounds must be >= 1")
    val e = graft.Materialize(edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("w").isNotNull)
      .groupBy("src", "dst").agg(min("w").as("w"))) // parallel edges: keep cheapest
    def barrier(df: DataFrame): DataFrame =
      df.where(col("id").isNotNull && col("landmark").isNotNull)
    var dist = graft.Materialize(landmarks
      .select(col(landmarkCol).cast("string").as("id"))
      .where(col("id").isNotNull).distinct()
      .select(col("id"), col("id").as("landmark"), lit(0L).as("dist")))
    var delta = dist
    // r6: gate-hint the delta side of the per-round relax join — its
    // count is the loop's own improvement count (guide §3.1)
    val nE = e.count()
    var nDelta = dist.count()
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      rounds += 1
      // relax the delta and min-combine WITH the current table in one
      // aggregation; the current distance rides along as a marked
      // self-row (the KCore fusion), so the round is ONE edge-scale join
      // + ONE (id, landmark)-keyed aggregation, and "improved" is a
      // per-row predicate on the round's own output.
      val dl = graft.Hints.bcastIf(delta, nDelta)
      val cand = dl.join(graft.Hints.bcastIf(e, nE), dl("id") === e("src"))
        .select(col("dst").as("id"), col("landmark"),
          (col("dist") + col("w")).as("dist"), lit(false).as("self"))
      val merged = barrier(graft.Materialize(
        dist.select(col("id"), col("landmark"), col("dist"), lit(true).as("self"))
          .union(cand)
          .groupBy("id", "landmark")
          .agg(min("dist").as("dist"), min(when(col("self"), col("dist"))).as("cur")),
        eager = false))
      val improved = merged.where(col("cur").isNull || col("dist") < col("cur"))
        .select("id", "landmark", "dist")
      val nImproved = improved.count()
      if (nImproved == 0) done = true
      else {
        dist = merged.select("id", "landmark", "dist")
        delta = improved
        nDelta = nImproved
      }
    }
    dist
  }
}
