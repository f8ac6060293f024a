package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DAG longest paths / critical path — the classic scheduling bound (PERT;
  * Kelley–Walker 1959) over dependency DAGs. The KG build plans itself
  * with one: stage dependencies (scan → extract → link → canon → store)
  * with per-stage cost weights; the longest source→node distance is the
  * earliest the node can start, and its maximum is the critical-path lower
  * bound on wall-clock no amount of parallelism beats.
  *
  * Pure integer max-relax fixed point (bit-stable, oracle = a recursive
  * path-enumeration CTE — a structurally different computation):
  *   dist_0(v) = 0                      for in-degree-0 nodes
  *   dist_{r+1}(v) = max(dist_r(v), max_{u→v} dist_r(u) + w(u,v))
  * Distances only grow, so (count, exact Σdist) is a convergence
  * certificate: one tiny aggregate per round, no row-diff ([[relax]],
  * shared with `Widest.paths`). Longest paths are defined on DAGs; on
  * other graphs the rounds give what the fixed point gives. A cycle no
  * source reaches is never seeded, so its nodes get no rows; a cycle a
  * source reaches converges when its total weight is 0. Only a
  * positive-weight cycle a source reaches grows without bound: it is
  * rejected with "no fixed point" after `maxRounds`, as is a DAG deeper
  * than `maxRounds`.
  *
  * Scale shape per round: one src-keyed equi join (frontier × edges), one
  * dst-keyed MAX — the PageRank/BFS floor; rounds = DAG depth. Weights
  * must be ≥ 0 integers (monotonicity is what makes the certificate and
  * the unordered MAX-merge correct). */
object Dag {

  /** edges: (src, dst, w) with w a non-negative integer column.
    * Returns (id, dist) for every node reachable from the source set
    * (in-degree-0 nodes; sources themselves at dist 0). Throws "no fixed
    * point" only for a positive-weight cycle a source reaches, or a
    * depth beyond `maxRounds`. */
  def longestPaths(edges: DataFrame, maxRounds: Int = 64): DataFrame =
    relax(edges, None, _ + _, _ + _, "dag", maxRounds,
      " — cycle in the edge list, or depth exceeds the bound").toDF("id", "dist")

  /** The max-combine fixed point behind [[longestPaths]] and
    * [[Widest.paths]], over the (src, dst, w) edges with w ≥ 0:
    *   v_0(s)     = the seed value       for seeds s
    *   v_{r+1}(x) = max(v_r(x), max_{u→x} step(v_r(u), w(u,x)))
    * `seeds = None` seeds the in-degree-0 nodes at 0 and keeps them in
    * the result; `Some(ids)` seeds those ids at the ∞ sentinel
    * `Long.MaxValue` (null ids dropped) and leaves them out. Returns
    * (id, v). `step` and `stepCol` are the same function on the driver
    * and in the join rounds.
    *
    * Values only grow, so (count, exact decimal Σv) is a convergence
    * certificate on the distributed side (a long Σ would overflow on the
    * sentinel): one tiny aggregate per round, no row-diff. The driver
    * replay runs the same synchronous rounds, so both sides converge —
    * or give up past `maxRounds` with "`op`: no fixed point …`hint`" — in
    * the same round (DagSpec and WidestSpec gate-force both). */
  private[graph] def relax(edges: DataFrame, seeds: Option[DataFrame],
      step: (Long, Long) => Long, stepCol: (Column, Column) => Column,
      op: String, maxRounds: Int, hint: String): DataFrame = {
    require(maxRounds >= 1, s"$op: maxRounds >= 1, got $maxRounds")
    def noFixedPoint = new IllegalStateException(
      s"$op: no fixed point after $maxRounds rounds$hint")
    val e = graft.Materialize(edges
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("w").cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") >= 0)
      .distinct())
    val sd = seeds.map(_.select(col("id").cast("string").as("id"))
      .where(col("id").isNotNull).distinct())
    val seedValue = if (sd.isEmpty) 0L else Long.MaxValue
    val spark = edges.sparkSession
    import spark.implicits._
    // r6: size-gated driver-local replay (the k-core local-peel pattern):
    // the fixed point is unique and the replay runs the SAME synchronous
    // rounds, including the maxRounds rejection. Beyond the gate the join
    // rounds are unchanged.
    if (graft.Local.fits(spark, op, e.count())) {
      val es = e.as[(String, String, Long)].collect()
      val g = graft.Local.denseOf(es.map(_._1), es.map(_._2))
      val w = es.map(_._3)
      val seed = new Array[Boolean](g.n)
      sd match {
        case None => java.util.Arrays.fill(seed, true); g.dst.foreach(seed(_) = false)
        case Some(df) => df.as[String].collect().map(g.id).filter(_ >= 0).foreach(seed(_) = true)
      }
      var (v, has) = (Array.fill(g.n)(seedValue), seed.clone())
      var (round, changed) = (0, true)
      while (changed) {
        round += 1
        if (round > maxRounds) throw noFixedPoint
        val (nv, nh) = (v.clone(), has.clone())
        changed = false
        var j = 0
        while (j < w.length) {
          val s = g.src(j); val d = g.dst(j)
          if (has(s)) {
            val c = step(v(s), w(j))
            if (!nh(d) || c > nv(d)) { nv(d) = c; nh(d) = true; changed = true }
          }
          j += 1
        }
        v = nv; has = nh
      }
      val keep = (0 until g.n).filter(x => has(x) && (sd.isEmpty || !seed(x)))
      return keep.map(x => (g.ids(x), v(x))).toDF("id", "v")
    }
    val s0 = sd.getOrElse(e.select(col("src").as("id")).distinct()
      .join(e.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti"))
    var v = graft.Materialize(s0.select(col("id"), lit(seedValue).as("v")))
    def certOf(d: DataFrame): (Long, String) = {
      val r = d.agg(count(lit(1)),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    var cert = certOf(v)
    var (round, converged) = (0, false)
    while (!converged) {
      round += 1
      if (round > maxRounds) throw noFixedPoint
      val push = v.join(e, v("id") === e("src"))
        .select(col("dst").as("id"), stepCol(col("v"), col("w")).as("v"))
      v = graft.Materialize(v.unionByName(push).groupBy("id").agg(max("v").as("v")))
      val next = certOf(v)
      converged = next == cert
      cert = next
    }
    sd.fold(v)(v.join(_, Seq("id"), "left_anti"))
  }
}
