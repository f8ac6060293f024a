package graft.graph

import org.apache.spark.sql.DataFrame
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
  * Distances only grow, so (count, Σdist) is a convergence certificate:
  * one tiny aggregate per round, no row-diff. A graph that fails to
  * converge within `maxRounds` is rejected (cycle or depth > bound) —
  * longest-path is only well-defined on DAGs, and silently looping would
  * fabricate distances.
  *
  * Scale shape per round: one src-keyed equi join (frontier × edges), one
  * dst-keyed MAX — the PageRank/BFS floor; rounds = DAG depth. Weights
  * must be ≥ 0 integers (monotonicity is what makes the certificate and
  * the unordered MAX-merge correct). */
object Dag {

  /** edges: (src, dst, w) with w a non-negative integer column.
    * Returns (id, dist) for every node reachable from the source set
    * (in-degree-0 nodes; sources themselves at dist 0). */
  def longestPaths(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"dag: maxRounds >= 1, got $maxRounds")
    val e = graft.Materialize(edges
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("w").cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") >= 0)
      .distinct())
    // r6: size-gated driver-local replay (the k-core local-peel pattern):
    // the max-relax fixed point is unique and the local loop runs the
    // SAME synchronous rounds — including the maxRounds cycle rejection —
    // so it provably agrees with the join form (DagSpec gate-forces
    // both). Beyond the gate the join rounds are unchanged.
    if (graft.Local.fits(edges.sparkSession, "dag", e.count())) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = e.as[(String, String, Long)].collect()
      val hasIn = new java.util.HashSet[String]
      es.foreach { case (_, d, _) => hasIn.add(d); () }
      var dm = new java.util.HashMap[String, Long]
      es.foreach { case (s, _, _) => if (!hasIn.contains(s)) dm.put(s, 0L) }
      var round0 = 0
      var converged0 = false
      while (!converged0) {
        round0 += 1
        if (round0 > maxRounds)
          throw new IllegalStateException(
            s"dag: no fixed point after $maxRounds rounds — cycle in the " +
              "edge list, or depth exceeds the bound")
        val next = new java.util.HashMap[String, Long](dm)
        es.foreach { case (s, d, w) =>
          if (dm.containsKey(s)) {
            val cand = dm.get(s) + w
            if (!next.containsKey(d) || cand > next.get(d)) next.put(d, cand)
          }
        }
        converged0 = next == dm
        dm = next
      }
      val out = new scala.collection.mutable.ArrayBuffer[(String, Long)]
      dm.forEach((k, v) => { out += ((k, v)); () })
      return out.toSeq.toDF("id", "dist")
    }
    val sources = e.select(col("src").as("id")).distinct()
      .join(e.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti")
    var dist = graft.Materialize(sources.select(col("id"), lit(0L).as("dist")))
    def certOf(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), coalesce(sum("dist"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var cert = certOf(dist)
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"dag: no fixed point after $maxRounds rounds — cycle in the " +
            "edge list, or depth exceeds the bound")
      val push = dist.join(e, dist("id") === e("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = graft.Materialize(
        dist.unionByName(push).groupBy("id").agg(max("dist").as("dist")))
      val next = certOf(dist)
      converged = next == cert
      cert = next
    }
    dist
  }
}
