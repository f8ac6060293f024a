package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Widest (maximum-bottleneck) paths — the maximin routing classic
  * (Pollack 1960; Hu 1961): from a seed set, the best path to v is the one
  * whose WEAKEST edge is strongest. In the KG this ranks multi-hop
  * evidence: edge weight = link confidence (ppm), and bottleneck(v) is the
  * confidence of the best derivation chain seed→v — a chain is only as
  * trustworthy as its weakest hop, so max-min, not sum, is the right
  * algebra for provenance (Σ-based PPR says "many weak paths"; widest
  * path says "one strong one").
  *
  * Exact integer fixed point on the (max, min) semiring:
  *   b_0(s)     = ∞ (internal sentinel) for seeds s
  *   b_{r+1}(v) = max(b_r(v), max_{u→v} min(b_r(u), w(u,v)))
  * Bottlenecks only grow and take ≤ |distinct weights|·V values, so the
  * (count, Σb) certificate from Dag.longestPaths applies unchanged — one
  * tiny aggregate per round. Cycles are harmless here (a loop cannot
  * raise its own bottleneck), so no DAG precondition.
  *
  * Scale shape per round: one src-keyed join + dst-keyed MAX — the BFS
  * floor; rounds ≤ the widest-tree depth. Seeds are excluded from the
  * output (their bottleneck is the sentinel, not data). */
object Widest {

  /** edges: (src, dst, w) with w ≥ 0 integer; seeds: (id).
    * Returns (id, bottleneck) for every NON-SEED node reachable from the
    * seed set. */
  def paths(edges: DataFrame, seeds: DataFrame, maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"widest: maxRounds >= 1, got $maxRounds")
    val e = graft.Materialize(edges
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("w").cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") >= 0)
      .distinct())
    val sd = seeds.select(col("id").cast("string").as("id")).distinct()
    // r6: size-gated driver-local replay — same unique (max, min)-semiring
    // fixed point, same synchronous rounds and maxRounds contract as the
    // join form (WidestSpec gate-forces both); beyond the gate unchanged.
    if (graft.Local.fits(edges.sparkSession, "widest", e.count())) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = e.as[(String, String, Long)].collect()
      val seedSet = new java.util.HashSet[String]
      sd.as[String].collect().foreach(s => { seedSet.add(s); () })
      var bm = new java.util.HashMap[String, Long]
      seedSet.forEach(s => { bm.put(s, Long.MaxValue); () })
      var round0 = 0
      var converged0 = false
      while (!converged0) {
        round0 += 1
        if (round0 > maxRounds)
          throw new IllegalStateException(
            s"widest: no fixed point after $maxRounds rounds")
        val next = new java.util.HashMap[String, Long](bm)
        es.foreach { case (s, d, w) =>
          if (bm.containsKey(s)) {
            val cand = math.min(bm.get(s), w)
            if (!next.containsKey(d) || cand > next.get(d)) next.put(d, cand)
          }
        }
        converged0 = next == bm
        bm = next
      }
      val out = new scala.collection.mutable.ArrayBuffer[(String, Long)]
      bm.forEach((k, v) => { if (!seedSet.contains(k)) out += ((k, v)); () })
      return out.toSeq.toDF("id", "bottleneck")
    }
    var b = graft.Materialize(sd.select(col("id"), lit(Long.MaxValue).as("b")))
    def certOf(d: DataFrame): (Long, String) = {
      // exact decimal Σ — the Long.MaxValue seed sentinels would overflow
      // a long sum, and a hashed certificate could collide into an early
      // stop; b only grows, so (count, exact Σ) is strict progress
      val r = d.agg(count(lit(1)),
        sum(col("b").cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    var cert = certOf(b)
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"widest: no fixed point after $maxRounds rounds")
      val push = b.join(e, b("id") === e("src"))
        .select(col("dst").as("id"), least(col("b"), col("w")).as("b"))
      b = graft.Materialize(
        b.unionByName(push).groupBy("id").agg(max("b").as("b")))
      val next = certOf(b)
      converged = next == cert
      cert = next
    }
    b.join(sd, Seq("id"), "left_anti").select(col("id"), col("b").as("bottleneck"))
  }
}
