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
  * (count, exact Σb) certificate of Dag.longestPaths applies unchanged —
  * both run the one relaxation `Dag.relax`. Cycles are harmless here (a
  * loop cannot raise its own bottleneck), so no DAG precondition.
  *
  * Scale shape per round: one src-keyed join + dst-keyed MAX — the BFS
  * floor; rounds ≤ the widest-tree depth. Seeds are excluded from the
  * output (their bottleneck is the sentinel, not data). */
object Widest {

  /** edges: (src, dst, w) with w ≥ 0 integer; seeds: (id), nulls
    * ignored. Returns (id, bottleneck) for every NON-SEED node reachable
    * from the seed set. */
  def paths(edges: DataFrame, seeds: DataFrame, maxRounds: Int = 64): DataFrame =
    Dag.relax(edges, Some(seeds), math.min, least(_, _), "widest", maxRounds, "")
      .toDF("id", "bottleneck")
}
