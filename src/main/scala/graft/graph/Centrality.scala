package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Node-importance scores a KG consumer ranks entities by — harmonic
  * centrality (the closeness variant that is well-defined on disconnected
  * graphs, Boldi & Vigna "Axioms for Centrality", Internet Math 2014) and
  * HITS hubs/authorities (Kleinberg, JACM 1999). On the invoice graph these
  * rank "which vendors sit closest to everything" (harmonic over sameAs /
  * hasVendor edges) and "hub invoices vs authority vendors" (HITS over the
  * bipartite invoice→vendor structure).
  *
  * Determinism contract (the family rule set by PageRank/SSSP): ALL
  * arithmetic is fixed-point integer — exact long sums are order- and
  * partition-layout-independent, so scores are bit-identical across runs
  * and cluster sizes, which is what makes a cross-engine hash oracle
  * possible. A double Σ would fold in partition order and drift in the
  * last ulp.
  */
object Centrality {

  /** Harmonic-centrality scale: scores are Σ floor(SCALE / d). */
  val Scale = 1000000000000L

  /** Inbound harmonic centrality of every node reachable from `landmarks`:
    * C_H(v) = Σ_{u ∈ landmarks, u ≠ v, d(u,v) < ∞} floor(SCALE / d(u,v)),
    * computed over the multi-source BFS table (one BFS advances all
    * landmarks — [[Distances.fromLandmarks]]). Passing all nodes as
    * landmarks gives exact centrality; a hashed landmark SAMPLE gives the
    * standard unbiased estimator at 10^12-node scale (Eppstein–Wang) —
    * the caller picks the landmark budget, the engine's cost is one BFS
    * either way.
    *
    * Returns (id, score_fp, n_sources): the fixed-point score and how many
    * landmarks reach the node (its inbound coverage). Truncating integer
    * division floor(SCALE/d) is deliberate — it is exactly replayable in
    * any engine (`SCALE // d`), where 1.0/d as a double is not summable
    * deterministically. */
  def harmonic(edges: DataFrame, landmarks: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      landmarkCol: String = "id", maxDepth: Int = Int.MaxValue): DataFrame =
    Distances.fromLandmarks(edges, landmarks, srcCol, dstCol, landmarkCol, maxDepth)
      .where(col("dist") > 0) // d(u,u)=0 contributes nothing (u ≠ v term)
      .groupBy("id")
      // `div` (not `/`): Spark's Divide returns DOUBLE even on longs;
      // truncating integer division is the replayable contract
      .agg(sum(expr(s"${Scale}L div dist")).as("score_fp"),
        count(lit(1)).as("n_sources"))

  /** HITS hub/authority scores, `iters` rounds of the mutual
    * reinforcement fixpoint in exact integer arithmetic:
    *
    *   auth'(v) = Σ_{u→v} hub(u)        (exact long sum)
    *   hub'(u)  = Σ_{u→v} auth'(v)
    *
    * with a DETERMINISTIC re-scale after each of the two half-steps:
    * divide every score by q = max(1, floor(max_score / SCALE)) — a pure
    * integer quotient of the round's own max, so the scale-down is a
    * function of the score multiset only (no partition-order float
    * normalization, no overflow: scores stay ≤ SCALE·maxDegree and
    * SCALE·maxDegree² < 2^63 for degree ≤ ~9·10^5 at SCALE=10^6; beyond
    * that lower SCALE). Final scores are reported as-is (fixed-point,
    * comparable within a run) plus each side's max for consumer-side
    * normalization.
    *
    * One shuffle per half-step (groupBy on the edge key), edges-scale;
    * the per-round max is a scalar aggregate fused into the same job via
    * the lazy-materialize + collect pattern. Returns
    * (id, hub_fp, auth_fp) for every node appearing in `edges`. */
  def hits(edges: DataFrame, iters: Int = 5,
      srcCol: String = "src", dstCol: String = "dst",
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hits: iters must be >= 1")
    require(scale >= 1L, "hits: scale must be >= 1")
    val e = graft.Materialize(edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val nodes = graft.Materialize(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    // (id, hub, auth), all start at SCALE
    var scores = graft.Materialize(
      nodes.select(col("id"), lit(scale).as("hub"), lit(scale).as("auth")))
    if (e.isEmpty) // no edges → no nodes; the loop's scalar aggs need rows
      return e.select(col("src").as("id"), lit(0L).as("hub_fp"), lit(0L).as("auth_fp"))
    // r6: gate-hint the node-scale score tables into the edge joins and
    // the node-keyed outer joins (guide §3.1) — the count is loop-
    // invariant; beyond the gate the shuffle rounds are unchanged.
    val nNodes = nodes.count()
    // r6 follow-up: size-gated driver-local replay (the k-core local-peel
    // pattern): both half-steps are exact long sums and the re-scale is a
    // pure function of the score multiset, so a local loop is
    // bit-identical to the 4·iters shuffle jobs (CentralitySpec
    // gate-forces both paths). Beyond the gate the loop is unchanged.
    if (graft.Local.fits(edges.sparkSession, "hits", e.count())) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = e.as[(String, String)].collect()
      val g = graft.Local.denseOf(es.map(_._1), es.map(_._2))
      val (ids, n, srcI, dstI) = (g.ids, g.n, g.src, g.dst)
      var hub = Array.fill(n)(scale); var auth = Array.fill(n)(scale)
      def rescaleL(a: Array[Long]): Array[Long] = {
        val q = math.max(1L, a.max / scale)
        if (q == 1L) a else a.map(_ / q) // x div q: nonneg longs, same trunc
      }
      for (_ <- 0 until iters) {
        val a2 = new Array[Long](n)
        var i = 0
        while (i < es.length) { a2(dstI(i)) += hub(srcI(i)); i += 1 }
        auth = rescaleL(a2)
        val h2 = new Array[Long](n)
        i = 0
        while (i < es.length) { h2(srcI(i)) += auth(dstI(i)); i += 1 }
        hub = rescaleL(h2)
      }
      return ids.indices.map(i => (ids(i), hub(i), auth(i)))
        .toDF("id", "hub_fp", "auth_fp")
    }
    def st(df: DataFrame): DataFrame = graft.Hints.bcastIf(df, nNodes)
    // deterministic re-scale: x -> x div max(1, maxX div scale)
    def rescale(df: DataFrame, c: String): DataFrame = {
      val m = df.agg(max(col(c))).head().getLong(0)
      val q = math.max(1L, m / scale)
      if (q == 1L) df else df.withColumn(c, expr(s"$c div ${q}L"))
    }
    for (_ <- 0 until iters) {
      // auth half-step: sum incoming hub mass; nodes with no in-edges get 0
      val authRaw = e.join(st(scores.select(col("id"), col("hub"))),
          e("src") === col("id"))
        .groupBy(col("dst").as("aid")).agg(sum("hub").as("auth"))
      val withAuth = nodes.join(st(authRaw), nodes("id") === col("aid"), "left")
        .select(nodes("id"), coalesce(col("auth"), lit(0L)).as("auth"))
      val auth2 = rescale(graft.Materialize(withAuth, eager = false), "auth")
      // hub half-step: sum outgoing auth mass
      val hubRaw = e.join(st(auth2.select(col("id"), col("auth"))),
          e("dst") === col("id"))
        .groupBy(col("src").as("hid")).agg(sum("auth").as("hub"))
      val withHub = nodes.join(st(hubRaw), nodes("id") === col("hid"), "left")
        .select(nodes("id"), coalesce(col("hub"), lit(0L)).as("hub"))
      val hub2 = rescale(graft.Materialize(withHub, eager = false), "hub")
      scores = graft.Materialize(
        hub2.join(st(auth2.withColumnRenamed("id", "aid")),
            hub2("id") === col("aid"))
          .select(hub2("id"), col("hub"), col("auth")),
        eager = false)
    }
    scores.select(col("id"), col("hub").as("hub_fp"), col("auth").as("auth_fp"))
  }
}
