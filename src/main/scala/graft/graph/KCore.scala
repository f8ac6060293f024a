package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Core decomposition — every node's CORENESS (the largest k such that
  * the node survives in the k-core, the maximal subgraph of minimum
  * degree k). The density ladder of the analytics family: PageRank ranks,
  * Triangles measure local closure, LPA groups, coreness STRATIFIES — the
  * standard signal for "how deep in a dense region does this entity sit"
  * (spam/mirror farms concentrate at high coreness; peripheral one-off
  * entities at coreness 1).
  *
  * Algorithm: synchronous H-INDEX iteration (Lü, Zhou et al., "The
  * H-index of a network node and its relation to degree and coreness",
  * Nature Communications 2016): start every node at its degree and
  * repeatedly replace each node's value with the h-index of its
  * neighbors' values (the largest h with ≥ h neighbors valued ≥ h). The
  * sequence is non-increasing, bounded, and converges exactly to the
  * coreness. Every round is a pure function of the previous one —
  * deterministic at any layout/cluster size, unlike the sequential
  * peeling algorithm whose removal order a cluster cannot reproduce
  * (peeling remains the ORACLE in tests: same fixpoint, different route).
  *
  * Scale shape, per round: one edge-scale equi join (values onto edge
  * sources), one destination-keyed collect of neighbor values, one
  * per-row h-index fold (sorted array HOF, codegen-adjacent) — shuffles
  * keyed by node id, AQE reuses the layout. Each node's OLD value rides
  * the same aggregation as a unioned self-row (a marked (id → id)
  * contribution), so the round's change test needs no extra node-scale
  * join: the loop runs until NO value changed with exactly one
  * lazily-materialized job per round — the change-count action doubles
  * as the round's checkpoint (the CC discipline). Convergence is
  * typically a few rounds on power-law graphs. A mega-hub collects a
  * degree-sized value array once per round — one wide row, the adjacency
  * trade-off the walk family already makes. */
object KCore {

  /** Rounds fused into one job per change-count action. */
  private val CheckEvery = 2

  /** edges: undirected edge list (either/both directions; duplicates and
    * self-loops dropped). Returns (id: long, coreness: int) for every
    * node incident to an edge. `maxIters` is a safety bound only — the
    * loop exits at the fixpoint. [[CheckEvery]] rounds run as one job
    * before the change-count action: past the fixpoint a round is the
    * identity (h-index of stable neighbors is stable), so batching trades
    * ≤ CheckEvery-1 no-op rounds for CheckEvery× fewer serial actions —
    * the same serial-latency fusion as CC's round batching. */
  def coreness(edges: DataFrame, maxIters: Int = 100,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val a = col(srcCol).cast("long")
    val b = col(dstCol).cast("long")
    val und = graft.Materialize(edges
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct())
    // r6 size gate FIRST, on the CANONICAL half (one cheap count of the
    // checkpointed pair table): gate-small graphs take the O(m) local
    // peel — collecting m/2 canonical pairs and mirroring them in memory
    // instead of materializing + collecting the doubled directed table.
    val mHalf = und.count()
    if (graft.Local.fits(edges.sparkSession, "kcore", 2 * mHalf)) return corenessLocal(und)
    val e = graft.Materialize(
      und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst"))))
    // h-index of a DESC-sorted value array: the largest i+1 with v(i) ≥ i+1
    val hIndex = expr(
      """aggregate(
        |  zip_with(sort_array(vals, false),
        |           sequence(1, size(vals)),
        |           (v, i) -> IF(v >= i, i, 0)),
        |  0, (acc, x) -> greatest(acc, x))""".stripMargin)
    var cur = graft.Materialize(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).cast("int").as("val")))
    // node count is loop-invariant (every round keys the same id set):
    // one cheap count of the checkpointed init state gates the per-round
    // broadcast of the node-state side, so the directed edge table is
    // never shuffled inside the loop (guide §3.1; at production node
    // counts the gate fails and the SMJ round is unchanged).
    val nNodes = cur.count()
    def st(df: DataFrame): DataFrame = graft.Hints.bcastIf(df, nNodes)
    var iters = 0
    var done = false
    while (!done && iters < maxIters) {
      // neighbor contributions + a marked self-row carrying the old value:
      // one aggregation yields (new value, old value), so the change test
      // is a per-row predicate on the batch's own output — no second
      // node-scale join. collect_list skips the self-rows' nulled vals.
      def round(c0: DataFrame): DataFrame = {
        val c = st(c0)
        val contrib = c.join(e, c("id") === e("src"))
          .select(col("dst"), col("val"), lit(false).as("self"))
          .union(c0.select(col("id").as("dst"), col("val"), lit(true).as("self")))
        contrib.groupBy(col("dst").as("id"))
          .agg(collect_list(when(!col("self"), col("val"))).as("vals"),
            max(when(col("self"), col("val"))).as("old"))
          .select(col("id"), hIndex.cast("int").as("val"), col("old"))
      }
      val rounds = math.min(CheckEvery, maxIters - iters)
      var next = round(cur)
      for (_ <- 2 to rounds) next = round(next.select("id", "val"))
      val nextM = graft.Materialize(next, eager = false)
        // constraint barrier (see GraphQuery.reachable)
        .where(col("id").isNotNull)
      // `old` is the value BEFORE the batch's last round: equality there
      // means that round was the identity, i.e. the fixpoint was already
      // reached (values are non-increasing and a stable round stays stable)
      val changed = nextM.where(col("val") =!= col("old")).count()
      cur = nextM.select("id", "val")
      iters += rounds
      if (changed == 0) done = true
    }
    cur.select(col("id"), col("val").as("coreness"))
  }

  /** Gate-small fast path (r6): when the DEDUPED directed edge table fits
    * the driver-local budget ([[graft.Local]]), run the Batagelj–Žaveršnik
    * O(m) bucket peel on the driver instead of
    * O(rounds) synchronous h-index jobs. Coreness is a uniquely defined
    * function of the graph — peeling and the h-index fixpoint provably
    * agree (KCoreSpec asserts both path parity and the peel oracle) — so
    * the result is identical row-for-row; only ~32 serial Spark rounds of
    * edge-scale collect_list shuffles collapse into one collect + one
    * linear pass (guide §1.2: fix the distributed algorithm first — here
    * the distributed algorithm at gate scale is pure serial-latency
    * floor). Beyond the gate the h-index loop (with its r6
    * broadcast-hinted state join) is unchanged — at 10^9-edge scale the
    * peel cannot collect and the synchronous rounds are the right shape. */
  private def corenessLocal(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    // und: deduped canonical {a < b} pairs, no self-loops, longs —
    // mirrored in the CSR (half the collect of the directed table)
    val half = und.select(col("a"), col("b")).as[(Long, Long)].collect()
    val g = graft.Local.dense(half.map(_._1), half.map(_._2))
    val adj = graft.Local.undirected(g)
    val (n, off, nbr) = (g.n, adj.off, adj.nbr)
    val deg = Array.tabulate(n)(adj.deg)
    // bucket peel: process nodes in nondecreasing current-degree order
    val maxDeg = if (n == 0) 0 else deg.max
    val bin = new Array[Int](maxDeg + 2)
    deg.foreach(d => bin(d + 1) += 1)
    var i = 1
    while (i <= maxDeg + 1) { bin(i) += bin(i - 1); i += 1 }
    val vert = new Array[Int](n) // nodes sorted by degree
    val pos = new Array[Int](n)
    val start = java.util.Arrays.copyOf(bin, maxDeg + 1)
    i = 0
    while (i < n) { val d = deg(i); pos(i) = start(d); vert(pos(i)) = i; start(d) += 1; i += 1 }
    val cur = deg.clone()
    i = 0
    while (i < n) {
      val v = vert(i)
      var j = off(v)
      while (j < off(v + 1)) {
        val u = nbr(j)
        if (cur(u) > cur(v)) {
          // swap u to the front of its degree bucket, then shrink it
          val du = cur(u); val pu = pos(u); val pw = bin(du); val w = vert(pw)
          if (u != w) {
            vert(pu) = w; pos(w) = pu; vert(pw) = u; pos(u) = pw
          }
          bin(du) += 1
          cur(u) -= 1
        }
        j += 1
      }
      i += 1
    }
    // cur now holds coreness (the degree at removal time)
    spark.createDataset((0 until n).map(k => (g.ids(k), cur(k))))
      .toDF("id", "coreness")
      .select(col("id"), col("coreness").cast("int").as("coreness"))
  }
}
