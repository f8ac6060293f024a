package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed greedy vertex coloring — Jones–Plassmann (SIAM J. Sci.
  * Comput. 1993), the parallelization of sequential greedy coloring by
  * random priorities. The KG build uses a proper coloring as a CONFLICT
  * SCHEDULE: color classes are independent sets, so same-color entity
  * merges / store updates can run in one parallel wave without touching a
  * shared neighbor (the write-side complement of q156's maximal matching).
  *
  * Rule per round: an uncolored node v is colored when it beats every
  * uncolored neighbor on (priority, id) — priority = the portable
  * scrambled hash (`Sketch.kmvHash`), id the total-order tiebreak — and
  * takes the SMALLEST color unused by its already-colored neighbors (mex).
  * Key structural fact (and what the oracle checks): a lower-priority
  * neighbor can never be colored while v waits, so v's colored neighbors
  * at assignment time are EXACTLY its higher-(priority, id) neighbors —
  * the parallel rounds compute precisely the sequential greedy coloring in
  * decreasing (priority, id) order. Deterministic in the data, independent
  * of partitioning, rounds = O(log n / log log n) w.h.p.
  *
  * Scale shape per round: one node-keyed join of the uncolored frontier
  * against the adjacency list (winners), one join against the colored set
  * (neighbor colors) + a per-node sorted-mex aggregate, two anti joins to
  * shrink the frontier. Everything is keyed by node id; no collects. The
  * mex aggregate buffers one node's neighbor COLORS (≤ its degree, and
  * colors ≤ Δ+1) — bounded by the hub degree, the usual cap-or-spill
  * consideration. */
object Coloring {

  /** edges: any orientation; isolated nodes (absent from edges) are the
    * caller's to color 0. Returns (id, color, round) — color ∈ [0, Δ+1),
    * round = the wave the node was colored in (1-based). */
  def jonesPlassmann(edges: DataFrame, maxRounds: Int = 200): DataFrame = {
    require(maxRounds >= 1, s"coloring: maxRounds >= 1, got $maxRounds")
    val sc = col("src").cast("string")
    val dc = col("dst").cast("string")
    val und = edges
      .select(least(sc, dc).as("a"), greatest(sc, dc).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val adj = graft.Materialize(
      und.select(col("a").as("id"), col("b").as("nb"))
        .union(und.select(col("b").as("id"), col("a").as("nb"))))
    val prio = (c: Column) => graft.ops.Sketch.kmvHash(c)
    var un = graft.Materialize(
      adj.select(col("id")).distinct()
        .select(col("id"), prio(col("id")).as("p")))
    val session = un.sparkSession
    import session.implicits._
    // r6 size gate: the parallel waves compute EXACTLY the sequential
    // greedy coloring in decreasing (priority, id) order (the class
    // docstring's structural fact — priorities come from the SAME
    // kmvHash column, collected, not recomputed), and the wave number
    // is itself sequential: round(v) = 1 + max(round(u)) over v's
    // higher-(p, id) neighbors. So at gate-small sizes run that exact
    // recurrence on the driver — one collect + one linear pass instead
    // of O(waves) rounds of 3 joins + 2 checkpoints + a count each
    // (gate-forced parity asserted in ColoringSpec; beyond the gate the
    // wave loop below is unchanged).
    if (graft.Local.fits(session, "coloring", adj.count()))
      return jonesPlassmannLocal(adj, un, maxRounds)
    var colored = Seq.empty[(String, Int, Int)].toDF("id", "color", "round")
    var round = 0
    var remaining = un.count()
    val nTotal = remaining
    while (remaining > 0) {
      round += 1
      if (round > maxRounds) throw uncolored(remaining, maxRounds)
      // r6: the uncolored state (`remaining` rows, counted by the loop)
      // and the colored table (nTotal − remaining rows) are node-scale
      // with known counts — gate-hint them into the edge-scale joins
      // (guide §3.1); beyond the gate the SMJ rounds are unchanged.
      def hUn(df: DataFrame) = graft.Hints.bcastIf(df, remaining)
      def hCol(df: DataFrame) = graft.Hints.bcastIf(df, nTotal - remaining)
      // winners: uncolored nodes with no uncolored neighbor above them in
      // (priority, id) order — anti join against the losing evidence
      val frontier = adj.join(hUn(un), Seq("id")) // (id, nb, p): uncolored only
      val blocked = frontier
        .join(hUn(un.select(col("id").as("nb"), col("p").as("nbp"))), Seq("nb"))
        .where(col("nbp") > col("p") ||
          (col("nbp") === col("p") && col("nb") > col("id")))
        .select(col("id")).distinct()
      val winners = un.join(hUn(blocked), Seq("id"), "left_anti")
      // mex over already-colored neighbors' colors (sorted-prefix fold).
      // Every un-node id came from adj and never leaves it, so the old
      // `winners LEFT JOIN adj` always matched — written inner with the
      // winners side gate-hinted, the adjacency table is not shuffled.
      val nbColors = adj.join(hUn(winners), Seq("id"))
        .join(hCol(colored.select(col("id").as("nb"), col("color").as("nbc"))),
          Seq("nb"), "left")
        .groupBy("id")
        .agg(sort_array(array_distinct(collect_list("nbc"))).as("cs"))
        .select(col("id"),
          aggregate(col("cs"), lit(0),
            (acc, c) => when(c === acc, acc + 1).otherwise(acc)).as("color"),
          lit(round).as("round"))
      colored = graft.Materialize(colored.unionByName(nbColors))
      un = graft.Materialize(un.join(hUn(nbColors), Seq("id"), "left_anti"))
      remaining = un.count()
      // join above needs `un` for blocking only; `blocked` is derived from
      // the PREVIOUS un, so the shrink is consistent within the round
    }
    colored
  }

  private def uncolored(n: Long, maxRounds: Int) = new IllegalStateException(
    s"coloring: $n node(s) uncolored after $maxRounds rounds")

  /** Driver-local exact replay of the Jones–Plassmann result: sequential
    * greedy in decreasing (priority, id) order, wave(v) = 1 + max wave of
    * v's higher-(p, id) neighbors (0-max → wave 1), color(v) = mex over
    * those same neighbors' colors. Identical output to the wave loop —
    * the equivalence the class docstring proves and the committed
    * sequential-greedy oracle fixture already checks — including its
    * error when some wave exceeds `maxRounds`. */
  private def jonesPlassmannLocal(adj: DataFrame, un: DataFrame, maxRounds: Int): DataFrame = {
    val spark = un.sparkSession
    import spark.implicits._
    val es = adj.as[(String, String)].collect()
    val g = graft.Local.ordered(graft.Local.denseOf(es.map(_._1), es.map(_._2)))
    val nbrs = graft.Local.directed(g) // adj holds both orientations
    val p = new Array[Long](g.n)
    un.as[(String, Long)].collect().foreach { case (id, pr) => p(g.id(id)) = pr }
    // decreasing (p, id): the wave loop's `nbp > p || (nbp === p && nb > id)`
    val order = Array.range(0, g.n).sortBy(v => (p(v), v))(Ordering[(Long, Int)].reverse)
    val color = Array.fill(g.n)(-1)
    val wave = new Array[Int](g.n)
    val taken = Array.fill(g.n + 1)(-1) // taken(c) == v: a neighbor of v has color c
    order.foreach { v =>
      var k = nbrs.off(v)
      while (k < nbrs.off(v + 1)) {
        val u = nbrs.nbr(k)
        if (color(u) >= 0) { // already colored ⇔ higher (p, id)
          taken(color(u)) = v
          wave(v) = math.max(wave(v), wave(u))
        }
        k += 1
      }
      var c = 0
      while (taken(c) == v) c += 1
      color(v) = c
      wave(v) += 1
    }
    val late = wave.count(_ > maxRounds)
    if (late > 0) throw uncolored(late, maxRounds)
    order.map(v => (g.ids(v), color(v), wave(v))).toSeq.toDF("id", "color", "round")
  }
}
