package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Maximal independent set by Luby's algorithm (Luby, SIAM J. Comput.
  * 1986) — the distributed symmetry breaker. The KG use is CONFLICT-FREE
  * MERGE BATCHING: nodes are proposed entity merges, edges are conflicts
  * (two merges touching the same entity must not apply concurrently); an
  * MIS is a maximal batch that can run in one parallel wave, and repeated
  * waves (`batches`) schedule the whole merge set — this is how a
  * canonicalization backlog applies without a global lock.
  *
  * Luby's randomness is derationalized the engine way: the priority is
  * the keyed hash xxhash64(id) with the id itself as tie-break — a total
  * order, so selection is a pure function of the graph (bit-stable across
  * runs/layouts/cluster sizes; the sequential-replay oracle lever).
  *
  * Per round: one edge-scale join carrying (priority) pairs, one
  * node-keyed min aggregate (map-side combinable), one anti join to drop
  * selected ∪ neighbors — the round's survivors shrink geometrically in
  * expectation (Luby's bound: ≥ half the EDGES die per round whp), so
  * rounds = O(log E). Isolated nodes (no surviving conflicts) are all
  * selected — maximality. */
object Mis {

  /** One maximal independent set over the UNDIRECTED conflict graph:
    * returns (id, round) for selected nodes — round = the wave that
    * selected them (audit of the geometric shrink). Every node of `edges`
    * appears in NO or exactly one row; adding any absent node would break
    * independence (maximality).
    *
    * `prioOf` builds the priority from an id column — the default is the
    * engine-standard (xxhash64, id). Nodes are ordered by
    * `struct(prioOf(id), id)`, so ids break the ties of any priority.
    * [[graft.canon.CorrCluster]] swaps in the PORTABLE fingerprint so its
    * sequential oracle can replay the identical order in another engine;
    * the selected set is the lexicographically-first MIS w.r.t. that
    * order (local-min rounds == the sequential greedy scan — Blelloch,
    * Fineman & Shun, SPAA 2012). */
  def maximalIndependentSet(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 200,
      prioOf: Column => Column =
        c => struct(xxhash64(c).as("h"), c.as("i"))): DataFrame = {
    require(maxRounds >= 1, "maximalIndependentSet: maxRounds must be >= 1")
    // the id ends the key, so the order is total even where prioOf ties
    val key = (c: Column) => struct(prioOf(c).as("p"), c.as("i"))
    val und = edges
      .select(col(srcCol).cast("string").as("a"), col(dstCol).cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    // symmetrize once; keep both directions so one join sees all neighbors
    var live = graft.Materialize(
      und.union(und.select(col("b").as("a"), col("a").as("b"))).distinct())
    val spark = edges.sparkSession
    import spark.implicits._
    // r6: size-gated driver-local replay of the SAME waves (selection is a
    // pure function of the graph and the key order: the
    // lexicographically-first MIS). MisSpec gate-forces parity incl.
    // round numbers and the isolated backfill.
    if (graft.Local.fits(spark, "mis", live.count()))
      return local(live, key, maxRounds)
    var selected = graft.Materialize(
      Seq.empty[(String, Int)].toDF("id", "round"))
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      // a node wins iff its (hash, id) priority is strictly below every
      // surviving neighbor's — computed as one neighbor-min aggregate
      val prio = key(col("a"))
      val nbrPrio = key(col("b"))
      val winners = graft.Materialize(
        live.groupBy(col("a").as("id"))
          .agg(min(nbrPrio).as("minNbr"), first(prio).as("own"))
          .where(col("own") < col("minNbr"))
          .select(col("id"), lit(round).as("round")),
        eager = false)
      val nWin = winners.count()
      if (nWin == 0L) {
        // no edges can remain: with a total order some node is always a
        // local min while any edge survives — so live is empty
        done = true
      } else {
        selected = graft.Materialize(selected.union(winners), eager = false)
        // drop winners and their neighbors: every edge listing a winner on
        // either side kills both its endpoints' survivor status
        val dead = winners.select(col("id")).union(
          live.join(winners.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
            .select(col("b").as("id"))).distinct()
        // no emptiness probe here — the next round's winner count doubles
        // as it (one job per round, the family discipline)
        live = graft.Materialize(
          live.join(dead.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
            .join(dead.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
            .select("a", "b"),
          eager = false)
      }
    }
    // at the limit, one probe tells a settled graph from an unsettled one
    if (!done && !live.isEmpty) throw noConvergence(maxRounds)
    // maximality: nodes whose every conflict died without selecting them
    // are now isolated — select them all (they conflict with nothing left)
    val all = und.select(col("a").as("id")).union(und.select(col("b").as("id"))).distinct()
    val nbrsOfSelected = und
      .join(selected.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .select(col("b").as("id"))
      .union(und.join(selected.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .select(col("a").as("id")))
      .distinct()
    val isolated = all
      .join(selected, Seq("id"), "left_anti")
      .join(nbrsOfSelected, Seq("id"), "left_anti")
      .select(col("id"), lit(0).as("round"))
    selected.union(isolated)
  }

  private def noConvergence(maxRounds: Int) = new IllegalStateException(
    s"maximalIndependentSet did not converge in $maxRounds rounds " +
      "(edges halve per round in expectation — raise maxRounds)")

  /** The distributed rounds replayed on the driver over `live` (both
    * orientations of every edge): v's rank is its place in Spark's own
    * order of `key`, sorted in the collect. */
  private def local(live: DataFrame, key: Column => Column, maxRounds: Int): DataFrame = {
    val spark = live.sparkSession
    import spark.implicits._
    val es = live.as[(String, String)].collect()
    val g = graft.Local.denseOf(es.map(_._1), es.map(_._2))
    val nbrs = graft.Local.directed(g)
    val rank = new Array[Int](g.n)
    g.ids.toSeq.toDF("id").coalesce(1).sortWithinPartitions(key(col("id")))
      .as[String].collect().zipWithIndex.foreach { case (v, i) => rank(g.id(v)) = i }
    // v wins while it has a live neighbor and ranks below all of them
    val dead = new Array[Boolean](g.n)
    def wins(v: Int): Boolean = {
      var k = nbrs.off(v)
      var any = false
      while (k < nbrs.off(v + 1)) {
        val u = nbrs.nbr(k)
        if (!dead(u)) { if (rank(u) < rank(v)) return false; any = true }
        k += 1
      }
      any
    }
    val round = new Array[Int](g.n) // the wave that selected v, or 0
    var alive = Array.range(0, g.n)
    // some node wins while any live edge remains (the order is total)
    var winners = alive.filter(wins)
    var r = 0
    while (winners.nonEmpty) {
      if (r == maxRounds) throw noConvergence(maxRounds)
      r += 1
      winners.foreach { v =>
        round(v) = r
        dead(v) = true
        (nbrs.off(v) until nbrs.off(v + 1)).foreach(k => dead(nbrs.nbr(k)) = true)
      }
      alive = alive.filter(v => !dead(v))
      winners = alive.filter(wins)
    }
    // maximality backfill: nodes with no selected neighbor join at round 0
    Array.range(0, g.n).filter(v => round(v) > 0 ||
      (nbrs.off(v) until nbrs.off(v + 1)).forall(k => round(nbrs.nbr(k)) == 0))
      .map(v => (g.ids(v), round(v))).toSeq.toDF("id", "round")
  }
}
