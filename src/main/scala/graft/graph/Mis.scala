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
    * `prioOf` builds the total-order priority struct from an id column —
    * the default is the engine-standard (xxhash64, id). [[graft.canon
    * .CorrCluster]] swaps in the PORTABLE fingerprint so its sequential
    * oracle can replay the identical order in another engine; the
    * selected set is the lexicographically-first MIS w.r.t. whatever
    * order is passed (local-min rounds == the sequential greedy scan —
    * Blelloch, Fineman & Shun, SPAA 2012). */
  def maximalIndependentSet(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 200,
      prioOf: Column => Column =
        c => struct(xxhash64(c).as("h"), c.as("i"))): DataFrame = {
    require(maxRounds >= 1, "maximalIndependentSet: maxRounds must be >= 1")
    val und = edges
      .select(col(srcCol).cast("string").as("a"), col(dstCol).cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    // symmetrize once; keep both directions so one join sees all neighbors
    var live = graft.Materialize(
      und.union(und.select(col("b").as("a"), col("a").as("b"))).distinct())
    val spark = edges.sparkSession
    import spark.implicits._
    // r6: size-gated driver-local replay (the k-core local-peel pattern):
    // selection is a pure function of the graph and the priority order
    // (the lexicographically-first MIS), and the local loop replays the
    // SAME waves — priorities are evaluated by the caller's own Column
    // expression in one projection, then compared field-by-field with
    // the engine's orderings (UTF8String for strings). MisSpec
    // gate-forces parity incl. round numbers and the isolated backfill.
    val localMaxE = spark.conf
      .get("spark.graft.mis.localMaxEdges", "8000000").toLong
    val local = if (live.count() > localMaxE) None else {
      val liveEdges0 = live.as[(String, String)].collect()
      val allIds = liveEdges0.map(_._1).distinct
      val prioRows = spark.createDataset(allIds.toSeq).toDF("id")
        .select(col("id"), prioOf(col("id")).as("p")).collect()
      // cmpVal below orders exactly these field types; a null field or any
      // other type (Float, Decimal, Boolean, Timestamp, nested struct…)
      // takes the distributed rounds, whose struct ordering covers them all
      def comparable(v: Any): Boolean = v match {
        case _: Long | _: Int | _: String | _: Double | _: Short | _: Byte => true
        case _ => false
      }
      if (prioRows.forall(_.getStruct(1).toSeq.forall(comparable)))
        Some((liveEdges0, allIds, prioRows))
      else None
    }
    if (local.isDefined) {
      val (liveEdges0, allIds, prioRows) = local.get
      import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
      import org.apache.spark.unsafe.types.UTF8String
      def cmpVal(x: Any, y: Any): Int = (x, y) match {
        case (a: Long, b: Long) => java.lang.Long.compare(a, b)
        case (a: Int, b: Int) => Integer.compare(a, b)
        case (a: String, b: String) =>
          UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
        // Spark's double order: -0.0 == 0.0, NaN == NaN and above all
        case (a: Double, b: Double) => SQLOrderingUtil.compareDoubles(a, b)
        case (a: Short, b: Short) => java.lang.Short.compare(a, b)
        case (a: Byte, b: Byte) => java.lang.Byte.compare(a, b)
        case _ => throw new IllegalArgumentException(
          s"mis local: unsupported priority field type ${x.getClass}")
      }
      def cmpRow(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Int = {
        var i = 0
        while (i < a.length) {
          val c = cmpVal(a.get(i), b.get(i))
          if (c != 0) return c
          i += 1
        }
        0
      }
      val prioM = new java.util.HashMap[String, org.apache.spark.sql.Row]
      prioRows.foreach(r => prioM.put(r.getString(0), r.getStruct(1)))
      var liveE = liveEdges0
      val sel = new scala.collection.mutable.LinkedHashMap[String, Int]
      var round0 = 0
      var done0 = false
      while (!done0 && round0 < maxRounds) {
        round0 += 1
        val minNbr = new java.util.HashMap[String, org.apache.spark.sql.Row]
        liveE.foreach { case (a, b) =>
          val pb = prioM.get(b)
          val cur = minNbr.get(a)
          if (cur == null || cmpRow(pb, cur) < 0) minNbr.put(a, pb)
        }
        val winners = new scala.collection.mutable.ArrayBuffer[String]
        minNbr.forEach((a, mn) => {
          if (cmpRow(prioM.get(a), mn) < 0) winners += a
          ()
        })
        if (winners.isEmpty) done0 = true
        else {
          winners.foreach(w => sel.put(w, round0))
          val dead = new java.util.HashSet[String]
          winners.foreach(w => { dead.add(w); () })
          liveE.foreach { case (a, b) => if (sel.contains(a) && sel(a) == round0) dead.add(b) }
          liveE = liveE.filter { case (a, b) => !dead.contains(a) && !dead.contains(b) }
        }
      }
      if (!done0)
        throw new IllegalStateException(
          s"maximalIndependentSet did not converge in $maxRounds rounds " +
            "(edges halve per round in expectation — raise maxRounds)")
      // maximality backfill: nodes with no selected ORIGINAL neighbor
      val nbrOfSel = new java.util.HashSet[String]
      liveEdges0.foreach { case (a, b) => if (sel.contains(a)) nbrOfSel.add(b) }
      val out = new scala.collection.mutable.ArrayBuffer[(String, Int)]
      sel.foreach { case (id, r) => out += ((id, r)) }
      allIds.foreach { id =>
        if (!sel.contains(id) && !nbrOfSel.contains(id)) out += ((id, 0))
      }
      return out.toSeq.toDF("id", "round")
    }
    var selected = graft.Materialize(
      Seq.empty[(String, Int)].toDF("id", "round"))
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      // a node wins iff its (hash, id) priority is strictly below every
      // surviving neighbor's — computed as one neighbor-min aggregate
      val prio = prioOf(col("a"))
      val nbrPrio = prioOf(col("b"))
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
    if (!done)
      throw new IllegalStateException(
        s"maximalIndependentSet did not converge in $maxRounds rounds " +
          "(edges halve per round in expectation — raise maxRounds)")
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
}
