package graft.graph

import graft.ops.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed MAXIMAL matching by local-min edge rounds (the edge
  * analogue of Luby's MIS, q122 — Israeli & Itai 1986): an edge joins the
  * matching iff it is the minimum-priority live edge at BOTH endpoints;
  * matched nodes drop with all their edges; repeat to the fixpoint. In ER
  * this is merge-planning — a set of disjoint pairs that can merge in one
  * parallel wave without two merges fighting over a record; matching is
  * maximal (no live edge remains), not maximum (which is inherently
  * sequential).
  *
  * Priorities are the portable hash of the canonical edge key — a pure
  * function of the edge, so the result is ONE deterministic matching at
  * any layout/cluster size, and the committed oracle fixture comes from an
  * independent sequential replay of the same rule (tools.GenFixtures).
  *
  * Scale shape per round: one node-keyed MIN(struct) aggregate over the
  * live edges' two orientations (map-side combinable) + two anti joins to
  * drop matched endpoints — the q122 discipline; expected rounds
  * O(log n). */
object Matching {

  /** edges: (src, dst), undirected simple graph (dedup + self-loop drop
    * applied). Returns the matching: (a, b, priority) with a < b. */
  def maximal(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    var live = canon.withColumn("p",
      Sketch.kmvHash(concat(col("a"), lit("|"), col("b"))))
    // r6: size-gated driver-local wave replay (the Luby-MIS local-path
    // pattern): the matching is a pure function of the edge priorities
    // (evaluated by the same Column expression in one distributed
    // projection), so the local both-endpoint-min rounds are identical
    // to the aggregate rounds (MatchingSpec gate-forces both paths).
    val liveM = graft.Materialize(live, eager = false)
    if (graft.Local.fits(spark, "matching", liveM.count())) {
      val es = liveM.as[(String, String, Long)].collect()
      val g = graft.Local.ordered(graft.Local.denseOf(es.map(_._1), es.map(_._2)))
      val nodeMin = new Array[Int](g.n)
      val matched = new Array[Boolean](g.n)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      // the live edges in min(struct(p, a, b))'s order
      var alive = es.indices.sortBy(j => (es(j)._3, g.src(j), g.dst(j))).toArray
      var it = 0
      // the least live edge always wins, so every round matches one
      while (alive.nonEmpty) {
        if (it == maxIter) throw noConvergence(maxIter)
        // descending: each endpoint ends on its least live edge
        alive.reverseIterator.foreach { j => nodeMin(g.src(j)) = j; nodeMin(g.dst(j)) = j }
        alive.filter(j => nodeMin(g.src(j)) == j && nodeMin(g.dst(j)) == j).foreach { j =>
          out += es(j); matched(g.src(j)) = true; matched(g.dst(j)) = true }
        alive = alive.filter(j => !matched(g.src(j)) && !matched(g.dst(j)))
        it += 1
      }
      return out.toSeq.toDF("a", "b", "priority")
    }
    live = liveM
    var matched = Seq.empty[(String, String, Long)].toDF("a", "b", "p")
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      live = graft.Materialize(live, eager = false)
      val oriented = live.select(col("a").as("node"), struct("p", "a", "b").as("e"))
        .unionByName(live.select(col("b").as("node"), struct("p", "a", "b").as("e")))
      val nodeMin = oriented.groupBy("node").agg(min("e").as("m"))
      // an edge wins iff it is the min at BOTH endpoints: count its wins
      val wins = nodeMin.groupBy(col("m.a").as("a"), col("m.b").as("b"),
          col("m.p").as("p"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") === 2).drop("w")
      val roundMatched = graft.Materialize(wins)
      if (roundMatched.isEmpty) done = true
      else {
        matched = matched.unionByName(roundMatched)
        val gone = roundMatched.select(explode(array(col("a"), col("b")))
          .as("node")).distinct()
        live = live
          .join(gone.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
          .join(gone.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
          .select("a", "b", "p")
      }
      i += 1
    }
    // maximality: a live edge both of whose endpoints are unmatched would
    // contradict the fixpoint — verify instead of hoping (q122 discipline);
    // at the limit, one probe tells a settled graph from an unsettled one
    if (!done && !live.isEmpty) throw noConvergence(maxIter)
    matched.select(col("a"), col("b"), col("p").as("priority"))
  }

  private def noConvergence(maxIter: Int) =
    new IllegalStateException(s"maximal matching did not converge in $maxIter rounds")
}
