package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest by Borůvka's algorithm — the MST algorithm
  * whose rounds are data-parallel joins (each component picks its cheapest
  * outgoing edge simultaneously), which is why it is THE distributed MST
  * shape (Kruskal serializes on a global edge sort + sequential union;
  * Prim grows one frontier). On the KG the spanning forest of the
  * entity-similarity graph is the single-link clustering backbone: cutting
  * its heaviest edges yields the dendrogram levels entity curators review.
  *
  * Determinism: edges are totally ordered by (w, src, dst) — lexicographic
  * struct min — so ties cannot produce run-to-run different forests; under
  * a total order the minimum spanning forest is UNIQUE and Borůvka,
  * Kruskal, and Prim all return exactly it (the independent-oracle lever:
  * the fixture is a sequential Kruskal replay sharing no engine plumbing).
  *
  * Rounds: every round at least halves the component count → ≤ log₂(V)
  * rounds. Per round: one edges-scale join against the component map, one
  * component-keyed min aggregation (map-side combinable), and a
  * contraction via [[graft.canon.ConnectedComponents]] over the SELECTED
  * edges (≤ one per component — component-scale, not edge-scale). The
  * count() driving the loop is the same action that materializes the
  * round's selection (one job per round, the family's serial-latency
  * discipline).
  */
object Mst {

  /** Minimum spanning forest of the UNDIRECTED graph given by
    * (srcCol, dstCol, weightCol). Edge direction is ignored (endpoints are
    * canonicalized src ≤ dst); self-loops are dropped; parallel edges keep
    * the cheapest. Weights are LONG fixed-point units (cents, scaled
    * similarities) — exact comparisons, no float ties.
    *
    * Returns the forest edges (src, dst, w, round) with round = the
    * Borůvka round (1-based) that selected the edge — the audit column
    * that makes the halving visible. |result| = V − #components. */
  def spanningForest(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", weightCol: String = "w",
      maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, "spanningForest: maxRounds must be >= 1")
    val s = col(srcCol).cast("string")
    val d = col(dstCol).cast("string")
    val e = graft.Materialize(edges
      .where(s.isNotNull && d.isNotNull && col(weightCol).isNotNull && s =!= d)
      .select(least(s, d).as("ua"), greatest(s, d).as("va"),
        col(weightCol).cast("long").as("w"))
      .groupBy("ua", "va").agg(min("w").as("w")))
    val spark = edges.sparkSession
    // r6: size-gated driver-local Borůvka replay: the forest is unique
    // under the (w, ua, va) total order AND the round column is
    // reproduced by replaying the same per-round component-min selection
    // (MstSpec gate-forces both paths). Beyond the gate the join rounds
    // are unchanged.
    if (graft.Local.fits(spark, "mst", e.count())) {
      import spark.implicits._
      val raw = e.as[(String, String, Long)].collect()
      val g = graft.Local.ordered(graft.Local.denseOf(raw.map(_._1), raw.map(_._2)))
      // the edges in the total order (w, ua, va)
      val ranked = raw.indices.sortBy(j => (raw(j)._3, g.src(j), g.dst(j))).toArray
      val comp = new graft.Local.UnionFind(g.n)
      val best = new Array[Int](g.n) // per component root: its min cross edge
      val forest = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Int)]
      def picks(): Array[Int] = {
        java.util.Arrays.fill(best, -1)
        ranked.reverseIterator.foreach { j => // each root ends on its least edge
          val (cu, cv) = (comp.find(g.src(j)), comp.find(g.dst(j)))
          if (cu != cv) { best(cu) = j; best(cv) = j }
        }
        best.filter(_ >= 0).distinct
      }
      var picked = picks()
      var round = 0
      while (picked.nonEmpty) {
        if (round == maxRounds) throw noConvergence(maxRounds)
        round += 1
        picked.foreach { j =>
          forest += ((raw(j)._1, raw(j)._2, raw(j)._3, round))
          comp.union(g.src(j), g.dst(j))
        }
        picked = picks()
      }
      return forest.toSeq.toDF("src", "dst", "w", "round")
    }
    // component map starts as the identity over the node set
    var comp = graft.Materialize(
      e.select(col("ua").as("id")).union(e.select(col("va").as("id"))).distinct()
        .select(col("id"), col("id").as("comp")))
    // r6: the component map is node-scale with a loop-invariant count —
    // gate-hint it into the per-round edge annotation joins (§3.1).
    val nNodes = comp.count()
    def st(df: DataFrame): DataFrame = graft.Hints.bcastIf(df, nNodes)
    // annotate each edge with both endpoint components; cross edges only
    def crossOf(comp: DataFrame): DataFrame = e
      .join(st(comp.select(col("id").as("ua"), col("comp").as("cu"))), "ua")
      .join(st(comp.select(col("id").as("va"), col("comp").as("cv"))), "va")
      .where(col("cu") =!= col("cv"))
    var forest: Option[DataFrame] = None
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val cross = crossOf(comp)
      // each component picks its min outgoing edge under the TOTAL order
      // (w, ua, va); the same physical edge chosen from both sides
      // collapses in the distinct()
      val pick = struct(col("w"), col("ua"), col("va"), col("cu"), col("cv"))
      val selected = graft.Materialize(
        cross.select(explode(array(col("cu"), col("cv"))).as("c"), pick.as("e"))
          .groupBy("c").agg(min("e").as("e"))
          .select(col("e.ua").as("ua"), col("e.va").as("va"), col("e.w").as("w"),
            col("e.cu").as("cu"), col("e.cv").as("cv"))
          .distinct(),
        eager = false)
      if (selected.count() == 0L) done = true
      else {
        val withRound = selected.select(col("ua").as("src"), col("va").as("dst"),
          col("w"), lit(round).as("round"))
        forest = Some(forest.fold(withRound)(f =>
          graft.Materialize(f.union(withRound), eager = false)))
        // contract: merge components linked by the selected edges; nodes
        // keep their old label when their component didn't merge
        val contraction = graft.canon.ConnectedComponents.run(
          selected.select(col("cu").as("src"), col("cv").as("dst")))
        comp = graft.Materialize(
          comp.join(st(contraction.withColumnRenamed("id", "comp")), Seq("comp"), "left")
            .select(col("id"), coalesce(col("component"), col("comp")).as("comp")),
          eager = false)
      }
    }
    // at the limit, one probe tells a spanned graph from an unspanned one
    if (!done && !crossOf(comp).isEmpty) throw noConvergence(maxRounds)
    forest.getOrElse {
      import spark.implicits._
      Seq.empty[(String, String, Long, Int)].toDF("src", "dst", "w", "round")
    }
  }

  private def noConvergence(maxRounds: Int) = new IllegalStateException(
    s"spanningForest did not converge in $maxRounds rounds (components " +
      "halve per round — raise maxRounds only for graphs beyond 2^64 nodes)")
}
