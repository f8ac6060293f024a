package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Condensation + topological leveling — the step AFTER SCC: collapse each
  * strongly connected component to one node, then layer the resulting DAG
  * so dependency-shaped KG work (ontology import order, pipeline stage
  * scheduling, citation-generation strata) can run level-by-level, every
  * level fully parallel.
  *
  * `condense` is purely relational: two label joins + distinct, intra-SCC
  * edges dropped. The result is acyclic BY CONSTRUCTION (the condensation
  * theorem), which `levels` still verifies at runtime — a leftover cycle
  * means the labels weren't a true SCC map, and silently looping would be
  * worse than failing.
  *
  * `levels` is KAHN PEELING in data-parallel form: round r removes the
  * nodes whose every predecessor is already removed, so a node's round
  * index IS the length of the longest path reaching it from any source —
  * the canonical "earliest possible schedule slot". Per round: one anti
  * join to find sources, one to shrink the edge set — each a
  * lazily-materialized single job (the CC discipline); rounds = DAG depth.
  * No in-degree counter table to maintain (the textbook Kahn bookkeeping
  * serializes on decrements; the anti join recomputes membership, which
  * Spark does as one hash join pass).
  */
object Topo {

  /** Collapse `edges` by the (id, scc) map into distinct inter-component
    * edges. Nodes absent from `comps` are rejected by the inner join
    * contract (every node must be labeled — use Scc.components' output). */
  def condense(edges: DataFrame, comps: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val s = comps.select(col("id").as("__sid"), col("scc").as("csrc"))
    val d = comps.select(col("id").as("__did"), col("scc").as("cdst"))
    edges
      .join(s, col(srcCol) === col("__sid"))
      .join(d, col(dstCol) === col("__did"))
      .where(col("csrc") =!= col("cdst"))
      .select(col("csrc").as("src"), col("cdst").as("dst"))
      .distinct()
  }

  /** (id, level) for every node of the DAG; level = longest-path distance
    * from the source frontier (sources are level 0). Throws on cycles. */
  def levels(dagEdges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxDepth: Int = 10000): DataFrame = {
    val cleaned = dagEdges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    var remaining = graft.Materialize(cleaned
      .select(col("src").as("id")).union(cleaned.select(col("dst").as("id")))
      .distinct(), eager = false)
    var remEdges = graft.Materialize(cleaned, eager = false)
    var nRemaining = remaining.count()
    // r6: size-gated driver-local Kahn peel (the k-core local-peel
    // pattern). A node's level — the longest-path distance from the
    // source frontier — is a unique function of the DAG, so the local
    // indegree peel and the distributed anti-join rounds provably agree
    // (TopoSpec gate-forces both paths); at gate scale the distributed
    // loop is pure serial round latency (one join batch per DAG level).
    // Beyond the gate the anti-join rounds are unchanged.
    val sess = dagEdges.sparkSession
    if (graft.Local.fits(sess, "topo", remEdges.count())) {
      import sess.implicits._
      val es = remEdges.as[(String, String)].collect()
      val g = graft.Local.denseOf(es.map(_._1), es.map(_._2))
      val adj = graft.Local.directed(g)
      val indeg = new Array[Int](g.n)
      g.dst.foreach(d => indeg(d) += 1)
      // peel order: order(lo until hi) is the current level, the nodes it
      // frees append at `size`
      val order = new Array[Int](g.n)
      var size = 0
      for (v <- 0 until g.n if indeg(v) == 0) { order(size) = v; size += 1 }
      val out = new Array[(String, Int)](g.n)
      var (lo, hi, lvl) = (0, size, 0)
      while (lo < g.n) {
        if (lvl > maxDepth)
          throw new IllegalStateException(
            s"Topo.levels: depth exceeded $maxDepth — raise maxDepth")
        if (lo == hi)
          throw new IllegalStateException(
            s"Topo.levels: no sources with ${g.n - lo} nodes left — the input " +
              "has a cycle; condense() with a true SCC map first")
        while (lo < hi) {
          val v = order(lo)
          out(lo) = (g.ids(v), lvl)
          var k = adj.off(v)
          while (k < adj.off(v + 1)) {
            val w = adj.nbr(k)
            indeg(w) -= 1
            if (indeg(w) == 0) { order(size) = w; size += 1 }
            k += 1
          }
          lo += 1
        }
        hi = size
        lvl += 1
      }
      return out.toSeq.toDF("id", "level")
    }
    var acc: DataFrame = null
    var level = 0
    while (nRemaining > 0) {
      if (level > maxDepth)
        throw new IllegalStateException(
          s"Topo.levels: depth exceeded $maxDepth — raise maxDepth")
      // r6: every anti join in the peel has a known-count node-scale
      // right side (≤ nRemaining rows) — gate-hint them (guide §3.1) so
      // a round's only exchange is the shrinking dst-distinct.
      def h(df: DataFrame): DataFrame = graft.Hints.bcastIf(df, nRemaining)
      val sources = graft.Materialize(
        remaining.join(h(remEdges.select(col("dst").as("id")).distinct()),
          Seq("id"), "left_anti"), eager = false)
      val nSources = sources.count()
      if (nSources == 0)
        throw new IllegalStateException(
          s"Topo.levels: no sources with $nRemaining nodes left — the input " +
            "has a cycle; condense() with a true SCC map first")
      val leveled = sources.select(col("id"), lit(level).as("level"))
      acc = if (acc == null) leveled else acc.union(leveled)
      remaining = graft.Materialize(
        remaining.join(h(sources), Seq("id"), "left_anti"), eager = false)
      remEdges = graft.Materialize(
        remEdges.join(h(sources.select(col("id").as("src"))), Seq("src"), "left_anti"),
        eager = false)
      nRemaining -= nSources
      level += 1
    }
    if (acc == null) {
      val spark = dagEdges.sparkSession
      import spark.implicits._
      spark.emptyDataset[(String, Int)].toDF("id", "level")
    } else acc
  }
}
