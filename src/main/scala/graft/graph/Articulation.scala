package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents

/** Articulation (cut-vertex) detection — the vertices whose removal
  * disconnects their component: the VERTEX form of the merge audit that
  * `Bridges` gives for edges. In a sameAs/co-mention graph an articulation
  * vertex is a single ENTITY holding two clusters together — the alias
  * record or hub mention whose deletion (or re-canonicalization) would
  * split the merged entity, and the first node a curator should inspect.
  *
  * Algorithm (Tarjan–Vishkin biconnectivity, re-expressed on the shared
  * spanning-forest machinery of `Bridges.cycleCover`): two edges lie in
  * the same BICONNECTED COMPONENT (block) iff they are linked by a chain
  * of fundamental cycles — each non-tree edge's cycle (the symmetric
  * difference of its endpoints' root-chains) welds its tree edges and
  * itself into one class, and classes merge transitively wherever cycles
  * share a tree edge (fundamental cycles are a cycle basis and a simple
  * cycle cannot split into two edge-disjoint even subgraphs, so the
  * closure is exactly the blocks). Concretely:
  *
  *  1. `Bridges.cycleCover` → tree edges, non-tree edges, and the
  *     (non-tree edge, covered tree edge) pairs
  *  2. blocks = `ConnectedComponents` over EDGE-nodes (edge key "a|b"),
  *     linking each non-tree edge to every tree edge of its cycle;
  *     uncovered tree edges (= bridges) stay singleton blocks
  *  3. a vertex is an articulation point iff its incident edges span
  *     ≥ 2 distinct blocks (the block–cut-tree characterization; no DFS
  *     discovery times, no low-links, no root special case)
  *
  * Scale shape: everything is the audited Bridges plumbing plus one
  * edge-scale CC (input = cover pairs, the same O(E_nontree·depth) bound)
  * and one endpoint-explode + distinct + count. Output: one row per
  * articulation vertex — `(v)`, deterministic in the data. */
object Articulation {

  def articulationPoints(edges: DataFrame, maxDepth: Int = 64): DataFrame = {
    val und = Bridges.normalize(edges)
    // r6: size-gated local Tarjan DFS (see Bridges.localCut) — the
    // articulation set is a unique property of the graph (a vertex of
    // >= 2 blocks), so the DFS low-link condition provably agrees with
    // the block-counting formulation (ArticulationSpec gate-forces both).
    Bridges.localCut(und) match {
      case Some(cut) =>
        val spark = edges.sparkSession
        import spark.implicits._
        return cut.articulation.toSeq.toDF("v")
      case None => ()
    }
    val (treeEdges, nonTree, cover) = Bridges.cycleCover(und, maxDepth)
    def key(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      concat(least(a, b), lit("|"), greatest(a, b))

    // CC over edge-nodes: non-tree edge <-> each tree edge on its cycle
    val links = cover.select(key(col("na"), col("nb")).as("src"),
      key(col("c"), col("p")).as("dst"))
    val blocks = ConnectedComponents.run(links)

    // every edge of the graph with its block label (uncovered tree edges
    // and any cycle-free component's edges keep their own key = singleton)
    val allEdges = treeEdges
      .select(least(col("c"), col("p")).as("a"),
        greatest(col("c"), col("p")).as("b"))
      .union(nonTree.select(col("a"), col("b")))
    val labeled = allEdges
      .join(blocks.withColumnRenamed("id", "__k"),
        key(col("a"), col("b")) === col("__k"), "left")
      .select(col("a"), col("b"),
        coalesce(col("component"), key(col("a"), col("b"))).as("block"))

    // articulation = endpoint of >= 2 distinct blocks
    labeled.select(explode(array(col("a"), col("b"))).as("v"), col("block"))
      .distinct()
      .groupBy("v").agg(countDistinct("block").as("__nb"))
      .where(col("__nb") >= 2)
      .select("v")
  }
}
