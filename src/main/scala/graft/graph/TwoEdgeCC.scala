package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 2-edge-connected components — the vertex classes that stay connected
  * after ANY single edge is removed: by the standard characterization,
  * exactly the connected components of the graph with its bridges
  * deleted. The ER reading (the constructive side of the
  * [[Bridges]]/[[Articulation]] audits): a sameAs cluster that is
  * 2-edge-connected is evidence-redundant — no single noisy match link
  * is load-bearing — while vertices that fall into their own singleton
  * class hang off the cluster by one removable link. Splitting a CC
  * merge along its bridges is the conservative repair that keeps only
  * redundantly-supported merges.
  *
  * Engine shape: pure composition of audited operators — one
  * [[Bridges.bridges]] pass (spanning forest + pointer-doubled chain
  * covers), one anti join to delete them, one
  * [[graft.canon.ConnectedComponents]] run (large/small-star beyond the
  * hybrid threshold) over the remainder, and a backfill join making
  * every input vertex appear (a vertex whose every incident edge is a
  * bridge is its own component). Labels = min member id, inherited from
  * ConnectedComponents — byte-stable cross-engine.
  *
  * Output: (id, component) for every vertex of `edges`. Self-loops,
  * duplicates, and orientation are cleaned by [[Bridges.normalize]]. */
object TwoEdgeCC {

  def components(edges: DataFrame, maxDepth: Int = 64): DataFrame = {
    val und = Bridges.normalize(edges)
    // r6: size-gated local path (see Bridges.localCut): components =
    // the driver union-find over the non-bridge edges (min-member labels
    // in Spark's order, the ConnectedComponents convention); vertices
    // whose every edge is a bridge stay singletons — exactly the
    // distributed pipeline below (TwoEdgeCCSpec gate-forces both).
    Bridges.localCut(und) match {
      case Some(cut) =>
        val spark = edges.sparkSession
        import spark.implicits._
        val comp = graft.Local.components(cut.edges.filterNot(cut.bridges.contains))
        val verts = cut.edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        return verts.toSeq.map(v => (v, comp.getOrElse(v, v))).toDF("id", "component")
      case None => ()
    }
    val br = Bridges.bridges(edges, maxDepth)
    val rest = und.join(br, Seq("a", "b"), "left_anti")
    val cc = graft.canon.ConnectedComponents.run(
      rest.select(col("a").as("src"), col("b").as("dst")))
    val verts = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
    val singletons = verts.join(cc, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    cc.union(singletons)
  }
}
