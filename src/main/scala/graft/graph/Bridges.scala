package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents

/** Bridge (cut-edge) detection — the edges whose removal disconnects
  * their component. In a KG this is the merge-audit primitive SCAN's hub
  * roles (q171) cannot give: a bridge in the sameAs/co-mention graph is
  * a SINGLE link holding two entity clusters together — exactly the
  * place where one bad gazetteer hit or OCR misread silently fuses two
  * vendors, and the first edge a curator should re-score. (Tarjan's
  * classic solution is a sequential DFS; this is the data-parallel
  * spanning-forest formulation.)
  *
  * Algorithm (the spanning-tree covering argument): build ANY rooted
  * spanning forest; a tree edge is a bridge iff NO non-tree edge's
  * fundamental cycle covers it, and the fundamental cycle of non-tree
  * edge (u,v) is exactly the SYMMETRIC DIFFERENCE of u's and v's
  * root-chains (edges above the LCA appear in both chains and cancel).
  * Non-tree edges are never bridges (the tree already connects their
  * endpoints without them).
  *
  *  1. components via the audited hybrid `ConnectedComponents` (labels
  *     are component minima — the roots)
  *  2. BFS forest from the roots: per round one frontier⋈edges join +
  *     a dst-keyed MIN(parent) (deterministic tree) + an anti join
  *     against visited; rounds = diameter
  *  3. root-chains by POINTER DOUBLING: ceil(log2(depth)) self-joins,
  *     each concatenating a node's chain with its 2^k-ancestor's chain
  *  4. covered = explode(symdiff(chain_u, chain_v)) over non-tree edges,
  *     distinct; bridges = tree edges ∖ covered
  *
  * Scale shape: BFS rounds are the standard frontier joins (the q114
  * multi-source BFS cost); chains hold one struct per ancestor — state
  * is O(V·depth) and covering work O(E_nontree·depth), the right trade
  * for the small-world graphs entity linking produces (depth ≈ log V).
  * For pathological deep paths (depth ~ V) the chain state degrades to
  * quadratic — `maxDepth` fails fast instead of letting the job die
  * slowly; raise it deliberately for genuinely deep graphs.
  *
  * Input: (src, dst) in any orientation; self-loops, duplicates, and
  * reversed duplicates are cleaned (SIMPLE-graph semantics — a caller
  * with true parallel edges should pre-collapse them and treat any
  * multi-edge pair as unbridgeable). Output: (a, b) normalized
  * least/greatest, one row per bridge. Deterministic in the data. */
object Bridges {

  /** Normalized simple undirected edge list `(a, b)`, a < b. */
  private[graph] def normalize(edges: DataFrame): DataFrame = {
    val s = col("src").cast("string")
    val d = col("dst").cast("string")
    graft.Materialize(edges
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct())
  }

  def bridges(edges: DataFrame, maxDepth: Int = 64): DataFrame = {
    val und = normalize(edges)
    // r6: size-gated driver-local cut structure (the k-core local-peel
    // pattern): the bridge set is a unique property of the graph, so the
    // iterative Tarjan low-link DFS provably agrees with the
    // spanning-forest/cycle-cover formulation (BridgesSpec gate-forces
    // both). Beyond the gate the distributed machinery is unchanged.
    localCut(und) match {
      case Some(cut) =>
        val spark = edges.sparkSession
        import spark.implicits._
        return cut.bridges.toSeq.toDF("a", "b")
      case None => ()
    }
    val (treeEdges, _, cover) = cycleCover(und, maxDepth)
    val covered = cover.select("c", "p").distinct()
    treeEdges.join(covered, Seq("c", "p"), "left_anti")
      .select(least(col("c"), col("p")).as("a"),
        greatest(col("c"), col("p")).as("b"))
  }

  /** Local cut structure (bridges + articulation points) of a NORMALIZED
    * simple edge list, when it fits the driver-local budget —
    * one iterative Tarjan low-link DFS; both sets are unique properties
    * of the graph (any algorithm returns exactly them). */
  private[graph] case class Cut(edges: Array[(String, String)],
      bridges: scala.collection.mutable.LinkedHashSet[(String, String)],
      articulation: scala.collection.mutable.LinkedHashSet[String])

  private[graph] def localCut(und: DataFrame): Option[Cut] = {
    if (!graft.Local.fits(und.sparkSession, "bridges", und.count())) return None
    val es = und.collect().map(r => (r.getString(0), r.getString(1)))
    val g = graft.Local.denseOf(es.map(_._1), es.map(_._2))
    val adj = graft.Local.undirected(g)
    val (n, names, off, adjN, adjE) = (g.n, g.ids, adj.off, adj.nbr, adj.edge)
    val disc = Array.fill(n)(-1); val low = new Array[Int](n)
    val pEdge = Array.fill(n)(-1)
    val stack = new Array[Int](n); val ptr = new Array[Int](n)
    val bridges = new scala.collection.mutable.LinkedHashSet[(String, String)]
    val artic = new scala.collection.mutable.LinkedHashSet[String]
    var time = 0
    var s = 0
    while (s < n) {
      if (disc(s) == -1) {
        var top = 0
        stack(0) = s; disc(s) = time; low(s) = time; time += 1; ptr(s) = off(s)
        var rootChildren = 0
        while (top >= 0) {
          val u = stack(top)
          if (ptr(u) < off(u + 1)) {
            val k = ptr(u); ptr(u) += 1
            val v = adjN(k); val eid = adjE(k)
            if (disc(v) == -1) {
              pEdge(v) = eid
              if (u == s) rootChildren += 1
              disc(v) = time; low(v) = time; time += 1; ptr(v) = off(v)
              top += 1; stack(top) = v
            } else if (eid != pEdge(u)) {
              if (disc(v) < low(u)) low(u) = disc(v)
            }
          } else {
            top -= 1
            if (top >= 0) {
              val p = stack(top)
              if (low(u) < low(p)) low(p) = low(u)
              if (low(u) > disc(p)) bridges += es(pEdge(u))
              if (p != s && low(u) >= disc(p)) artic += names(p)
            }
          }
        }
        if (rootChildren >= 2) artic += names(s)
      }
      s += 1
    }
    Some(Cut(es, bridges, artic))
  }

  /** Shared spanning-forest machinery (steps 1–4 of the algorithm above),
    * over a NORMALIZED edge list: returns
    * `(treeEdges (c=child, p=parent), nonTree (a, b), cover)` where
    * `cover` has one row per (non-tree edge, tree edge on its fundamental
    * cycle): `(na, nb, c, p)`. Bridges = tree edges absent from `cover`;
    * biconnected blocks = connected components over edges linked by
    * `cover` rows (Articulation). */
  private[graph] def cycleCover(und: DataFrame,
      maxDepth: Int): (DataFrame, DataFrame, DataFrame) = {
    require(maxDepth >= 1, "bridges: maxDepth must be >= 1")
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))

    // roots = component minima (the CC label convention)
    val comp = ConnectedComponents.run(
      und.select(col("a").as("src"), col("b").as("dst")))
    var visited = graft.Materialize(
      comp.where(col("id") === col("component"))
        .select(col("id"), lit(null).cast("string").as("parent"),
          lit(0).as("level")), eager = false)
      .where(col("id").isNotNull) // constraint barrier (GraphQuery.reachable)
    var frontier = visited.select("id")
    var level = 0
    var done = false
    while (!done) {
      level += 1
      require(level <= maxDepth,
        s"bridges: BFS exceeded maxDepth=$maxDepth — deep-path graph; " +
          "raise maxDepth deliberately (chain state is O(V·depth))")
      val cand = sym
        .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("src").as("parent"))
      val newly = graft.Materialize(
        cand.join(visited.select("id"), Seq("id"), "left_anti")
          .groupBy("id").agg(min("parent").as("parent"))
          .withColumn("level", lit(level)), eager = false)
        .where(col("id").isNotNull) // constraint barrier
      if (newly.count() == 0) done = true
      else {
        visited = graft.Materialize(visited.union(newly), eager = false)
          .where(col("id").isNotNull)
        frontier = newly.select("id")
      }
    }

    val emptyChain = array().cast("array<struct<c:string,p:string>>")
    var state = visited.select(col("id"),
      coalesce(col("parent"), col("id")).as("top"),
      when(col("parent").isNotNull,
        array(struct(col("id").as("c"), col("parent").as("p"))))
        .otherwise(emptyChain).as("chain"))
    val maxLevel = level - 1 // last round added nothing
    var span = 1
    while (span < maxLevel) {
      val s2 = state.select(col("id").as("__jid"), col("top").as("__top2"),
        col("chain").as("__chain2"))
      state = graft.Materialize(
        state.join(s2, col("top") === col("__jid"))
          .select(col("id"), col("__top2").as("top"),
            concat(col("chain"), col("__chain2")).as("chain")),
        eager = false)
        .where(col("id").isNotNull) // constraint barrier
      span *= 2
    }

    val treeEdges = visited.where(col("parent").isNotNull)
      .select(col("id").as("c"), col("parent").as("p"))
    val treeNorm = treeEdges.select(
      least(col("c"), col("p")).as("a"), greatest(col("c"), col("p")).as("b"))
    val nonTree = und.join(treeNorm, Seq("a", "b"), "left_anti")

    val su = state.select(col("id").as("a"), col("chain").as("__cu"))
    val sv = state.select(col("id").as("b"), col("chain").as("__cv"))
    val cover = nonTree.join(su, Seq("a")).join(sv, Seq("b"))
      .select(col("a").as("na"), col("b").as("nb"),
        explode(concat(
          array_except(col("__cu"), col("__cv")),
          array_except(col("__cv"), col("__cu")))).as("e"))
      .select(col("na"), col("nb"),
        col("e.c").as("c"), col("e.p").as("p"))

    (treeEdges, nonTree, cover)
  }
}
