package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — the directed twin
  * of the corpus CC pass (`canon/ConnectedComponents` is undirected): cycle
  * detection in dependency/citation/ownership KGs, condensation before
  * topological scheduling, and the "mutual sameAs/redirect" collapse where
  * edge direction carries meaning so weak connectivity over-merges.
  *
  * Algorithm: the COLORING method (Orzan; the FW-BW family's data-parallel
  * form — the standard distributed SCC, since Tarjan's DFS is inherently
  * sequential):
  *
  *   1. TRIM — nodes with no intra-remaining in-edge or out-edge are
  *      singleton SCCs; repeat until none (chains/DAG tails fall out here
  *      without any propagation round).
  *   2. COLOR — forward max-label propagation to fixpoint: color(v) = the
  *      largest node id that reaches v. Semi-naive is unsound for max
  *      (a later larger color must re-relax already-visited nodes), so
  *      each round is the full (colors ⋈ edges) max-aggregate, but rounds
  *      = color-region diameter and the edge exchange layout is reused.
  *   3. HARVEST — roots are nodes with color(v) = v; SCC(r) = the nodes of
  *      color r that REACH r, found by one multi-source backward BFS from
  *      all roots simultaneously, restricted to same-color nodes (sound:
  *      any v→r path inside SCC(r) visits only SCC(r) members, which all
  *      carry color r — proof in SccSpec's naive cross-check).
  *   4. Remove harvested nodes, repeat. Every root's SCC is harvested each
  *      round, so remaining strictly shrinks; `maxRounds` guards
  *      pathological SCC-chains (each round then peels the chain's max).
  *
  * Labels: scc = MIN member id (the dupGroups/CC convention), computed by
  * one group-scale relabel at the end — internally the coloring tracks max
  * because "largest id wins" needs no tie rule. Ids compare as STRINGS
  * (the triple-store subject model); integral id columns get an
  * order-preserving sign-prefixed padding internally (negatives included —
  * see `enc`) and decode back, so unpadded numeric ids cannot mislabel.
  *
  * Scale: per round, work is |remaining edges| per propagation step — the
  * PageRank shape, all equi joins + key aggregates (AQE-skew-splittable).
  * Each step is ONE lazily-materialized job (the signature/count action
  * stores the checkpoint — the CC discipline). Real KGs are DAG-ish with
  * small cores: TRIM deletes the DAG part in O(longest tail) cheap rounds
  * and coloring only ever runs on the cyclic residue. When the edges fit
  * the driver budget (`graft.Local`) the problem solves driver-side with
  * iterative Tarjan (identical contract, none of the per-round stage
  * latency) — the same hybrid as ConnectedComponents.run.
  */
object Scc {

  /** @param edges directed (srcCol, dstCol); self-loops are singletons,
    *        duplicates collapse.
    * @return (id, scc) for every node appearing in `edges`; scc = min
    *         member id of the node's strongly connected component. */
  def components(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 30, maxPropRounds: Int = 100): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val integral = graft.ops.Ids.integral(edges, srcCol, dstCol)
    // order-preserving integral encoding, NEGATIVES INCLUDED (ids
    // routinely come from xxhash64, negative half the time) — the shared
    // sign-prefixed codec, see graft.ops.Ids
    def enc(c: org.apache.spark.sql.Column) =
      if (integral) graft.ops.Ids.encodeOrdered(c) else c.cast("string")
    def dec(c: org.apache.spark.sql.Column) = graft.ops.Ids.decodeOrdered(c)

    val cleaned = edges
      .select(enc(col(srcCol)).as("src"), enc(col(dstCol)).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

    // hybrid gate: one take() both sizes and collects (the CC discipline)
    val labeled = graft.Local.take(cleaned, "scc", graft.Local.maxEntries(spark)) match {
      case Some(head) => tarjanLocal(spark, head.map(_.getString(0)), head.map(_.getString(1)))
      case None => distributed(cleaned, maxRounds, maxPropRounds)
    }

    // relabel root -> min member id (group-scale, not graph-scale)
    val mins = labeled.groupBy(col("scc").as("k")).agg(min(col("id")).as("lbl"))
    val out = labeled.join(mins, labeled("scc") === mins("k"))
      .select(col("id"), col("lbl").as("scc"))
    if (integral)
      out.select(dec(col("id")).as("id"), dec(col("scc")).as("scc"))
    else out
  }

  private def sig(df: DataFrame): (Long, Long) = {
    val row = df.agg(count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(id, lbl))"), lit(0L)).as("h")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Distributed trim+color+harvest loop. Returns (id, scc) with scc = the
    * component's MAX member (relabeled to min by the caller). */
  private def distributed(cleaned: DataFrame, maxRounds: Int,
      maxPropRounds: Int): DataFrame = {
    var remaining = graft.Materialize(cleaned
      .select(col("src").as("id")).union(cleaned.select(col("dst").as("id")))
      .distinct(), eager = false)
    var remEdges = graft.Materialize(
      cleaned.where(col("src") =!= col("dst")), eager = false)
    var acc: DataFrame = null
    def add(part: DataFrame): Unit =
      acc = if (acc == null) part else acc.union(part)

    var round = 0
    var nRemaining = remaining.count()
    while (nRemaining > 0) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"SCC did not finish in $maxRounds harvest rounds " +
            s"($nRemaining nodes left); raise maxRounds (rounds are bounded " +
            "by the graph's SCC-chain depth)")

      // ---- TRIM to fixpoint: no in-edge or no out-edge => singleton
      var trimming = true
      while (trimming && nRemaining > 0) {
        val trivial = graft.Materialize(
          remaining.join(remEdges.select(col("src").as("id")).distinct(),
              Seq("id"), "left_anti")
            .union(remaining.join(
              remEdges.select(col("dst").as("id")).distinct(),
              Seq("id"), "left_anti"))
            .distinct(), eager = false)
        val nTrivial = trivial.count()
        if (nTrivial == 0) trimming = false
        else {
          add(trivial.select(col("id"), col("id").as("scc")))
          remaining = graft.Materialize(
            remaining.join(trivial, Seq("id"), "left_anti"), eager = false)
          remEdges = graft.Materialize(remEdges
            .join(trivial.select(col("id").as("src")), Seq("src"), "left_anti")
            .join(trivial.select(col("id").as("dst")), Seq("dst"), "left_anti")
            .select("src", "dst"), eager = false)
          nRemaining -= nTrivial
        }
      }
      if (nRemaining == 0) {
        // loop exits on the count at the top
      } else {
        // ---- COLOR: full forward max propagation to fixpoint
        var colors = graft.Materialize(
          remaining.select(col("id"), col("id").as("lbl")), eager = false)
        var s = sig(colors)
        var converged = false
        var prop = 0
        while (!converged) {
          prop += 1
          if (prop > maxPropRounds)
            throw new IllegalStateException(
              s"SCC color propagation did not converge in $maxPropRounds " +
                "rounds; raise maxPropRounds (rounds = color-region diameter)")
          val pushed = colors.join(remEdges, colors("id") === remEdges("src"))
            .select(col("dst").as("id"), col("lbl"))
          val next = graft.Materialize(
            colors.union(pushed).groupBy("id").agg(max("lbl").as("lbl")),
            eager = false)
          val s2 = sig(next)
          converged = s2 == s
          s = s2
          colors = next
        }

        // ---- HARVEST: multi-source backward BFS from roots within color
        val roots = colors.where(col("id") === col("lbl"))
          .select(col("id"), col("lbl").as("scc"))
        var members = graft.Materialize(roots, eager = false)
        var frontier = members
        var growing = true
        while (growing) {
          val next = graft.Materialize(
            frontier.join(remEdges, frontier("id") === remEdges("dst"))
              .select(remEdges("src").as("id"), col("scc"))
              .join(colors, Seq("id"))
              .where(col("lbl") === col("scc")) // stay inside the color
              .select(col("id"), col("scc")).distinct()
              .join(members, Seq("id"), "left_anti"),
            eager = false)
          val n = next.count()
          if (n == 0) growing = false
          else {
            members = graft.Materialize(members.union(next), eager = false)
            frontier = next
          }
        }
        add(members)
        remaining = graft.Materialize(
          remaining.join(members, Seq("id"), "left_anti"), eager = false)
        remEdges = graft.Materialize(remEdges
          .join(members.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(members.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .select("src", "dst"), eager = false)
        nRemaining = remaining.count()
      }
    }
    if (acc == null) {
      val spark = cleaned.sparkSession
      import spark.implicits._
      spark.emptyDataset[(String, String)].toDF("id", "scc")
    } else acc
  }

  /** Driver-side ITERATIVE Tarjan over the directed CSR (explicit
    * stacks — no recursion, so a long chain cannot blow the JVM stack).
    * Labels each node with its component's DFS root, which the caller
    * relabels to the min member as it does the distributed path's max;
    * SccSpec locks the parity. */
  private def tarjanLocal(spark: org.apache.spark.sql.SparkSession,
      src: Array[String], dst: Array[String]): DataFrame = {
    import spark.implicits._
    val g = graft.Local.denseOf(src, dst)
    val adj = graft.Local.directed(g)
    val n = g.n
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val next = new Array[Int](n) // each node's next CSR slot to explore
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n) // Tarjan's component stack
    val work = new Array[Int](n) // the DFS path
    val label = new Array[Int](n)
    var (sp, wp, counter) = (0, 0, 0)
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      next(v) = adj.off(v); work(wp) = v; wp += 1
    }
    for (start <- 0 until n if index(start) < 0) {
      visit(start)
      while (wp > 0) {
        val v = work(wp - 1)
        if (next(v) < adj.off(v + 1)) {
          val w = adj.nbr(next(v))
          next(v) += 1
          if (index(w) < 0) visit(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          wp -= 1
          if (low(v) == index(v)) {
            var w = -1
            while (w != v) { sp -= 1; w = stack(sp); onStack(w) = false; label(w) = v }
          }
          if (wp > 0) { val p = work(wp - 1); low(p) = math.min(low(p), low(v)) }
        }
      }
    }
    (0 until n).map(v => (g.ids(v), g.ids(label(v)))).toDF("id", "scc")
  }
}
