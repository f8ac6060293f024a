package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic DeepWalk-style random walks over the KG — the corpus
  * generator for graph-embedding training (DeepWalk/node2vec: walks become
  * "sentences" fed to a skip-gram model) and for neighborhood sampling.
  * The walk distribution is uniform over out-neighbors, but the "random"
  * choice is a pure function of (seed, walk_id, step): step s moves from
  * the current node to `nbrs[pmod(xxhash64(seed, walk_id, s), deg)]` over
  * the node's SORTED distinct neighbor array. That makes the output
  * bit-identical across runs, partition layouts and cluster sizes — the
  * same determinism contract as PageRank's fixed-point arithmetic and the
  * idempotence property that lets an incremental pipeline regenerate
  * walks without invalidating downstream shards. xxhash64 is the engine's
  * standard keyed-PRNG primitive (minhash, salting, stratified sampling);
  * an independent replay only needs the walk logic, not engine plumbing.
  *
  * A walk halts early at a node with no out-neighbors (the DeepWalk
  * convention) — the emitted path is just shorter.
  *
  * Scale shape: the adjacency table (src → sorted neighbor array) is
  * built once (one groupBy) and reused every step; each step is ONE equi
  * join of the walk-state table against it (walk-scale × node-scale, AQE
  * broadcasts the smaller side when it fits), a narrow projection, and a
  * lazy lineage cut — no per-step action, no driver loop over walks. A
  * length-L run is L joins regardless of walk count. Hub nodes cost
  * nothing extra: the neighbor ARRAY of a mega-hub is one wide row, and
  * only walks currently AT the hub touch it.
  */
object RandomWalks {

  /** Exact local twin of Catalyst's `xxhash64(lit, col, lit, ...)` over
    * long children: chained XxHash64Function folds from the expression's
    * static seed 42 — the minhashSignatureScala parity pattern. */
  private def xx(vals: Long*): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    var h = 42L
    vals.foreach(v => h = XxHash64Function.hash(v, LongType, h))
    h
  }

  private def pmodL(a: Long, m: Long): Long = { val r = a % m; if (r < 0) r + m else r }

  /** Collected adjacency and distinct start ids for the size-gated local
    * replays: None when the driver would hold more than the budget — the
    * neighbour entries plus `length + 1` path entries per walk, both
    * measured in one job. */
  private def localAdj(adj0: DataFrame, starts: DataFrame, startCol: String,
      length: Int): Option[(java.util.HashMap[Long, Array[Long]], Array[Long])] = {
    val sess = adj0.sparkSession
    val ws = walkIds(starts, startCol)
    val sz = adj0.agg(coalesce(sum(size(col("nbrs"))), lit(0L)))
      .crossJoin(ws.agg(count(lit(1)))).head()
    if (!graft.Local.fits(sess, "walks", sz.getLong(0) + sz.getLong(1) * (length + 1L)))
      return None
    val m = new java.util.HashMap[Long, Array[Long]]
    adj0.collect().foreach { r =>
      m.put(r.getLong(0), r.getSeq[Long](1).toArray)
    }
    import sess.implicits._
    Some((m, ws.as[Long].collect()))
  }

  /** One walk per distinct non-null start id (`walk_id`); both the local
    * replays and the per-step joins start from this. */
  private def walkIds(starts: DataFrame, startCol: String): DataFrame =
    starts.select(col(startCol).cast("long").as("walk_id"))
      .where(col("walk_id").isNotNull).distinct()

  /** edges: directed (srcCol, dstCol) castable to long (undirected graphs
    * pass both directions). starts: one walk per row of `startCol`; the
    * walk id IS the start node id. Returns (walk_id, path: array<long>)
    * with path(0) = walk_id and length ≤ length+1. */
  def walks(edges: DataFrame, starts: DataFrame, length: Int, seed: Long = 42L,
      srcCol: String = "src", dstCol: String = "dst",
      startCol: String = "id"): DataFrame = {
    require(length >= 0, "walks: length must be >= 0")
    val adj0 = graft.Materialize(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .groupBy("src").agg(array_sort(collect_set(col("dst"))).as("nbrs")))
    // r6 follow-up: size-gated local replay (the k-core local-peel
    // pattern) — the walk is a pure function of (graph, seed) by design,
    // and the local loop calls the SAME chained XxHash64Function the
    // Catalyst expression compiles to, so it is bit-identical
    // (RandomWalksSpec gate-forces both paths). At gate scale the
    // distributed form is `length` serial checkpoint jobs over a tiny
    // walk-state table; beyond the gate it is unchanged.
    localAdj(adj0, starts, startCol, length).foreach { case (am, startIds) =>
      val sess = edges.sparkSession
      import sess.implicits._
      val out = startIds.map { w =>
        val path = new scala.collection.mutable.ArrayBuffer[Long]
        path += w
        var cur = w
        var step = 1
        var halted = false
        while (step <= length && !halted) {
          val nbrs = am.get(cur)
          if (nbrs == null || nbrs.isEmpty) halted = true
          else {
            cur = nbrs(pmodL(xx(seed, w, step.toLong), nbrs.length.toLong).toInt)
            path += cur
          }
          step += 1
        }
        (w, path.toSeq)
      }
      return out.toSeq.toDF("walk_id", "path")
    }
    // r6: the checkpointed adjacency has no size stats, so every step's
    // left join planned as an SMJ shuffling BOTH the walk state and the
    // adjacency; gate-hint the adjacency (LeftOuter builds right) so a
    // step is one narrow map-side join (guide §3.1).
    val adj = graft.Hints.bcastIf(adj0, adj0.count())
    var state = walkIds(starts, startCol)
      .select(col("walk_id"), col("walk_id").as("cur"),
        array(col("walk_id")).as("path"))
    for (step <- 1 to length) {
      val joined = state.join(adj, state("cur") === adj("src"), "left")
      def nxt = when(col("nbrs").isNotNull, element_at(col("nbrs"),
        (pmod(xxhash64(lit(seed), col("walk_id"), lit(step.toLong)),
          size(col("nbrs")).cast("long")) + lit(1L)).cast("int")))
      state = graft.Materialize(joined.select(
        col("walk_id"),
        coalesce(nxt, col("cur")).as("cur"),
        when(nxt.isNotNull, concat(col("path"), array(nxt))).otherwise(col("path")).as("path")),
        eager = false)
    }
    state.select("walk_id", "path")
  }

  /** Exploded form: (walk_id, step, node) — the shape a skip-gram
    * window generator (or a hash oracle) consumes. */
  def walkSteps(edges: DataFrame, starts: DataFrame, length: Int, seed: Long = 42L,
      srcCol: String = "src", dstCol: String = "dst",
      startCol: String = "id"): DataFrame =
    walks(edges, starts, length, seed, srcCol, dstCol, startCol)
      .select(col("walk_id"), posexplode(col("path")).as(Seq("step", "node")))

  /** node2vec-biased walks — second-order walks where the next-step
    * distribution depends on the PREVIOUS node: a candidate c from cur
    * weighs 1/p if c = prev (return), 1 if c is a neighbor of prev
    * (triangle-closing / BFS-ish), 1/q otherwise (outward / DFS-ish) —
    * the search-bias knobs of the node2vec paper. First step is uniform
    * (prev is initialized to the start, so every candidate is trivially a
    * neighbor of prev and weighs 1).
    *
    * Deterministic weighted choice WITHOUT a cumulative scan: by
    * Efraimidis–Spirakis (A-Res), drawing u_c uniform per candidate and
    * taking argmax of ln(u_c)/w_c samples exactly the w-weighted
    * distribution — and u_c here is a pure hash of (seed, walk_id, step,
    * candidate), so the walk is a pure function of (graph, seed), layout-
    * and cluster-size-independent like everything in this family. Ties
    * (never in practice — u collides at ~2⁻⁵²) break to the larger
    * candidate id, and the replay defines the same order.
    *
    * Scale shape, per step: TWO equi joins onto the adjacency table (cur's
    * and prev's sorted neighbor arrays) and a fully per-row argmax — no
    * candidate explode, no edge-set join, no walk-keyed aggregation, no
    * halted anti-join (a halted walk just rides the left joins with a null
    * array). The neighbor-of-prev split uses hash-set array_intersect /
    * array_except, so per-row work is O(deg(cur) + deg(prev)) — LINEAR,
    * not the O(deg(cur)·deg(prev)) of a per-candidate array_contains probe
    * — inside whole-stage codegen. Shuffle volume per step is the same
    * Σ deg(cur) longs node2vec inherently touches, carried as one array
    * per walk instead of exploded candidate rows (the wide-hub-row
    * trade-off the first-order walks already make); the step count is the
    * serial depth and each step is ONE narrow projection between joins.
    * No alias tables (their per-(prev,cur) precompute is O(Σ deg²) memory
    * — the known node2vec scaling wall), no driver loops. */
  def walksBiased(edges: DataFrame, starts: DataFrame, length: Int,
      p: Double = 1.0, q: Double = 1.0, seed: Long = 42L,
      srcCol: String = "src", dstCol: String = "dst",
      startCol: String = "id"): DataFrame = {
    require(length >= 0, "walksBiased: length must be >= 0")
    require(p > 0 && q > 0, "walksBiased: p and q must be > 0")
    val adj0 = graft.Materialize(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .groupBy("src").agg(array_sort(collect_set(col("dst"))).as("nbrs")))
    // r6 follow-up: size-gated local replay — same contract as `walks`:
    // every per-candidate quantity (hash, the 2^-52 uniform, ln, /w, the
    // (k, c) argmax and the class partition) is a pure per-value IEEE
    // computation with no accumulation order, so the local loop is
    // bit-identical to the per-step joins (RandomWalksSpec gate-forces
    // parity, p/q biases included).
    localAdj(adj0, starts, startCol, length).foreach { case (am, startIds) =>
      val sess = edges.sparkSession
      import sess.implicits._
      val mm = 1L << 52
      val out = startIds.map { w =>
        val path = new scala.collection.mutable.ArrayBuffer[Long]
        path += w
        var prev = w; var cur = w
        var step = 1
        var halted = false
        while (step <= length && !halted) {
          val nbrs = am.get(cur)
          if (nbrs == null || nbrs.isEmpty) halted = true
          else {
            val pn = am.get(prev)
            def keyOf(c: Long): Double = {
              val u = (pmodL(xx(seed, w, step.toLong, c), mm) + 1L).toDouble / mm.toDouble
              math.log(u)
            }
            var bestK = Double.NaN; var bestC = 0L; var found = false
            def consider(c: Long, wgt: Double): Unit = {
              val k = keyOf(c) / wgt
              // struct (k, c) lexicographic max — larger id wins exact ties
              if (!found || k > bestK || (k == bestK && c > bestC)) {
                bestK = k; bestC = c; found = true
              }
            }
            nbrs.foreach { c =>
              val inPn = pn != null && java.util.Arrays.binarySearch(pn, c) >= 0
              if (inPn) consider(c, 1.0)
              else if (c == prev) consider(c, 1.0 / p)
              else consider(c, 1.0 / q)
            }
            prev = cur
            cur = bestC
            path += cur
          }
          step += 1
        }
        (w, path.toSeq)
      }
      return out.toSeq.toDF("walk_id", "path")
    }
    val nAdj = adj0.count()
    val adj = graft.Hints.bcastIf(adj0, nAdj)
    val padj = graft.Hints.bcastIf(
      adj0.select(col("src").as("p_src"), col("nbrs").as("p_nbrs")), nAdj)
    // constraint barrier after lazy checkpoints (see GraphQuery.reachable)
    def barrier(df: DataFrame): DataFrame = df.where(col("walk_id").isNotNull)
    val m = 1L << 52
    var state = walkIds(starts, startCol)
      .select(col("walk_id"), col("walk_id").as("prev"),
        col("walk_id").as("cur"), array(col("walk_id")).as("path"))
    for (step <- 1 to length) {
      val j = state
        .join(adj, state("cur") === adj("src"), "left")
        .join(padj, state("prev") === col("p_src"), "left")
      def key(c: Column): Column = {
        val u = (pmod(xxhash64(lit(seed), col("walk_id"), lit(step.toLong), c),
          lit(m)) + lit(1L)).cast("double") / lit(m.toDouble)
        log(u)
      }
      def bestOf(arr: Column, w: Double): Column =
        array_max(transform(arr, c => struct((key(c) / lit(w)).as("k"), c.as("c"))))
      // prev ∉ adj(prev) (self-loops dropped), so the three candidate
      // classes partition nbrs exactly: triangle-closers = nbrs ∩ pn,
      // the return move = {prev} ∩ nbrs, outward = the rest. greatest()
      // skips the nulls empty classes produce; struct order (k, c) is the
      // replay's lexicographic (key, larger-id) tie-break.
      val pn = coalesce(col("p_nbrs"), array().cast("array<long>"))
      val best = greatest(
        bestOf(array_intersect(col("nbrs"), pn), 1.0),
        bestOf(array_except(array_except(col("nbrs"), pn), array(col("prev"))), 1.0 / q),
        bestOf(array_intersect(col("nbrs"), array(col("prev"))), 1.0 / p))
      state = barrier(graft.Materialize(j.select(
        col("walk_id"),
        when(best.isNull, col("prev")).otherwise(col("cur")).as("prev"),
        coalesce(best.getField("c"), col("cur")).as("cur"),
        when(best.isNull, col("path"))
          .otherwise(concat(col("path"), array(best.getField("c")))).as("path")),
        eager = false))
    }
    state.select("walk_id", "path")
  }

  /** Skip-gram training pairs from walks — the step DeepWalk/node2vec
    * actually feeds to the embedding model: every (center, context) node
    * pair co-occurring within `window` positions on the same walk, with
    * multiplicity, returned COUNTED as (center, context, n_pairs).
    *
    * The window expansion is PER ROW over the walk's path array (higher-
    * order functions inside whole-stage codegen): each walk emits its own
    * pairs with no self-join and no shuffle — the only exchange is the
    * final (center, context) count aggregation, which is also what keeps
    * the output bounded (≤ 2·w·Σ|path| raw pairs, counted down to the
    * distinct co-occurrence vocabulary). A walk-id self-join would shuffle
    * the step table twice and skew on long walks; the array form keeps
    * locality and is how the corpus would stream at 100 TB.
    *
    * A node pairs with its OWN id at another position (self co-occurrence
    * on revisits) — kept, matching word2vec semantics where identical
    * tokens in one window do pair. Positions pair symmetrically, so
    * (a, b, n) implies (b, a, n). */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "skipGramPairs: window must be >= 1")
    walks
      .select(explode(expr(
        s"""flatten(transform(path, (c, i) ->
           |  transform(
           |    filter(transform(path, (x, j) -> struct(x as x, j as j)),
           |           s -> s.j != i AND abs(s.j - i) <= $window),
           |    s -> struct(c as center, s.x as context))))""".stripMargin))
        .as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n_pairs"))
  }
}
