package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Basic-graph-pattern matching — the QUERY surface of a triple store.
  * A pattern is a (s, p, o) template where a term starting with `?` is a
  * variable and anything else is a constant; a BGP is a conjunction of
  * patterns sharing variables (the SPARQL `WHERE { ... }` core). The
  * result is one row per binding, one column per distinct variable in
  * first-appearance order, bag semantics (duplicate bindings preserved,
  * as SPARQL defines — wrap in `.distinct()` for set semantics).
  *
  * Execution is pure Catalyst: each pattern compiles to a filtered scan
  * of the triple table (constants → pushed-down equality predicates) and
  * the conjunction folds into equi joins on the shared variables (cross
  * join only when a pattern is genuinely disconnected). No custom
  * operator is needed — the optimizer reorders/broadcasts the joins like
  * any star query.
  *
  * Scale: feed it `Pipeline.readGraph` output — the store partitions by
  * `pred`, so a constant-predicate pattern prunes to one predicate
  * directory at the scan (the common case: real BGPs bind every
  * predicate), and a constant SUBJECT additionally routes through
  * `TripleStore.readForSubjects`-style bucket pruning when the caller
  * pre-restricts. A k-pattern BGP is k-1 joins of predicate-sized (not
  * store-sized) inputs — the same shape a relational star query has.
  */
object GraphQuery {
  private def isVar(t: String): Boolean = t.startsWith("?")

  /** triples: (subj, pred, obj) columns (string obj — the store model).
    * patterns: SPARQL-style templates, e.g.
    * `Seq(("?c", "in_nation", "?n"), ("?s", "supplies_nation", "?n"))`. */
  def bgp(triples: DataFrame, patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "bgp: at least one pattern")
    val (result, bound) = compilePatterns(triples, patterns)
    result.select(bound.map(col): _*)
  }

  /** Compile a conjunction of patterns to (joined frame, variables in
    * first-appearance order). Shared by `bgp` and `bgpOpt`. */
  private def compilePatterns(triples: DataFrame,
      patterns: Seq[(String, String, String)]): (DataFrame, Vector[String]) = {
    val positions = Seq("subj", "pred", "obj")
    val pieces = patterns.map { case (s, p, o) =>
      compileTerms(triples, Seq(s, p, o).zip(positions))
    }
    joinPieces(pieces)
  }

  /** One pattern's scan: constants → pushed-down filters, repeated
    * variables within the pattern → positional equality, projection to
    * the pattern's variables. `terms` pairs each template term with the
    * column it binds in `scan0`. */
  private def compileTerms(scan0: DataFrame,
      terms: Seq[(String, String)]): (DataFrame, Seq[String]) = {
    var scan = scan0
    terms.foreach { case (t, c) => if (!isVar(t)) scan = scan.where(col(c) === lit(t)) }
    val varPos = terms.collect { case (t, c) if isVar(t) => (t.drop(1), c) }
    varPos.groupBy(_._1).values.filter(_.length > 1).foreach { dup =>
      dup.sliding(2).foreach { w => scan = scan.where(col(w(0)._2) === col(w(1)._2)) }
    }
    val varsHere = varPos.map(_._1).distinct
    (scan.select(varsHere.map { v =>
      col(varPos.find(_._1 == v).get._2).as(v)
    }: _*), varsHere)
  }

  /** Fold compiled pattern pieces into the conjunction: equi join on the
    * variables shared with the solution so far (cross join only for a
    * genuinely disconnected pattern), variables accumulated in
    * first-appearance order. */
  private def joinPieces(pieces: Seq[(DataFrame, Seq[String])]): (DataFrame, Vector[String]) = {
    var result: DataFrame = null
    var bound = Vector.empty[String] // first-appearance order
    pieces.foreach { case (projected, varsHere) =>
      if (result == null) result = projected
      else {
        val shared = bound.filter(varsHere.contains)
        result =
          if (shared.isEmpty) result.crossJoin(projected)
          else result.join(projected, shared)
      }
      bound = bound ++ varsHere.filterNot(bound.contains)
    }
    (result, bound)
  }

  /** SPARQL 1.1 aggregates + solution modifiers — `GROUP BY` / `HAVING`
    * / `ORDER BY` / `LIMIT` over a BGP's solution bag (the analytics form
    * every KG consumer reaches next after plain matching: per-entity
    * triple counts, per-class statistics, top-k rollups). `groupVars`
    * name bound variables (no `?`); `aggs` are aggregate Columns over
    * variable columns (`count`, `sum(col("x").cast(...))`,
    * `countDistinct`, ... — SPARQL's aggregate set is exactly Spark's);
    * `having` filters apply to the aggregated rows, `orderBy`/`limit`
    * are the solution modifiers.
    *
    * SPARQL semantics preserved: aggregation is over the solution BAG
    * (duplicate bindings count); an empty `groupVars` is the implicit
    * single group — one output row even over zero solutions, with
    * `COUNT = 0` and value aggregates unbound (null), exactly the spec's
    * empty-sequence rule; `groupVars` with EMPTY `aggs` degenerates to
    * the distinct group keys (SELECT of grouped variables only). With
    * both empty there is nothing to compute — rejected.
    *
    * Scale shape: the BGP compiles as usual (predicate-pruned scans +
    * equi joins); the aggregation is one hash-partial/final pair on the
    * group keys (map-side combine collapses per-task duplicates before
    * the exchange); HAVING prunes post-aggregate (group-scale, tiny);
    * ORDER BY + LIMIT plan as TakeOrdered when bounded — no global sort
    * materializes. */
  def bgpAgg(triples: DataFrame, patterns: Seq[(String, String, String)],
      groupVars: Seq[String], aggs: Seq[org.apache.spark.sql.Column],
      having: Seq[org.apache.spark.sql.Column] = Nil,
      orderBy: Seq[org.apache.spark.sql.Column] = Nil,
      limit: Int = -1): DataFrame = {
    require(patterns.nonEmpty, "bgpAgg: at least one pattern")
    require(groupVars.nonEmpty || aggs.nonEmpty,
      "bgpAgg: need group variables or aggregates")
    val (base, bound) = compilePatterns(triples, patterns)
    groupVars.foreach(v => require(bound.contains(v),
      s"bgpAgg: GROUP BY ?$v is not bound by the pattern"))
    var out =
      if (aggs.isEmpty) base.select(groupVars.map(col): _*).distinct()
      else if (groupVars.isEmpty) base.agg(aggs.head, aggs.tail: _*)
      else base.groupBy(groupVars.map(col): _*).agg(aggs.head, aggs.tail: _*)
    having.foreach { h => out = out.where(h) }
    if (orderBy.nonEmpty) out = out.orderBy(orderBy: _*)
    if (limit >= 0) out = out.limit(limit)
    out
  }

  /** BGP whose predicate positions are PROPERTY PATHS — the composed
    * query surface (SPARQL 1.1 §9): each pattern is (s, path, o) with
    * `path` a [[PropertyPath.Path]] expression (`Pred("p")` for a plain
    * step), and the conjunction joins on shared variables exactly like
    * `bgp`. A variable repeated within one pattern (`?x path ?x`) binds
    * both ends to the same term (cycle membership). SPARQL forbids
    * variables in the path itself, so the path is always constant.
    *
    * Semantics: each path pattern evaluates to its DISTINCT (src, dst)
    * pairs ([[PropertyPath.pairs]] — the spec's set-semantics ALP rule
    * for non-trivial paths; for a trivial `Pred` leaf the distinct is a
    * no-op because an RDF graph is a SET of triples), and the join fold
    * then composes bindings relationally, so multiplicities arise only
    * from genuine multi-way matches, never from path route counts.
    *
    * Scale shape: a `Pred` leaf is a predicate-pruned scan; closures are
    * semi-naive ([[GraphQuery.reachable]]); the conjunction is the same
    * equi-join fold as `bgp`, all broadcast/reorder decisions left to
    * Catalyst + AQE. */
  def bgpPaths(triples: DataFrame,
      patterns: Seq[(String, PropertyPath.Path, String)]): DataFrame = {
    require(patterns.nonEmpty, "bgpPaths: at least one pattern")
    val pieces = patterns.map { case (s, path, o) =>
      compileTerms(PropertyPath.pairs(triples, path), Seq(s -> "src", o -> "dst"))
    }
    val (result, bound) = joinPieces(pieces)
    require(bound.nonEmpty,
      "bgpPaths: no variables bound by the patterns (use PropertyPath.pairs for an ASK-style probe)")
    // a constant-only pattern contributes at most ONE row (the pair set is
    // distinct), so its crossJoin is a pure existence filter — SPARQL's
    // constant-pattern semantics, no bag inflation
    result.select(bound.map(col): _*)
  }

  /** BGP with SPARQL `OPTIONAL` groups and group-level `FILTER`s — the
    * rest of the SPARQL WHERE-clause core. Each optional group is a
    * conjunction compiled like a BGP and then LEFT-JOINED to the solution
    * on its shared variables (exactly SPARQL's OPTIONAL = left outer join
    * with the group's internal joins evaluated first); variables bound
    * only in an unmatched optional come back null, as SPARQL leaves them
    * unbound. Groups apply in order, so a later group may join on a
    * variable a previous optional introduced. `filters` are Column
    * predicates over variable columns applied AFTER all joins (top-level
    * FILTER placement; null-valued optional variables make a comparison
    * filter false, matching SPARQL's error-→-false semantics).
    *
    * Scale shape: identical to `bgp` — each group is predicate-pruned
    * scans + equi joins; the left join broadcasts whichever side AQE
    * finds small, and a constant-predicate optional prunes to one
    * predicate directory of the store. */
  def bgpOpt(triples: DataFrame, patterns: Seq[(String, String, String)],
      optionals: Seq[Seq[(String, String, String)]] = Nil,
      filters: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    require(patterns.nonEmpty, "bgpOpt: at least one required pattern")
    var (result, bound) = compilePatterns(triples, patterns)
    optionals.foreach { grp =>
      require(grp.nonEmpty, "bgpOpt: empty optional group")
      val (odf, ovars) = compilePatterns(triples, grp)
      val shared = bound.filter(ovars.contains)
      require(shared.nonEmpty,
        s"bgpOpt: optional group $grp shares no variable with the solution")
      result = result.join(odf, shared, "left")
      bound = bound ++ ovars.filterNot(bound.contains)
    }
    filters.foreach { f => result = result.where(f) }
    result.select(bound.map(col): _*)
  }

  /** SPARQL `UNION` — the bag union of the branches' solution mappings.
    * Each branch is a conjunction compiled like a BGP; the result schema
    * is the union of the branches' variables in first-appearance order
    * across branches, and a variable absent from a branch comes back null
    * for that branch's rows (unbound, as SPARQL leaves it). Bag
    * semantics: UNION does not deduplicate.
    *
    * Scale shape: each branch is predicate-pruned scans + equi joins like
    * `bgp`; the union itself is a no-shuffle concatenation. */
  def bgpUnion(triples: DataFrame,
      branches: Seq[Seq[(String, String, String)]]): DataFrame = {
    require(branches.nonEmpty && branches.forall(_.nonEmpty),
      "bgpUnion: at least one non-empty branch")
    val compiled = branches.map(compilePatterns(triples, _))
    val allVars = compiled.foldLeft(Vector.empty[String]) { case (acc, (_, vs)) =>
      acc ++ vs.filterNot(acc.contains)
    }
    compiled.map { case (df, vs) =>
      df.select(allVars.map(v =>
        (if (vs.contains(v)) col(v) else lit(null).cast("string")).as(v)): _*)
    }.reduce(_.unionByName(_))
  }

  /** SPARQL `MINUS` — remove solutions for which a COMPATIBLE solution of
    * the removal pattern exists, where compatibility is agreement on the
    * SHARED variables. The spec quirk is preserved: when the two patterns
    * share NO variable, no solution is compatible with anything and MINUS
    * removes NOTHING (SPARQL 1.1 §8.3.3) — that is exactly where MINUS
    * and NOT EXISTS part ways, see `bgpNotExists`.
    *
    * Scale shape: one left anti join on the shared variables (a
    * predicate-pruned, broadcastable side), after each side's BGP
    * compiles as usual. */
  def bgpMinus(triples: DataFrame, patterns: Seq[(String, String, String)],
      minusPatterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty && minusPatterns.nonEmpty,
      "bgpMinus: both pattern groups must be non-empty")
    val (base, bound) = compilePatterns(triples, patterns)
    val (neg, nvars) = compilePatterns(triples, minusPatterns)
    val shared = bound.filter(nvars.contains)
    val out =
      if (shared.isEmpty) base // the SPARQL MINUS disjoint-pattern quirk
      else base.join(neg.select(shared.map(col): _*), shared, "left_anti")
    out.select(bound.map(col): _*)
  }

  /** SPARQL `FILTER NOT EXISTS` — remove solutions under which the inner
    * pattern (with the solution's bindings substituted) has a match.
    * With shared variables this is the same anti join as MINUS; with NO
    * shared variables the inner pattern is uncorrelated, so if it has ANY
    * match every solution is removed (the other side of the MINUS/NOT
    * EXISTS divergence — SPARQL 1.1 §8.3.3's example pair). The
    * uncorrelated probe is a crossJoin against a 1-row-or-empty distinct,
    * not a driver-side count. */
  def bgpNotExists(triples: DataFrame, patterns: Seq[(String, String, String)],
      innerPatterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty && innerPatterns.nonEmpty,
      "bgpNotExists: both pattern groups must be non-empty")
    val (base, bound) = compilePatterns(triples, patterns)
    val (neg, nvars) = compilePatterns(triples, innerPatterns)
    val shared = bound.filter(nvars.contains)
    val out =
      if (shared.nonEmpty) base.join(neg.select(shared.map(col): _*), shared, "left_anti")
      else base.join(neg.limit(1).select(lit(1).as("__hit")), lit(true), "left_anti")
    out.select(bound.map(col): _*)
  }

  /** SPARQL `CONSTRUCT` — instantiate a triple TEMPLATE once per solution
    * of the WHERE pattern: the graph-transformation primitive (reshape,
    * vocabulary mapping, materializing a derived relation as triples the
    * store can ingest). Template terms are `?var` references into the
    * WHERE bindings or constants; the result is a GRAPH, so set semantics
    * (SPARQL merges the per-solution instantiations into one RDF graph —
    * duplicates collapse), columns (subj, pred, obj).
    *
    * Scale shape: the WHERE compiles like `bgp`; each template triple is
    * a narrow projection of the binding table; k template triples union
    * into one distinct — the only data-scale shuffle. */
  def construct(triples: DataFrame, patterns: Seq[(String, String, String)],
      template: Seq[(String, String, String)]): DataFrame = {
    require(template.nonEmpty, "construct: empty template")
    val (bindings, bound) = compilePatterns(triples, patterns)
    def term(t: String): org.apache.spark.sql.Column =
      if (isVar(t)) {
        require(bound.contains(t.drop(1)),
          s"construct: template variable $t is not bound by the WHERE pattern")
        col(t.drop(1))
      } else lit(t)
    template.map { case (s, p, o) =>
      bindings.select(term(s).as("subj"), term(p).as("pred"), term(o).as("obj"))
    }.reduce(_.union(_)).distinct()
  }

  /** Graph DIFF — what changed between two triple-set versions (two store
    * snapshots / time-travel reads, last night's build vs tonight's): the
    * regression audit every production KG pipeline runs before promoting
    * a build. Returns (subj, pred, obj, change) with change ∈ added |
    * removed; unchanged triples are absent. Each side is read with set
    * semantics (a triple present twice on one side is that side's triple
    * once).
    *
    * Scale shape: ONE shuffle — both sides union with a presence flag and
    * group by the triple; the change class falls out of the two flags'
    * max. No except-pair (two anti joins = two shuffles), no driver
    * collection. */
  def diff(before: DataFrame, after: DataFrame): DataFrame = {
    def side(df: DataFrame, f: Int) = df
      .select(col("subj").cast("string").as("subj"),
        col("pred").cast("string").as("pred"), col("obj").cast("string").as("obj"))
      .select(col("subj"), col("pred"), col("obj"),
        lit(1 - f).as("in_before"), lit(f).as("in_after"))
    side(before, 0).union(side(after, 1))
      .groupBy("subj", "pred", "obj")
      .agg(max("in_before").as("b"), max("in_after").as("a"))
      .where(col("b") =!= col("a"))
      .select(col("subj"), col("pred"), col("obj"),
        when(col("a") === 1, lit("added")).otherwise(lit("removed")).as("change"))
  }

  /** Transitive reachability — the SPARQL property path `pred+` (and the
    * recursive-CTE idiom every KG consumer writes next after BGPs:
    * `sameAs+` canonical chains, taxonomy roll-ups, org hierarchies).
    * Returns the DISTINCT (src, dst) pairs connected by a directed path of
    * length ≥ 1 (≤ `maxHops` when bounded). Set semantics, like SPARQL
    * paths and SQL `WITH RECURSIVE ... UNION`; a node in a cycle reaches
    * itself.
    *
    * Evaluation is SEMI-NAIVE (the Datalog strategy): each round joins
    * only the DELTA — pairs first discovered last round — against the
    * edge table, then anti-joins the accumulated closure, so per-round
    * work is |Δ ⋈ E|, never |closure|² and never a re-derivation of known
    * pairs. Rounds = the graph's longest shortest path (diameter), which
    * for the chains KGs actually have (sameAs, broader-than) is small.
    * Termination is guaranteed even with cycles: the closure is bounded
    * and the anti join makes every round's delta strictly new.
    *
    * Job discipline matches ConnectedComponents: the delta is LAZILY
    * materialized and its `count()` is the one action per round — it
    * computes and stores the delta AND (first consumption) the previous
    * round's closure checkpoint, so a round costs one job, keeping the
    * loop's serial component flat as executors scale. */
  def reachable(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxHops: Int = Int.MaxValue): DataFrame = {
    require(maxHops >= 1, "reachable: maxHops must be >= 1")
    val e = graft.Materialize(edges
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // r6: the loop tracks exact row counts of the edge table and the
    // growing closure anyway, so gate-hint both per-round joins
    // (guide §3.1): edge side of the delta join, closure side of the
    // anti join. Within the gate a round is one distinct shuffle; beyond
    // it the SMJ rounds are unchanged.
    val nE = e.count()
    // r6: size-gated driver-local closure (the k-core local-peel / BFS
    // pattern): the reachable-pair set is a unique function of the graph,
    // so per-source BFS and the semi-naive rounds provably agree
    // (GraphQuerySpec gate-forces both). The closure can be quadratic
    // even under the edge gate, so the local run aborts back to the
    // distributed loop past the pair budget — a bounded probe.
    // A closure pair weighs 2 budget entries, its two ids (this keeps the
    // 4M-pair switch point).
    val sess = edges.sparkSession
    val budget = graft.Local.maxEntries(sess)
    if (graft.Local.fits(sess, "reachable", nE)) {
      import sess.implicits._
      val es = e.as[(String, String)].collect()
      val g = graft.Local.denseOf(es.map(_._1), es.map(_._2))
      val bfs = new graft.Local.Bfs(graft.Local.directed(g))
      val out = new scala.collection.mutable.ArrayBuffer[(String, String)]
      var s = 0
      while (s < g.n && 2L * out.length <= budget) {
        // (s, s) IS emitted when a cycle returns (the semi-naive closure
        // contains it); hops in the distributed loop count JOIN rounds
        // (paths of length maxHops are included), BFS depth matches
        bfs.run(s, maxHops)
        var i = 1
        while (i < bfs.size) { out += ((g.ids(s), g.ids(bfs.order(i)))); i += 1 }
        if (bfs.returned) out += ((g.ids(s), g.ids(s)))
        s += 1
      }
      if (graft.Local.fits(sess, "reachable.pairs", 2L * out.length))
        return out.toSeq.toDF("src", "dst")
      // else fall through to the distributed loop
    }
    var nClosure = nE
    var closure = e
    var delta = e
    var hops = 1
    var done = false
    while (!done && hops < maxHops) {
      val next = graft.Materialize(
        delta.as("d").join(graft.Hints.bcastIf(e, nE).as("e"),
            col("d.dst") === col("e.src"))
          .select(col("d.src").as("src"), col("e.dst").as("dst"))
          .distinct()
          .join(graft.Hints.bcastIf(closure, nClosure), Seq("src", "dst"), "left_anti"),
        eager = false)
        // constraint barrier: the checkpointed LogicalRDD captures
        // constraints from its pre-checkpoint OPTIMIZED plan, whose output
        // ids RemoveRedundantAliases can drift away from the logical
        // output — the captured `isnotnull(src#oldId)` then crashes
        // Union.rewriteConstraints ("key not found: src#N") when the
        // closure union below is planned. A Filter node survives
        // optimization (unlike an identity Project) and re-filters
        // constraints against its own output set; it is a semantic no-op
        // because src/dst are null-filtered before `e` is built.
        .where(col("src").isNotNull && col("dst").isNotNull)
      val nNext = next.count()
      if (nNext == 0) done = true
      else {
        closure = graft.Materialize(closure.union(next), eager = false)
        nClosure += nNext
        delta = next
        hops += 1
      }
    }
    closure
  }
}
