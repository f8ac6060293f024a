package graft

import graft.graph.GraphQuery
import org.apache.spark.sql.functions._

class GraphQuerySpec extends SparkSuite {
  import spark.implicits._

  private def triples(rows: (String, String, String)*) =
    rows.toDF("subj", "pred", "obj")

  private val g = triples(
    ("alice", "knows", "bob"),
    ("bob", "knows", "carol"),
    ("alice", "likes", "alice"),
    ("bob", "likes", "carol"),
    ("alice", "in", "paris"),
    ("bob", "in", "paris"),
    ("carol", "in", "lyon"))

  test("single pattern: constants filter, variables project, column order follows first appearance") {
    val out = GraphQuery.bgp(g, Seq(("?who", "in", "paris")))
    assert(out.columns.toSeq == Seq("who"))
    assert(out.as[String].collect().toSet == Set("alice", "bob"))
    val all = GraphQuery.bgp(g, Seq(("?s", "?p", "?o")))
    assert(all.columns.toSeq == Seq("s", "p", "o"))
    assert(all.count() == 7)
  }

  test("conjunction joins on shared variables (the SPARQL core)") {
    // { ?a knows ?b . ?a in ?city . ?b in ?city } — who knows someone in
    // their own city?
    val out = GraphQuery.bgp(g, Seq(
      ("?a", "knows", "?b"), ("?a", "in", "?city"), ("?b", "in", "?city")))
      .as[(String, String, String)].collect().toSet
    assert(out == Set(("alice", "bob", "paris")))
  }

  test("repeated variable within one pattern forces positional equality") {
    val out = GraphQuery.bgp(g, Seq(("?x", "likes", "?x")))
    assert(out.columns.toSeq == Seq("x"))
    assert(out.as[String].collect().toSeq == Seq("alice"))
  }

  test("disconnected patterns cross-join; bag semantics preserves duplicate bindings") {
    val out = GraphQuery.bgp(g, Seq(("?a", "knows", "?b"), ("?c", "in", "lyon")))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.count() == 2) // 2 knows-pairs x 1 lyon resident
    // bag semantics: a duplicated triple yields a duplicated binding
    val dup = GraphQuery.bgp(g.union(triples(("alice", "in", "paris"))),
      Seq(("?who", "in", "paris")))
    assert(dup.as[String].collect().sorted.toSeq == Seq("alice", "alice", "bob"))
  }

  test("constant predicate prunes partitions on a pred-partitioned store layout") {
    val dir = java.nio.file.Files.createTempDirectory("bgp_prune").toString
    g.write.partitionBy("pred").mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val plan = GraphQuery.bgp(stored, Seq(("?who", "in", "?where")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(pred"),
      s"expected a pushed partition filter on pred, got:\n$plan")
    assert(plan.contains("(pred") && plan.contains("= in)"),
      s"expected pred = in in the partition filters, got:\n$plan")
    // and the result equals the unpartitioned evaluation
    val fromStore = GraphQuery.bgp(stored, Seq(("?who", "in", "paris")))
      .as[String].collect().toSet
    assert(fromStore == Set("alice", "bob"))
  }

  // ---- reachable: the property path pred+ ----

  private def edges(rows: (String, String)*) = rows.toDF("src", "dst")
  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, String)].collect().toSet

  test("reachable: chain closes transitively (all ancestor pairs)") {
    val out = pairs(GraphQuery.reachable(edges(("a", "b"), ("b", "c"), ("c", "d"))))
    assert(out == Set(("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d")))
  }

  test("reachable: maxHops bounds path length") {
    val e = edges(("a", "b"), ("b", "c"), ("c", "d"))
    assert(pairs(GraphQuery.reachable(e, maxHops = 1)) ==
      Set(("a", "b"), ("b", "c"), ("c", "d")))
    assert(pairs(GraphQuery.reachable(e, maxHops = 2)) ==
      Set(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("b", "d")))
  }

  test("reachable: cycles terminate and include self-reachability (SPARQL p+)") {
    val out = pairs(GraphQuery.reachable(edges(("a", "b"), ("b", "a"), ("b", "c"))))
    assert(out == Set(("a", "b"), ("b", "a"), ("a", "a"), ("b", "b"),
      ("b", "c"), ("a", "c")))
  }

  test("reachable: diamond yields set semantics (one (a,d) despite two paths)") {
    val out = GraphQuery.reachable(
      edges(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")))
    assert(out.count() == 5)
    assert(pairs(out) == Set(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")))
  }

  // ---- bgpOpt: OPTIONAL groups + FILTERs ----

  test("OPTIONAL keeps unmatched solutions with null-bound variables") {
    val out = GraphQuery.bgpOpt(g, Seq(("?x", "in", "paris")),
      optionals = Seq(Seq(("?x", "likes", "?y"))))
      .as[(String, Option[String])].collect().toSet
    // alice likes alice; bob likes carol; both in paris — all matched
    assert(out == Set(("alice", Some("alice")), ("bob", Some("carol"))))
    val out2 = GraphQuery.bgpOpt(g, Seq(("?x", "in", "?city")),
      optionals = Seq(Seq(("?x", "likes", "?y"))))
      .as[(String, String, Option[String])].collect().toSet
    // carol is in lyon but likes nothing → null-bound ?y survives
    assert(out2(("carol", "lyon", None)))
    assert(out2.size == 3)
  }

  test("an optional group's INTERNAL join evaluates before the left join") {
    // optional = (?x likes ?y) ∧ (?y in paris): bob likes carol, but carol
    // is in lyon, so the GROUP fails as a whole and bob stays null-bound —
    // joining the patterns one-by-one as separate optionals would instead
    // bind ?y=carol. This is the SPARQL OPTIONAL{A. B} vs OPTIONAL{A}
    // OPTIONAL{B} distinction.
    val grouped = GraphQuery.bgpOpt(g, Seq(("?x", "in", "paris")),
      optionals = Seq(Seq(("?x", "likes", "?y"), ("?y", "in", "paris"))))
      .as[(String, Option[String])].collect().toSet
    assert(grouped == Set(("alice", Some("alice")), ("bob", None)))
  }

  test("later optionals may join on variables an earlier optional bound") {
    val out = GraphQuery.bgpOpt(g, Seq(("?x", "in", "paris")),
      optionals = Seq(
        Seq(("?x", "likes", "?y")),
        Seq(("?y", "in", "?where"))))
      .as[(String, Option[String], Option[String])].collect().toSet
    assert(out == Set(("alice", Some("alice"), Some("paris")),
      ("bob", Some("carol"), Some("lyon"))))
  }

  test("FILTER applies after joins; null optional bindings compare false") {
    val out = GraphQuery.bgpOpt(g, Seq(("?x", "in", "?city")),
      optionals = Seq(Seq(("?x", "likes", "?y"))),
      filters = Seq(col("y") === "carol"))
      .as[(String, String, Option[String])].collect().toSet
    // carol's null ?y fails the comparison (SPARQL error → false)
    assert(out == Set(("bob", "paris", Some("carol"))))
    val req = GraphQuery.bgpOpt(g, Seq(("?a", "knows", "?b")),
      filters = Seq(col("a") =!= "alice"))
      .as[(String, String)].collect().toSet
    assert(req == Set(("bob", "carol")))
  }

  test("bgpOpt with no optionals/filters degenerates to bgp") {
    val a = GraphQuery.bgpOpt(g, Seq(("?s", "knows", "?o")))
      .as[(String, String)].collect().toSet
    val b = GraphQuery.bgp(g, Seq(("?s", "knows", "?o")))
      .as[(String, String)].collect().toSet
    assert(a == b)
  }

  test("UNION: branch-absent variables come back null, bag semantics kept") {
    val out = GraphQuery.bgpUnion(g, Seq(
      Seq(("?x", "knows", "?y")),
      Seq(("?x", "in", "lyon"))))
    assert(out.columns.toSeq == Seq("x", "y"))
    val rows = out.as[(String, Option[String])].collect().toSeq
    assert(rows.sorted == Seq(("alice", Some("bob")), ("bob", Some("carol")),
      ("carol", None)).sorted)
    // bag semantics: a duplicate-producing branch keeps its duplicates
    val dup = GraphQuery.bgpUnion(g, Seq(
      Seq(("?x", "in", "paris")), Seq(("?x", "in", "paris"))))
    assert(dup.count() == 4)
  }

  test("UNION: variable order is first appearance ACROSS branches") {
    val out = GraphQuery.bgpUnion(g, Seq(
      Seq(("?a", "in", "lyon")),
      Seq(("?b", "knows", "?a"))))
    assert(out.columns.toSeq == Seq("a", "b"))
    val rows = out.as[(String, Option[String])].collect().toSet
    assert(rows == Set(("carol", None), ("bob", Some("alice")), ("carol", Some("bob"))))
  }

  test("MINUS removes compatible solutions on the shared variables") {
    // everyone in a city, minus those who know someone
    val out = GraphQuery.bgpMinus(g,
      Seq(("?x", "in", "?c")), Seq(("?x", "knows", "?z")))
      .as[(String, String)].collect().toSet
    assert(out == Set(("carol", "lyon")))
  }

  test("MINUS with no shared variable removes NOTHING (SPARQL 1.1 §8.3.3)") {
    val out = GraphQuery.bgpMinus(g,
      Seq(("?x", "in", "?c")), Seq(("?a", "knows", "?b")))
    assert(out.count() == 3) // the quirk: disjoint patterns never match
  }

  test("NOT EXISTS diverges from MINUS exactly on the disjoint case") {
    // uncorrelated non-empty inner → every solution removed
    val none = GraphQuery.bgpNotExists(g,
      Seq(("?x", "in", "?c")), Seq(("?a", "knows", "?b")))
    assert(none.count() == 0)
    // uncorrelated EMPTY inner → nothing removed
    val all = GraphQuery.bgpNotExists(g,
      Seq(("?x", "in", "?c")), Seq(("?a", "hates", "?b")))
    assert(all.count() == 3)
    // correlated: same anti join as MINUS
    val shared = GraphQuery.bgpNotExists(g,
      Seq(("?x", "in", "?c")), Seq(("?x", "knows", "?z")))
      .as[(String, String)].collect().toSet
    assert(shared == Set(("carol", "lyon")))
  }

  test("CONSTRUCT instantiates the template per solution, set semantics") {
    val out = GraphQuery.construct(g,
      patterns = Seq(("?x", "knows", "?y"), ("?y", "in", "?city")),
      template = Seq(("?x", "reaches_city", "?city"), ("?x", "rdf:type", "Connected")))
      .as[(String, String, String)].collect().toSet
    assert(out == Set(
      ("alice", "reaches_city", "paris"), ("bob", "reaches_city", "lyon"),
      ("alice", "rdf:type", "Connected"), ("bob", "rdf:type", "Connected")))
  }

  test("CONSTRUCT deduplicates across solutions (an RDF graph is a set)") {
    // both alice and bob are in paris: one (paris, rdf:type, City) triple
    val out = GraphQuery.construct(g,
      patterns = Seq(("?x", "in", "?c")),
      template = Seq(("?c", "rdf:type", "City")))
      .as[(String, String, String)].collect().toSeq
    assert(out.length == 2 && out.toSet ==
      Set(("paris", "rdf:type", "City"), ("lyon", "rdf:type", "City")))
  }

  test("CONSTRUCT rejects a template variable the WHERE does not bind") {
    intercept[IllegalArgumentException] {
      GraphQuery.construct(g, Seq(("?x", "in", "?c")), Seq(("?x", "p", "?nope")))
    }
  }

  test("diff classifies added/removed, ignores unchanged and duplicates") {
    val before = triples(("a", "p", "1"), ("b", "p", "2"), ("b", "p", "2"), ("c", "p", "3"))
    val after = triples(("a", "p", "1"), ("b", "p", "2x"), ("c", "p", "3"), ("d", "p", "4"))
    val out = GraphQuery.diff(before, after)
      .as[(String, String, String, String)].collect().toSet
    assert(out == Set(
      ("b", "p", "2", "removed"), ("b", "p", "2x", "added"), ("d", "p", "4", "added")))
  }

  test("diff of two TripleStore time-travel snapshots is the increment") {
    val root = java.nio.file.Files.createTempDirectory("diffstore").toString
    graph.TripleStore.commitBatch(triples(("a", "p", "1"), ("b", "p", "2")), root, 0)
    graph.TripleStore.commitBatch(triples(("c", "p", "3")), root, 1)
    val out = GraphQuery.diff(
      graph.TripleStore.readAsOf(spark, root, 0),
      graph.TripleStore.readAsOf(spark, root, 1))
      .as[(String, String, String, String)].collect().toSet
    assert(out == Set(("c", "p", "3", "added")))
  }

  test("reachable: partition-layout invariance and duplicate-edge tolerance") {
    val e = edges(("a", "b"), ("b", "c"), ("a", "b"), ("c", "d"), ("b", "c"))
    val one = pairs(GraphQuery.reachable(e.coalesce(1)))
    val many = pairs(GraphQuery.reachable(e.repartition(7)))
    assert(one == many)
    assert(one.size == 6)
  }

  // ------------------------------------------------------------ bgpAgg ----

  test("bgpAgg: GROUP BY + COUNT over the solution bag") {
    val out = GraphQuery.bgpAgg(g, Seq(("?who", "in", "?city")),
      groupVars = Seq("city"), aggs = Seq(count(lit(1)).as("n")))
      .as[(String, Long)].collect().toMap
    assert(out == Map("paris" -> 2L, "lyon" -> 1L))
    // bag semantics: a duplicated triple counts twice
    val dup = GraphQuery.bgpAgg(g.union(triples(("alice", "in", "paris"))),
      Seq(("?who", "in", "?city")),
      groupVars = Seq("city"), aggs = Seq(count(lit(1)).as("n")))
      .as[(String, Long)].collect().toMap
    assert(dup == Map("paris" -> 3L, "lyon" -> 1L))
  }

  test("bgpAgg: implicit single group — one row even over ZERO solutions (SPARQL empty rule)") {
    val out = GraphQuery.bgpAgg(g, Seq(("?s", "never_used", "?o")),
      groupVars = Nil,
      aggs = Seq(count(lit(1)).as("n"), max(col("o")).as("m")))
    val row = out.collect()
    assert(row.length == 1)
    assert(row(0).getLong(0) == 0L)
    assert(row(0).isNullAt(1)) // value aggregate over nothing = unbound
  }

  test("bgpAgg: HAVING, ORDER BY, LIMIT and no-aggregate degeneration") {
    val top = GraphQuery.bgpAgg(g, Seq(("?who", "in", "?city")),
      groupVars = Seq("city"), aggs = Seq(count(lit(1)).as("n")),
      having = Seq(col("n") >= 2), orderBy = Seq(col("n").desc), limit = 1)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("paris", 2L)))
    val keys = GraphQuery.bgpAgg(g, Seq(("?who", "in", "?city")),
      groupVars = Seq("city"), aggs = Nil)
      .as[String].collect().toSet
    assert(keys == Set("paris", "lyon"))
    intercept[IllegalArgumentException] {
      GraphQuery.bgpAgg(g, Seq(("?s", "?p", "?o")), Nil, Nil)
    }
    intercept[IllegalArgumentException] { // unbound group variable rejected
      GraphQuery.bgpAgg(g, Seq(("?who", "in", "?city")), Seq("nope"),
        Seq(count(lit(1)).as("n")))
    }
  }

  test("bgpAgg: multi-pattern analytics — distinct knowers per city of residence") {
    val out = GraphQuery.bgpAgg(g,
      Seq(("?a", "knows", "?b"), ("?a", "in", "?city")),
      groupVars = Seq("city"),
      aggs = Seq(countDistinct(col("a")).as("n_knowers")))
      .as[(String, Long)].collect().toMap
    assert(out == Map("paris" -> 2L))
  }

  // ---------------------------------------------------------- bgpPaths ----

  import graft.graph.PropertyPath.{Pred, Plus, Seq2, Inv}

  test("bgpPaths: closure step joined with a plain step (knows+ / in)") {
    // every city reachable through one-or-more knows hops then residence
    val out = GraphQuery.bgpPaths(g, Seq(
      ("?a", Plus(Pred("knows")), "?b"),
      ("?b", Pred("in"), "?city")))
    assert(out.columns.toSeq == Seq("a", "b", "city"))
    val rows = out.as[(String, String, String)].collect().toSet
    assert(rows == Set(
      ("alice", "bob", "paris"),
      ("alice", "carol", "lyon"),
      ("bob", "carol", "lyon")))
  }

  test("bgpPaths: repeated variable binds both ends — cycle membership via p+") {
    val cyc = triples(("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"),
      ("d", "p", "a"))
    val out = GraphQuery.bgpPaths(cyc, Seq(("?x", Plus(Pred("p")), "?x")))
    assert(out.columns.toSeq == Seq("x"))
    assert(out.as[String].collect().toSet == Set("a", "b", "c")) // d is off-cycle
  }

  test("bgpPaths: constant-only pattern is a pure existence filter (x1, no inflation)") {
    val base = Seq(("?a", Pred("knows"), "?b"))
    val hit = GraphQuery.bgpPaths(g, base :+ (("alice", Pred("in"), "paris")))
    assert(hit.count() == 2) // unchanged by the probe
    val miss = GraphQuery.bgpPaths(g, base :+ (("alice", Pred("in"), "lyon")))
    assert(miss.count() == 0)
  }

  test("bgpPaths: Pred-only patterns degenerate to bgp on a set-of-triples graph") {
    val viaPaths = GraphQuery.bgpPaths(g, Seq(
      ("?a", Pred("knows"), "?b"), ("?a", Pred("in"), "?city")))
      .as[(String, String, String)].collect().toSet
    val viaBgp = GraphQuery.bgp(g, Seq(
      ("?a", "knows", "?b"), ("?a", "in", "?city")))
      .as[(String, String, String)].collect().toSet
    assert(viaPaths == viaBgp)
  }

  test("bgpPaths: composed path algebra inside a pattern (^in/in — same-city pairs)") {
    val out = GraphQuery.bgpPaths(g, Seq(
      ("?x", Seq2(Pred("in"), Inv(Pred("in"))), "?y")))
      .where(col("x") < col("y"))
      .as[(String, String)].collect().toSet
    assert(out == Set(("alice", "bob")))
  }

  test("gate-forced parity: local reachable BFS == semi-naive loop") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
      ("x", "a"), ("z", "q")).toDF("src", "dst")
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().toSet
    val local = rs(graft.graph.GraphQuery.reachable(e))
    val dist = withLocalBudget(0)(rs(graft.graph.GraphQuery.reachable(e)))
    assert(local == dist)
    // cycle members reach themselves on both paths
    assert(local(("a", "a")) && local(("b", "b")) && local(("c", "c")))
    val localCapped = rs(graft.graph.GraphQuery.reachable(e, maxHops = 2))
    val distCapped = withLocalBudget(0)(rs(graft.graph.GraphQuery.reachable(e, maxHops = 2)))
    assert(localCapped == distCapped)
    // pair-budget abort falls back to the distributed loop, same result:
    // at a budget of |E| the 7 edges fit but the closure pairs (2 entries
    // each) do not
    val (forced, aborted) = withLocalBudget(e.count()) {
      val df = graft.graph.GraphQuery.reachable(e)
      (rs(df), !df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    }
    assert(aborted)
    assert(forced == local)
  }
}
