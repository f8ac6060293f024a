package graft

import graft.fixtures.InvoiceCorpus
import graft.link.EntityLinker
import graft.metrics.Evaluation
import graft.run.{Extract, FastExtract, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, ResolvedHint,
  UnaryNode, Window}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end gates (FIXTURES.md §5):
  *  - triple P/R ≥ 0.95 vs generator ground truth
  *  - span-sequence equality invariant (input_hint per-row invariant)
  *  - totals consistency (Docs stage-7 rule)
  *  - split disjointness + seed stability
  *  - LSH-only entity linking (no identifier shortcut)
  */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private val N = 150L
  private lazy val docs = InvoiceCorpus.docs(spark, N).toDF().cache()
  private lazy val expected = InvoiceCorpus.expectedTriples(spark, N).toDF().cache()

  test("triple P/R >= 0.95 gate (fast path)") {
    val pr = Evaluation.triplePR(Pipeline.run(docs), expected)
    assert(pr.precision >= 0.95 && pr.recall >= 0.95, pr)
    assert(pr.f1 == 1.0, s"expected exact match on fixture corpus, got $pr")
  }

  test("canonical-map shuffled-join fallback (broadcastEntityLimit=0) == broadcast path") {
    // at 10^8+ entities the canonical map exceeds any broadcast budget;
    // forcing the limit to 0 drives every rewrite through the shuffled-join
    // fallback, which must produce the identical graph
    val broadcastGraph = Pipeline.run(docs).select("subj", "pred", "obj")
    val shuffledGraph = Pipeline.run(docs, Pipeline.Config(broadcastEntityLimit = 0L))
      .select("subj", "pred", "obj")
    assert(broadcastGraph.exceptAll(shuffledGraph).count() == 0)
    assert(shuffledGraph.exceptAll(broadcastGraph).count() == 0)
    // and the fallback plan really dropped the broadcast hint on the rewrite
    val plan = Pipeline.run(docs, Pipeline.Config(broadcastEntityLimit = 0L))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("ResolvedHint"), "no broadcast hint expected in fallback plan")
  }

  test("canonicalize: no broadcast hint outside a join; both rewrite joins keep it") {
    val raw = Seq(("doc:1", "hasVendor", "vendor:acme_sa", "1"),
      ("vendor:acme_sa", "hasICE", "001", "1")).toDF("subj", "pred", "obj", "doc_id")
    val map = Seq(("acme_sa", "acme"), ("acme", "acme")).toDF("id", "canonical")
    val g = Pipeline.canonicalize(raw, map, 2L, 1000L)
    // EliminateResolvedHint's reach: a hint reaches a join only through a
    // chain of unary nodes under one of its sides; any other is dropped
    // with a HintErrorLogger warning
    def stray(p: LogicalPlan, underJoin: Boolean): Int = p match {
      case h: ResolvedHint => (if (underJoin) 0 else 1) + stray(h.child, underJoin)
      case j: Join => j.children.map(stray(_, underJoin = true)).sum
      case u: UnaryNode => stray(u.child, underJoin)
      case o => o.children.map(stray(_, underJoin = false)).sum
    }
    assert(stray(g.queryExecution.analyzed, underJoin = false) == 0)
    val joins = g.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 2 &&
      joins.forall(_.hint.rightHint.exists(_.strategy.contains(BROADCAST))), joins)
    assert(g.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet ==
      Set(("doc:1", "hasVendor", "vendor:acme"), ("vendor:acme", "hasICE", "001"),
        ("vendor:acme_sa", "sameAs", "vendor:acme")))
  }

  test("distributed entity linking (elSmallThreshold=0) == driver-local path") {
    // elSmallThreshold gates the whole entity stage: at 0 the distributed
    // chain runs, at the fixture's entity count n the driver-local pass,
    // at n - 1 the distributed chain again — all the identical graph
    val n = EntityLinker.entities(FastExtract.vendorMentions(
      docs.selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc]).toDF())
      .count()
    val localGraph = Pipeline.run(docs).select("subj", "pred", "obj")
    for (threshold <- Seq(0L, n, n - 1)) {
      val graph = Pipeline.run(docs, Pipeline.Config(elSmallThreshold = threshold))
      // the driver-local stage returns local relations; the distributed
      // one checkpoints its entity table
      assert(!graph.queryExecution.optimizedPlan.toString.contains("LogicalRDD") ==
        (threshold == n), s"threshold=$threshold of n=$n took the wrong path")
      val g = graph.select("subj", "pred", "obj")
      assert(localGraph.exceptAll(g).count() == 0, s"threshold=$threshold")
      assert(g.exceptAll(localGraph).count() == 0, s"threshold=$threshold")
    }
  }

  test("spark.graft.materialize=none rebuilds the default-mode graph (local and distributed EL)") {
    // `none` is the one mode that keeps the doc-scale mention cache: its
    // entity table is pure lineage, re-read by every linking branch
    def graph(cfg: Pipeline.Config) =
      Pipeline.run(docs, cfg).select("subj", "pred", "obj")
        .as[(String, String, String)].collect().sorted.toSeq
    for (threshold <- Seq(Pipeline.Config().elSmallThreshold, 0L)) {
      val cfg = Pipeline.Config(elSmallThreshold = threshold)
      val want = graph(cfg)
      spark.conf.set(Materialize.ModeKey, "none")
      val got = try graph(cfg) finally spark.conf.unset(Materialize.ModeKey)
      assert(got == want, s"threshold=$threshold")
    }
  }

  test("LSH-only entity linking (useIce=false) still links noisy variants") {
    val pr = Evaluation.triplePR(
      Pipeline.run(docs, Pipeline.Config(useIce = false)), expected)
    assert(pr.precision >= 0.95 && pr.recall >= 0.95, pr)
  }

  test("span-sequence equality: (kind, text, media_ref, order) preserved through tagging") {
    val in = docs.select($"doc_id", explode($"spans").as("s"))
      .select($"doc_id", $"s.kind", $"s.text", $"s.media_ref", $"s.offset")
    val out = Extract.tag(docs).select($"doc_id", explode($"tagged").as("s"))
      .select($"doc_id", $"s.kind", $"s.text", $"s.media_ref", $"s.offset")
    assert(in.exceptAll(out).count() == 0)
    assert(out.exceptAll(in).count() == 0)
    // and order: within every doc, offsets are exactly 0..n-1 in array order
    val bad = Extract.tag(docs).select($"doc_id",
      expr("forall(zip_with(transform(tagged, x -> x.offset), sequence(0, size(tagged) - 1)," +
        " (o, i) -> o = i), b -> b)").as("ordered"))
      .where(!$"ordered")
    assert(bad.count() == 0)
  }

  test("totals consistency: sum(lineItem amounts) == hasSubtotalHT per invoice (A9)") {
    val triples = FastExtract.triples(
      docs.selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc]).toDF()
    val itemSums = triples.where($"pred" === "hasAmount")
      .join(triples.where($"pred" === "hasLineItem").select($"obj".as("subj"), $"subj".as("inv")),
        "subj")
      .groupBy("inv").agg(sum($"obj".cast("decimal(18,2)")).as("item_sum"))
    val subtotals = triples.where($"pred" === "hasSubtotalHT")
      .select($"subj".as("inv"), $"obj".cast("decimal(18,2)").as("subtotal"))
    val bad = itemSums.join(subtotals, "inv")
      .where(abs($"item_sum" - $"subtotal") >= 0.01)
    assert(bad.count() == 0, bad.collect().take(3).mkString(","))
  }

  test("splits: disjoint, complete, seed-stable (U4, seed 42)") {
    val Array(tr, va, te) = docs.select("doc_id").randomSplit(Array(0.8, 0.1, 0.1), 42L)
    assert(tr.intersect(va).count() == 0)
    assert(tr.intersect(te).count() == 0)
    assert(va.intersect(te).count() == 0)
    assert(tr.count() + va.count() + te.count() == N)
    val Array(tr2, _, _) = docs.select("doc_id").randomSplit(Array(0.8, 0.1, 0.1), 42L)
    assert(tr.exceptAll(tr2).count() == 0)
  }

  test("sameAs edges link every noisy surface form to its clean gazetteer entity") {
    val predicted = Pipeline.run(docs)
    val pr = Evaluation.triplePR(
      predicted.where($"pred" === "sameAs"),
      expected.where($"pred" === "sameAs"))
    assert(pr.f1 == 1.0, pr)
  }

  private def triples(g: DataFrame): Seq[(String, String, String)] =
    g.select("subj", "pred", "obj").as[(String, String, String)].collect().sorted.toSeq

  /** `docs`' graph under the driver-local entity stage, and the same graph
    * from the distributed linking stage (elSmallThreshold = 0) on both
    * sides of the driver budget: below it one collect of the verified
    * edges, at budget 0 the distributed components and canonical map. */
  private def assertStageParity(docs: DataFrame, useIce: Boolean): Seq[(String, String, String)] = {
    val want = triples(Pipeline.run(docs, Pipeline.Config(useIce = useIce)))
    val dist = Pipeline.Config(useIce = useIce, elSmallThreshold = 0L)
    for (budget <- Seq(None, Some(0L))) {
      def run() = {
        val linked = Pipeline.entityStage(docs, dist).linked
        (linked.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r }.isEmpty,
          triples(Pipeline.run(docs, dist)))
      }
      val (localMap, got) = budget.fold(run())(withLocalBudget(_)(run()))
      // the collected edges end in a driver-local linked map; at budget 0
      // the map is a checkpoint unless there is no edge to collect
      assert(localMap == (budget.isEmpty || !want.exists(_._2 == "sameAs")),
        s"useIce=$useIce budget=$budget took the wrong path")
      assert(got == want, s"useIce=$useIce budget=$budget " +
        s"gotOnly=${got.diff(want).take(5)} wantOnly=${want.diff(got).take(5)}")
    }
    want
  }

  for ((n, pool) <- Seq((600L, 2000), (2000L, 100000)))
    test(s"linked-only distributed entity stage == driver-local stage (pool $n/$pool)") {
      val pdocs = InvoiceCorpus.docs(spark, n, vendorPool = pool).toDF().cache()
      try for (useIce <- Seq(true, false))
        assert(assertStageParity(pdocs, useIce).exists(_._2 == "sameAs"), s"useIce=$useIce")
      finally pdocs.unpersist()
    }

  test("linked-only entity stage: a corpus without candidate edges links nothing") {
    val clean = InvoiceCorpus.docs(spark, 40, noiseP = 0.0).toDF().cache()
    try {
      for (useIce <- Seq(true, false))
        assert(!assertStageParity(clean, useIce).exists(_._2 == "sameAs"), s"useIce=$useIce")
      val s = Pipeline.entityStage(clean, Pipeline.Config(elSmallThreshold = 0L))
      assert(s.linkedRows == 0L && s.linked.isEmpty)
      assert(s.map.where($"id" =!= $"canonical").isEmpty && s.map.count() == s.ents.count())
    } finally clean.unpersist()
  }

  test("linked-only entity stage: one ICE hub links 50+ entities into one component") {
    val hub = InvoiceCorpus.docs(spark, 200, vendorPool = 2000)
      .map(d => d.copy(spans = d.spans.map(sp =>
        if (sp.text.startsWith("ICE: ")) sp.copy(text = "ICE: 001000000001") else sp)))
      .toDF().cache()
    try {
      val want = assertStageParity(hub, useIce = true)
      val sameAs = want.filter(_._2 == "sameAs")
      assert(sameAs.size >= 49 && sameAs.map(_._3).distinct.size == 1, sameAs.take(5))
      val s = Pipeline.entityStage(hub, Pipeline.Config(elSmallThreshold = 0L))
      assert(s.linkedRows == sameAs.size && s.map.count() == s.ents.count())
    } finally hub.unpersist()
  }

  test("linked-only entity stage: a pool-shaped distributed run plans no Window; " +
    "its map holds linked rows only") {
    val pdocs = InvoiceCorpus.docs(spark, 600, vendorPool = 2000).toDF().cache()
    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.optimizedPlan }
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      pdocs.count()
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      val cfg = Pipeline.Config(elSmallThreshold = 0L)
      val s = Pipeline.entityStage(pdocs, cfg)
      val linked = s.linked.as[(String, String)].collect()
      assert(linked.nonEmpty && linked.forall { case (id, c) => id != c } &&
        linked.length == s.linkedRows)
      // every action of the stage and the graph, checkpoints included
      def windows(f: => Unit): List[Window] = {
        plans.synchronized(plans.clear())
        f
        org.apache.spark.GraftTestBus.drain(spark.sparkContext)
        val ps = plans.synchronized(plans.toList)
        assert(ps.nonEmpty)
        ps.flatMap(_.collect { case w: Window => w })
      }
      val none = windows(Pipeline.run(pdocs, cfg).count())
      assert(none.isEmpty, none)
      // beyond the budget the canonical-map window does run, and is seen
      assert(windows(withLocalBudget(0)(Pipeline.run(pdocs, cfg).count())).nonEmpty)
    } finally {
      spark.listenerManager.unregister(listener)
      pdocs.unpersist()
    }
  }
}
