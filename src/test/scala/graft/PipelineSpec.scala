package graft

import graft.fixtures.InvoiceCorpus
import graft.link.EntityLinker
import graft.metrics.Evaluation
import graft.run.{Extract, FastExtract, Pipeline}
import org.apache.spark.sql.functions._

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
      // the driver-local stage returns local relations; the chain does not
      assert(graph.queryExecution.optimizedPlan.toString.contains("LocalRelation") ==
        (threshold == n), s"threshold=$threshold of n=$n took the wrong path")
      val g = graph.select("subj", "pred", "obj")
      assert(localGraph.exceptAll(g).count() == 0, s"threshold=$threshold")
      assert(g.exceptAll(localGraph).count() == 0, s"threshold=$threshold")
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
}
