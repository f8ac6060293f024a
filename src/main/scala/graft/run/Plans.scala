package graft.run

import graft.SparkEntry
import graft.fixtures.InvoiceCorpus
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Dump formatted physical plans for the plan-shape audit (PLANS.md).
  *
  * Usage: runMain graft.run.Plans [sfDir [query…]] — with no query names,
  * the headline list plus the two KG plans; with names, just those
  * queries. sfDir defaults to /root/testdata/sf0.01.
  * SPARK_GRAFT_EXTRA_CONF ("k=v;k=v") injects session conf — e.g.
  * spark.graft.materialize=none to expose the full per-round lineage of
  * iterative operators, or spark.graft.local.maxEntries=0 to show the
  * beyond-gate distributed shape (the plans/r06 round-shape sections). */
object Plans {
  private val Headline = Seq("q01_pricing_summary", "q02_join_revenue",
    "q04_filter_pushdown", "q08_sessionize", "q11_decimal_key_join", "q13_classify_text",
    "q20_ngram_jaccard_neardup", "q23_cosine_topk", "q29_salted_agg",
    "q37_embedding_neardup_lsh", "q38_ocr_amount_validation", "q41_layout_sections",
    "q49_decontamination", "q50_pii_redact", "q51_repetition", "q52_stratified_sample",
    "q53_pq_ann", "q55_semdedup", "q56_pagerank", "q57_graph_bgp",
    "q59_triangles", "q60_shape_validation", "q62_skipgram",
    "q64_communities", "q66_bgp_optional", "q67_characteristic_sets",
    "q69_rdfs_closure", "q70_bgp_union", "q71_bgp_minus", "q72_ntriples")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val named = args.drop(1).toSeq
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Sessions.local(8, 8, "graft-plans", extra)
    // sbt prints a forked run's stderr among the plans it captures
    spark.sparkContext.setLogLevel("ERROR")
    def header(name: String): Unit = println(s"\n========== $name ==========")
    (if (named.nonEmpty) named else Headline).foreach { n =>
      header(n)
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
    if (named.isEmpty) {
      header("kg_extract")
      val docs = InvoiceCorpus.docs(spark, 1000).toDF()
      import spark.implicits._
      println(FastExtract.triples(docs.selectExpr("doc_id", "page_w", "page_h", "spans")
        .as[graft.model.OcrDoc]).queryExecution.explainString(SimpleMode))
      header("kg_pipeline")
      println(Pipeline.run(docs).queryExecution.explainString(SimpleMode))
    }
    spark.stop()
  }
}
