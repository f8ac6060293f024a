package graft

import graft.fixtures.InvoiceCorpus
import graft.graph.TripleStore
import graft.metrics.Evaluation
import graft.run.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Incremental KG maintenance: extending a store with new documents must
  * equal a full rebuild over old ∪ new — without re-extracting old docs —
  * and must land as ONE atomic snapshot (crash before the manifest move
  * leaves the store byte-identical). Every full build (run, runResumable,
  * runBootstrap) writes the same graph, and an increment's driver-local
  * and distributed entity stages agree.
  */
class IncrementalSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_incr_").toString

  private def triples(df: DataFrame): Set[(String, String, String)] =
    df.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet

  private def graphOf(root: String) = triples(Pipeline.readGraph(spark, root))

  /** The canonical map and entity registry rows of a store. */
  private def stateOf(root: String) = triples(TripleStore.read(spark, root)
    .where(col("pred") === "canonicalOf" || col("pred").startsWith("_reg_")))

  // a gazetteer corpus, and a vendor-pool corpus whose entities carry
  // several ICEs and OCR variants (there, hasICE taken per document instead
  // of per entity differs from run()'s)
  private val corpora = Seq(("gazetteer", 200L, 0), ("pool", 600L, 2000))

  for ((name, n, pool) <- corpora)
    test(s"run == runResumable == runBootstrap: one graph for every full build ($name)") {
      val docs = InvoiceCorpus.docs(spark, n, vendorPool = pool).toDF().cache()
      val ran = triples(Pipeline.run(docs))
      val resumable = tmp()
      Pipeline.runResumable(spark, docs, resumable, nBatches = 2)
      val boot = tmp()
      Pipeline.runBootstrap(spark, docs, boot)
      for ((what, g) <- Seq("runResumable" -> graphOf(resumable), "runBootstrap" -> graphOf(boot)))
        assert((g diff ran).isEmpty && (ran diff g).isEmpty,
          s"$what: store-only ${(g diff ran).size} ${(g diff ran).take(3)}, " +
            s"run-only ${(ran diff g).size} ${(ran diff g).take(3)}")
    }

  for ((name, n, pool) <- corpora)
    test(s"increment: driver-local entity stage == distributed stage ($name)") {
      val all = InvoiceCorpus.docs(spark, n, vendorPool = pool).toDF().cache()
      val split = pmod(xxhash64(col("doc_id")), lit(4)) === 0
      // base build and increment both at the given threshold
      def build(threshold: Long) = {
        val cfg = Pipeline.Config(elSmallThreshold = threshold)
        val root = tmp()
        Pipeline.runResumable(spark, all.where(!split), root, nBatches = 2, cfg = cfg)
        val id = Pipeline.runIncremental(spark, all.where(split), root, cfg)
        (graphOf(root), stateOf(root), TripleStore.counterValue(root, id, "inc_el_edges"))
      }
      val (localG, localS, localE) = build(Pipeline.Config().elSmallThreshold)
      // distributed linking: its hits collected, then beyond the budget,
      // where label contraction runs
      for ((side, (distG, distS, distE)) <- Seq(
          "collected" -> build(0L), "beyond budget" -> withLocalBudget(0)(build(0L)))) {
        for ((what, l, d) <- Seq(("graph", localG, distG), ("state", localS, distS)))
          assert((l diff d).isEmpty && (d diff l).isEmpty, s"$side $what: local-only " +
            s"${(l diff d).take(3)}, distributed-only ${(d diff l).take(3)}")
        assert(localE.isDefined && localE == distE, s"$side inc_el_edges: $localE vs $distE")
      }
    }

  test("a pool-shaped increment with distributed linking plans no Window " +
    "within the driver budget") {
    val all = InvoiceCorpus.docs(spark, 600, vendorPool = 2000).toDF().cache()
    val split = pmod(xxhash64(col("doc_id")), lit(4)) === 0
    val cfg = Pipeline.Config(elSmallThreshold = 0L)
    val root = tmp()
    Pipeline.runResumable(spark, all.where(!split), root, nBatches = 2, cfg = cfg)
    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.optimizedPlan }
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      all.count()
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      // every action of the increment, checkpoints and the commit included
      Pipeline.runIncremental(spark, all.where(split), root, cfg)
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      val ps = plans.synchronized(plans.toList)
      assert(ps.nonEmpty)
      val windows = ps.flatMap(_.collect { case w: Window => w })
      assert(windows.isEmpty, windows)
      assert(stateOf(root).exists(t => t._2 == "canonicalOf" && t._1 != t._3))
    } finally {
      spark.listenerManager.unregister(listener)
      all.unpersist()
    }
  }

  test("incremental update == full rebuild over old ∪ new; single atomic snapshot; vacuum-safe") {
    val all = InvoiceCorpus.docs(spark, 200).toDF().cache()
    // deterministic split that mixes vendors across both halves (so the
    // increment genuinely extends existing entities, not just adds new ones)
    val oldDocs = all.where(pmod(xxhash64(col("doc_id")), lit(4)) =!= 0)
    val newDocs = all.where(pmod(xxhash64(col("doc_id")), lit(4)) === 0)
    assert(newDocs.count() > 20, "split degenerate")

    val incrRoot = tmp()
    val fullRoot = tmp()
    Pipeline.runResumable(spark, oldDocs, incrRoot, nBatches = 2)
    val snapId = Pipeline.runIncremental(spark, newDocs, incrRoot)

    Pipeline.runResumable(spark, all, fullRoot, nBatches = 2)

    val incr = Pipeline.readGraph(spark, incrRoot)
      .as[(String, String, String)].collect().toSet
    val full = Pipeline.readGraph(spark, fullRoot)
      .as[(String, String, String)].collect().toSet
    assert((incr diff full).isEmpty,
      s"incremental-only triples (${(incr diff full).size}): ${(incr diff full).take(5)}")
    assert((full diff incr).isEmpty,
      s"full-only triples (${(full diff incr).size}): ${(full diff incr).take(5)}")

    // the increment's CC input stayed batch-bounded (r4 verdict #1): the
    // snapshot's inc_el_edges counter records the touched-incident edge
    // set the label contraction consumed — strictly below the full corpus
    // edge set a rebuild's CC reads
    val incEdges = TripleStore.counterValue(incrRoot, snapId, "inc_el_edges")
    assert(incEdges.nonEmpty, "increment snapshot must record inc_el_edges")
    val fullEdges = graft.link.EntityLinker.candidateEdgesFromEntities(
      graft.link.EntityLinker.entities(
        graft.run.FastExtract.vendorMentions(
          graft.fixtures.InvoiceCorpus.docs(spark, 200)).toDF())).count()
    assert(incEdges.get < fullEdges,
      s"inc_el_edges=${incEdges.get} should be < full corpus edges=$fullEdges")

    // the P/R gate holds on the maintained store too
    val pr = Evaluation.triplePR(
      Pipeline.readGraph(spark, incrRoot),
      InvoiceCorpus.expectedTriples(spark, 200).toDF())
    assert(pr.precision >= 0.95 && pr.recall >= 0.95, pr)

    // the entire update is ONE visible snapshot superseding everything
    assert(TripleStore.visibleBatchIds(incrRoot) == Set(snapId))
    // graph time travel: as-of just before the increment == the old-corpus
    // graph (superseded partitions still on disk until vacuum)
    val preIncr = Pipeline.readGraphAsOf(spark, incrRoot, snapId - 1)
      .as[(String, String, String)].collect().toSet
    val oldOnly = tmp()
    Pipeline.runResumable(spark, oldDocs, oldOnly, nBatches = 2)
    val oldGraph = Pipeline.readGraph(spark, oldOnly)
      .as[(String, String, String)].collect().toSet
    assert(preIncr == oldGraph, "as-of read before the increment must equal the old-corpus graph")
    // expiring the superseded batches does not change the graph
    TripleStore.vacuum(incrRoot)
    val postVacuum = Pipeline.readGraph(spark, incrRoot)
      .as[(String, String, String)].collect().toSet
    assert(postVacuum == incr)
  }

  test("second increment stacks on a maintained store; registry stays exact") {
    val all = InvoiceCorpus.docs(spark, 120).toDF().cache()
    val d0 = all.where(pmod(xxhash64(col("doc_id")), lit(3)) === 0)
    val d1 = all.where(pmod(xxhash64(col("doc_id")), lit(3)) === 1)
    val d2 = all.where(pmod(xxhash64(col("doc_id")), lit(3)) === 2)

    val root = tmp()
    Pipeline.runResumable(spark, d0, root, nBatches = 1)
    Pipeline.runIncremental(spark, d1, root)
    Pipeline.runIncremental(spark, d2, root)

    val fullRoot = tmp()
    Pipeline.runResumable(spark, all, fullRoot, nBatches = 1)

    val a = Pipeline.readGraph(spark, root).as[(String, String, String)].collect().toSet
    val b = Pipeline.readGraph(spark, fullRoot).as[(String, String, String)].collect().toSet
    assert(a == b, s"after two increments: ${(a diff b).take(3)} / ${(b diff a).take(3)}")
  }

  test("incremental REJECTS a store whose triples were never canonicalized") {
    // raw ingest-style commits (no canon snapshot): extending such a store
    // incrementally would silently merge a canonical increment into a
    // non-canonical graph and drop old vendors' identifier data
    val root = tmp()
    val raw = Seq(("invoice:x", "hasVendor", "vendor:acme_sarl"))
      .toDF("subj", "pred", "obj")
    TripleStore.commitBatch(raw, root, 0)
    val inc = InvoiceCorpus.docs(spark, 10).toDF()
    val e = intercept[IllegalArgumentException] {
      Pipeline.runIncremental(spark, inc, root)
    }
    assert(e.getMessage.contains("NO canonical map"), e.getMessage)
  }

  test("resume refuses a store whose data batches carry vendor triples (earlier layout)") {
    // the earlier layout canonicalized sameAs/hasICE into every data batch
    // and kept none in the canon snapshot: finishing such a store with
    // doc-scoped batches would drop the remaining vendors' hasICE
    val docs = InvoiceCorpus.docs(spark, 40).toDF()
    val root = tmp()
    intercept[RuntimeException] { // canon snapshot only
      Pipeline.runResumable(spark, docs, root, nBatches = 2, failAfterBatches = 0)
    }
    TripleStore.commitBatch(Seq(("vendor:acme_sa", "sameAs", "vendor:acme"))
      .toDF("subj", "pred", "obj"), root, 0)
    val e = intercept[IllegalArgumentException] {
      Pipeline.runResumable(spark, docs, root, nBatches = 2)
    }
    assert(e.getMessage.contains("rebuild the store"), e.getMessage)
  }

  test("resume with a different nBatches uses the STORED value (no silent doc loss)") {
    val docs = InvoiceCorpus.docs(spark, 60).toDF().cache()
    val root = tmp()
    intercept[RuntimeException] { // kill after 1 of 4 batches
      Pipeline.runResumable(spark, docs, root, nBatches = 4, failAfterBatches = 1)
    }
    // resume asking for 2 batches: ids 2-3 would never run under the
    // caller's value and docs with pmod(hash,4) ∈ {2,3} would vanish; the
    // stored n_batches=4 must win (warned)
    val (_, warned) = Audit.capturing {
      Pipeline.runResumable(spark, docs, root, nBatches = 2)
    }
    assert(warned.exists(_.contains("nBatches=4")), s"got $warned")
    val rebuilt = tmp()
    Pipeline.runResumable(spark, docs, rebuilt, nBatches = 4)
    val a = Pipeline.readGraph(spark, root).as[(String, String, String)].collect().toSet
    val b = Pipeline.readGraph(spark, rebuilt).as[(String, String, String)].collect().toSet
    assert(a == b, s"resume dropped documents: missing ${(b diff a).take(3)}")
  }
}
