package kgbench

import graft.Materialize
import graft.canon.ConnectedComponents
import graft.fixtures.InvoiceCorpus
import graft.graph.TripleStore
import graft.link.EntityLinker
import graft.model.{OcrDoc, Vocab}
import graft.run.{FastExtract, Pipeline}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Input sizes. `Full` is what the benchmark measures; `Tiny` is for the
  * harness self-test. */
final case class Sizes(gazetteerDocs: Long, poolDocs: Long, vendorPool: Int)

object Sizes {
  val Full: Sizes = Sizes(gazetteerDocs = 15000, poolDocs = 2000, vendorPool = 100000)
  val Tiny: Sizes = Sizes(gazetteerDocs = 300, poolDocs = 300, vendorPool = 1000)
}

/** What one run shares with its workload: session, tracer, seed and a
  * private scratch directory inside the checkout. `drop` is the self-test's
  * fault injection: remove one triple from every output before it is
  * checked. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, work: Path,
    drop: Boolean) {
  def dir(name: String): String = work.resolve(name).toString
}

/** Result of one op: seconds of its timed call, triples it output, the
  * gate its output was checked by, and how many classes Spark's code
  * generator compiled during the call (none when its cache hits). */
final case class OpResult(seconds: Double, triples: Long, gate: Gate, codegenCompiles: Long)

/** Checked outcome of a run's output. */
final case class Verdict(gates: Seq[Gate], precision: Double, recall: Double)

/** A build workload: `Pipeline.run` over `n` docs that set-up writes to
  * parquet, so that corpus generation is not timed. `vendorPool = 0` is the
  * 24-name gazetteer corpus; `vendorPool > 0` draws vendors Zipf(1) from
  * that many distinct companies. */
final class Build(ctx: Ctx, n: Long, vendorPool: Int) {
  import ctx.spark
  private val docsPath = ctx.dir("docs")
  /** Fingerprint every timed op must reproduce; fixed by [[check]]. */
  private var want: Fingerprint = _

  /** The pool corpus measures the distributed linking chain; its entity
    * table is below the driver-local threshold at the benchmark's doc
    * count, so the threshold is forced to 0 (as ScalingBench does). */
  val cfg: Pipeline.Config =
    if (vendorPool > 0) Pipeline.Config(elSmallThreshold = 0L) else Pipeline.Config()

  private def docs: DataFrame = spark.read.parquet(docsPath)

  private def output: DataFrame = maybeDrop(Pipeline.run(docs, cfg))

  /** Writes this run's corpus; called several times per run so that the
    * set-up time can be reported as a median. */
  def setup(): Unit =
    InvoiceCorpus.docs(spark, n, ctx.seed, vendorPool = vendorPool)
      .write.mode("overwrite").parquet(docsPath)

  /** Runs the op once, untimed, and checks its output against the ground
    * truth in full; fixes the fingerprint every timed op must reproduce.
    * Also warms the op's code paths. */
  def check(): Verdict = {
    val out = output.cache()
    val truth = Truth.expected(spark, n, ctx.seed, vendorPool).toDF().cache()
    try {
      val fp = Fingerprint.of(out)
      if (vendorPool == 0) {
        // the timed ops must reproduce the ground truth itself
        want = Fingerprint.of(truth)
        Truth.exactVerdict("graph = ground truth", fp, want, out, truth)
      } else {
        want = fp
        val cmp = Truth.compare(out, truth)
        val pr = cmp.all
        val target = Gate(s"P/R >= ${Truth.Target}", pr.precision >= Truth.Target &&
          pr.recall >= Truth.Target, s"precision=${pr.precision} recall=${pr.recall}")
        Verdict(target +: Truth.structural(out, cmp,
          Truth.surfaceNodes(spark, n, ctx.seed, vendorPool), n), pr.precision, pr.recall)
      }
    } finally { out.unpersist(); truth.unpersist() }
  }

  /** One timed `Pipeline.run`, consumed through its fingerprint. */
  def op(i: Int): OpResult = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val fp = ctx.tracer.span("op")(Fingerprint.of(output))
    val s = (System.nanoTime() - t0) / 1e9
    OpResult(s, fp.count, Gate(s"op $i fingerprint", fp == want, s"$fp vs checked $want"),
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** The traced layer pass over the same docs; it must reproduce `want`. */
  def layerPass(): (LayerPass.Counts, Gate) = {
    val c = ctx.tracer.span("pass")(LayerPass.run(ctx, docs, cfg))
    (c, Gate("layer pass = untraced graph", c.fingerprint == want, s"${c.fingerprint} vs $want"))
  }

  /** Self-test hook: the output without its lexicographically first triple. */
  private def maybeDrop(out: DataFrame): DataFrame =
    if (!ctx.drop) out
    else {
      val o = out.select("subj", "pred", "obj")
      o.exceptAll(o.orderBy("subj", "pred", "obj").limit(1))
    }
}

/** The traced layer pass: the pipeline rebuilt from the public functions of
  * each layer, one span per call, ending in a store commit and a read. Its
  * output must reproduce the workload's graph fingerprint. */
object LayerPass {
  final case class Counts(extractTriples: Long, entities: Long, candidateEdges: Long,
      components: Long, mapRows: Long, rowsReturned: Long, fingerprint: Fingerprint)

  def run(ctx: Ctx, docs: DataFrame, cfg: Pipeline.Config): Counts = {
    import ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val ocr = docs.selectExpr("doc_id", "page_w", "page_h", "spans").as[OcrDoc]
    val vm = t.span("run.mentions") {
      val v = FastExtract.vendorMentions(ocr).toDF().persist()
      v.count(); v
    }
    val (ents, nEnts) = t.span("link.entities") {
      val e = EntityLinker.entities(vm); (e, e.count())
    }
    val (edges, nEdges) = t.span("link.edges") {
      val e = Materialize(EntityLinker.candidateEdgesFromEntities(ents, cfg.numHashes,
        cfg.jaccardMin, cfg.editSimMin, cfg.useIce, smallThreshold = cfg.elSmallThreshold))
      (e, e.count())
    }
    val (comps, nComps) = t.span("canon.cc") {
      val c = Materialize(ConnectedComponents.run(edges))
      (c, c.select("component").distinct().count())
    }
    val (cm, mapRows) = t.span("canon.map") {
      val counts = graft.ops.Skew.saltedCount(vm, "entity_key",
          saltFrom = xxhash64(col("doc_id"), col("role")), salts = 16)
        .select(col("entity_key").as("id"), col("n"))
      val m = Materialize(ConnectedComponents.canonicalMap(comps, counts), eager = false)
      (m, m.count())
    }
    vm.unpersist()
    val (raw, nRaw) = t.span("run.extract") {
      val r = FastExtract.triples(ocr).toDF().persist()
      (r, Fingerprint.of(r).count)
    }
    val (out, fp) = t.span("run.rewrite") {
      val docScoped = Pipeline.canonicalize(raw.where(col("pred") =!= Vocab.HasICE), cm,
        mapRows, cfg.broadcastEntityLimit).select("subj", "pred", "obj")
      // hasICE per canonical vendor comes from the entity table, as in
      // Pipeline.run, not from the per-doc stream
      val ice = ents.where(col("ice").isNotNull)
        .join(cm, ents("entity_key") === cm("id"))
        .select(concat(lit("vendor:"), col("canonical")).as("subj"),
          lit(Vocab.HasICE).as("pred"), col("ice").as("obj"))
        .distinct()
      val o = docScoped.unionByName(ice).persist()
      (o, Fingerprint.of(o))
    }
    raw.unpersist()
    val root = ctx.dir("layer_store")
    t.span("store.commit") { TripleStore.commitBatch(out, root, 0) }
    out.unpersist()
    val keys = (0 until 8).map(i => Vocab.invoiceNode(InvoiceCorpus.record(i.toLong, ctx.seed).docId))
    val returned = t.span("store.read") {
      Pipeline.lookupSubjects(spark, root, keys).collect().length.toLong
    }
    Counts(nRaw, nEnts, nEdges, nComps, mapRows, returned, fp)
  }
}
