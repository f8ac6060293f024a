package kgbench

import graft.fixtures.InvoiceCorpus
import graft.metrics.Evaluation
import graft.model.{Triple, Vocab}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent digest of a triple set: row count plus the wrapping
  * sum of `xxhash64(subj, pred, obj)`. Consuming a timed output through it
  * forces every column, so column pruning cannot skip the object rewrite. */
final case class Fingerprint(count: Long, hash: Long)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("subj"), col("pred"), col("obj"))), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1))
  }
}

/** Outcome of one correctness gate. */
final case class Gate(name: String, ok: Boolean, detail: String)

/** Ground truth and the correctness gates the workloads apply to it. */
object Truth {
  /** The paper's quality target for triples against the reference. */
  val Target = 0.95

  /** Predicates whose objects or subjects are vendor nodes, i.e. whatever
    * entity resolution decides; every other triple is document-scoped. */
  val EntityPreds: Seq[String] =
    Seq(Vocab.HasVendor, Vocab.HasClient, Vocab.HasICE, Vocab.SameAs)

  /** Ground-truth graph of docs `[0, n)`. The gazetteer corpus uses the
    * generator's own `expectedTriples`; it has no `vendorPool` parameter,
    * so the pool corpus gets the same derivation here from
    * `InvoiceCorpus.record(i, seed, noiseP, vendorPool)`. */
  def expected(spark: SparkSession, n: Long, seed: Long, vendorPool: Int): Dataset[Triple] =
    if (vendorPool == 0) InvoiceCorpus.expectedTriples(spark, n, seed)
    else {
      import spark.implicits._
      import Vocab._
      import InvoiceCorpus.{dotMoney, slug}
      spark.range(n).flatMap { i =>
        val r = InvoiceCorpus.record(i, seed, 0.25, vendorPool)
        val inv = invoiceNode(r.docId)
        val vKey = vendorNode(slug(r.vendor.name))
        val cKey = vendorNode(slug(r.client.name))
        val head = Seq(
          Triple(inv, RdfType, "facturai:Invoice"),
          Triple(inv, HasNumber, r.number),
          Triple(inv, HasDate, r.date.toString),
          Triple(inv, HasDueDate, r.dueDate.toString),
          Triple(inv, HasVendor, vKey),
          Triple(inv, HasClient, cKey),
          Triple(vKey, HasICE, r.vendor.ice),
          Triple(cKey, HasICE, r.client.ice),
          Triple(inv, HasSubtotalHT, dotMoney(r.subtotalCents)),
          Triple(inv, HasTVA, dotMoney(r.tvaCents)),
          Triple(inv, HasTotalTTC, dotMoney(r.totalTtcCents)))
        val items = r.items.zipWithIndex.flatMap { case (it, k) =>
          val li = lineItemNode(r.docId, k)
          Seq(
            Triple(inv, HasLineItem, li),
            Triple(li, HasDescription, it.description),
            Triple(li, HasQuantity, it.quantity.toString),
            Triple(li, HasAmount, dotMoney(it.totalCents)))
        }
        val sameAs = Seq((r.vendorSurface, r.vendor.name), (r.clientSurface, r.client.name))
          .collect { case (surf, clean) if slug(surf) != slug(clean) =>
            Triple(vendorNode(slug(surf)), SameAs, vendorNode(slug(clean)))
          }
        head ++ items ++ sameAs
      }.distinct()
    }

  /** P/R over all triples and over document-scoped triples only. */
  final case class Comparison(all: Evaluation.PR, docScoped: Evaluation.PR)

  /** Set precision and recall of `out` against `truth`, from one full outer
    * join of the two distinct triple sets (`Evaluation.triplePR` takes
    * three joins and has no per-kind breakdown). */
  def compare(out: DataFrame, truth: DataFrame): Comparison = {
    val key = Seq("subj", "pred", "obj")
    val o = out.select(key.map(col): _*).distinct().withColumn("in_out", lit(1))
    val t = truth.select(key.map(col): _*).distinct().withColumn("in_truth", lit(1))
    val both = col("in_out").isNotNull && col("in_truth").isNotNull
    val onlyOut = col("in_truth").isNull
    val onlyTruth = col("in_out").isNull
    val doc = !col("pred").isin(EntityPreds: _*)
    val r = o.join(t, key, "full_outer")
      .agg(count(when(both, 1)), count(when(onlyOut, 1)), count(when(onlyTruth, 1)),
        count(when(both && doc, 1)), count(when(onlyOut && doc, 1)),
        count(when(onlyTruth && doc, 1)))
      .head()
    Comparison(prOf(r.getLong(0), r.getLong(1), r.getLong(2)),
      prOf(r.getLong(3), r.getLong(4), r.getLong(5)))
  }

  private def prOf(tp: Long, fp: Long, fn: Long): Evaluation.PR = {
    val precision = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val f1 = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    Evaluation.PR(precision, recall, f1, tp, fp, fn)
  }

  /** The graph must equal the ground truth: P = R = 1. */
  def exact(name: String, p: Evaluation.PR): Gate =
    Gate(name, p.fp == 0 && p.fn == 0,
      s"tp=${p.tp} fp=${p.fp} fn=${p.fn} precision=${p.precision} recall=${p.recall}")

  /** Exact-match verdict. Equal fingerprints (count and 64-bit hash sum)
    * stand for P = R = 1 without a join; otherwise P/R come from the join. */
  def exactVerdict(name: String, got: Fingerprint, want: Fingerprint,
      out: DataFrame, truth: DataFrame): Verdict =
    if (got == want) Verdict(Seq(Gate(name, ok = true, s"$got")), 1.0, 1.0)
    else {
      val p = compare(out, truth).all
      Verdict(Seq(exact(name, p)), p.precision, p.recall)
    }

  /** Gates for a corpus whose entity resolution is not exact (the Zipf
    * vendor pool), so P/R below 1 is a measurement, not a failure. What
    * must still hold exactly:
    *  - document-scoped triples equal the ground truth;
    *  - each invoice has exactly one `hasVendor` and one `hasClient`;
    *  - every vendor node an invoice points to carries a `hasICE`;
    *  - every surface node of the corpus is either pointed to by an
    *    invoice or carries exactly one `sameAs` to the node that is.
    * Dropping any one output triple breaks at least one of them. */
  def structural(out: DataFrame, cmp: Comparison, surfaces: DataFrame,
      nDocs: Long): Seq[Gate] = {
    val o = out.select("subj", "pred", "obj")
    val roles = o.agg(
      count(when(col("pred") === Vocab.HasVendor, 1)),
      countDistinct(when(col("pred") === Vocab.HasVendor, col("subj"))),
      count(when(col("pred") === Vocab.HasClient, 1)),
      countDistinct(when(col("pred") === Vocab.HasClient, col("subj")))).head()
    val perRole = Seq(Vocab.HasVendor -> 0, Vocab.HasClient -> 2).map { case (p, i) =>
      val (rows, invoices) = (roles.getLong(i), roles.getLong(i + 1))
      Gate(s"one $p per invoice", rows == nDocs && invoices == nDocs,
        s"rows=$rows invoices=$invoices docs=$nDocs")
    }
    val pointed = o.where(col("pred").isin(Vocab.HasVendor, Vocab.HasClient))
      .select(col("obj").as("node")).distinct()
    val withIce = o.where(col("pred") === Vocab.HasICE).select(col("subj").as("node")).distinct()
    val noIce = pointed.join(withIce, Seq("node"), "left_anti").count()
    val sameAs = o.where(col("pred") === Vocab.SameAs)
      .groupBy(col("subj").as("node")).agg(count(lit(1)).as("k"))
    val multi = sameAs.where(col("k") > 1).count()
    val uncovered = surfaces
      .join(pointed.unionByName(sameAs.select("node")), Seq("node"), "left_anti").count()
    exact("document-scoped triples = ground truth", cmp.docScoped) +: perRole ++: Seq(
      Gate("hasICE on every vendor an invoice points to", noIce == 0,
        s"vendors without hasICE=$noIce"),
      Gate("every surface node pointed to or sameAs-linked once", uncovered == 0 && multi == 0,
        s"uncovered surfaces=$uncovered surfaces with >1 sameAs=$multi"))
  }

  /** Vendor surface nodes (`vendor:<slug(surface)>`) of docs `[0, n)`. */
  def surfaceNodes(spark: SparkSession, n: Long, seed: Long, vendorPool: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).flatMap { i =>
      val r = InvoiceCorpus.record(i, seed, 0.25, vendorPool)
      Seq(r.vendorSurface, r.clientSurface).map(s => Vocab.vendorNode(InvoiceCorpus.slug(s)))
    }.toDF("node").distinct()
  }

  /** A lookup answer must be exactly the expected triples of its key. */
  def lookup(key: String, got: Set[Triple], want: Set[Triple]): Gate =
    Gate(s"lookup $key", got == want,
      s"got=${got.size} want=${want.size} missing=${(want -- got).size} extra=${(got -- want).size}")
}
