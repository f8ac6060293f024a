package graft

import graft.fixtures.InvoiceCorpus
import graft.run.{Extract, FastExtract}
import graft.tag.Taggers
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Equivalence contract between the declarative (Column-HOF) and typed
  * (mapPartitions) extraction paths — same triples, same vendor mentions,
  * on corpora with the OCR-noise channel ON and across seeds. */
class ExtractParitySpec extends SparkSuite {
  import spark.implicits._

  private def check(n: Long, seed: Long, noiseP: Double): Unit = {
    val docs = InvoiceCorpus.docs(spark, n, seed, noiseP).toDF().cache()
    try {
      val slow = Extract.triples(docs).select("subj", "pred", "obj")
      val fast = FastExtract.triples(
        docs.selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc]).toDF()
      assert(slow.exceptAll(fast).count() == 0, s"slow-only triples (seed=$seed)")
      assert(fast.exceptAll(slow).count() == 0, s"fast-only triples (seed=$seed)")

      val vmSlow = Extract.vendorMentions(docs)
        .na.fill("", Seq("ice"))
        .select("doc_id", "role", "surface", "ice", "entity_key")
      val vmFast = FastExtract.vendorMentions(
        docs.selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc]).toDF()
        .select("doc_id", "role", "surface", "ice", "entity_key")
      assert(vmSlow.exceptAll(vmFast).count() == 0, s"slow-only mentions (seed=$seed)")
      assert(vmFast.exceptAll(vmSlow).count() == 0, s"fast-only mentions (seed=$seed)")
    } finally docs.unpersist()
  }

  test("parity on default corpus (seed 42, noise 0.25)") { check(120, 42L, 0.25) }
  test("parity on alternate seed with heavy noise") { check(80, 7L, 0.9) }
  test("parity with noise off") { check(60, 99L, 0.0) }

  test("adversarial parity: invalid calendar dates, tab/newline padding, decimal quantities") {
    // Inputs the fixture corpus never produces — the r1 divergences
    // (ADVICE): SMART-vs-STRICT date resolution ('31/02/2024'), Java-trim
    // vs Spark-trim ('\tX\t' in the P2 length filter), toIntOption vs
    // cast(int) (' 2 ', '2.5' quantities).
    import graft.model._
    def sp(text: String, offset: Int, y: Int, x: Int = 10, conf: Double = 0.9) =
      OcrSpan("text", text, null, offset, conf, BBox(x, y, 60, 10))
    val docs = Seq(
      // doc with pathological dates (zone irrelevant — date scan is global)
      OcrDoc("adv1", 800, 1000, Seq(
        sp("31/02/2024", 0, 10), // invalid: STRICT → null, SMART → 2024-02-29
        sp("29/02/2023", 1, 30), // invalid: non-leap year
        sp("29/02/2024", 2, 50), // valid leap day
        sp("00/01/2024", 3, 70), // invalid: day 0
        sp("FACT-12-345", 4, 90))),
      // doc with whitespace-padded mentions around the P2 length-2 boundary
      OcrDoc("adv2", 800, 1000, Seq(
        sp("\tA\t", 0, 10), // Java trim → "A" (len 1, dropped); Spark trim keeps tabs (len 3)
        sp(" B ", 1, 30), // both trims → len 1 → dropped
        sp("C\nD", 2, 50),
        sp("Vendor Co", 3, 250), // company_info zone
        sp("Client: X\t", 4, 450))),
      // doc with decimal / padded / signed quantity cells in the items zone
      OcrDoc("adv3", 800, 1000, Seq(
        sp("Widget", 0, 700, x = 10), // leader (y 700/1000 = items zone... rel .7)
        sp(" 2 ", 1, 700, x = 100), // cast(int) = 2; toIntOption = None
        sp("u", 2, 700, x = 200),
        sp("10,5", 3, 700, x = 300),
        sp("21,0", 4, 700, x = 400),
        sp("Gadget", 5, 720, x = 10),
        sp("2.5", 6, 720, x = 100), // decimal qty: both null
        sp("+3", 7, 740, x = 100))),
      // total-zone lines (rel. y 0.8–0.95 of the 1000-high page) with
      // mixed-case amount literals, € on both sides, no digit, and the
      // non-ASCII İ and U+212A (Kelvin sign), which lower-case into ASCII
      OcrDoc("adv4", 800, 1000, Seq(
        sp("Sous-total HT: 1 234,50 eUr", 0, 820),
        sp("TVA 20%: İ 24,5 dH", 1, 850),
        sp("Total TTC: €144,00 \u212A", 2, 880),
        sp("Footer", 3, 990))),
      OcrDoc("adv5", 800, 1000, Seq(
        sp("Sous-total HT \u212ADhs 10 Dhs", 0, 820),
        sp("TVA: n/a İ€", 1, 850),
        sp("ToTaL TTC 99,99 MaD", 2, 880),
        sp("Footer", 3, 990))),
      OcrDoc("adv6", 800, 1000, Seq(
        sp("Sous-total HT: 7 € ", 0, 820),
        sp("tva \u212A 3.25 eurOS", 1, 850),
        sp("total ttc: montant 12", 2, 880),
        sp("Footer", 3, 990))))
    val df = spark.createDataset(docs).toDF()
    val slow = Extract.triples(df).select("subj", "pred", "obj")
    val fast = FastExtract.triples(df.as[OcrDoc]).toDF()
    assert(slow.exceptAll(fast).count() == 0,
      s"slow-only: ${slow.exceptAll(fast).collect().mkString("; ")}")
    assert(fast.exceptAll(slow).count() == 0,
      s"fast-only: ${fast.exceptAll(slow).collect().mkString("; ")}")
    // and the STRICT contract itself: hasDate/hasDueDate come from date
    // slots 0/1, which hold the two INVALID dates — STRICT yields null for
    // both and the triples are dropped; a SMART resolver would fabricate
    // hasDate = 2024-02-29 out of "31/02/2024" (the r1 divergence)
    val dates = fast.where($"pred".isin("hasDate", "hasDueDate")).select("obj")
      .as[String].collect().toSet
    assert(dates.isEmpty, s"fabricated dates: $dates")
    // the total-zone docs do reach the amount kernel
    val totals = fast.where($"pred".isin("hasSubtotalHT", "hasTVA", "hasTotalTTC")).count()
    assert(totals == 8, s"total-zone amount triples: $totals")
  }

  /** Reference amount kernel with no pattern skipped: the first pattern
    * (reference order) that matches gives group 1, normalized. */
  private val referenceRes = Taggers.amountPatterns.map(p => ("(?i)" + p).r)
  private def referenceFirstAmount(text: String): Option[String] = {
    val it = referenceRes.iterator.flatMap(_.findFirstMatchIn(text)).map(_.group(1))
    if (it.hasNext) FastExtract.normalizeAmount(it.next()) else None
  }

  test("amount kernel: firstAmount == the 7-pattern reference (table + generated text)") {
    val table = Seq(
      "12 eUr", "12 EUR", "eur 12", "12,5 €", "€ 12,5", "€12.50", "12 €uro",
      "3 euros", "3 EUROS", "ToTaL 45", "total: 45,0", "TOTAL:\t45", "Montant 7",
      "mOnTaNt: 7.1", "10 dH", "10 Dhs", "10 DHS", "10 mad", "10 MaD",
      "Total TTC: 1 234,50 eUr", "TVA 20%: 24,5 dH",
      "total", "eur", "€", "montant dh mad", "", // no digit
      "12", "1 234,50", "12 x 7", // no literal
      "12 İeur", "İ 12 eur", "4 İdh", "12 dİh", "12 euİr", // İ lower-cases to "i\u0307"
      "12 \u212Aeur", "12 eur\u212A", "ToTaL\u212A 4", "\u212Amontant 4", "12 \u212ADH",
      "12,5,6 €", "1.2.3 EUR", "12 ,5 €")
    table.foreach { t =>
      assert(FastExtract.firstAmount(t) == referenceFirstAmount(t), s"text: '$t'")
    }
    val tokens = Seq("€", "eur", "EuR", "euro", "euroS", "total", "ToTaL", "montant",
      "MONTANT", "dh", "Dh", "Dhs", "MAD", "mAd", "İ", "\u212A", "k", " ", "\t", ":",
      "12", "3,5", "0.75", "7", ",", ".", "x", "ttc", "\uD83D\uDE00", "\uFF19")
    val gen = Gen.listOfN(500, Gen.listOf(Gen.oneOf(tokens)).map(_.mkString))
    val texts = Seq(1L, 2L, 3L).flatMap(s => gen.apply(Gen.Parameters.default, Seed(s)).get)
    texts.foreach { t =>
      assert(FastExtract.firstAmount(t) == referenceFirstAmount(t), s"text: '$t'")
    }
    // not vacuous: many generated texts do carry an amount
    assert(texts.count(t => referenceFirstAmount(t).isDefined) > texts.size / 4)
  }

  test("parity on NULL span text (legal interleaved input: media spans carry text=null)") {
    import graft.model._
    def sp(text: String, offset: Int, y: Int, x: Int = 10, kind: String = "text") =
      OcrSpan(kind, text, if (kind == "media") s"blob://$offset" else null,
        offset, 0.9, BBox(x, y, 60, 10))
    val docs = Seq(
      OcrDoc("nul1", 800, 1000, Seq(
        sp(null, 0, 10, kind = "media"), // media span, null text
        sp("FACT-77-123", 1, 30),
        sp("Vendor Co", 2, 250),
        sp(null, 3, 700), // null-text TEXT span in the items zone
        sp("Widget", 4, 720, x = 10),
        sp("2", 5, 720, x = 100))),
      OcrDoc("nul2", 800, 1000, Seq(sp(null, 0, 10)))) // only a null span
    val df = spark.createDataset(docs).toDF()
    // the declarative path null-propagates; the typed fast path must not
    // NPE and must emit the identical triple set
    val slow = Extract.triples(df).select("subj", "pred", "obj")
    val fast = FastExtract.triples(df.as[OcrDoc]).toDF()
    assert(slow.exceptAll(fast).count() == 0 && fast.exceptAll(slow).count() == 0,
      s"null-text divergence: slow-only ${slow.exceptAll(fast).collect().mkString(";")} " +
        s"fast-only ${fast.exceptAll(slow).collect().mkString(";")}")
    // mentionsOnly must not NPE either
    assert(FastExtract.mentionsOnly(docs.head).nonEmpty)
    assert(FastExtract.mentionsOnly(docs(1)).isEmpty)
    // and the Dataset path (its own narrow column read) matches both the
    // declarative mentions and the per-doc function
    def cols(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "role", "surface", "ice", "entity_key")
    val vmFast = cols(FastExtract.vendorMentions(df.as[OcrDoc]).toDF())
    val vmSlow = cols(Extract.vendorMentions(df).na.fill("", Seq("ice")))
    val vmDoc = cols(docs.flatMap(FastExtract.mentionsOnly).toDF())
    for ((name, other) <- Seq("declarative" -> vmSlow, "mentionsOnly" -> vmDoc))
      assert(vmFast.exceptAll(other).count() == 0 && other.exceptAll(vmFast).count() == 0,
        s"null-text mentions differ from $name: ${vmFast.collect().mkString(";")} vs " +
          other.collect().mkString(";"))
  }

  test("mention pass scans only doc_id and the spans' text, conf, bbox.y, bbox.h") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mention-scan").toString
    try {
      InvoiceCorpus.docs(spark, 40).write.mode("overwrite").parquet(dir)
      val docs = spark.read.parquet(dir).as[graft.model.OcrDoc]
      val vm = FastExtract.vendorMentions(docs)
      val scans = vm.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1, vm.queryExecution.executedPlan.toString)
      assert(scans.head.requiredSchema.catalogString ==
        "struct<doc_id:string,spans:array<struct<text:string,conf:double," +
          "bbox:struct<y:int,h:int>>>>")
      val want = docs.collect().toSeq.flatMap(FastExtract.mentionsOnly)
      assert(vm.collect().toSeq.sortBy(m => (m.doc_id, m.role)) ==
        want.sortBy(m => (m.doc_id, m.role)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
  test("q32 oracle contract: live raw extraction == generator-side ground truth (fixture current)") {
    // expectedRawTriples is derived from the records alone (surface keys,
    // no dedup) — independent of the extractor; the committed parquet at
    // src/test/resources/expected IS the driver's q32 oracle, so this test
    // gates both the extraction contract and the fixture's freshness.
    val docs = InvoiceCorpus.docs(spark, 200).toDF()
    val live = FastExtract.triples(
      docs.selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc])
      .toDF().select("subj", "pred", "obj")
    val gen = InvoiceCorpus.expectedRawTriples(spark, 200).toDF().select("subj", "pred", "obj")
    assert(live.exceptAll(gen).count() == 0, "extractor emitted triples the generator does not predict")
    assert(gen.exceptAll(live).count() == 0, "extractor missed generator-predicted triples")
    val fixture = spark.read.parquet("src/test/resources/expected/q32_expected_raw.parquet")
      .select("subj", "pred", "obj")
    assert(gen.exceptAll(fixture).count() == 0 && fixture.exceptAll(gen).count() == 0,
      "committed q32 fixture is stale — rerun graft.tools.GenFixtures")
  }

}
