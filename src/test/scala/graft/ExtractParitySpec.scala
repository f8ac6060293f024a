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
    // DECIMAL(18,2) holds 16 integer digits: the cast is null beyond them
    assert(FastExtract.normalizeAmount("9999999999999999,994").contains("9999999999999999.99"))
    assert(FastExtract.normalizeAmount("9999999999999999,995").isEmpty)
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
      OcrDoc("nul2", 800, 1000, Seq(sp(null, 0, 10))), // only a null span
      OcrDoc("nul3", 800, 1000, null), // no span array: no triple, not even rdf:type
      OcrDoc("nul4", 800, 1000, Nil)) // empty span array: rdf:type only
    val df = spark.createDataset(docs).toDF()
    // the declarative path null-propagates; the typed fast path must not
    // NPE and must emit the identical triple set
    val slow = Extract.triples(df).select("subj", "pred", "obj")
    val fast = FastExtract.triples(df.as[OcrDoc]).toDF()
    assert(slow.exceptAll(fast).count() == 0 && fast.exceptAll(slow).count() == 0,
      s"null-text divergence: slow-only ${slow.exceptAll(fast).collect().mkString(";")} " +
        s"fast-only ${fast.exceptAll(slow).collect().mkString(";")}")
    assert(fast.where($"subj" === "invoice:nul3").count() == 0)
    assert(fast.where($"subj" === "invoice:nul4").count() == 1)
    // mentionsOnly must not NPE either
    assert(FastExtract.mentionsOnly(docs.head).nonEmpty)
    assert(docs.tail.forall(FastExtract.mentionsOnly(_).isEmpty))
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

  /** Both passes against Extract on `docs`: the triple multisets, and the
    * mention multisets of the Dataset pass and of [[FastExtract.mentionsOnly]]. */
  private def assertParity(docs: Seq[graft.model.OcrDoc], what: String): Unit = {
    val df = spark.createDataset(docs).toDF().cache()
    try {
      def diff[A](slow: Seq[A], fast: Seq[A], kind: String): Unit = {
        val (s, f) = (slow.groupBy(identity).view.mapValues(_.size).toMap,
          fast.groupBy(identity).view.mapValues(_.size).toMap)
        if (s != f) fail(s"$what: $kind differ; Extract-only " +
          s.toSet.diff(f.toSet).take(5).mkString("; ") + " | FastExtract-only " +
          f.toSet.diff(s.toSet).take(5).mkString("; "))
      }
      diff(Extract.triples(df).select("subj", "pred", "obj").as[(String, String, String)]
          .collect().toSeq,
        FastExtract.triples(df.as[graft.model.OcrDoc]).toDF()
          .as[(String, String, String)].collect().toSeq, "triples")
      val vmSlow = Extract.vendorMentions(df).na.fill("", Seq("ice"))
        .select("doc_id", "role", "surface", "ice", "entity_key")
        .as[FastExtract.VendorMention].collect().toSeq
      diff(vmSlow, FastExtract.vendorMentions(df.as[graft.model.OcrDoc]).collect().toSeq,
        "mentions")
      diff(vmSlow, docs.flatMap(FastExtract.mentionsOnly), "mentionsOnly rows")
    } finally df.unpersist()
  }

  test("dates and ICE values in text ending with a line terminator follow Extract's rlike") {
    // `$` in Extract's rlike/regexp_extract also matches before a final
    // line terminator: "12/03/2024\n" takes the first date slot (and parses
    // to null), "ICE: 123\n" yields ICE 123
    import graft.model._
    def sp(text: String, offset: Int, y: Int) =
      OcrSpan("text", text, null, offset, 0.9, BBox(10, y, 60, 10))
    val eols = Seq("\n", "\r\n", "\u2028")
    val docs = eols.zipWithIndex.map { case (eol, k) =>
      OcrDoc(s"eol$k", 800, 1000, Seq( // rows 250-310 of 1000: company_info
        sp("Vendor Co", 0, 250),
        sp(s"12/03/2024$eol", 1, 270),
        sp("15/03/2024", 2, 290),
        sp(s"ICE: 123$eol", 3, 310),
        sp("Footer", 4, 990)))
    }
    assertParity(docs, "line terminators")
    val fast = FastExtract.triples(spark.createDataset(docs)).collect().toSet
    eols.indices.foreach { k =>
      val dates = fast.filter(t => t.subj == s"invoice:eol$k" && t.pred.endsWith("Date"))
      assert(dates == Set(Triple(s"invoice:eol$k", "hasDueDate", "2024-03-15")),
        s"eol$k: $dates")
    }
    assert(fast.contains(Triple("vendor:vendor_co", "hasICE", "123")), fast)
    assert(docs.flatMap(FastExtract.mentionsOnly).map(_.ice) == Seq("123", "123", "123"))
  }

  test("property: Extract == FastExtract on generated documents (3 seeds)") {
    import graft.model._
    val eol = Gen.frequency(6 -> Gen.const(""),
      1 -> Gen.oneOf("\n", "\r\n", "\u2028", "\r", "\u0085"))
    val word = Gen.oneOf("FACT-12-345", "FACT-7-", "12/03/2024", "31/02/2024", "15/03/2024",
      "29/02/2024", "ICE: 123", "ICE:0042", "ICE: 12a", "Vendor Co", "Acme SARL", "Client:",
      "Client: X", "Sous-total HT: 1 234,50 €", "TVA: 123456789012345678 €",
      "TVA 20%: 24,5 dh", "Total TTC: 99,99 MAD", "total ttc", "TOTAL TTC 12 EUR",
      "Description", "Widget", "2", " 3 ", "10,5", "2.5", "1 000,00", "x", "A", " ", "\t",
      "İstanbul", "\u212Aelvin", "\uD83D\uDE00", "\uD835\uDC00 Ltd", "\uD840\uDC0B", "日本")
    val text = Gen.frequency(1 -> Gen.const(null: String), 1 -> Gen.const(""),
      8 -> Gen.zip(Gen.choose(1, 2).flatMap(Gen.listOfN(_, word)), eol)
        .map { case (ws, e) => ws.mkString(" ") + e })
    val kind = Gen.frequency(8 -> Gen.const("text"), 1 -> Gen.const("media"),
      1 -> Gen.const(null: String))
    // page rows 0-1000: every zone's band, three items rows (700/705/712
    // share one), and any row at all
    val y = Gen.frequency(6 -> Gen.oneOf(10, 250, 300, 450, 500, 700, 705, 712, 740, 760,
      850, 880, 990), 1 -> Gen.choose(0, 1000))
    def span(i: Int) = for {
      k <- kind; t <- text; off <- Gen.frequency(4 -> Gen.const(i), 1 -> Gen.const(0))
      c <- Gen.oneOf(0.2, 0.49, 0.5, 0.5000001, 0.51, 0.9)
      yy <- y; x <- Gen.oneOf(10, 100, 200, 300, 400) // same x and w: tied xc
      w <- Gen.frequency(4 -> Gen.const(60), 1 -> Gen.const(40))
    } yield OcrSpan(k, t, null, off, c, BBox(x, yy, w, 10))
    // a five-cell table row: description, quantity, unit, price, amount
    val cell = Gen.oneOf("2", " 3 ", "2.5", "+3", "u", "10,5", "1 000,00", "12.345", "n/a",
      "12345678901234567,5", "9999999999999999,995", "9999999999999999,994", "1e3",
      "\u00a012")
    def row(off: Int) = for {
      yy <- Gen.oneOf(700, 705, 740, 760)
      ts <- Gen.sequence[List[String], String](Seq(word, cell, cell, cell, cell))
    } yield ts.zipWithIndex.map { case (t, j) =>
      OcrSpan("text", t, null, off + j, 0.9, BBox(10 + 100 * j, yy, 60, 10))
    }
    val spans = Gen.frequency(1 -> Gen.const(null: Seq[OcrSpan]), 1 -> Gen.const(Nil),
      12 -> (for {
        n <- Gen.choose(1, 25)
        ss <- Gen.sequence[List[OcrSpan], OcrSpan]((0 until n).map(span))
        rows <- Gen.choose(0, 2).flatMap(k => Gen.sequence[List[List[OcrSpan]], List[OcrSpan]](
          (0 until k).map(r => row(n + 5 * r))))
        bottom <- Gen.oneOf(true, true, false) // a footer span fixes the page height
      } yield ss ++ rows.flatten ++
        (if (bottom) Seq(OcrSpan("text", "Footer", null, n + 10, 0.9, BBox(10, 990, 60, 10)))
         else Nil)))
    def docs(seed: Long): Seq[OcrDoc] =
      Gen.listOfN(120, Gen.zip(Gen.frequency(30 -> true, 1 -> false), spans))
        .apply(Gen.Parameters.default, Seed(seed)).get
        .zipWithIndex.map { case ((named, ss), i) =>
          OcrDoc(if (named) s"g$seed-$i" else null, 800, 1000, ss)
        }
    val preds = Seq(11L, 12L, 13L).flatMap { seed =>
      val ds = docs(seed)
      assertParity(ds, s"seed $seed")
      FastExtract.triples(spark.createDataset(ds)).map(_.pred).distinct().collect()
    }.toSet
    // not vacuous: the generated docs reach every field of both passes
    assert(Set("hasNumber", "hasDate", "hasDueDate", "hasVendor", "hasClient", "hasICE",
      "hasSubtotalHT", "hasTVA", "hasTotalTTC", "hasLineItem", "hasQuantity", "hasAmount")
      .subsetOf(preds), preds)
  }

  test("triple pass scans only doc_id and the spans' kind, text, offset, conf, bbox") {
    val dir = java.nio.file.Files.createTempDirectory("graft-triple-scan").toString
    try {
      InvoiceCorpus.docs(spark, 40).write.mode("overwrite").parquet(dir)
      val docs = spark.read.parquet(dir).as[graft.model.OcrDoc]
      val tr = FastExtract.triples(docs)
      val scans = tr.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1, tr.queryExecution.executedPlan.toString)
      assert(scans.head.requiredSchema.catalogString ==
        "struct<doc_id:string,spans:array<struct<kind:string,text:string,offset:int," +
          "conf:double,bbox:struct<x:int,y:int,w:int,h:int>>>>")
      val slow = Extract.triples(docs.toDF()).select("subj", "pred", "obj")
      val fast = tr.toDF()
      assert(slow.exceptAll(fast).count() == 0 && fast.exceptAll(slow).count() == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
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
