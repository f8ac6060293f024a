package graft.run

import graft.model._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

import java.time.LocalDate
import java.util.Locale
import java.util.regex.Pattern

/** Typed fast path of Extract: the SAME per-document semantics as the
  * declarative Column-HOF implementation (Extract.scala), executed as plain
  * JIT-compiled Scala inside `mapPartitions`.
  *
  * WHY THIS EXISTS (SURVEY.md §2.10 option (d), taken deliberately): Spark's
  * array higher-order functions (`transform`/`filter`/`aggregate`) are
  * interpreted, not whole-stage-codegen'd — profiled at ~20 ms/doc for the
  * deeply nested per-doc extraction tree, which caps throughput far below
  * what the narrow stage should do. This path is a pure narrow map (zero
  * shuffles, arbitrary parallelism), so it scales identically and runs
  * ~an order of magnitude faster per core.
  *
  * PARITY CONTRACT: `ExtractParitySpec` asserts triple-set equality between
  * Extract.triples and FastExtract.triples on the fixture corpus (noise on).
  * Any semantic change must be made in BOTH files.
  */
object FastExtract {

  private val RowTol = 15.0

  // ---- F5 tagger (data_preparation.py:147-167) — canonical scalar lives in
  // graft.functions.FieldTag (shared with the Catalyst expression) ----
  def classifyTextType(text: String): String =
    graft.functions.FieldTag.classify(text)

  /** F6 (data_preparation.py:238-256). */
  def enhanceTextType(text: String, zone: String): String = {
    val tl = text.toLowerCase(Locale.ROOT).trim
    val hasDigit = text.exists(c => c >= '0' && c <= '9')
    if (zone == "header" && Seq("facture", "invoice", "devis", "quote").exists(tl.contains))
      "document_type"
    else if (zone == "header" && hasDigit && text.length < 20) "document_number"
    else if (zone == "total" && Seq("total", "ttc", "ht").exists(tl.contains)) "total_label"
    else if (zone == "total" && (text.contains("€") || hasDigit)) "total_amount"
    else classifyTextType(text)
  }

  /** A3 zone banding (data_preparation.py:223-234). */
  def zoneOf(relPos: Double): String =
    if (relPos < 0.2) "header"
    else if (relPos < 0.4) "company_info"
    else if (relPos < 0.6) "client_info"
    else if (relPos < 0.8) "items"
    else if (relPos < 0.95) "total"
    else "footer"

  /** Lower-case literals every match of the F2 pattern at the same index
    * contains (either one, for the DH/MAD pattern). */
  private val amountLiterals: Seq[Seq[String]] =
    Seq(Seq("€"), Seq("eur"), Seq("€"), Seq("euro"), Seq("total"), Seq("montant"),
      Seq("dh", "mad"))

  // F2 patterns — compiled once per JVM, identical strings to Taggers
  private val amountRes: Array[(Array[String], Pattern)] = {
    val ps = graft.tag.Taggers.amountPatterns
    require(ps.size == amountLiterals.size, "one literal set per amount pattern")
    amountLiterals.zip(ps).map { case (l, p) => (l.toArray, Pattern.compile("(?i)" + p)) }
      .toArray
  }

  /** First extracted amount value (group 1 of the first matching pattern,
    * reference pattern order), normalized to a 2-decimal string. */
  def firstAmount(text: String): Option[String] =
    firstAmount(text, text.toLowerCase(Locale.ROOT))

  /** [[firstAmount]] with `lower = text.toLowerCase(Locale.ROOT)` supplied.
    * A pattern's `find` runs only where its literal occurs in `lower`, and
    * none runs on text without an ASCII digit. Both skips are exact: every
    * pattern needs `\d` (ASCII digits only) and its literal, and `(?i)`
    * without UNICODE_CASE folds only ASCII letters, which lower-case to the
    * literal's own letters. A `None` from [[normalizeAmount]] does not fall
    * through to the next pattern. */
  private def firstAmount(text: String, lower: String): Option[String] = {
    if (!text.exists(c => c >= '0' && c <= '9')) return None
    var i = 0
    while (i < amountRes.length) {
      val (lits, re) = amountRes(i)
      if (lits.exists(l => lower.contains(l))) {
        val m = re.matcher(text)
        if (m.find()) return normalizeAmount(m.group(1))
      }
      i += 1
    }
    None
  }

  private val whitespaceRe = Pattern.compile("\\s")
  private val nonSlugRe = Pattern.compile("[^a-z0-9]+")

  /** F3 normalization: strip whitespace, comma→dot, DECIMAL(18,2) HALF_UP —
    * same as cast(DecimalType(18,2)) in the Column path. */
  def normalizeAmount(s: String): Option[String] =
    try Some(BigDecimal(whitespaceRe.matcher(s).replaceAll("").replace(',', '.'))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString)
    catch { case _: NumberFormatException => None }

  private val dateRe = "^\\d{2}/\\d{2}/\\d{4}$".r
  private val numberRe = "(FACT-\\d+-\\d+)".r
  private val iceRe = "^ICE:\\s*(\\d+)$".r

  /** Spark's OWN date parser (the class `to_date(c, "dd/MM/yyyy")` compiles
    * to under the CORRECTED time-parser policy) — not a hand-rolled
    * java.time formatter: java.time's default SMART resolver quietly turns
    * "31/02/2024" into 2024-02-29 where Spark's STRICT resolution yields
    * null and drops the triple (ADVICE r1; adversarial cases in
    * ExtractParitySpec). Parity by construction, like XxHash64Function. */
  private val sparkDateFmt =
    org.apache.spark.sql.catalyst.util.DateFormatter("dd/MM/yyyy", true)

  private def isoDate(s: String): Option[String] =
    try Some(LocalDate.ofEpochDay(sparkDateFmt.parse(s).toLong).toString)
    catch { case _: Exception => None }

  /** Spark's trim()+length() semantics, allocation-free: strip 0x20 SPACE
    * only (NOT Java trim, which also strips tabs/newlines — UTF8String.trim
    * contract), then count CODE POINTS (UTF8String.numChars contract —
    * Java String.length would double-count supplementary-plane chars).
    * Parity with `length(trim(text))` asserted in ExtractParitySpec. */
  def sparkTrimmedLength(s: String): Int = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.codePointCount(i, j)
  }

  /** Spark's non-ANSI cast(string as int) semantics via the same
    * UTF8String.toInt the Cast expression calls (accepts surrounding
    * whitespace, rejects decimals — toIntOption differs on " 2 "). */
  def sparkToInt(s: String): Option[Int] = {
    val w = new org.apache.spark.unsafe.types.UTF8String.IntWrapper
    if (org.apache.spark.unsafe.types.UTF8String.fromString(s).toInt(w)) Some(w.value)
    else None
  }

  def entitySlug(name: String): String =
    nonSlugRe.matcher(name.toLowerCase(Locale.ROOT)).replaceAll("_")
      .stripPrefix("_").stripSuffix("_")

  /** One span widened with centers + zone. */
  private final case class W(s: OcrSpan, yc: Double, xc: Double, zone: String)

  final case class VendorMention(doc_id: String, role: String, surface: String,
      ice: String, entity_key: String)

  final case class DocResult(triples: Seq[Triple], mentions: Seq[VendorMention])

  /** Per-document extraction — the exact mirror of Extract.triples +
    * Extract.vendorMentions in one pass. */
  def extractDoc(doc: OcrDoc): DocResult = {
    // null text (legal in the interleaved schema — media spans often carry
    // text=null) normalizes to "" so every predicate below behaves exactly
    // like the declarative path's null-propagation (null length/endsWith/
    // regex all filter the span there; "" does the same here)
    val spans = doc.spans.map(s => if (s.text == null) s.copy(text = "") else s)
    // empty doc still yields its rdf:type triple (mirror of Extract, where
    // the literal-obj triple survives the null filter)
    if (spans.isEmpty)
      return DocResult(Seq(Triple(s"invoice:${doc.doc_id}", "rdf:type", "facturai:Invoice")), Nil)
    val totalH = spans.map(s => s.bbox.y + s.bbox.h).max.toDouble
    val widened = spans.map { s =>
      val yc = s.bbox.y + s.bbox.h / 2.0
      val xc = s.bbox.x + s.bbox.w / 2.0
      W(s, yc, xc, zoneOf(if (totalH > 0) yc / totalH else 0.0))
    }
    // P2 mention filter (order preserved = offset order); trim is Spark's
    // space-only trim, NOT Java trim (parity with Extract.scala's trim())
    val mentions = widened.filter(w => w.s.conf > 0.5 && sparkTrimmedLength(w.s.text) > 1)

    val inv = s"invoice:${doc.doc_id}"
    val bld = Seq.newBuilder[Triple]
    def tr(subj: String, pred: String, obj: String): Unit =
      if (subj != null && obj != null && obj.nonEmpty) bld += Triple(subj, pred, obj)

    tr(inv, "rdf:type", "facturai:Invoice")

    mentions.iterator
      .flatMap(w => numberRe.findFirstMatchIn(w.s.text).map(_.group(1)))
      .nextOption().foreach(tr(inv, "hasNumber", _))

    // a date match is 10 ASCII chars: the length test skips most spans
    val dates = mentions.filter(w => w.s.text.length == 10 && dateRe.matches(w.s.text))
      .map(_.s.text)
    dates.headOption.flatMap(isoDate).foreach(tr(inv, "hasDate", _))
    dates.lift(1).flatMap(isoDate).foreach(tr(inv, "hasDueDate", _))

    def firstIn(zone: String)(p: W => Boolean): Option[W] =
      mentions.find(w => w.zone == zone && p(w))
    def iceOf(zone: String): Option[String] =
      firstIn(zone)(w => iceRe.matches(w.s.text))
        .flatMap(w => iceRe.findFirstMatchIn(w.s.text).map(_.group(1)))

    val vendorSurface = firstIn("company_info")(_ => true).map(_.s.text)
    val clientSurface = firstIn("client_info")(w => !w.s.text.endsWith(":")).map(_.s.text)
    val vendorIce = iceOf("company_info")
    val clientIce = iceOf("client_info")
    val vendorNode = vendorSurface.map(s => "vendor:" + entitySlug(s))
    val clientNode = clientSurface.map(s => "vendor:" + entitySlug(s))
    vendorNode.foreach(tr(inv, "hasVendor", _))
    clientNode.foreach(tr(inv, "hasClient", _))
    for (v <- vendorNode; i <- vendorIce) tr(v, "hasICE", i)
    for (c <- clientNode; i <- clientIce) tr(c, "hasICE", i)

    // total-zone mentions lower-cased once for the three label lookups
    val totals = mentions.filter(_.zone == "total")
      .map(w => (w.s.text, w.s.text.toLowerCase(Locale.ROOT)))
    def totalZoneAmount(key: String): Option[String] =
      totals.find(_._2.contains(key)).flatMap { case (t, l) => firstAmount(t, l) }
    totalZoneAmount("sous-total").foreach(tr(inv, "hasSubtotalHT", _))
    totalZoneAmount("tva").foreach(tr(inv, "hasTVA", _))
    totalZoneAmount("total ttc").foreach(tr(inv, "hasTotalTTC", _))

    // line items: ALL text spans in items zone (no P2 filter — mirror of
    // Extract); leader/row grouping with tolerance 15, cells by x
    val items = widened.filter(w =>
      w.zone == "items" && w.s.kind == "text" && w.s.text.nonEmpty)
    val leaders = items.filter(s => !items.exists(o =>
      math.abs(o.yc - s.yc) <= RowTol &&
        (o.xc < s.xc || (o.xc == s.xc && o.s.offset < s.s.offset))))
      .sortBy(_.yc)
      .filter(_.s.text != "Description")
    leaders.zipWithIndex.foreach { case (leader, n) =>
      val cells = items.filter(o => math.abs(o.yc - leader.yc) <= RowTol).sortBy(_.xc)
      val li = s"lineItem:${doc.doc_id}/$n"
      tr(inv, "hasLineItem", li)
      cells.headOption.foreach(c => tr(li, "hasDescription", c.s.text))
      cells.lift(1).flatMap(c => sparkToInt(c.s.text))
        .foreach(q => tr(li, "hasQuantity", q.toString))
      cells.lift(4).flatMap(c => normalizeAmount(c.s.text))
        .foreach(tr(li, "hasAmount", _))
    }

    val vm = Seq(
      vendorSurface.map(s =>
        VendorMention(doc.doc_id, "vendor", s, vendorIce.getOrElse(""), entitySlug(s))),
      clientSurface.map(s =>
        VendorMention(doc.doc_id, "client", s, clientIce.getOrElse(""), entitySlug(s)))).flatten

    DocResult(bld.result(), vm)
  }

  /** Mentions-only extraction: the vendor/client/ICE lookups WITHOUT the
    * triple assembly (notably without the quadratic line-item row search) —
    * the EL stage needs 2 rows/doc, not the whole extraction. Field
    * semantics are shared with extractDoc via the same helpers; parity with
    * the full path is asserted in ExtractParitySpec. */
  def mentionsOnly(doc: OcrDoc): Seq[VendorMention] = {
    val s = doc.spans
    mentionsOf(doc.doc_id, s.map(_.text).toArray, s.map(_.conf).toArray,
      s.map(_.bbox.y).toArray, s.map(_.bbox.h).toArray)
  }

  /** The mention logic over the four span fields it reads (text, conf and
    * the bbox's y and h, one array element per span). */
  private def mentionsOf(docId: String, text: Array[String], conf: Array[Double],
      y: Array[Int], h: Array[Int]): Seq[VendorMention] = {
    val n = if (text == null) 0 else text.length
    if (n == 0) return Nil
    var bottom = Int.MinValue
    var i = 0
    while (i < n) { bottom = math.max(bottom, y(i) + h(i)); i += 1 }
    val totalH = bottom.toDouble
    var vendorSurface: String = null
    var clientSurface: String = null
    var vendorIce: String = null
    var clientIce: String = null
    i = 0
    while (i < n) {
      val t = if (text(i) == null) "" else text(i)
      if (conf(i) > 0.5 && sparkTrimmedLength(t) > 1) {
        val yc = y(i) + h(i) / 2.0
        val zone = zoneOf(if (totalH > 0) yc / totalH else 0.0)
        if (zone == "company_info") {
          if (vendorSurface == null) vendorSurface = t
          if (vendorIce == null && iceRe.matches(t))
            vendorIce = iceRe.findFirstMatchIn(t).get.group(1)
        } else if (zone == "client_info") {
          if (clientSurface == null && !t.endsWith(":")) clientSurface = t
          if (clientIce == null && iceRe.matches(t))
            clientIce = iceRe.findFirstMatchIn(t).get.group(1)
        }
      }
      i += 1
    }
    val v = Option(vendorSurface).map(s =>
      VendorMention(docId, "vendor", s, Option(vendorIce).getOrElse(""), entitySlug(s)))
    val c = Option(clientSurface).map(s =>
      VendorMention(docId, "client", s, Option(clientIce).getOrElse(""), entitySlug(s)))
    Seq(v, c).flatten
  }

  def triples(docs: Dataset[OcrDoc]): Dataset[Triple] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(_.flatMap(d => extractDoc(d).triples))
  }

  /** [[mentionsOnly]] over a Dataset, reading only `doc_id` and the span
    * fields text, conf, bbox.y and bbox.h: no whole `OcrDoc` is decoded, and
    * on a file scan Spark's nested schema pruning reads just those five leaf
    * columns (ExtractParitySpec checks the scan's required schema). */
  def vendorMentions(docs: Dataset[OcrDoc]): Dataset[VendorMention] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("spans.text"), col("spans.conf"),
        col("spans.bbox.y"), col("spans.bbox.h"))
      .as[(String, Array[String], Array[Double], Array[Int], Array[Int])]
      .mapPartitions(_.flatMap { case (id, t, c, y, h) => mentionsOf(id, t, c, y, h) })
  }
}
