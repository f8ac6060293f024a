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
  * NARROW READ: neither pass decodes an `OcrDoc`. Each selects `doc_id` and
  * the span fields it reads as parallel arrays (one element per span), so
  * a parquet scan reads 9 leaf columns for the triples and 5 for the vendor
  * mentions, never `page_w`, `page_h` or `media_ref`. One per-document
  * kernel ([[layout]]) derives centres, zones and the P2 mention flags
  * from those arrays, and the vendor/client/ICE rule ([[parties]]) is
  * written once for both passes.
  *
  * PARITY CONTRACT: `ExtractParitySpec` asserts triple-set and mention-set
  * equality between Extract and FastExtract on the fixture corpus (noise
  * on), on adversarial documents and on generated ones. Any semantic
  * change must be made in BOTH files.
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
    * same as cast(DecimalType(18,2)) in the Column path, which is null
    * (not ANSI) for a value that needs more than 16 integer digits. */
  def normalizeAmount(s: String): Option[String] =
    try Some(BigDecimal(whitespaceRe.matcher(s).replaceAll("").replace(',', '.'))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)).filter(_.precision <= 18).map(_.toString)
    catch { case _: NumberFormatException => None }

  // Extract's `rlike`/`regexp_extract` patterns, applied the same way: by
  // `find`, where `$` also matches before a final line terminator
  private val dateRe = Pattern.compile("^\\d{2}/\\d{2}/\\d{4}$")
  private val numberRe = Pattern.compile("(FACT-\\d+-\\d+)")
  private val iceRe = Pattern.compile("^ICE:\\s*(\\d+)$")

  /** `text rlike dateRe`: a match is 10 ASCII chars plus at most a final
    * line terminator (two chars for CR LF), so the length test skips most
    * spans. */
  private def isDateText(t: String): Boolean =
    t.length >= 10 && t.length <= 12 && dateRe.matcher(t).find()

  /** Group 1 of the first `re` match in `t`, or null. */
  private def group1(re: Pattern, t: String): String = {
    val m = re.matcher(t)
    if (m.find()) m.group(1) else null
  }

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

  final case class VendorMention(doc_id: String, role: String, surface: String,
      ice: String, entity_key: String)

  /** What both passes derive from one document's spans, once: each span's
    * text, vertical centre, A3 zone and P2 mention flag (one element per
    * span, offset order). */
  private final class Layout(val text: Array[String], val yc: Array[Double],
      val zone: Array[String], val mention: Array[Boolean]) {
    def n: Int = text.length
  }

  /** The [[Layout]] of the text, conf, bbox.y and bbox.h arrays. A null
    * text reads as "", which every predicate on it rejects, as Extract's
    * null propagation does. */
  private def layout(rawText: Array[String], conf: Array[Double], y: Array[Int],
      h: Array[Int]): Layout = {
    val n = rawText.length
    val text = rawText.map(t => if (t == null) "" else t)
    // the page height is the lowest bottom edge, aggregated from 0 as in
    // Extract.tag
    var bottom = 0
    var i = 0
    while (i < n) { bottom = math.max(bottom, y(i) + h(i)); i += 1 }
    val totalH = bottom.toDouble
    val yc = new Array[Double](n)
    val zone = new Array[String](n)
    val mention = new Array[Boolean](n)
    i = 0
    while (i < n) {
      yc(i) = y(i) + h(i) / 2.0
      zone(i) = zoneOf(if (totalH > 0) yc(i) / totalH else 0.0)
      // P2; trim is Spark's space-only trim, NOT Java trim
      mention(i) = conf(i) > 0.5 && sparkTrimmedLength(text(i)) > 1
      i += 1
    }
    new Layout(text, yc, zone, mention)
  }

  /** A document's vendor and client surfaces and their ICEs, null where
    * absent. */
  private final case class Parties(vendor: String, vendorIce: String, client: String,
      clientIce: String)

  /** The vendor/client/ICE rule of both passes (Extract's vendorSurface,
    * clientSurface and iceOf): the vendor is the first company_info
    * mention, the client the first client_info mention not ending in ':',
    * and each side's ICE comes from the first mention of its zone that
    * `rlike`s the ICE pattern (anchored at 0, so it starts with "ICE:"). */
  private def parties(l: Layout): Parties = {
    var vendor, vendorIce, client, clientIce: String = null
    var i = 0
    while (i < l.n) {
      if (l.mention(i)) {
        val t = l.text(i)
        val ice = if (t.startsWith("ICE:")) group1(iceRe, t) else null
        if (l.zone(i) == "company_info") {
          if (vendor == null) vendor = t
          if (vendorIce == null) vendorIce = ice
        } else if (l.zone(i) == "client_info") {
          if (client == null && !t.endsWith(":")) client = t
          if (clientIce == null) clientIce = ice
        }
      }
      i += 1
    }
    Parties(vendor, vendorIce, client, clientIce)
  }

  /** The triple kernel: Extract.triples of one document, over its span
    * arrays. */
  private def triplesOf(id: String, kind: Array[String], rawText: Array[String],
      offset: Array[Int], conf: Array[Double], x: Array[Int], y: Array[Int], w: Array[Int],
      h: Array[Int]): Seq[Triple] = {
    // Extract explodes a null span array to no row, not even rdf:type
    if (rawText == null) return Nil
    val l = layout(rawText, conf, y, h)
    val text = l.text
    // a null doc_id nulls every doc-scoped subject; vendor nodes keep theirs
    val inv = if (id == null) null else s"invoice:$id"
    val bld = Seq.newBuilder[Triple]
    def tr(subj: String, pred: String, obj: String): Unit =
      if (subj != null && obj != null && obj.nonEmpty) bld += Triple(subj, pred, obj)

    tr(inv, "rdf:type", "facturai:Invoice")

    // the first invoice number and the first two dates among the mentions
    var number, date, due: String = null
    var i = 0
    while (i < l.n) {
      if (l.mention(i)) {
        val t = text(i)
        if (number == null && t.contains("FACT-")) number = group1(numberRe, t)
        if (due == null && isDateText(t)) { if (date == null) date = t else due = t }
      }
      i += 1
    }
    tr(inv, "hasNumber", number)
    Option(date).flatMap(isoDate).foreach(tr(inv, "hasDate", _))
    Option(due).flatMap(isoDate).foreach(tr(inv, "hasDueDate", _))

    val p = parties(l)
    val vendorNode = if (p.vendor == null) null else "vendor:" + entitySlug(p.vendor)
    val clientNode = if (p.client == null) null else "vendor:" + entitySlug(p.client)
    tr(inv, "hasVendor", vendorNode)
    tr(inv, "hasClient", clientNode)
    tr(vendorNode, "hasICE", p.vendorIce)
    tr(clientNode, "hasICE", p.clientIce)

    // total-zone mentions lower-cased once for the three label lookups
    val totals = (0 until l.n).filter(i => l.mention(i) && l.zone(i) == "total")
      .map(i => (text(i), text(i).toLowerCase(Locale.ROOT)))
    def totalZoneAmount(key: String): Option[String] =
      totals.find(_._2.contains(key)).flatMap { case (t, lo) => firstAmount(t, lo) }
    totalZoneAmount("sous-total").foreach(tr(inv, "hasSubtotalHT", _))
    totalZoneAmount("tva").foreach(tr(inv, "hasTVA", _))
    totalZoneAmount("total ttc").foreach(tr(inv, "hasTotalTTC", _))

    // line items: ALL text spans in items zone (no P2 filter — mirror of
    // Extract); leader/row grouping with tolerance 15, cells by x
    val items = (0 until l.n).filter(i =>
      l.zone(i) == "items" && kind(i) == "text" && text(i).nonEmpty)
    if (items.nonEmpty) {
      val xc = new Array[Double](l.n)
      items.foreach(i => xc(i) = x(i) + w(i) / 2.0)
      def sameRow(a: Int, b: Int): Boolean = math.abs(l.yc(a) - l.yc(b)) <= RowTol
      val leaders = items.filter(s => !items.exists(o => sameRow(o, s) &&
          (xc(o) < xc(s) || (xc(o) == xc(s) && offset(o) < offset(s)))))
        .sortBy(l.yc(_))
        .filter(text(_) != "Description")
      leaders.zipWithIndex.foreach { case (leader, n) =>
        val cells = items.filter(sameRow(_, leader)).sortBy(xc(_))
        val li = if (id == null) null else s"lineItem:$id/$n"
        tr(inv, "hasLineItem", li)
        cells.headOption.foreach(c => tr(li, "hasDescription", text(c)))
        cells.lift(1).flatMap(c => sparkToInt(text(c)))
          .foreach(q => tr(li, "hasQuantity", q.toString))
        cells.lift(4).flatMap(c => normalizeAmount(text(c)))
          .foreach(tr(li, "hasAmount", _))
      }
    }
    bld.result()
  }

  /** The mention kernel: Extract.vendorMentions of one document (a missing
    * ICE as ""), over the four span fields it reads. */
  private def mentionsOf(docId: String, text: Array[String], conf: Array[Double],
      y: Array[Int], h: Array[Int]): Seq[VendorMention] =
    if (text == null) Nil
    else {
      val p = parties(layout(text, conf, y, h))
      def row(role: String, surface: String, ice: String) =
        VendorMention(docId, role, surface, if (ice == null) "" else ice, entitySlug(surface))
      Seq(Option(p.vendor).map(row("vendor", _, p.vendorIce)),
        Option(p.client).map(row("client", _, p.clientIce))).flatten
    }

  /** [[vendorMentions]] of one document: the per-doc adapter tests use. */
  def mentionsOnly(doc: OcrDoc): Seq[VendorMention] = {
    val s = if (doc.spans == null) Nil else doc.spans
    mentionsOf(doc.doc_id, s.map(_.text).toArray, s.map(_.conf).toArray,
      s.map(_.bbox.y).toArray, s.map(_.bbox.h).toArray)
  }

  /** Extract.triples, reading only `doc_id` and the span fields kind,
    * text, offset, conf and bbox: no whole `OcrDoc` is decoded, and on a
    * file scan Spark's nested schema pruning reads just those 9 leaf
    * columns (ExtractParitySpec checks the scan's required schema). */
  def triples(docs: Dataset[OcrDoc]): Dataset[Triple] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("spans.kind"), col("spans.text"), col("spans.offset"),
        col("spans.conf"), col("spans.bbox.x"), col("spans.bbox.y"), col("spans.bbox.w"),
        col("spans.bbox.h"))
      .as[(String, Array[String], Array[String], Array[Int], Array[Double], Array[Int],
        Array[Int], Array[Int], Array[Int])]
      .mapPartitions(_.flatMap { case (id, k, t, o, c, x, y, w, h) =>
        triplesOf(id, k, t, o, c, x, y, w, h)
      })
  }

  /** Extract.vendorMentions (a missing ICE as ""), reading only `doc_id`
    * and the span fields text, conf, bbox.y and bbox.h: no whole `OcrDoc`
    * is decoded, and on a file scan Spark's nested schema pruning reads
    * just those five leaf columns (ExtractParitySpec checks the scan's
    * required schema). */
  def vendorMentions(docs: Dataset[OcrDoc]): Dataset[VendorMention] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("spans.text"), col("spans.conf"),
        col("spans.bbox.y"), col("spans.bbox.h"))
      .as[(String, Array[String], Array[Double], Array[Int], Array[Int])]
      .mapPartitions(_.flatMap { case (id, t, c, y, h) => mentionsOf(id, t, c, y, h) })
  }
}
