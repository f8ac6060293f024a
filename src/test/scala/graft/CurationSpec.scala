package graft

import graft.ops.Curation
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSuite {
  import spark.implicits._

  // ------------------------------------------------------------- PII ------

  private def luhnOf(s: String): Boolean = {
    // independent driver-side Luhn (textbook right-to-left loop)
    val digits = s.reverse.map(_ - '0')
    val total = digits.zipWithIndex.map { case (d, i) =>
      if (i % 2 == 1) { val dd = d * 2; if (dd > 9) dd - 9 else dd } else d
    }.sum
    s.nonEmpty && total % 10 == 0
  }

  test("luhnValid matches the textbook check on known vectors") {
    val cases = Seq(
      "4532015112830366" -> true, // classic valid Visa test number
      "4532015112830367" -> false, // last digit bumped
      "79927398713" -> true, // the worked example from the public spec
      "79927398710" -> false,
      "0000000000000000" -> true)
    val got = cases.map(_._1).toDF("s")
      .select(col("s"), Curation.luhnValid(col("s")).as("v"))
      .as[(String, Boolean)].collect().toMap
    cases.foreach { case (s, expect) =>
      assert(got(s) == expect, s"luhn($s)")
      assert(luhnOf(s) == expect, s"driver luhn($s) sanity")
    }
  }

  test("piiScan counts and redacts emails, phones and card-length digit runs") {
    val text = "Ann Lee contact 25-989-741-2988 mail ann.lee+x@corp.example.com " +
      "ref 4532015112830366 and bogus 1234567890123456 tail"
    val row = Curation.piiScan(Seq((1L, text)).toDF("id", "t"), col("t"), col("id"))
      .as[(Long, Int, Int, Int, Int, String)].collect().head
    assert(row._2 == 1, "n_emails")
    assert(row._3 == 1, "n_phones")
    assert(row._4 == 2, "n_digit_runs")
    assert(row._5 == 1, "n_cards (only the Luhn-valid run)")
    assert(row._6 ==
      "Ann Lee contact [PHONE] mail [EMAIL] ref [NUM] and bogus [NUM] tail")
  }

  test("piiScan on clean text is all-zero and identity") {
    val row = Curation.piiScan(
      Seq((1L, "no pii here just words 12 34")).toDF("id", "t"), col("t"), col("id"))
      .as[(Long, Int, Int, Int, Int, String)].collect().head
    assert((row._2, row._3, row._4, row._5) == ((0, 0, 0, 0)))
    assert(row._6 == "no pii here just words 12 34")
  }

  test("a 20-digit run yields one 19-digit match plus remainder in both count and redaction") {
    // documents the leftmost-greedy cross-engine semantics the scan relies on
    val row = Curation.piiScan(
      Seq((1L, "x 12345678901234567890 y")).toDF("id", "t"), col("t"), col("id"))
      .as[(Long, Int, Int, Int, Int, String)].collect().head
    assert(row._4 == 1, "only the 19-digit prefix is a candidate; the lone trailing digit is not")
    assert(row._6 == "x [NUM]0 y")
  }

  // ------------------------------------------------------ repetition ------

  private def rep(texts: (Long, String)*) =
    Curation.repetitionMetrics(texts.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .as[(Long, Int, Double, Double, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap

  test("repetition metrics on crafted documents") {
    val m = rep(
      1L -> "a a a a", // bigrams "a a"×3 → top 1.0; trigrams "a a a"×2 → dup 1/2
      2L -> "w x y z", // all distinct → top bigram 1/3 (tiny-doc gate artifact)
      3L -> "", // empty
      4L -> "p q p q p q") // bigrams pq,qp,pq,qp,pq → top 3/5; trigrams dup 1/2
    assert(m(1L) == ((4, 0.75, 1.0, 0.5, 1)))
    assert(m(2L) == ((4, 0.0, 0.3333, 0.0, 1)))
    assert(m(3L) == ((0, 0.0, 0.0, 0.0, 0)))
    assert(m(4L) == ((6, round4(1.0 - 2.0 / 6), 0.6, 0.5, 1)))
  }

  test("all-distinct text is not repetitive under the gate") {
    // 8 distinct words → top bigram 1/7 ≈ 0.1429 ≤ 0.18, dup trigrams 0
    val m = rep(1L -> "q w e r t y u i")
    assert(m(1L)._2 == 0.0)
    assert(m(1L)._5 == 0)
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("topCount equals the max group count computed independently") {
    val arrs = Seq(
      Seq("b", "a", "b", "c", "b", "a"),
      Seq("x"),
      Seq.empty[String])
    val got = arrs.toDF("arr").select(Curation.topCount(col("arr")))
      .as[Long].collect().toSeq
    val want = arrs.map(a => if (a.isEmpty) 0L else a.groupBy(identity).values.map(_.size).max.toLong)
    assert(got == want)
  }

  // -------------------------------------------------------- sampling ------

  test("stratified sample is deterministic, rate-bounded, and layout-independent") {
    val docs = (0L until 2000L).map(i => (i, if (i % 3 == 0) "en" else "fr")).toDF("doc_id", "lang")
    val rates = Map("en" -> 10, "fr" -> 50)
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.stratifiedSample(df, col("doc_id"), col("lang"), rates, defaultRate = 5)
        .select("doc_id").as[Long].collect().toSet
    val s1 = run(docs)
    val s2 = run(docs.repartition(13)) // partition layout must not matter
    assert(s1 == s2)
    // every kept row's bucket respects its stratum rate
    val kept = Curation.stratifiedSample(docs, col("doc_id"), col("lang"), rates, 5)
      .select("lang", "bucket").as[(String, Long)].collect()
    assert(kept.forall { case (l, b) => b < rates(l) })
    // observed rates within a loose tolerance of the targets (hash uniformity)
    val en = kept.count(_._1 == "en").toDouble / (2000 / 3 + 1)
    val fr = kept.count(_._1 == "fr").toDouble / (2000 - (2000 / 3 + 1))
    assert(math.abs(en - 0.10) < 0.05, s"en rate $en")
    assert(math.abs(fr - 0.50) < 0.07, s"fr rate $fr")
  }

  test("unknown stratum falls back to the default rate") {
    val docs = (0L until 500L).map(i => (i, "xx")).toDF("doc_id", "lang")
    val kept = Curation.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map("en" -> 90), defaultRate = 7)
      .select("bucket").as[Long].collect()
    assert(kept.forall(_ < 7))
    assert(kept.nonEmpty)
  }

  // --------------------------------------------------------- packing ------

  /** Independent driver-side concat-and-chunk fold (sequential running sum
    * over id order) — the definition packSequences must distribute. */
  private def packFold(docs: Seq[(Long, Long)], budget: Long): Seq[(Long, Long, Long, Long, Long, Long)] = {
    var off = 0L
    docs.sortBy(_._1).map { case (id, n) =>
      val start = off
      off += n
      val seqId = start / budget
      val nSeqs = if (n == 0) 0L else (start + n - 1) / budget - seqId + 1
      (id, n, start, seqId, start % budget, nSeqs)
    }
  }

  test("packSequences matches the sequential concat-and-chunk fold") {
    val rng = new scala.util.Random(7)
    val docs = (0L until 400L).map(i => (i, rng.nextInt(300).toLong))
    val got = Curation.packSequences(
        docs.toDF("doc_id", "n"), col("doc_id"), col("n"), budget = 512L, numBuckets = 8)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == packFold(docs, 512L))
  }

  test("packSequences offsets without a single-partition global window") {
    spark.conf.set(Materialize.ModeKey, "none") // keep the scan in the plan
    val plan = try Curation.packSequences((0L until 20L).map(i => (i, i)).toDF("doc_id", "n"),
        col("doc_id"), col("n"), budget = 16L, numBuckets = 4).queryExecution.optimizedPlan
      finally spark.conf.unset(Materialize.ModeKey)
    val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, global)
  }

  test("packSequences is independent of input layout and bucket count") {
    val docs = (0L until 300L).map(i => (i, (i * 37 % 200) + 1)).toDF("doc_id", "n")
    def run(df: org.apache.spark.sql.DataFrame, nb: Int) =
      Curation.packSequences(df, col("doc_id"), col("n"), budget = 256L, numBuckets = nb)
        .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val a = run(docs, 1)
    assert(run(docs.repartition(17), 9) == a)
    assert(run(docs.orderBy(col("doc_id").desc), 4) == a)
  }

  test("packSequences edges: oversized docs span, empty docs span zero") {
    // budget 100: doc 0 fills [0,250) spanning 3 seqs; doc 1 is empty at
    // offset 250; doc 2 starts mid-seq-2 and crosses into seq 3
    val docs = Seq((0L, 250L), (1L, 0L), (2L, 80L))
    val got = Curation.packSequences(
        docs.toDF("doc_id", "n"), col("doc_id"), col("n"), budget = 100L, numBuckets = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 250L, 0L, 0L, 0L, 3L),
      (1L, 0L, 250L, 2L, 50L, 0L),
      (2L, 80L, 250L, 2L, 50L, 2L)))
    assert(got == packFold(docs, 100L))
  }

  // -------------------------------------------------- passage mining ------

  private val passageDocs = Seq(
    // shared 4-token boilerplate "terms apply see site" in docs 1..3
    (1L, "alpha beta terms apply see site gamma"),
    (2L, "terms apply see site delta epsilon"),
    (3L, "zeta terms apply see site"),
    (4L, "totally unrelated words here only once"),
    (5L, "short doc"), // fewer than k tokens
    (6L, "rep rep rep rep rep rep")) // within-doc repeats, single doc
    .toDF("doc_id", "text")

  test("repeatedPassages finds cross-doc k-windows with doc and occurrence counts") {
    val out = Curation.repeatedPassages(passageDocs, col("doc_id"), col("text"), k = 4)
      .select("passage", "n_docs", "n_occurrences")
      .as[(String, Long, Long)].collect().map { case (p, d, o) => p -> ((d, o)) }.toMap
    assert(out.contains("terms apply see site"))
    assert(out("terms apply see site") == ((3L, 3L)))
    // doc 6's within-doc repeated windows are NOT cross-doc (n_docs = 1)
    assert(!out.keys.exists(_.startsWith("rep")))
  }

  test("repeatedPassages: within-doc repeats count occurrences once minDocs is met") {
    val docs = Seq((1L, "x y x y x y"), (2L, "x y again")).toDF("id", "t")
    val out = Curation.repeatedPassages(docs, col("id"), col("t"), k = 2)
      .select("passage", "n_docs", "n_occurrences")
      .as[(String, Long, Long)].collect().map { case (p, d, o) => p -> ((d, o)) }.toMap
    // "x y" occurs at positions 1,3,5 in doc 1 and once in doc 2
    assert(out == Map("x y" -> ((2L, 4L))))
  }

  test("repeatedPassages fp matches the fingerprint of the passage; layout invariance") {
    val one = Curation.repeatedPassages(passageDocs.coalesce(1),
      col("doc_id"), col("text"), k = 4)
      .as[(Long, String, Long, Long)].collect().toSet
    val many = Curation.repeatedPassages(passageDocs.repartition(7),
      col("doc_id"), col("text"), k = 4)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(one == many && one.nonEmpty)
    val checked = spark.range(1).select(
      graft.ops.TextOps.fingerprint(lit("terms apply see site"))).head().getLong(0)
    assert(one.exists { case (fp, p, _, _) => p == "terms apply see site" && fp == checked })
  }

  test("boilerplateFraction covers every doc, including window-less ones") {
    val out = Curation.boilerplateFraction(passageDocs, col("doc_id"), col("text"), k = 4)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, w, r, f) => id -> ((w, r, f)) }.toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // doc 3 "zeta terms apply see site": windows at pos1 (zeta terms apply
    // see) and pos2 (terms apply see site); only pos2 is repeated
    assert(out(3L) == ((2L, 1L, 0.5)))
    assert(out(4L)._3 == 0.0)
    assert(out(5L) == ((0L, 0L, 0.0))) // shorter than k
  }

  // ----------------------------------------------- importance (DSIR) ------

  private val dsirDocs = Seq(
    (1L, "spark shuffle join", true),
    (2L, "spark catalyst plan", true),
    (3L, "cats dogs pets", false),
    (4L, "dogs and more dogs", false),
    (5L, "spark dogs", false), // mixed: target-ish token + background token
    (6L, "", false)) // empty doc
    .toDF("id", "text", "is_target")

  test("importanceWeights ranks target-like docs above background-like; empty doc weights 0") {
    val out = Curation.importanceWeights(dsirDocs, col("id"), col("text"),
      col("is_target"), buckets = 64, alpha = 0.01)
      .as[(Long, Long, Double)].collect().map { case (id, n, w) => id -> ((n, w)) }.toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(out(6L) == ((0L, 0.0)))
    // every target doc outscores every pure-background doc
    val targets = Seq(out(1L)._2, out(2L)._2)
    val background = Seq(out(3L)._2, out(4L)._2)
    assert(targets.min > background.max)
    // the mixed doc lands strictly between the extremes
    assert(out(5L)._2 < targets.max && out(5L)._2 > background.min)
  }

  test("importanceWeights matches a driver-side replay of the same model") {
    val buckets = 32
    val alpha = 0.5
    val rows = Seq((1L, "a b a", true), (2L, "b c", false), (3L, "a c c", false))
    def fp(s: String): Long =
      s.foldLeft(0L)((h, c) => ((h * 31 + c.toLong) % 2147483647L + 2147483647L) % 2147483647L)
    def bucket(tok: String) = ((fp(tok) % buckets) + buckets) % buckets
    val toks = rows.flatMap { case (id, t, tgt) =>
      t.split("\\s+").filter(_.nonEmpty).map(tok => (id, bucket(tok), tgt))
    }
    val tgtCounts = toks.filter(_._3).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val bgCounts = toks.filterNot(_._3).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val (tT, tB) = (tgtCounts.values.sum, bgCounts.values.sum)
    def lr(b: Long) =
      math.log((tgtCounts.getOrElse(b, 0L) + alpha) / (tT + alpha * buckets)) -
        math.log((bgCounts.getOrElse(b, 0L) + alpha) / (tB + alpha * buckets))
    val expected = rows.map { case (id, t, _) =>
      id -> math.rint(t.split("\\s+").filter(_.nonEmpty).map(tok => lr(bucket(tok))).sum * 1e6) / 1e6
    }.toMap
    val out = Curation.importanceWeights(rows.toDF("id", "t", "tgt"),
      col("id"), col("t"), col("tgt"), buckets = buckets, alpha = alpha)
      .as[(Long, Long, Double)].collect().map { case (id, _, w) => id -> w }.toMap
    assert(out == expected)
  }

  test("importanceWeights is layout-independent") {
    val one = Curation.importanceWeights(dsirDocs.coalesce(1), col("id"),
      col("text"), col("is_target")).as[(Long, Long, Double)].collect().toSet
    val many = Curation.importanceWeights(dsirDocs.repartition(8), col("id"),
      col("text"), col("is_target")).as[(Long, Long, Double)].collect().toSet
    assert(one == many)
  }

  test("prioritySample: matches a driver replay of the published formula") {
    // independent sequential replay: same rolling fingerprint, same
    // u = (h mod 2^20 + 1)/2^20, same single division, same (q, id) cut
    def fp(s: String): Long =
      s.foldLeft(0L)((h, c) => java.lang.Math.floorMod(h * 31 + c.toLong, 2147483647L))
    val rows = (0L until 120L).map(i => (i, (i * 37 % 900 + 1).toDouble))
    val expected = rows.map { case (id, w) =>
      val u = (java.lang.Math.floorMod(fp(s"w:$id"), 1L << 20) + 1).toDouble / (1L << 20)
      (id, w, u, u / w)
    }.sortBy(t => (t._4, t._1)).take(25).toSet
    val out = Curation.prioritySample(rows.toDF("id", "w"),
      col("id"), col("w"), k = 25)
      .as[(Long, Double, Double, Double)].collect().toSet
    assert(out == expected)
    // layout invariance: identical cut at any partitioning
    val re = Curation.prioritySample(rows.toDF("id", "w").repartition(13),
      col("id"), col("w"), k = 25)
      .as[(Long, Double, Double, Double)].collect().toSet
    assert(re == out)
  }

  test("prioritySample: non-positive and null weights are excluded; heavy" +
      " weights are overrepresented") {
    val rows = Seq((1L, Some(0.0)), (2L, Some(-5.0)), (3L, None),
      (4L, Some(2.0)), (5L, Some(3.0))).toDF("id", "w")
    val out = Curation.prioritySample(rows, col("id"), col("w"), k = 10)
      .select("id").as[Long].collect().toSet
    assert(out == Set(4L, 5L))
    // statistical sanity at scale: weight-1000 ids should dominate a k-cut
    // over weight-1 ids (deterministic given the fixed hash)
    val skewed = (0L until 200L).map(i => (i, if (i < 100) 1000.0 else 1.0))
    val kept = Curation.prioritySample(skewed.toDF("id", "w"),
      col("id"), col("w"), k = 40).select("id").as[Long].collect()
    assert(kept.count(_ < 100) > 30, s"heavy ids underrepresented: ${kept.toSeq}")
  }

  test("packingStats: sequence count, fill ratio, straddle count") {
    val docs = Seq((0L, 250L), (1L, 0L), (2L, 80L)).toDF("doc_id", "n")
    val packed = Curation.packSequences(docs, col("doc_id"), col("n"), 100L, numBuckets = 2)
    val row = Curation.packingStats(packed, 100L)
      .as[(Long, Long, Long, Double, Long)].collect().head
    // 330 tokens → 4 sequences of 100 → fill 0.825; docs 0 and 2 straddle
    assert(row == ((3L, 330L, 4L, 0.825, 2L)))
    val empty = Curation.packingStats(
      Curation.packSequences(Seq.empty[(Long, Long)].toDF("doc_id", "n"),
        col("doc_id"), col("n"), 100L, numBuckets = 2), 100L)
      .as[(Long, Long, Long, Double, Long)].collect().head
    assert(empty == ((0L, 0L, 0L, 0.0, 0L)))
  }

  // ------------------------------------- repeated spans + the cut ------

  private def spansOf(docs: Seq[(String, String)], k: Int = 3) =
    Curation.repeatedSpans(docs.toDF("id", "text").repartition(3),
      col("id"), col("text"), k = k, minDocs = 2)
      .as[(String, Int, Int, Int)].collect().toSet

  test("repeatedSpans: hand-traced maximal spans (k=3, two shared runs)") {
    // d1/d2 share "a b c d": windows "a b c"/"b c d" are corpus-repeated,
    // their starts merge into ONE maximal span covering 4 tokens
    val spans = spansOf(Seq(
      ("d1", "a b c d e f"), ("d2", "x a b c d y"), ("d3", "p q r s t u")))
    assert(spans == Set(("d1", 1, 4, 4), ("d2", 2, 5, 4)))
  }

  test("repeatedSpans: starts exactly k apart merge; farther apart split") {
    // merged: marked starts {1, 4}, gap 3 == k -> one span [1,6]
    val merged = spansOf(Seq(
      ("a", "m n o r s t"), ("b", "m n o"), ("c", "r s t")))
    assert(merged.filter(_._1 == "a") == Set(("a", 1, 6, 6)))
    // split: marked starts {1, 5}, gap 4 > k -> two spans
    val split = spansOf(Seq(
      ("a", "m n o Q r s t"), ("b", "m n o"), ("c", "r s t")))
    assert(split.filter(_._1 == "a") ==
      Set(("a", 1, 3, 3), ("a", 5, 7, 3)))
  }

  test("cutRepeatedSpans: removes covered tokens, keeps unique prose, " +
    "reports every doc incl. null/empty") {
    val docs = Seq(("d1", "a b c d e f"), ("d2", "x a b c d y"),
      ("d3", "p q r s t u"), ("d4", null.asInstanceOf[String]), ("d5", " "))
    val out = Curation.cutRepeatedSpans(docs.toDF("id", "text"),
        col("id"), col("text"), k = 3, minDocs = 2)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("d1") == ((6L, 4L, "e f")))
    assert(out("d2") == ((6L, 4L, "x y")))
    assert(out("d3") == ((6L, 0L, "p q r s t u")))
    assert(out("d4") == ((0L, 0L, "")))
    assert(out("d5") == ((0L, 0L, "")))
  }

  test("repeatedSpans: within-doc repetition alone never marks (minDocs " +
    "counts DISTINCT docs); layout invariant") {
    assert(spansOf(Seq(("solo", "a b c a b c a b c"),
      ("other", "z z z z"))).isEmpty)
    val docs = Seq(("d1", "a b c d e f g h"), ("d2", "q a b c d e r"),
      ("d3", "c d e f g h i"))
    val a = Curation.repeatedSpans(docs.toDF("id", "text").repartition(1),
      col("id"), col("text"), 3, 2).as[(String, Int, Int, Int)].collect().toSet
    val b = Curation.repeatedSpans(docs.toDF("id", "text").repartition(7),
      col("id"), col("text"), 3, 2).as[(String, Int, Int, Int)].collect().toSet
    assert(a == b && a.nonEmpty)
  }
}
