package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed suffix array over a concatenated corpus — prefix doubling
  * (Manber–Myers re-expressed as joins): the index structure behind
  * exact-substring deduplication at scale (the Lee et al. ExactSubstr
  * machinery that `Curation.repeatedSpans` approximates with fixed
  * k-windows). The corpus string is the documents in id order, each
  * followed by a separator (default U+0001, below every text byte), and
  * the result ranks every global character position by its full suffix.
  *
  * Algorithm: rank_0 = dense rank of the single character; round k joins
  * each position's rank with the rank 2^k positions ahead (missing =
  * sentinel -1, which orders prefixes before their extensions) and
  * densely re-ranks the pair; after ceil(log2 n) rounds ranks are the
  * suffix array. Every step is a join or a distinct — no suffix STRING
  * is ever materialized, which is the whole point: naive suffix sorting
  * moves O(n^2) bytes, prefix doubling moves O(n log n) longs.
  *
  * The per-round dense re-rank and the per-document global character
  * offsets both use `Enumerate` (range partition + partition-offset
  * scan) — nothing corpus-scale ever passes through one partition and
  * the only driver state is one row per partition per round. Rounds
  * terminate early once all ranks are distinct (for natural text:
  * O(log of the longest repeat), not log n).
  *
  * Output: `(pos, rank)` — 0-based global position and 0-based suffix
  * rank, one row per character of the concatenated corpus (separators
  * included). Deterministic; document ids must be unique. */
object SuffixArray {

  def build(docs: DataFrame, id: Column, text: Column,
      sep: String = "\u0001", maxRounds: Int = 48): DataFrame = {
    require(sep.length == 1, "SuffixArray.build: sep must be one char")
    val spark = docs.sparkSession
    import spark.implicits._

    // the id keeps its ORIGINAL type: concatenation order is the id
    // column's natural ordering (a string cast would order 10 before 2)
    val d = docs.select(id.as("id"), coalesce(text, lit("")).as("t"))

    // r6: size-gated driver-local prefix doubling (the k-core local-peel
    // pattern). The suffix array is a unique function of the corpus, and
    // the local run executes the SAME recurrence — alpha ranks by
    // UTF8String order (Spark's string comparison), rank pairs with the
    // −1 sentinel, dense 0-based re-ranks — so it provably agrees with
    // the join form (SuffixArraySpec gate-forces both). At gate scale the
    // distributed rounds are pure serial latency: ~log(longest repeat)
    // rounds × (join + range re-rank + two driver actions) each. A text
    // position is one code point in both paths (what `length` counts).
    val tcRow = d.agg(sum(length(col("t")) + 1)).head()
    val totalChars = if (tcRow.isNullAt(0)) 0L else tcRow.getLong(0)
    // a char weighs 4 budget entries: its code point, its rank and a
    // (rank, rank, pos) sort triple (this keeps the 2M-char switch point)
    if (totalChars > 0 && graft.Local.fits(spark, "suffixarray", 4 * totalChars)) {
      val texts = d.orderBy(col("id")).select("t").collect().map(_.getString(0))
      // alpha: dense 0-based rank of each distinct char in UTF8 (byte)
      // order — exactly Enumerate.rowNumber over distinct c. A lone
      // surrogate becomes `?` in UTF-8, as the distributed `c` does.
      val units = texts.map(_ + sep).mkString.codePoints().toArray
        .map(cp => UTF8String.fromString(new String(Character.toChars(cp))))
      val n = units.length
      val alphaRank = units.distinct.sorted.zipWithIndex.toMap
      var rank = units.map(u => alphaRank(u).toLong)
      var span = 1
      var nd = rank.distinct.length
      var round0 = 0
      while (nd < n) {
        round0 += 1
        require(round0 <= maxRounds,
          s"SuffixArray.build: $maxRounds rounds without convergence " +
            s"(n=$n, distinct=$nd) — raise maxRounds deliberately")
        val pairs = Array.tabulate(n) { g =>
          (rank(g), if (g + span < n) rank(g + span) else -1L, g)
        }
        val sorted = pairs.sortBy(p => (p._1, p._2))
        val next = new Array[Long](n)
        var r = -1L; var prev: (Long, Long) = (-2L, -2L)
        sorted.foreach { case (r1, r2, g) =>
          if ((r1, r2) != prev) { r += 1; prev = (r1, r2) }
          next(g) = r
        }
        rank = next
        span *= 2
        nd = rank.distinct.length
      }
      import spark.implicits._
      return rank.zipWithIndex.map { case (r, g) => (g.toLong, r) }
        .toSeq.toDF("pos", "rank")
    }
    val based = Enumerate.prefixSums(
      d.select(col("id"), (length(col("t")) + 1).as("len")),
      col("id"), col("len"), "base")
    val chars = d.join(based.select("id", "base"), Seq("id"))
      .select(col("t"), col("base")).as[(String, Long)]
      .flatMap { case (t, b) =>
        (t + sep).codePoints().toArray.iterator.zipWithIndex.map {
          case (cp, i) => (b + i, new String(Character.toChars(cp)))
        }
      }.toDF("g", "c")

    val alpha = Enumerate.rowNumber(
      chars.select("c").distinct(), col("c"), "rank")
    var ranks = graft.Materialize(
      chars.join(alpha, Seq("c")).select(col("g"), col("rank")),
      eager = false)
    val n = ranks.count()
    if (n == 0L)
      return ranks.select(col("g").as("pos"), col("rank"))

    var distinct = ranks.agg(countDistinct("rank")).as[Long].head()
    var span = 1L
    var round = 0
    while (distinct < n) {
      round += 1
      require(round <= maxRounds,
        s"SuffixArray.build: $maxRounds rounds without convergence " +
          s"(n=$n, distinct=$distinct) — raise maxRounds deliberately")
      val ahead = ranks.select((col("g") - span).as("g"),
        col("rank").as("r2"))
      val pairs = graft.Materialize(
        ranks.join(ahead, Seq("g"), "left")
          .select(col("g"), col("rank").as("r1"),
            coalesce(col("r2"), lit(-1L)).as("r2")), eager = false)
      val rr = Enumerate.rowNumber(
        pairs.select("r1", "r2").distinct(),
        struct(col("r1"), col("r2")), "nr")
      ranks = graft.Materialize(
        pairs.join(rr, Seq("r1", "r2"))
          .select(col("g"), col("nr").as("rank")), eager = false)
      span *= 2L
      distinct = ranks.agg(countDistinct("rank")).as[Long].head()
    }
    ranks.select(col("g").as("pos"), col("rank"))
  }
}
