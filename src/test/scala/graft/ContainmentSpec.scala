package graft

import graft.ops.Dedup

class ContainmentSpec extends SparkSuite {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], k: Int = 3,
      thrPpm: Long = 500000L, maxDf: Int = 50, parts: Int = 3) =
    Dedup.containmentPairs(docs.toDF("doc_id", "text").repartition(parts),
      k = k, thresholdPpm = thrPpm, maxDf = maxDf)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap

  /** Independent reference: all-pairs distinct-shingle-set containment
    * (no blocking, no joins). */
  private def naive(docs: Seq[(Long, String)], k: Int, thrPpm: Long) = {
    def sh(t: String) = t.trim.split("\\s+").filter(_.nonEmpty)
      .sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
    val sets = docs.map { case (i, t) => i -> sh(t) }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      common = (sa & sb).size.toLong if common > 0
      ppm = 1000000L * common / sa.size if ppm >= thrPpm
    } yield (a, b) -> ((common, sa.size.toLong, ppm))).toMap
  }

  test("excerpt is fully contained one way, barely the other") {
    val big = "a b c d e f g h i j k l m n o p q r s t"
    val excerpt = "c d e f g h" // 6 words -> 4 3-shingles, all in big
    val got = run(Seq((1L, big), (2L, excerpt)), k = 3, thrPpm = 500000L)
    assert(got((2L, 1L)) === ((4L, 4L, 1000000L))) // excerpt ⊂ big
    assert(!got.contains((1L, 2L))) // 4/18 = 222222 ppm < threshold
  }

  test("identical docs contain each other at exactly 1e6 ppm") {
    val got = run(Seq((1L, "x y z w v"), (2L, "x y z w v")), k = 3)
    assert(got((1L, 2L))._3 === 1000000L)
    assert(got((2L, 1L))._3 === 1000000L)
  }

  test("disjoint docs produce nothing; sub-k docs have no shingles") {
    val got = run(Seq((1L, "a b c d"), (2L, "x y z w"), (3L, "p q")), k = 3)
    assert(got.isEmpty)
  }

  test("parity with all-pairs reference on a random corpus (threshold 0.3)") {
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val rnd = new scala.util.Random(37)
    val base = (0 until 20).map(i =>
      (i.toLong, Seq.fill(8 + rnd.nextInt(25))(vocab(rnd.nextInt(6))).mkString(" ")))
    // add genuine excerpts to exercise the asymmetric direction
    val exc = (0 until 6).map { i =>
      val t = base(i)._2.split(" ").slice(2, 9).mkString(" ")
      (100L + i, t)
    }
    val docs = base ++ exc
    val got = run(docs, k = 3, thrPpm = 300000L, maxDf = 1000)
    val want = naive(docs, 3, 300000L)
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("verify broadcast gates on the records' tid entries, not their count") {
    // 3 records of 28 distinct 3-shingles each (84 tid entries) against a
    // broadcast gate of 10 rows: neither verify join may be hinted
    val docs = (0 until 3).map(d =>
      (d.toLong, (0 until 30).map(i => s"w${d * 10 + i}").mkString(" ")))
    val plan = try {
      spark.conf.set(Hints.MaxRowsKey, "10")
      Dedup.containmentPairs(docs.toDF("doc_id", "text"), k = 3)
        .queryExecution.analyzed.toString
    } finally spark.conf.unset(Hints.MaxRowsKey)
    assert(!plan.contains("ResolvedHint"), plan)
  }
}
