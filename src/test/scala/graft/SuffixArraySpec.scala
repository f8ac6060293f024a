package graft

import graft.ops.{Enumerate, SuffixArray}
import org.apache.spark.sql.functions.col

class SuffixArraySpec extends SparkSuite {
  import spark.implicits._

  private def run(docs: Seq[(String, String)], parts: Int = 3): Map[Long, Long] =
    SuffixArray.build(docs.toDF("id", "t").repartition(parts),
      col("id"), col("t"))
      .as[(Long, Long)].collect().map(r => r._1 -> r._2).toMap

  /** Independent reference: materialize every suffix STRING of the
    * concatenated corpus and sort them — the O(n^2) naive construction
    * the engine exists to avoid. */
  private def naive(docs: Seq[(String, String)]): Map[Long, Long] = {
    val s = docs.sortBy(_._1).map(_._2 + "\u0001").mkString
    s.indices.map(i => s.substring(i))
      .zipWithIndex.sortBy(_._1)
      .zipWithIndex.map { case ((_, pos), rank) => pos.toLong -> rank.toLong }
      .toMap
  }

  test("classic banana") {
    val got = run(Seq(("d", "banana")))
    assert(got === naive(Seq(("d", "banana"))))
    // sanity on the well-known order: separator suffix ranks first
    assert(got(6L) === 0L)
  }

  test("repetitive text (worst case for doubling rounds)") {
    val docs = Seq(("d", "aaaaaaaaaaaaaaaa"))
    assert(run(docs) === naive(docs))
    val docs2 = Seq(("d", "abababababababab"))
    assert(run(docs2) === naive(docs2))
  }

  test("multi-document concatenation follows id order; empty docs ok") {
    val docs = Seq(("c", "na"), ("a", "ban"), ("b", ""), ("d", "na"))
    assert(run(docs, parts = 4) === naive(docs))
  }

  test("cross-document repeats rank consistently (the dedup use case)") {
    val docs = Seq(("a", "the quick brown fox"), ("b", "the quick red fox"),
      ("c", "quick brown foxes jump"))
    assert(run(docs, parts = 5) === naive(docs))
  }

  test("parity on random small-alphabet corpora; layout invariance") {
    val rnd = new scala.util.Random(23)
    val docs = (0 until 8).map { i =>
      (f"d$i%02d", Seq.fill(20 + rnd.nextInt(60))(
        "ab".charAt(rnd.nextInt(2))).mkString)
    }
    val want = naive(docs)
    assert(run(docs, parts = 2) === want)
    assert(run(docs, parts = 7) === want)
  }

  test("integral ids order numerically, not lexicographically (10 after 2)") {
    val docs = (0 until 12).map(i => (i.toLong, s"doc$i text $i"))
    val got = SuffixArray.build(docs.toDF("id", "t").repartition(4),
      col("id"), col("t")).as[(Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val want = naive(docs.map { case (i, t) => (f"d$i%02d", t) })
    assert(got === want)
  }

  test("Enumerate.rowNumber is a contiguous dense 0-based enumeration") {
    val df = (0 until 500).map(i => (i * 37 % 500, s"v$i")).toDF("k", "v")
      .repartition(6)
    val got = Enumerate.rowNumber(df, col("k"), "rn")
      .select(col("k").cast("long"), col("rn")).as[(Long, Long)]
      .collect().toMap
    assert(got.size === 500)
    for (k <- 0 until 500) assert(got(k.toLong) === k.toLong, s"k=$k")
  }

  test("Enumerate.prefixSums matches a sequential scan") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 300).map(i => (i, rnd.nextInt(100).toLong))
    val got = Enumerate.prefixSums(
      rows.toDF("k", "len").repartition(5), col("k"), col("len"), "base")
      .select(col("k").cast("long"), col("base")).as[(Long, Long)]
      .collect().toMap
    var acc = 0L
    for ((k, len) <- rows) {
      assert(got(k.toLong) === acc, s"k=$k")
      acc += len
    }
  }

  test("gate-forced parity: local prefix doubling == distributed joins") {
    import spark.implicits._
    def sa(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SuffixArray.build(df, org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
        .as[(Long, Long)].collect().toSet
    // the second corpus mixes non-BMP chars (one position per code point,
    // as `length` counts) with `?`
    for (docs <- Seq(
        Seq((1L, "banana band"), (2L, "ana"), (3L, ""), (10L, "banana"),
          (4L, "zzz aaa zzz")),
        Seq((1L, "a😀b"), (2L, "😁a"), (3L, "?")))) {
      val local = sa(docs.toDF("doc_id", "text"))
      val dist = withLocalBudget(0)(sa(docs.toDF("doc_id", "text")))
      assert(local == dist)
      val n = docs.map(d => d._2.codePointCount(0, d._2.length) + 1).sum
      assert(dist.map(_._1) == (0L until n).toSet && dist.size == n)
    }
  }
}
