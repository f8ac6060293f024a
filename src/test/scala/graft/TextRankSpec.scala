package graft

import graft.ops.TextRank
import org.apache.spark.sql.catalyst.plans.logical.Window

class TextRankSpec extends SparkSuite {
  import spark.implicits._

  private def kw(docs: Seq[(String, String)], topK: Int = 30) =
    TextRank.keywords(docs.toDF("id", "text"), "id", "text", topK = topK)
      .as[(Int, String, Long)].collect().toSeq

  test("a hub word out-ranks its satellites (transitive importance)") {
    val doc = "core aaa core bbb core ccc core ddd"
    val got = kw(Seq(("d", doc)))
    assert(got.head._2 == "core")
    assert(got.map(_._2).toSet == Set("core", "aaa", "bbb", "ccc", "ddd"))
    // satellites are symmetric → identical rank mass, ordered by word
    assert(got.tail.map(_._2) == Seq("aaa", "bbb", "ccc", "ddd"))
    assert(got.tail.map(_._3).distinct.size == 1)
  }

  test("token gate: non-ASCII-alpha and short tokens never enter the " +
    "graph; case folds") {
    val got = kw(Seq(("d", "Alpha BETA alpha 42 x1 ab ... beta Alpha")))
    assert(got.map(_._2).toSet == Set("alpha", "beta"))
  }

  test("two disconnected topic cliques rank by internal connectivity, " +
    "and topK cuts deterministically by (rank, word)") {
    val t1 = "apple banana cherry apple banana cherry apple banana"
    val t2 = "xen yak xen yak"
    val all = kw(Seq(("a", t1), ("b", t2)))
    assert(all.map(_._1) == (1 to all.size))
    val cut = kw(Seq(("a", t1), ("b", t2)), topK = 3)
    assert(cut == all.take(3))
  }

  test("repartitioned input produces the identical keyword table") {
    val docs = (0 until 20).map(i =>
      (s"d$i", (0 until 30).map(j => s"word${(i * 3 + j * 7) % 11}")
        .mkString(" ")))
    val a = kw(docs)
    val b = TextRank.keywords(docs.toDF("id", "text").repartition(9),
      "id", "text").as[(Int, String, Long)].collect().toSeq
    assert(a == b)
  }

  test("ranks the top k without a single-partition global window") {
    // a Window with no partition spec moves every row to one task
    spark.conf.set(Materialize.ModeKey, "none") // keep the rank step in the plan
    val plan = try TextRank.keywords(Seq(("a", "apple banana cherry apple"), ("b", "xen yak xen"))
        .toDF("id", "text"), "id", "text", topK = 3)
      .queryExecution.optimizedPlan
      finally spark.conf.unset(Materialize.ModeKey)
    val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, global)
  }
}
