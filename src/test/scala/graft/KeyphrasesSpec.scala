package graft

import graft.ops.Keyphrases
import org.apache.spark.sql.catalyst.plans.logical.Window

class KeyphrasesSpec extends SparkSuite {
  import spark.implicits._

  private def rake(docs: Seq[(Long, String)], k: Int = 20) =
    Keyphrases.rake(docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .as[(String, Long, Long, Long, Int)].collect()

  test("stopwords break phrases; punctuation breaks phrases; hand scores") {
    // one doc: "deep learning of the deep net." -> phrases:
    //   "deep learning" (deg: deep 2+2? see below), "deep net"
    val out = rake(Seq((1L, "deep learning of the deep net.")))
    val byPhrase = out.map(r => r._1 -> r).toMap
    assert(byPhrase.keySet == Set("deep learning", "deep net"))
    // word stats: occurrences — deep in both phrases (len 2 each):
    //   freq(deep)=2, deg(deep)=4 -> 2_000_000
    //   freq(learning)=1, deg=2 -> 2_000_000; same for net
    // both phrases: 2_000_000 + 2_000_000 = 4_000_000
    assert(byPhrase("deep learning")._4 == 4000000L)
    assert(byPhrase("deep net")._4 == 4000000L)
    // tie broken by phrase asc
    assert(byPhrase("deep learning")._5 == 1 && byPhrase("deep net")._5 == 2)
  }

  test("longer phrases outrank their frequent single words (RAKE's point)") {
    val docs = Seq.tabulate(10)(i =>
      (i.toLong, "spark spark spark with big data engine")) :+
      (99L, "spark")
    val out = rake(docs)
    val score = out.map(r => r._1 -> r._4).toMap
    assert(score("big data engine") > score("spark"))
  }

  test("phrases never span documents; occurrence counts aggregate") {
    val out = rake(Seq((1L, "fast scan"), (2L, "fast scan"), (3L, "scan")))
    val m = out.map(r => r._1 -> r._3).toMap
    assert(m("fast scan") == 2L && m("scan") == 1L)
  }

  test("k cuts after the deterministic (score desc, phrase asc) order") {
    val out = rake(Seq((1L, "alpha beta. gamma delta. epsilon zeta.")), 2)
    assert(out.length == 2 && out.map(_._5).toSeq == Seq(1, 2))
  }

  test("ranks the top k without a single-partition global window") {
    // a Window with no partition spec moves every row to one task
    spark.conf.set(Materialize.ModeKey, "none") // keep the rank step in the plan
    val plan = try Keyphrases.rake(Seq((1L, "alpha beta. gamma delta"), (2L, "beta gamma"))
        .toDF("doc_id", "text"), "doc_id", "text", 3)
      .queryExecution.optimizedPlan
      finally spark.conf.unset(Materialize.ModeKey)
    val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, global)
  }
}
