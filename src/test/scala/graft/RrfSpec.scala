package graft

import graft.ops.Retrieval
import org.apache.spark.sql.catalyst.plans.logical.Window

class RrfSpec extends SparkSuite {
  import spark.implicits._

  private def ranking(rows: (String, Int)*) = rows.toDF("id", "rank")

  test("hand-computed fusion: consensus beats a single first place") {
    // lexical: a,b,c — semantic: b,c,a ; k=60
    val lex = ranking("a" -> 1, "b" -> 2, "c" -> 3)
    val sem = ranking("b" -> 1, "c" -> 2, "a" -> 3)
    val out = Retrieval.rrfFuse(Seq(lex, sem), k = 60, topK = 3)
      .as[(String, Long, Long, Int)].collect().toSeq
    def t(r: Int) = 1000000000L / (60 + r)
    assert(out.map(x => (x._1, x._2)) == Seq(
      ("b", t(2) + t(1)), ("a", t(1) + t(3)), ("c", t(3) + t(2))))
    assert(out.map(_._4) == Seq(1, 2, 3))
    assert(out.forall(_._3 == 2L)) // every doc appeared in both lists
  }

  test("docs in one list only still fuse; ties break by id") {
    val out = Retrieval.rrfFuse(
      Seq(ranking("x" -> 1), ranking("y" -> 1)), k = 10, topK = 5)
      .as[(String, Long, Long, Int)].collect().toSeq
    assert(out.map(_._1) == Seq("x", "y")) // equal scores, id order
    assert(out.forall(_._2 == 1000000000L / 11))
  }

  test("exact integer terms — deterministic across layouts") {
    val r1 = (1 to 40).map(i => (s"d${(i * 7) % 40}", i)).toDF("id", "rank")
    val r2 = (1 to 40).map(i => (s"d${(i * 11) % 40}", i)).toDF("id", "rank")
    val a = Retrieval.rrfFuse(Seq(r1.repartition(1), r2.repartition(1)), topK = 40)
      .as[(String, Long, Long, Int)].collect().toSeq
    val b = Retrieval.rrfFuse(Seq(r1.repartition(7), r2.repartition(3)), topK = 40)
      .as[(String, Long, Long, Int)].collect().toSeq
    assert(a == b)
  }

  test("invalid ranks and null ids are fenced out") {
    val dirty = Seq(("a", 1), (null.asInstanceOf[String], 2), ("b", 0), ("c", -3))
      .toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq(dirty), topK = 10)
      .as[(String, Long, Long, Int)].collect().toSeq
    assert(out.map(_._1) == Seq("a"))
  }

  test("q132 ranks its top-100 inputs without a single-partition global window") {
    // a small orders table in a scratch dataset directory
    val dir = java.nio.file.Files.createTempDirectory("graft_q132_").toString
    (1 to 150).map(i => (i.toLong, (i * 37 % 101).toDouble, java.sql.Date.valueOf("2024-01-01")))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate").write.parquet(s"$dir/orders.parquet")
    spark.conf.set(Materialize.ModeKey, "none") // keep the rank scans in the plan
    val plan = try SparkEntry.queries("q132_rrf_fusion")(spark, dir).queryExecution.optimizedPlan
      finally spark.conf.unset(Materialize.ModeKey)
    val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
    // what is left is rrfFuse's own ranking of its topK fused rows
    assert(global.forall(_.orderSpec.exists(_.child.references.exists(_.name == "rrf_fp"))),
      global)
  }
}
