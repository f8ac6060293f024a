package graft

import graft.graph.Matching

class MatchingSpec extends ReplayTwins {
  import spark.implicits._

  private def run(edges: Seq[(String, String)]) =
    Matching.maximal(edges.toDF("src", "dst"))
      .as[(String, String, Long)].collect()

  test("matching is a matching: no node appears twice") {
    val edges = (2 to 100).map(i => s"n$i" -> s"n${i / 2}")
    val out = run(edges)
    val nodes = out.flatMap(e => Seq(e._1, e._2))
    assert(nodes.distinct.length == nodes.length)
    assert(out.nonEmpty)
  }

  test("matching is MAXIMAL: every input edge touches a matched node") {
    val edges = (2 to 100).map(i => s"n$i" -> s"n${i / 2}")
    val matchedNodes = run(edges).flatMap(e => Seq(e._1, e._2)).toSet
    edges.foreach { case (a, b) =>
      assert(matchedNodes(a) || matchedNodes(b), s"edge $a-$b uncovered")
    }
  }

  test("triangle yields exactly one matched pair; self-loops/dups ignored") {
    val out = run(Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "a",
      "b" -> "a"))
    assert(out.length == 1)
  }

  test("deterministic at any layout; equals the sequential-replay fixture " +
    "on the customer graph") {
    val edges = (2 to 300).map(i => s"n$i" -> s"n${i / 2}")
    val a = Matching.maximal(edges.toDF("src", "dst").repartition(1))
      .as[(String, String, Long)].collect().toSet
    val b = Matching.maximal(edges.toDF("src", "dst").repartition(11))
      .as[(String, String, Long)].collect().toSet
    assert(a == b)

    val cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
      .select($"c_custkey".cast("long")).as[Long].collect()
    val ce = (cust.filter(_ > 1).map(k => (s"c$k", s"c${k / 2}")) ++
      cust.filter(_ > 3).map(k => (s"c$k", s"c${k / 4}"))).toSeq
    val engine = Matching.maximal(ce.toDF("src", "dst"))
      .as[(String, String, Long)].collect().toSet
    val fixture = spark.read.parquet(
        "src/test/resources/expected/q156_expected_matching.parquet")
      .as[(String, String, Long)].collect().toSet
    assert(engine == fixture && engine.nonEmpty)
  }

  test("gate-forced parity: local wave replay == aggregate rounds") {
    val es = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"),
      ("e", "f"), ("g", "h"), ("h", "e")).map { case (s, d) => (s, d, Option(1L)) }
    wavesAgree(es, es.toString, _ == "Matching")
  }
}
