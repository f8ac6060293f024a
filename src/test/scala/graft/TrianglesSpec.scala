package graft

import graft.graph.Triangles
import org.apache.spark.sql.functions._

class TrianglesSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (String, String)*) = rows.toDF("src", "dst")
  private def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.as[(String, Long)].collect().toMap

  test("K4: four triangles, every node in three") {
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)
    val out = counts(Triangles.perNode(edges(k4: _*)))
    assert(out == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    assert(Triangles.globalCount(edges(k4: _*)) == 4L)
  }

  test("triangle with a pendant: pendant is absent, not zero") {
    val out = counts(Triangles.perNode(
      edges(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))))
    assert(out == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("two triangles sharing an edge: shared endpoints count two") {
    // a-b-c and b-c-d share edge {b,c}
    val out = counts(Triangles.perNode(edges(
      ("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"), ("c", "d"))))
    assert(out == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
  }

  test("reversed duplicates and self-loops do not change the count") {
    val noisy = edges(
      ("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("c", "a"),
      ("a", "a"), ("b", "b"))
    assert(counts(Triangles.perNode(noisy)) == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("intersect fast path == wedge-join path (gate forced), and the " +
    "long-id fast path == string ids") {
    // r6: perNode takes the broadcast-adjacency array_intersect path
    // within the Hints gate and long ids when the input is integral;
    // force the wedge path with gate=0 and compare, on BOTH an integral
    // and a string-id copy of the same graph.
    val es = for {
      i <- 0 until 50; j <- 0 until 50
      if i < j && ((i * 48271L + j * 40503L) % 89) < 18
    } yield (i, j)
    val longDf = es.toDF("src", "dst")
    val strDf = es.map { case (a, b) => (s"x$a", s"x$b") }.toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Triangles.perNode(df).as[(String, Long)].collect().toMap
    val fastLong = run(longDf)
    val fastStr = run(strDf)
    val (wedgeLong, wedgeStr) =
      try {
        spark.conf.set(graft.Hints.MaxRowsKey, "0")
        (run(longDf), run(strDf))
      } finally spark.conf.unset(graft.Hints.MaxRowsKey)
    assert(fastLong == wedgeLong)
    assert(fastStr == wedgeStr)
    assert(fastLong.map { case (k, v) => (s"x$k", v) } == fastStr)
  }

  test("matches a naive driver count on a deterministic pseudo-random graph") {
    // ~60-node graph, edge iff a hash condition holds — deterministic
    val n = 60
    val es = for {
      i <- 0 until n; j <- 0 until n
      if i < j && ((i * 2654435761L + j * 40503L) % 97) < 22
    } yield (i, j)
    val adj = es.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSet) }
      .withDefaultValue(Set.empty[Int])
    val expected = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    for {
      (i, j) <- es; k <- adj(j) if adj(i).contains(k)
    } { expected(i) += 1; expected(j) += 1; expected(k) += 1 }
    val df = edges(es.map { case (a, b) => (s"n$a", s"n$b") }: _*).repartition(5)
    val got = counts(Triangles.perNode(df))
    assert(got == expected.map { case (k, v) => (s"n$k", v) }.toMap)
  }

  test("partition-layout invariance") {
    val es = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
    val one = counts(Triangles.perNode(edges(es: _*).coalesce(1)))
    val many = counts(Triangles.perNode(edges(es: _*).repartition(8)))
    assert(one == many)
  }

  test("empty and triangle-free graphs yield an empty result") {
    assert(Triangles.perNode(edges(("a", "b"), ("b", "c"))).count() == 0)
    assert(Triangles.globalCount(edges(("a", "b"))) == 0L)
  }

  private def coeffs(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Double)] =
    df.as[(String, Long, Long, Double)].collect()
      .map { case (id, d, t, c) => id -> ((d, t, c)) }.toMap

  test("clustering coefficient: triangle with a pendant — every node present") {
    // a-b-c triangle, c-d pendant: a,b fully clustered; c has deg 3, 1 tri
    // of 3 possible pairs; d deg 1 -> 0 by convention
    val out = coeffs(Triangles.clusteringCoefficient(
      edges(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))))
    assert(out == Map(
      "a" -> ((2L, 1L, 1.0)), "b" -> ((2L, 1L, 1.0)),
      "c" -> ((3L, 1L, 0.333333)), // 2*1/(3*2) rounded to 6 dp
      "d" -> ((1L, 0L, 0.0))))
    assert(out("c")._3 == 0.333333) // the 6-dp rounding contract
  }

  test("clustering coefficient: K4 is fully clustered; layout invariance") {
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)
    val one = coeffs(Triangles.clusteringCoefficient(edges(k4: _*).coalesce(1)))
    val many = coeffs(Triangles.clusteringCoefficient(edges(k4: _*).repartition(7)))
    assert(one == many)
    assert(one.values.forall { case (d, t, c) => d == 3 && t == 3 && c == 1.0 })
  }

  test("gate-forced parity: local count == intersect path == wedge path") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 1L), (6L, 7L)).toDF("src", "dst")
    def go(df: org.apache.spark.sql.DataFrame) =
      graft.graph.Triangles.perNode(df).as[(String, Long)].collect().toSet
    val local = go(e)
    val intersect = withLocalBudget(0)(go(e))
    val wedge = withLocalBudget(0) {
      try {
        spark.conf.set(graft.Hints.MaxRowsKey, "0")
        go(e)
      } finally spark.conf.unset(graft.Hints.MaxRowsKey)
    }
    assert(local == intersect && intersect == wedge)
    assert(local(("1", 2L)) && local(("3", 3L)) && !local.exists(_._1 == "6"))
  }
}
