package graft

import graft.canon.ConnectedComponents
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def cc(edges: (String, String)*): Map[String, String] =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(String, String)].collect().toMap

  /** Force the distributed large-star/small-star path. */
  private def ccDist(edges: (String, String)*): Map[String, String] =
    ConnectedComponents.run(edges.toDF("src", "dst"), smallThreshold = -1L)
      .as[(String, String)].collect().toMap

  test("driver union-find and distributed path agree on every shape") {
    val shapes: Seq[Seq[(String, String)]] = Seq(
      Seq(("b", "a"), ("c", "b"), ("y", "z")), // two components
      Seq(("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("a", "b")), // chain
      Seq(("a", "b"), ("b", "c"), ("c", "a")), // cycle
      (1 to 30).map(i => (f"n$i%03d", "hub")), // star
      Seq(("a", "a"), ("a", "b")), // self loop
      // U+FF21 sorts first in UTF-8 bytes (Spark's order), U+1F600 in
      // UTF-16 units (Java's): the driver path must pick Spark's min
      Seq(("\uFF21", "\uD83D\uDE00")))
    shapes.foreach { es =>
      assert(cc(es: _*) == ccDist(es: _*), s"paths disagree on $es")
    }
  }

  test("two disjoint components") {
    val m = cc(("b", "a"), ("c", "b"), ("y", "z"))
    assert(m == Map("a" -> "a", "b" -> "a", "c" -> "a", "y" -> "y", "z" -> "y"))
  }

  test("chain converges to min") {
    val m = cc(("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("a", "b"))
    assert(m.values.toSet == Set("a"))
    assert(m.keySet == Set("a", "b", "c", "d", "e", "f"))
  }

  test("cycle") {
    val m = cc(("a", "b"), ("b", "c"), ("c", "a"))
    assert(m == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("star with high-degree hub (mega-vendor shape)") {
    val spokes = (1 to 50).map(i => (f"n$i%03d", "hub"))
    val m = cc(spokes: _*)
    assert(m.values.toSet == Set("hub")) // "hub" < "n001"
    assert(m.size == 51)
  }

  test("empty edge set") {
    val m = cc()
    assert(m.isEmpty)
  }

  test("self loops ignored") {
    val m = cc(("a", "a"), ("a", "b"))
    assert(m == Map("a" -> "a", "b" -> "a"))
  }

  test("idempotent: running CC twice gives identical labels") {
    val edges = Seq(("b", "a"), ("c", "b"), ("x", "w"))
    assert(cc(edges: _*) == cc(edges: _*))
  }

  test("canonicalMap picks highest count, then fewest digits, then longest") {
    val comps = Seq(("a", "a"), ("b", "a"), ("c", "a")).toDF("id", "component")
    val counts = Seq(("a", 1L), ("b", 5L), ("c", 2L)).toDF("id", "n")
    val m = ConnectedComponents.canonicalMap(comps, counts)
      .as[(String, String)].collect().toMap
    assert(m == Map("a" -> "b", "b" -> "b", "c" -> "b"))

    // tie on count: clean (no digits) beats noisy, longer beats truncated
    val comps2 = Seq(("atla5_tech", "atla5_tech"), ("atlas_tech", "atla5_tech"),
      ("atlas", "atla5_tech")).toDF("id", "component")
    val counts2 = Seq(("atla5_tech", 2L), ("atlas_tech", 2L), ("atlas", 2L)).toDF("id", "n")
    val m2 = ConnectedComponents.canonicalMap(comps2, counts2)
      .as[(String, String)].collect().toMap
    assert(m2.values.toSet == Set("atlas_tech"))
  }

  test("canonicalMap keeps singletons (ids absent from components)") {
    val comps = Seq(("a", "a"), ("b", "a")).toDF("id", "component")
    val counts = Seq(("a", 1L), ("b", 1L), ("solo", 3L)).toDF("id", "n")
    val m = ConnectedComponents.canonicalMap(comps, counts)
      .as[(String, String)].collect().toMap
    assert(m("solo") == "solo")
  }

  test("property: canonicalMapLocal == canonicalMap over the distributed components") {
    // few short ids over digits, U+E000–U+FFFF and non-BMP chars, counts
    // 1–3: ties on count, digit count and length are the common case, and
    // most ids are singletons absent from the edges (self loops included)
    val ch = Gen.oneOf("a", "b", "7", "9", "\uE000", "\uFFFD", "\uFF21",
      "\uD83D\uDE00", "\uD83D\uDE01")
    val id = Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, ch).map(_.mkString))
    val gen = for {
      ids <- Gen.listOfN(40, id).map(_.distinct)
      ns <- Gen.listOfN(ids.size, Gen.choose(1L, 3L))
      es <- Gen.listOfN(25, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
    } yield (ids.zip(ns), es)
    Seq(3L, 17L, 29L).foreach { seed =>
      val (counts, es) = gen.apply(Gen.Parameters.default, Seed(seed)).get
      val want = ConnectedComponents.canonicalMap(
          ConnectedComponents.run(es.toDF("src", "dst"), smallThreshold = -1L),
          counts.toDF("id", "n"))
        .as[(String, String)].collect().toSeq.sorted
      val got = ConnectedComponents.canonicalMapLocal(es, counts).sorted
      assert(got == want, s"seed=$seed edges=$es counts=$counts")
    }
  }
}
