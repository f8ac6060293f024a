package graft

import graft.link.SortedNeighborhood
import org.apache.spark.sql.catalyst.plans.logical.Window

class SortedNeighborhoodSpec extends SparkSuite {
  import spark.implicits._

  private def pairs(rows: Seq[(String, String)], w: Int): Set[(String, String)] =
    SortedNeighborhood.pairs(rows.toDF("id", "key"), "id", "key", w)
      .select("id_a", "id_b").as[(String, String)].collect().toSet

  /** Independent oracle: sort, then all pairs within rank distance < w. */
  private def seq(rows: Seq[(String, String)], w: Int): Set[(String, String)] = {
    val ranked = rows.distinct.sortBy(r => (r._2, r._1)).map(_._1).zipWithIndex
    (for {
      (a, ra) <- ranked; (b, rb) <- ranked
      if rb > ra && rb - ra < w && a != b
    } yield (a, b)).toSet
  }

  test("window pairs across bucket boundaries are found (the SNM point)") {
    // keys sort e1..e6; w=3 pairs ranks within distance 2 — including
    // (rank3, rank4), which straddles the internal w-bucket boundary
    val rows = (1 to 6).map(i => (s"e$i", f"k$i%02d"))
    assert(pairs(rows, 3) == seq(rows, 3))
    assert(pairs(rows, 3).contains(("e3", "e4")))
  }

  test("matches the sequential definition on shuffled inputs, several w") {
    val rows = (0 until 80).map(i =>
      (s"id$i", s"key${(i * 37) % 23}%02d-${i % 5}"))
    for (w <- Seq(2, 4, 7))
      assert(pairs(rows, w) == seq(rows, w), s"w=$w mismatch")
  }

  test("ties on the key break by id — deterministic ranks across layouts") {
    val rows = (0 until 40).map(i => (s"r$i", s"samekey${i % 3}"))
    val df = rows.toDF("id", "key")
    val a = SortedNeighborhood.pairs(df.repartition(1), "id", "key", 4)
      .as[(String, String, Int, Int)].collect().toSet
    val b = SortedNeighborhood.pairs(df.repartition(9), "id", "key", 4)
      .as[(String, String, Int, Int)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("ranks without a single-partition global window") {
    // a Window with no partition spec moves every row to one task
    spark.conf.set(Materialize.ModeKey, "none") // keep the rank step in the plan
    val plan = try SortedNeighborhood.pairs(
        (0 until 20).map(i => (s"id$i", s"k${i % 7}")).toDF("id", "key"), "id", "key", 3)
      .queryExecution.optimizedPlan
      finally spark.conf.unset(Materialize.ModeKey)
    val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, global)
  }

  test("null keys drop; w=2 pairs only adjacent ranks; duplicates collapse") {
    val rows = Seq(("a", "k1"), ("a", "k1"), ("b", "k2"), ("c", null.asInstanceOf[String]))
    assert(pairs(rows, 2) == Set(("a", "b")))
  }
}
