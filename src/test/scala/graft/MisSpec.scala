package graft

import graft.graph.Mis
import org.apache.spark.sql.functions._

class MisSpec extends SparkSuite {
  import spark.implicits._

  private def mis(es: Seq[(String, String)]) =
    Mis.maximalIndependentSet(es.toDF("src", "dst"))
      .as[(String, Int)].collect().toMap

  private def checkMisProperties(es: Seq[(String, String)],
      selected: Set[String]): Unit = {
    val und = es.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    // independence: no conflict edge inside the set
    und.foreach { case (a, b) =>
      assert(!(selected(a) && selected(b)), s"conflict edge ($a,$b) inside the MIS")
    }
    // maximality: every unselected node has a selected neighbor
    val nodes = und.map(_._1).distinct
    nodes.filterNot(selected).foreach { v =>
      assert(und.exists { case (a, b) => a == v && selected(b) },
        s"$v is unselected but conflict-free — not maximal")
    }
  }

  /** Independent oracle: sequential Luby replay — same total order (the
    * engine's xxhash64 priorities, read back once), plain driver loop. */
  private def lubySeq(es: Seq[(String, String)]): Set[String] = {
    val und = es.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap)).distinct
    val ids = und.map(_._1).distinct
    val prio = ids.toDF("id").select(col("id"), xxhash64(col("id")).as("h"))
      .as[(String, Long)].collect().toMap
    val tupleLt = Ordering.Tuple2[Long, String]
    var live = und.toSet
    val selected = scala.collection.mutable.Set[String]()
    while (live.nonEmpty) {
      val winners = live.map(_._1).filter { a =>
        live.filter(_._1 == a).forall { case (_, b) =>
          tupleLt.lt((prio(a), a), (prio(b), b))
        }
      }
      selected ++= winners
      val dead = winners ++ live.filter(e => winners(e._1)).map(_._2)
      live = live.filter(e => !dead(e._1) && !dead(e._2))
    }
    // isolated-by-attrition nodes with no selected neighbor join the set
    ids.foreach { v =>
      if (!selected(v) && !und.exists { case (a, b) => a == v && selected(b) })
        selected += v
    }
    selected.toSet
  }

  test("matches the sequential Luby replay and satisfies MIS laws") {
    val es = for {
      i <- 0 until 40; j <- i + 1 until 40
      if (i * 17 + j * 23) % 7 == 0
    } yield (s"m$i", s"m$j")
    val out = mis(es)
    checkMisProperties(es, out.keySet)
    assert(out.keySet == lubySeq(es))
  }

  test("a star selects either the hub or all leaves") {
    val es = (1 to 8).map(i => ("hub", s"leaf$i"))
    val out = mis(es)
    checkMisProperties(es, out.keySet)
    assert(out.keySet == Set("hub") || out.keySet == (1 to 8).map(i => s"leaf$i").toSet)
  }

  test("a triangle selects exactly one node") {
    val out = mis(Seq("a" -> "b", "b" -> "c", "a" -> "c"))
    assert(out.size == 1)
    checkMisProperties(Seq("a" -> "b", "b" -> "c", "a" -> "c"), out.keySet)
  }

  test("deterministic across partition layouts; round audit is sane") {
    val es = (for {
      i <- 0 until 60; j <- i + 1 until 60
      if (i + j * 3) % 9 == 0
    } yield (s"p$i", s"p$j")).toDF("src", "dst")
    val a = Mis.maximalIndependentSet(es.repartition(1))
      .as[(String, Int)].collect().toSet
    val b = Mis.maximalIndependentSet(es.repartition(13))
      .as[(String, Int)].collect().toSet
    assert(a == b && a.nonEmpty)
    assert(a.forall(_._2 >= 0))
  }

  test("self-loops and duplicates are ignored; disconnected pairs both contribute") {
    val out = mis(Seq("x" -> "x", "a" -> "b", "a" -> "b", "c" -> "d"))
    checkMisProperties(Seq("a" -> "b", "c" -> "d"), out.keySet)
    assert(out.size == 2) // one from each pair
  }

  test("gate-forced parity: local wave replay == distributed rounds") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"),
      ("e", "f"), ("g", "h"), ("h", "i")).toDF("src", "dst")
    // the default priority, one with a null field, one with a Float field,
    // and a Double field where -0.0 and 0.0 tie (Spark's double order)
    val prios: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = Seq(
      c => struct(xxhash64(c).as("h"), c.as("i")),
      c => struct(lit(null).cast("long").as("z"), xxhash64(c).as("h"), c.as("i")),
      c => struct(xxhash64(c).cast("float").as("f"), c.as("i")),
      c => struct(when(c === "d", lit(-0.0)).otherwise(lit(0.0)).as("d"), c.as("i")))
    prios.foreach { p =>
      def go(df: org.apache.spark.sql.DataFrame) =
        graft.graph.Mis.maximalIndependentSet(df, prioOf = p)
          .as[(String, Int)].collect().toSet
      val local = go(e)
      val dist = try {
        spark.conf.set("spark.graft.mis.localMaxEdges", "0")
        go(e)
      } finally spark.conf.unset("spark.graft.mis.localMaxEdges")
      assert(local == dist, p(col("id")).toString)
    }
  }
}
