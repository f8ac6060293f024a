package graft

import graft.fixtures.InvoiceCorpus
import graft.link.EntityLinker
import graft.run.FastExtract
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Hybrid entity linking: the driver-local LSH→verify chain must produce
  * the EXACT edge set of the distributed one (same band hashes via
  * XxHash64Function, same levenshtein, same bucket caps, same ICE veto). */
class LocalElParitySpec extends SparkSuite {
  import spark.implicits._

  /** The cap warnings of one call, with its edge set. */
  private def warnedEdges(f: => org.apache.spark.sql.DataFrame)
      : (Set[(String, String)], Seq[String]) = {
    val (es, warned) = Audit.capturing(f.as[(String, String)].collect().toSet)
    (es, warned.filter(_.contains("over-cap LSH buckets")))
  }

  private def edges(vm: org.apache.spark.sql.DataFrame, useIce: Boolean,
      threshold: Long): Set[(String, String)] =
    EntityLinker.candidateEdgesFromEntities(EntityLinker.entities(vm),
        useIce = useIce, smallThreshold = threshold)
      .as[(String, String)].collect().toSet

  /** The touched-incident edges of `ents`, whose `t` column flags the
    * touched entities: on the driver ([[EntityLinker.edgesLocal]] over the
    * collected rows' flags) or from the grouped pass
    * ([[EntityLinker.verifiedHits]] over the column). */
  private def touchedEdges(ents: org.apache.spark.sql.DataFrame, local: Boolean,
      useIce: Boolean, maxBucket: Int = 1000): Set[(String, String)] =
    if (local)
      EntityLinker.edgesLocal(ents.collect().map(r =>
          EntityLinker.LocalEnt.of(r).copy(t = r.getAs[Boolean]("t"))),
        8, 0.6, 0.85, useIce, maxBucket).map(h => (h.src, h.dst)).toSet
    else
      EntityLinker.verifiedHits(ents, ents("t"), org.apache.spark.sql.functions.lit(0L),
          8, 0.6, 0.85, useIce, maxBucket)
        .where($"src".isNotNull).select("src", "dst").as[(String, String)].collect().toSet

  test("local path == distributed path on the noisy fixture corpus (both ICE modes)") {
    val vm = FastExtract.vendorMentions(InvoiceCorpus.docs(spark, 250)).toDF().cache()
    try {
      for (useIce <- Seq(true, false)) {
        val local = edges(vm, useIce, threshold = Long.MaxValue)
        val dist = edges(vm, useIce, threshold = 0L) // force distributed
        assert(local.nonEmpty)
        assert(local == dist,
          s"useIce=$useIce localOnly=${local -- dist} distOnly=${dist -- local}")
      }
    } finally vm.unpersist()
  }

  test("local path == distributed path on non-BMP keys (Spark's UTF-8 order)") {
    // U+FF21 sorts before U+1F600 in UTF-8 bytes (Spark's `<` and `min`)
    // but after it in UTF-16 units (Java's): the LSH pair's orientation
    // and the ICE star's hub must both follow Spark
    val vm = Seq(
      ("acme_trading_group_co_\uFF21", "ACME TRADING GROUP CO \uFF21", ""),
      ("acme_trading_group_co_\uD83D\uDE00", "ACME TRADING GROUP CO \uD83D\uDE00", ""),
      ("\uFF21", "\uFF21", "123456789"),
      ("\uD83D\uDE00", "\uD83D\uDE00", "123456789"),
      ("\uE000_depot", "\uE000 DEPOT", "123456789"))
      .toDF("entity_key", "surface", "ice")
    for (useIce <- Seq(true, false)) {
      val local = edges(vm, useIce, threshold = Long.MaxValue)
      val dist = edges(vm, useIce, threshold = 0L)
      assert(local.nonEmpty)
      assert(local == dist,
        s"useIce=$useIce localOnly=${local -- dist} distOnly=${dist -- local}")
    }
  }

  test("local path == distributed path under heavy noise and a tight bucket cap") {
    val vm = FastExtract.vendorMentions(InvoiceCorpus.docs(spark, 150, 7L, 0.9)).toDF().cache()
    try {
      val ents = EntityLinker.entities(vm)
      val local = EntityLinker.candidateEdgesFromEntities(ents,
          maxBucket = 3, smallThreshold = Long.MaxValue)
        .as[(String, String)].collect().toSet
      val dist = EntityLinker.candidateEdgesFromEntities(ents,
          maxBucket = 3, smallThreshold = 0L)
        .as[(String, String)].collect().toSet
      assert(local == dist, s"localOnly=${local -- dist} distOnly=${dist -- local}")
    } finally vm.unpersist()
  }

  test("touched flags restrict edgesLocal and verifiedHits to touched-incident " +
    "edges (both paths, both ICE modes)") {
    val vm = FastExtract.vendorMentions(InvoiceCorpus.docs(spark, 250)).toDF().cache()
    try {
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      // a deterministic "touched" subset: every 3rd entity key
      val ents = EntityLinker.entities(vm)
        .withColumn("t", pmod(xxhash64(col("entity_key")), lit(3)) === 0).cache()
      val tset = ents.where($"t").select("entity_key").as[String].collect().toSet
      assert(tset.nonEmpty && tset.size < ents.count())
      for (useIce <- Seq(true, false); local <- Seq(true, false)) {
        val full = EntityLinker.candidateEdgesFromEntities(ents.drop("t"),
            useIce = useIce, smallThreshold = if (local) Long.MaxValue else 0L)
          .as[(String, String)].collect().toSet
        val expected = full.filter(e => tset(e._1) || tset(e._2))
        val got = touchedEdges(ents, local, useIce)
        assert(got == expected, s"useIce=$useIce local=$local " +
          s"gotOnly=${got -- expected} expOnly=${expected -- got}")
        assert(got.size < full.size, "restriction should be proper here")
      }
    } finally vm.unpersist()
  }

  test("bucket-cap drops are WARNED in-operator on both paths, silent when uncapped") {
    val vm = FastExtract.vendorMentions(InvoiceCorpus.docs(spark, 150, 7L, 0.9)).toDF().cache()
    try {
      val ents = EntityLinker.entities(vm)
      // local, then distributed: the same buckets and rows are dropped
      val Seq(local, dist) = Seq(Long.MaxValue, 0L).map { threshold =>
        warnedEdges(EntityLinker.candidateEdgesFromEntities(ents, maxBucket = 3,
          smallThreshold = threshold))._2
      }
      assert(local.size == 1, s"expected one local cap warning, got $local")
      assert(local == dist, s"local=$local distributed=$dist")
      for (threshold <- Seq(Long.MaxValue, 0L)) {
        val (_, silent) = Audit.capturing {
          EntityLinker.candidateEdgesFromEntities(ents, maxBucket = 100000,
            smallThreshold = threshold).count()
        }
        assert(silent.isEmpty, s"threshold=$threshold unexpected warnings: $silent")
      }
    } finally vm.unpersist()
  }

  test("a null surface fails the edit-similarity test on both paths; Jaccard still decides") {
    val vm = Seq(("acme_sarl", "ACME SARL", "123"), ("acme_sar1", null, ""),
        ("acme_sarl_x", "ACME SARL X", ""))
      .toDF("entity_key", "surface", "ice")
    val ents = EntityLinker.entities(vm)
    for (useIce <- Seq(true, false); threshold <- Seq(Long.MaxValue, 0L)) {
      val got = EntityLinker.candidateEdgesFromEntities(ents, useIce = useIce,
          smallThreshold = threshold)
        .as[(String, String)].collect().toSet
      assert(got == Set(("acme_sarl", "acme_sarl_x")), s"useIce=$useIce threshold=$threshold")
    }
  }

  test("the distributed pass is one grouped pass: no join in its optimized plan") {
    val vm = FastExtract.vendorMentions(InvoiceCorpus.docs(spark, 60)).toDF()
    // under materialize=none nothing is checkpointed, so the plan is the
    // whole lineage from the entity table on
    for (mode <- Seq("local", "none")) {
      spark.conf.set(Materialize.ModeKey, mode)
      try {
        val plan = EntityLinker.candidateEdgesFromEntities(EntityLinker.entities(vm),
          smallThreshold = 0L).queryExecution.optimizedPlan
        assert(plan.collect { case j: Join => j }.isEmpty, s"mode=$mode\n$plan")
      } finally spark.conf.unset(Materialize.ModeKey)
    }
  }

  test("property: distributed == local, full and touched, on generated entity tables") {
    // keys from few tokens over ASCII, U+E000–U+FFFF and non-BMP chars, so
    // buckets overflow a cap of 3 and Spark's UTF-8 order differs from
    // Java's; surfaces are the key, a variant or null; ICEs null or shared
    // by 1–5 entities
    val tok = Gen.oneOf("acme", "sarl", "x", "7", "\uE000", "\uFFFD", "\uFF21",
      "\uD83D\uDE00", "\uD83D\uDE01")
    val key = Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, tok).map(_.mkString("_")))
    def surface(k: String) = Gen.frequency(
      3 -> Gen.const(k.replace('_', ' ').toUpperCase),
      1 -> Gen.const(k.replace('_', ' ') + " sa"),
      1 -> Gen.const(null: String))
    val gen = for {
      keys <- Gen.listOfN(45, key).map(_.distinct)
      surfaces <- Gen.sequence[List[String], String](keys.map(surface))
      // runs of 1–5 entities sharing an ICE, then 0–3 without one
      groups <- Gen.listOfN(keys.size, Gen.zip(Gen.choose(1, 5), Gen.choose(0, 3)))
        .map(_.zipWithIndex.flatMap { case ((n, gap), g) =>
          List.fill(n)(f"$g%09d") ++ List.fill(gap)("") })
      touched <- Gen.listOfN(keys.size, Gen.oneOf(true, false))
    } yield (keys.lazyZip(surfaces).lazyZip(groups).toList, keys.zip(touched))
    Seq(5L, 23L, 41L).foreach { seed =>
      val (rows, flags) = gen.apply(Gen.Parameters.default, Seed(seed)).get
      val ents = EntityLinker.entities(rows.toDF("entity_key", "surface", "ice"))
      val tset = flags.collect { case (k, true) => k }.toSet
      val flagged = ents.join(flags.toDF("entity_key", "t"), "entity_key")
      for (useIce <- Seq(true, false)) {
        val clue = s"seed=$seed useIce=$useIce"
        val Seq((local, localWarn), (dist, distWarn)) = Seq(Long.MaxValue, 0L).map { th =>
          warnedEdges(EntityLinker.candidateEdgesFromEntities(ents, useIce = useIce,
            maxBucket = 3, smallThreshold = th))
        }
        assert(local.nonEmpty, clue)
        assert(local == dist, s"$clue localOnly=${local -- dist} distOnly=${dist -- local}")
        assert(distWarn.nonEmpty && localWarn == distWarn, s"$clue $localWarn $distWarn")
        val expected = local.filter(e => tset(e._1) || tset(e._2))
        for (local <- Seq(true, false)) {
          val got = touchedEdges(flagged, local, useIce, maxBucket = 3)
          assert(got == expected, s"$clue local=$local " +
            s"gotOnly=${got -- expected} expOnly=${expected -- got}")
        }
      }
    }
  }
}
