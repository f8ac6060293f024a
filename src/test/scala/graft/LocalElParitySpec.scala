package graft

import graft.fixtures.InvoiceCorpus
import graft.link.EntityLinker
import graft.run.FastExtract

/** Hybrid entity linking: the driver-local LSH→verify chain must produce
  * the EXACT edge set of the distributed one (same band hashes via
  * XxHash64Function, same levenshtein, same bucket caps, same ICE veto). */
class LocalElParitySpec extends SparkSuite {
  import spark.implicits._

  private def edges(vm: org.apache.spark.sql.DataFrame, useIce: Boolean,
      threshold: Long): Set[(String, String)] =
    EntityLinker.candidateEdgesFromEntities(EntityLinker.entities(vm),
        useIce = useIce, smallThreshold = threshold)
      .as[(String, String)].collect().toSet

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

  test("candidateEdgesTouched == full edges filtered to touched-incident (both paths, both ICE modes)") {
    val vm = FastExtract.vendorMentions(InvoiceCorpus.docs(spark, 250)).toDF().cache()
    try {
      val ents = EntityLinker.entities(vm)
      // a deterministic "touched" subset: every 3rd entity key
      val touched = ents.select("entity_key")
        .where(org.apache.spark.sql.functions
          .pmod(org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("entity_key")),
            org.apache.spark.sql.functions.lit(3)) === 0)
        .cache()
      val tset = touched.as[String].collect().toSet
      assert(tset.nonEmpty && tset.size < ents.count())
      for (useIce <- Seq(true, false); threshold <- Seq(Long.MaxValue, 0L)) {
        val full = EntityLinker.candidateEdgesFromEntities(ents,
            useIce = useIce, smallThreshold = threshold)
          .as[(String, String)].collect().toSet
        val expected = full.filter(e => tset(e._1) || tset(e._2))
        val got = EntityLinker.candidateEdgesTouched(ents, touched,
            useIce = useIce, smallThreshold = threshold)
          .as[(String, String)].collect().toSet
        assert(got == expected, s"useIce=$useIce threshold=$threshold " +
          s"gotOnly=${got -- expected} expOnly=${expected -- got}")
        assert(got.size < full.size, "restriction should be proper here")
      }
    } finally vm.unpersist()
  }

  test("bucket-cap drops are WARNED in-operator on both paths, silent when uncapped") {
    val vm = FastExtract.vendorMentions(InvoiceCorpus.docs(spark, 150, 7L, 0.9)).toDF().cache()
    try {
      val ents = EntityLinker.entities(vm)
      for (threshold <- Seq(Long.MaxValue, 0L)) { // local, then distributed
        val (_, warned) = Audit.capturing {
          EntityLinker.candidateEdgesFromEntities(ents, maxBucket = 3,
            smallThreshold = threshold).count()
        }
        assert(warned.exists(_.contains("over-cap LSH buckets")),
          s"threshold=$threshold expected a cap warning, got $warned")
        val (_, silent) = Audit.capturing {
          EntityLinker.candidateEdgesFromEntities(ents, maxBucket = 100000,
            smallThreshold = threshold).count()
        }
        assert(silent.isEmpty, s"threshold=$threshold unexpected warnings: $silent")
      }
    } finally vm.unpersist()
  }
}
