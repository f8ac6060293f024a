package graft.tools

import graft.fixtures.InvoiceCorpus
import graft.link.EntityLinker
import graft.canon.ConnectedComponents
import graft.run.FastExtract
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-stage profile of the KG pipeline on the entity-scale skew fixture
  * (vendorPool mode) — the instrument behind the r5 scaling root-cause:
  * run at two parallelism levels and compare per-stage seconds to see
  * WHICH stage fails to scale (doc-scale extract vs entity-scale
  * EL/CC/canonical stages, the latter round-synchronized and
  * stage-latency-bound at fixture scale).
  *
  *   SPARK_GRAFT_CPUS=4  SPARK_GRAFT_VENDOR_POOL=500000 \
  *     sbt "runMain graft.tools.SkewProfile 2000000"
  *   SPARK_GRAFT_CPUS=16 SPARK_GRAFT_VENDOR_POOL=500000 \
  *     sbt "runMain graft.tools.SkewProfile 2000000"
  */
object SkewProfile {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val pool = sys.env.getOrElse("SPARK_GRAFT_VENDOR_POOL", "500000").toInt
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-skew-profile")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def asOcr(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc]
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // warmup both paths
    graft.run.Pipeline.run(
      InvoiceCorpus.docs(spark, 5000, vendorPool = pool).toDF(),
      graft.run.Pipeline.Config(elSmallThreshold = 0L)).count()
    spark.sharedState.cacheManager.clearCache(); System.gc()

    val docs = InvoiceCorpus.docs(spark, nDocs, partitions = cores * 2,
      vendorPool = pool).toDF()

    var nVm = 0L; var nEnts = 0L; var nEdges = 0L; var nComps = 0L; var nMap = 0L
    val vm = FastExtract.vendorMentions(asOcr(docs)).toDF().persist()
    val tMentions = time { nVm = vm.count() }
    val ents = EntityLinker.entities(vm)
    val tEnts = time { nEnts = ents.count() }
    var edges: org.apache.spark.sql.DataFrame = null
    val tEdges = time {
      edges = EntityLinker.candidateEdgesFromEntities(ents,
        smallThreshold = 0L).persist()
      nEdges = edges.count()
    }
    var comps: org.apache.spark.sql.DataFrame = null
    val tCc = time {
      comps = graft.Materialize(ConnectedComponents.run(edges), eager = false)
      nComps = comps.count()
    }
    val tCanon = time {
      val counts = ents.select(col("entity_key").as("id"), col("n_mentions").as("n"))
      nMap = ConnectedComponents.canonicalMap(comps, counts).count()
    }
    vm.unpersist(); edges.unpersist()
    spark.sharedState.cacheManager.clearCache(); System.gc()
    var nGraph = 0L
    val tFull = time {
      nGraph = graft.run.Pipeline.run(docs,
        graft.run.Pipeline.Config(elSmallThreshold = 0L)).count()
    }

    println(f"""{"metric":"skew_profile","cores":$cores,"docs":$nDocs,"pool":$pool,""" +
      f""""mentions_sec":$tMentions%.2f,"entities_sec":$tEnts%.2f,""" +
      f""""edges_sec":$tEdges%.2f,"cc_sec":$tCc%.2f,"canonical_sec":$tCanon%.2f,""" +
      f""""full_pipeline_sec":$tFull%.2f,""" +
      f""""n_mentions":$nVm,"n_entities":$nEnts,"n_edges":$nEdges,""" +
      f""""n_components":$nComps,"n_map":$nMap,"graph_edges":$nGraph}""")
    spark.stop()
  }
}
