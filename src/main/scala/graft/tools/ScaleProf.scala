package graft.tools

import graft.fixtures.InvoiceCorpus
import graft.link.EntityLinker
import graft.run.{FastExtract, Pipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-phase scaling diagnosis for the cluster protocol: times each
  * pipeline component separately at one executor level so the non-scaling
  * phase can be identified instead of guessed (run at two levels, compare).
  *
  * SPARK_GRAFT_MODE=cluster SPARK_GRAFT_EXECS=1|4 sbt "runMain graft.tools.ScaleProf 4000000"
  */
object ScaleProf {
  private val Jar = "target/scala-2.13/facturaispark_2.13-0.1.0.jar"

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 4000000L
    val execs = sys.env.getOrElse("SPARK_GRAFT_EXECS", "4").toInt
    val mode = sys.env.getOrElse("SPARK_GRAFT_MODE", "cluster")
    val execMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MB", "6144").toInt
    val cores = execs * 4
    val b = SparkSession.builder()
      .appName(s"graft-scaleprof-$execs")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    val spark = (if (mode == "cluster")
      b.master(s"local-cluster[$execs,4,$execMb]")
        .config("spark.jars", new java.io.File(Jar).getAbsolutePath)
        .config("spark.executor.memory", s"${execMb}m")
    else b.master(s"local[$cores]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    if (mode == "cluster") {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.sparkContext.getExecutorMemoryStatus.size < execs + 1 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
    }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def asOcr(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc]

    // warmup every executor JIT on both paths
    FastExtract.triples(asOcr(InvoiceCorpus.docs(spark, 20000).toDF())).count()
    Pipeline.run(InvoiceCorpus.docs(spark, 20000).toDF(),
      Pipeline.Config(elSmallThreshold = 0L)).count()
    spark.sharedState.cacheManager.clearCache()

    val docs = InvoiceCorpus.docs(spark, nDocs, partitions = cores * 2).toDF()
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()

    phases("extract_count") = time(FastExtract.triples(asOcr(docs)).count())

    val vm = FastExtract.vendorMentions(asOcr(docs)).toDF().persist()
    phases("vm_build") = time(vm.count())
    val ents = EntityLinker.entities(vm)
    phases("entities") = time(ents.count())
    val edges = EntityLinker.candidateEdgesFromEntities(ents, smallThreshold = 0L)
    phases("edges") = time(edges.count())
    var comps: org.apache.spark.sql.DataFrame = null
    phases("cc") = time { comps = graft.canon.ConnectedComponents.run(edges) }
    var canon: org.apache.spark.sql.DataFrame = null
    phases("canon_map") = time {
      val counts = ents.select(col("entity_key").as("id"), col("n_mentions").as("n"))
      canon = graft.Materialize(
        graft.canon.ConnectedComponents.canonicalMap(comps, counts), eager = false)
      canon.count(); ()
    }
    vm.unpersist()
    // the doc-scale triple pass + broadcast rewrite + final count, using the
    // prebuilt map (mirrors Pipeline.run's tail)
    phases("triples_join") = time {
      val m = broadcast(canon.select(
        concat(lit("vendor:"), col("id")).as("surf_node"),
        concat(lit("vendor:"), col("canonical")).as("canon_node")))
      FastExtract.triples(asOcr(docs)).toDF()
        .where(col("pred") =!= "hasICE")
        .join(m, col("obj") === m("surf_node"), "left")
        .select("subj", "pred", "obj").count(); ()
    }
    spark.sharedState.cacheManager.clearCache()
    phases("pipeline_full") = time(
      Pipeline.run(docs, Pipeline.Config(elSmallThreshold = 0L)).count())

    val js = phases.map { case (k, v) => "\"" + k + f"\":$v%.2f" }.mkString(",")
    println(s"""{"profile":"$execs execs","docs":$nDocs,$js}""")
    spark.stop()
  }
}
