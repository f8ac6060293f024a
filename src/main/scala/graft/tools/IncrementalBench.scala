package graft.tools

import graft.fixtures.InvoiceCorpus
import graft.run.Pipeline
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Evidence for the incremental-maintenance cost claim: extend an N-doc
  * store with a 10% increment of fresh documents (runIncremental — old
  * corpus never re-extracted; one store read+write pass) vs rebuilding
  * the whole corpus from scratch (runResumable over old ∪ new), and
  * verify the two stores converge to the same graph (triple count and the
  * sum of per-triple hashes).
  *
  *   SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.IncrementalBench 1000000"
  *
  * At 10^12 docs the rebuild term scales with the corpus while the
  * increment scales with (increment extract + store IO), so the measured
  * ratio here is a LOWER bound on the real win (local disk IO is the
  * increment's dominant term at this small scale; extract dominates the
  * rebuild's).
  */
object IncrementalBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 1000000L
    val nIncr = math.max(nDocs / 10, 1L)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.run.Sessions.local(cores, cores, "graft-incremental-bench")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // JIT warmup on both paths
    val wRoot = Files.createTempDirectory("graft_ib_warm_").toString
    Pipeline.runResumable(spark, InvoiceCorpus.docs(spark, 5000).toDF(), wRoot, 2)
    Pipeline.runIncremental(spark,
      InvoiceCorpus.docsRange(spark, 5000, 6000).toDF(), wRoot)
    spark.sharedState.cacheManager.clearCache()

    val baseRoot = Files.createTempDirectory("graft_ib_base_").toString
    val fullRoot = Files.createTempDirectory("graft_ib_full_").toString
    val nB = math.max(4, cores / 2)

    // drop the predecessor section's localCheckpoint blocks + heap before
    // each timed section — measurement-order contamination otherwise
    // biases speedup_vs_rebuild at the 1M-doc default
    def scrub(): Unit = { spark.sharedState.cacheManager.clearCache(); System.gc() }

    scrub()
    val tBase = time(Pipeline.runResumable(spark,
      InvoiceCorpus.docsRange(spark, 0, nDocs).toDF(), baseRoot, nB))
    scrub()
    val tIncr = time(Pipeline.runIncremental(spark,
      InvoiceCorpus.docsRange(spark, nDocs, nDocs + nIncr).toDF(), baseRoot))
    scrub()
    val tFull = time(Pipeline.runResumable(spark,
      InvoiceCorpus.docsRange(spark, 0, nDocs + nIncr).toDF(), fullRoot, nB))

    // (triple count, sum of per-triple xxhash64): equal sizes alone would
    // miss a graph that differs in content
    def fingerprint(root: String): Seq[Any] = Pipeline.readGraph(spark, root)
      .agg(count(lit(1)), sum(xxhash64(col("subj"), col("pred"), col("obj")))).head().toSeq
    val (fIncr, fFull) = (fingerprint(baseRoot), fingerprint(fullRoot))
    require(fIncr == fFull, s"incrementally maintained graph (triples, hash sum) " +
      s"${fIncr.mkString(", ")} != full rebuild ${fFull.mkString(", ")}")
    val gIncr = fIncr.head

    println(f"""{"metric":"incremental_vs_rebuild","n_docs":$nDocs,""" +
      f""""n_incr":$nIncr,"base_build_sec":$tBase%.1f,""" +
      f""""incremental_sec":$tIncr%.1f,"full_rebuild_sec":$tFull%.1f,""" +
      f""""speedup_vs_rebuild":${tFull / tIncr}%.2f,"graph_triples":$gIncr}""")
    spark.stop()
  }
}
