package graft.run

import graft.fixtures.InvoiceCorpus
import graft.graph.TripleStore

/** Production entry point (the `spark-submit` shape of the north_star):
  *
  *   spark-submit --class graft.run.Main facturaispark.jar \
  *     --docs <parquet path | synthetic:N> --store <storeRoot> \
  *     [--batches N] [--no-ice] [--report] [--compact [--object-index]] [--vacuum] [--incremental]
  *
  * Runs the resumable pipeline: documents → canonical triple graph in the
  * snapshot store. Re-running the same command after a kill resumes at the
  * last committed snapshot (TripleStore manifests). `--report` prints the
  * lineage counters and throughput at the end.
  *
  * The session comes from `Sessions.submitted`, which sets no master, so
  * spark-submit controls the cluster.
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) throw new IllegalArgumentException(
        s"$flag requires a value — expected --docs <path|synthetic:N> --store <dir> " +
          "[--batches N] [--no-ice] [--report] [--compact [--object-index]] [--vacuum] [--incremental]")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case "--docs" => m("docs") = value("--docs"); i += 2
        case "--store" => m("store") = value("--store"); i += 2
        case "--batches" => m("batches") = value("--batches"); i += 2
        case "--no-ice" => m("noIce") = "true"; i += 1
        case "--report" => m("report") = "true"; i += 1
        case "--compact" => m("compact") = "true"; i += 1
        case "--object-index" => m("object-index") = "true"; i += 1
        case "--vacuum" => m("vacuum") = "true"; i += 1
        case "--incremental" => m("incremental") = "true"; i += 1
        case other => throw new IllegalArgumentException(
          s"unknown argument '$other' — expected --docs <path|synthetic:N> --store <dir> " +
            "[--batches N] [--no-ice] [--report] [--compact [--object-index]] [--vacuum] [--incremental]")
      }
    }
    require(m.contains("docs"), "--docs <parquet path | synthetic:N> is required")
    require(m.contains("store"), "--store <storeRoot> is required")
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = Sessions.submitted("graft-kg-construct")

    val docs = opts("docs") match {
      case s if s.startsWith("synthetic:") =>
        s.stripPrefix("synthetic:").split(':') match {
          case Array(n) => InvoiceCorpus.docs(spark, n.toLong).toDF()
          // synthetic:FROM:UNTIL — a disjoint increment of the same corpus
          // (doc i is a pure function of i), for --incremental runs
          case Array(a, b) => InvoiceCorpus.docsRange(spark, a.toLong, b.toLong).toDF()
          case _ => throw new IllegalArgumentException(s"bad --docs '$s'")
        }
      case path => spark.read.parquet(path)
    }
    val store = opts("store")
    val cfg = Pipeline.Config(useIce = !opts.contains("noIce"))
    val batches = opts.getOrElse("batches", "8").toInt

    val committedBefore = TripleStore.committedBatches(store)
    if (committedBefore.nonEmpty)
      println(s"[graft] resuming: ${committedBefore.size} snapshot(s) already committed")

    val t0 = System.nanoTime()
    // --incremental: `--docs` names ONLY the new documents; the old corpus
    // is never re-extracted (registry-based maintenance, one atomic snapshot)
    if (opts.contains("incremental")) {
      val id = Pipeline.runIncremental(spark, docs, store, cfg)
      println(s"[graft] incremental update committed as snapshot $id")
    } else Pipeline.runResumable(spark, docs, store, batches, cfg)
    val secs = (System.nanoTime() - t0) / 1e9

    val nTriples = Pipeline.readGraph(spark, store).count()
    println(f"[graft] done: $nTriples triples committed in $secs%.1f s " +
      f"(${nTriples / math.max(secs, 0.001)}%.0f triples/s incl. resume check)")

    // store maintenance (Iceberg rewrite-data-files / expire-snapshots):
    // fold the run's micro-batch snapshots into one, optionally dropping
    // the superseded partitions — the small-file defense for long-lived
    // stores fed by many incremental runs
    if (opts.contains("compact")) {
      val cid = TripleStore.compact(spark, store,
        objectIndex = opts.contains("object-index"))
      println(s"[graft] compacted store into snapshot $cid" +
        (if (opts.contains("object-index")) " (+ object permutation)" else ""))
      val postCompact = Pipeline.readGraph(spark, store).count()
      require(postCompact == nTriples,
        s"compaction changed the graph: $nTriples -> $postCompact")
    }
    // --vacuum is independent of --compact (ADVICE r3: it used to be
    // silently ignored without --compact): any replaces-bearing snapshot —
    // a compaction OR an --incremental update — leaves superseded batch
    // partitions on disk that a standalone vacuum may drop.
    if (opts.contains("vacuum")) {
      val removed = TripleStore.vacuum(store)
      println(s"[graft] vacuum: removed $removed superseded batch partition(s)")
    }

    if (opts.contains("report")) {
      println("[graft] lineage counters per snapshot:")
      TripleStore.counters(spark, store)
        .orderBy("batch", "key")
        .show(200, false)
    }
    spark.stop()
  }
}
