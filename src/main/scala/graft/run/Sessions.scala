package graft.run

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every entry point, bench and spec of the
  * engine builds its session here, under one engine configuration. A
  * caller that deviates from it passes the key in `conf` at its call site,
  * with its reason; `conf` is applied last, so it wins. */
object Sessions {

  /** In-process session (`local[cores]`; a `spark.master` entry in `conf`
    * selects `local-cluster[...]`) with a temp warehouse, logging at WARN. */
  def local(cores: Int, shufflePartitions: Int = 32, appName: String = "graft",
      conf: Seq[(String, String)] = Nil): SparkSession =
    create(appName, Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.ui.enabled" -> "false",
      // catalog tables (bucketed sinks) land in a temp warehouse, not ./
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_wh_").toString) ++ conf)

  /** Session for `spark-submit`: no master and no warehouse dir. Builder
    * options override `--conf`, so leaving both unset keeps them
    * deployment settings. */
  def submitted(appName: String, conf: Seq[(String, String)] = Nil): SparkSession =
    create(appName, conf)

  private def create(appName: String, conf: Seq[(String, String)]): SparkSession = {
    val engine = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      // null-on-error cast/extract semantics: the tagger probes free text
      // the way the reference does (try/except → skip), not fail-fast
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // coalesce small post-shuffle stages by SIZE, not parallelism: the
      // entity-scale stage chain (groupBy/join/CC over ~10^2-10^6 rows)
      // otherwise keeps shuffle.partitions-wide stages whose per-task
      // cross-process scheduling latency GROWS with executor count —
      // measured as the pipeline's main scaling-efficiency loss. Big
      // shuffles still get wide plans (size-based targets).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    val s = conf.foldLeft(engine) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
