package graft

import graft.fixtures.InvoiceCorpus
import graft.run.{FastExtract, Pipeline}
import org.apache.spark.sql.SparkSession

/** Scaling-efficiency evidence (north_rule: throughput efficiency ≥ 0.8
  * from N → 4N executors). No real cluster exists in this sandbox; two
  * protocols approximate it, best first:
  *
  *  - mode=cluster (default): Spark `local-cluster[n,4,3g]` — n REAL
  *    executor JVMs with their own heaps and GC, 4 cores each. 2 executors
  *    vs 8 executors is exactly the N→4N executor shape; only the network
  *    is missing (shuffles cross process boundaries but not a wire).
  *    Requires the packaged jar (sbt package) so executors can load the
  *    engine classes.
  *  - mode=threads: local[8] vs local[32] in one JVM — cheaper but
  *    understates scaling (one shared heap: 32 allocator threads contend in
  *    one GC, which a real cluster never does).
  *
  * Output: one JSON line per level + a summary with
  * eff = (T_N / T_4N) / 4 per phase.
  */
object ScalingBench {

  private val Jar = "target/scala-2.13/facturaispark_2.13-0.1.0.jar"

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else
      sys.env.getOrElse("SPARK_GRAFT_KG_DOCS", "500000").toLong
    val mode = sys.env.getOrElse("SPARK_GRAFT_MODE",
      if (new java.io.File(Jar).exists) "cluster" else "threads")
    val baseExecs = sys.env.getOrElse("SPARK_GRAFT_BASE_EXECS", "2").toInt
    val execMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MB", "3072").toInt
    // entity-scale skew mode (r4 verdict #5): > 0 draws vendors Zipf(1)
    // from this many DISTINCT synthesized companies (10^5-10^6 typical),
    // so the entity stages carry a real entity-scale load instead of the
    // 24-name gazetteer's ~10^2
    val vendorPool = sys.env.getOrElse("SPARK_GRAFT_VENDOR_POOL", "0").toInt
    val coresPerExec = 4
    // SPARK_GRAFT_LEVELS="1" runs a single level (per-level throughput is
    // what the table records; long corpora then fit a bounded wall-clock
    // budget per invocation) — default is the N, 4N pair
    val levels = sys.env.get("SPARK_GRAFT_LEVELS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(baseExecs, baseExecs * 4))

    def sessionAt(execs: Int): SparkSession = {
      val cores = execs * coresPerExec
      graft.run.Sessions.local(cores, cores, s"graft-scaling-$execs", Seq(
        // bench-scale advisory calibration (same as graft.Bench, r4 A/B
        // discovery): with the 64 MB default, parallelismFirst=false
        // coalesces the fixture's tens-of-MB entity-scale shuffles (EL
        // verify, CC rounds, canonical window) to ONE partition — a serial
        // Amdahl term that the skew fixture (vendorPool mode) makes
        // dominant and that a real cluster never sees (the same shuffles
        // are TBs there and already thousands of partitions)
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m") ++
        // cluster mode: real executor JVMs, which load the packaged jar
        (if (mode == "cluster") Seq(
          "spark.master" -> s"local-cluster[$execs,$coresPerExec,$execMb]",
          "spark.jars" -> new java.io.File(Jar).getAbsolutePath,
          "spark.executor.memory" -> s"${execMb}m")
        else Nil))
    }

    // Substrate calibration: a fixed allocation-free integer-mixing loop on
    // exactly the level's thread count. Per-thread work is constant, so on
    // an unloaded box the wall time is the same at every level; neighbor
    // contention (which inflates measured iterations WITHOUT guest steal
    // ticks — observed 1.77× between quiet windows) inflates it by the same
    // factor. Dividing each iteration by its adjacent calibration converts
    // wall seconds into substrate-relative units, making the two levels
    // comparable even when they ran in different speed windows.
    Bench.mixLoop(20000000L) // JIT
    def calibSec(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map(_ => new Thread(() => {
        if (Bench.mixLoop(200000000L) == 42L) println("")
      }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }

    def stealTicks(): Long =
      scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { src =>
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } // close the fd — repeated calls leak across a long sweep otherwise

    // Automated quiet-window gating (r4 verdict #8): the manual lottery of
    // waiting for a clean substrate window cost four invocations in r4.
    // With SPARK_GRAFT_QUIET_CALIB_MAX set (e.g. 0.75 — the 0.61 s quiet
    // anchor plus ~20%), each level launches only after a probe observes
    // single-thread calib <= the bound AND zero steal ticks across the
    // probe, retrying up to SPARK_GRAFT_QUIET_WAIT_SEC (default 600 s).
    // The probe log itself is the evidence when no window occurs: the
    // level then runs anyway, marked "window_clean":false in its JSON row.
    val quietMax = sys.env.get("SPARK_GRAFT_QUIET_CALIB_MAX").map(_.toDouble)
    val quietWaitSec = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_SEC", "600").toInt
    def calibSingle(): Double = {
      val t0 = System.nanoTime()
      if (Bench.mixLoop(400000000L) == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    def awaitQuietWindow(label: String): Boolean = quietMax match {
      case None => true
      case Some(maxC) =>
        val deadline = System.currentTimeMillis() + quietWaitSec * 1000L
        var attempt = 0
        while (true) {
          attempt += 1
          val s0 = stealTicks()
          val c = calibSingle()
          val steal = stealTicks() - s0
          val clean = c <= maxC && steal == 0
          System.err.println(f"[quiet-probe] $label attempt $attempt: " +
            f"calib1=$c%.3f s steal=$steal -> ${if (clean) "CLEAN" else "dirty"}")
          if (clean) return true
          if (System.currentTimeMillis() >= deadline) {
            System.err.println(s"[quiet-probe] $label: no clean window within " +
              s"$quietWaitSec s — running anyway, marked window_clean=false")
            return false
          }
          Thread.sleep(5000)
        }
        false
    }

    def runAt(execs: Int): (Double, Double, Double, Double, Long, Long) = {
      val spark = sessionAt(execs)
      import spark.implicits._
      try {
        // wait for all executors before planning (partition counts and
        // locality are sampled at plan time)
        if (mode == "cluster") {
          val deadline = System.currentTimeMillis() + 60000
          while (spark.sparkContext.getExecutorMemoryStatus.size < execs + 1 &&
            System.currentTimeMillis() < deadline) Thread.sleep(200)
        }
        // identical deterministic input at every level (pure fn of seed/idx);
        // generation parallelism pinned to 2 tasks/core at this level
        val docs = InvoiceCorpus.docs(spark, nDocs,
          partitions = execs * coresPerExec * 2, vendorPool = vendorPool).toDF()
        def time(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        // warmup: executor launch + JIT + codegen, not measured. Cluster
        // mode warms EVERY executor JVM's C2 on the hot loop (a 200-doc
        // warmup leaves fresh executors JIT-cold for a single-iter run).
        val warmDocs = if (mode == "cluster") 20000L else 200L
        FastExtract.triples(
          InvoiceCorpus.docs(spark, warmDocs).toDF()
            .selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc]).count()
        // warm the FULL pipeline too (EL/CC/salted-agg JIT + codegen):
        // with SPARK_GRAFT_SCALE_ITERS=1 an unwarmed chain would charge
        // one-time compilation to the measurement — and UNEQUALLY, since
        // the 4N level has 4× the fresh executor JVMs
        Pipeline.run(InvoiceCorpus.docs(spark, warmDocs, vendorPool = vendorPool).toDF(),
          Pipeline.Config(elSmallThreshold = 0L)).count()
        spark.sharedState.cacheManager.clearCache()
        System.gc() // drop warmup localCheckpoint blocks before measuring

        var nT = 0L; var nG = 0L
        val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE_ITERS", "3").toInt
        // measured iterations, min = steady state. This VM is virtualized
        // (Firecracker) and the HOST steals CPU in bursts — observed 2–10×
        // random inflation of individual jobs with executors pegged at full
        // CPU — so each iteration also records the guest steal-time delta
        // from /proc/stat: an iteration with material steal is labeled
        // contaminated evidence, and min-of-k is the steady-state estimator.
        val meas = (1 to iters).map { it =>
          val c = calibSec(execs * coresPerExec)
          val s0: Long = stealTicks()
          val te = time {
            nT = FastExtract.triples(
              docs.selectExpr("doc_id", "page_w", "page_h", "spans")
                .as[graft.model.OcrDoc]).count()
          }
          val s1 = stealTicks()
          // distributed EL chain forced (elSmallThreshold = 0): scaling
          // evidence must measure the plan that actually scales with
          // executors, not the driver-local shortcut that flatters the
          // small-cluster baseline
          val tp = time {
            val g = Pipeline.run(docs, Pipeline.Config(elSmallThreshold = 0L))
            nG = g.count(); g.unpersist()
          }
          val s2 = stealTicks()
          spark.sharedState.cacheManager.clearCache()
          // localCheckpoint blocks live OUTSIDE the CacheManager and are
          // freed by ContextCleaner only after driver GC — without this,
          // iteration N's blocks inflate iteration N+1's GC/spill pressure
          // (the r1 leaked-blocks pathology Bench.cleanup guards against)
          System.gc()
          System.err.println(f"[scaling] iter $it extract=$te%.2f (steal ${s1 - s0} ticks) " +
            f"pipeline=$tp%.2f (steal ${s2 - s1} ticks) calib=$c%.2f s")
          (te, tp, c)
        }
        val tExtract = meas.map(_._1).min
        val tPipeline = meas.map(_._2).min
        val teNorm = meas.map(m => m._1 / m._3).min
        val tpNorm = meas.map(m => m._2 / m._3).min
        (tExtract, tPipeline, teNorm, tpNorm, nT, nG)
      } finally spark.stop()
    }

    val rows = levels.map { e =>
      val label = if (mode == "cluster") s"$e executors x $coresPerExec cores"
        else s"local[${e * coresPerExec}]"
      val clean = awaitQuietWindow(label)
      val (te, tp, teN, tpN, nt, ng) = runAt(e)
      val pool = if (vendorPool > 0) s""","vendor_pool":$vendorPool""" else ""
      println(f"""{"level":"$label","docs":$nDocs,"extract_sec":$te%.2f,""" +
        f""""pipeline_sec":$tp%.2f,"triples":$nt,"graph_edges":$ng,""" +
        f""""extract_triples_per_sec":${nt / te}%.1f,"pipeline_triples_per_sec":${ng / tp}%.1f,""" +
        s""""window_clean":$clean$pool}""")
      (e, te, tp, teN, tpN)
    }
    if (rows.size < 2) return // single-level run: per-level line already printed
    val (e1, te1, tp1, teN1, tpN1) = rows.head
    val (e2, te2, tp2, teN2, tpN2) = rows.last
    val factor = e2.toDouble / e1
    val effE = (te1 / te2) / factor
    val effP = (tp1 / tp2) / factor
    // calibration-normalized: each level's time in substrate-relative units
    // (seconds ÷ adjacent mix-loop seconds), removing cross-window drift
    val effEC = (teN1 / teN2) / factor
    val effPC = (tpN1 / tpN2) / factor
    val caveat = if (mode == "cluster")
      "separate executor JVMs via local-cluster; shuffle crosses processes but not a network"
    else "single JVM, shared memory bus/GC; understates real cluster scaling"
    println(f"""{"scaling":"${e1}x$coresPerExec -> ${e2}x$coresPerExec ($mode)","factor":$factor%.0f,""" +
      f""""extract_efficiency":$effE%.3f,"pipeline_efficiency":$effP%.3f,""" +
      f""""extract_efficiency_calibrated":$effEC%.3f,"pipeline_efficiency_calibrated":$effPC%.3f,""" +
      f""""caveat":"$caveat"}""")
  }
}
