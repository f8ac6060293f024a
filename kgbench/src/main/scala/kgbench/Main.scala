package kgbench

import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>` (scratch space, deleted by the caller). Prints progress on
  * stderr and, as the last line of stdout, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`. Exits 1 when any correctness gate
  * fails. `Args.tiny` (self-test sizes) and `Args.drop` (drop one output
  * triple before the gates) exist for the self-test only. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, tiny: Boolean = false, drop: Boolean = false)

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric], failures: Seq[Gate]) {
    def json: String = {
      val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}}"""
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  val Workloads: Seq[String] = Seq("build_gazetteer", "build_vendor_pool")

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got: ${args.mkString(" ")}")
    val kv = args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val r = run(parse(args))
    r.failures.take(20).foreach(g => System.err.println(s"[kgbench] FAILED ${g.name}: ${g.detail}"))
    println(r.json)
    System.out.flush()
    if (!r.correct) sys.exit(1)
  }

  /** The session configuration of `graft.Bench`: local[nproc], AQE with a
    * 2 MB advisory partition size, and the engine's SQL extensions. */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("kgbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Driver heap: [[liveMb]] is the live heap once full GCs stop freeing
    * memory (the context cleaner frees what one GC makes unreachable, and
    * the next GC reclaims it); `gcMb` is the largest old-generation
    * occupancy right after any GC since creation, from the JVM's GC
    * notifications, which also sees data that was only live while an op
    * ran. */
  final class Heap {
    @volatile private var gc = 0L
    private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum
        synchronized { gc = math.max(gc, old) }
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null); e
    }

    def liveMb: Double = {
      def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
      var prev = Long.MaxValue
      var cur = used()
      var rounds = 1
      while (cur < prev - prev / 50 && rounds < 6) {
        Thread.sleep(200)
        prev = cur
        cur = used()
        rounds += 1
      }
      cur / 1048576.0
    }

    def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
    def gcMb: Double = gc / 1048576.0
  }

  /** `graft.Bench`'s calibration loop: a fixed integer-mixing loop. */
  private def mixLoop(iters: Long): Long = {
    var h = 0x9E3779B97F4A7C15L; var i = 0L
    while (i < iters) { h = java.lang.Long.rotateLeft(h * 0x100000001B3L, 13) ^ i; i += 1 }
    h
  }

  /** Seconds for one single-thread and one all-threads calibration loop. */
  private def calibrate(iters: Long): (Double, Double) = {
    def time(f: => Unit) = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val single = time { if (mixLoop(iters) == 42L) println("") }
    val n = Runtime.getRuntime.availableProcessors()
    val all = time {
      val ts = (1 to n).map(_ => new Thread(() => { if (mixLoop(iters) == 42L) println("") }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    (single, all)
  }

  /** Between ops: releases the blocks the finished op materialized
    * (`localCheckpoint` keeps them in the driver's block manager in local
    * mode) and collects garbage, so that neither the context cleaner nor a
    * full GC for the previous op's data runs inside the next op. */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def log(msg: String): Unit = System.err.println(s"[kgbench] $msg")

  def run(a: Args): Result = {
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spark = session(a.work)
    val sessionS = since(t0)
    try {
      val sizes = if (a.tiny) Sizes.Tiny else Sizes.Full
      val runId = s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}"
      val tracer = new Tracer(spark.sparkContext, runId, a.trace)
      val ctx = Ctx(spark, tracer, a.seed, a.work, a.drop)
      val w = a.workload match {
        case "build_gazetteer" => new Build(ctx, sizes.gazetteerDocs, 0)
        case "build_vendor_pool" => new Build(ctx, sizes.poolDocs, sizes.vendorPool)
      }
      val calibIters = if (a.tiny) 1000000L else 400000000L
      val calibBefore = if (a.trace) Some(calibrate(calibIters)) else None

      // set-up: session start, then the workload's own set-up several times
      // (each rebuilds its inputs from scratch) and its median, then the
      // untimed checked op and warm-up ops, which let the JIT settle
      log(f"session $sessionS%.2f s")
      val setups = (1 to Main.SetupRepeats).map { _ =>
        val t = System.nanoTime(); w.setup(); since(t)
      }
      log(s"set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s")
      val tCheck = System.nanoTime()
      val checked = w.check()
      log(f"checked in ${since(tCheck)}%.2f s")
      val warm = mutable.ArrayBuffer(w.op(-1))
      release(spark)
      val tWarm = System.nanoTime()
      while (!a.tiny && since(tWarm) < WarmSeconds) { warm += w.op(-1); release(spark) }
      val heap = new Heap
      val checkS = since(tCheck)
      log(s"warm ops ${warm.map(r => f"${r.seconds}%.2f").mkString(" ")} s")
      val setupS = sessionS + median(setups) + checkS

      // timed ops, closed loop: run for `seconds`, at least MinOps; a
      // traced run alternates ops without and with the span listener, to
      // report the tracing overhead free of the JIT's warm-up trend
      val results = mutable.ArrayBuffer.empty[OpResult]
      val start = System.nanoTime()
      while (results.size < (if (a.tiny) 2 else MinOps) || since(start) < a.seconds) {
        tracer.listen(results.size % 2 == 1)
        val r = w.op(results.size)
        log(f"op ${results.size} ${r.seconds}%.3f s ${r.gate.ok}")
        results += r
        release(spark)
      }
      tracer.listen(true)
      heap.close()
      val layer = if (a.trace) Some(w.layerPass()) else None

      log(f"done at ${since(t0)}%.2f s")
      val calibAfter = if (a.trace) Some(calibrate(calibIters)) else None

      // every op reproduces the checked output, so when that output fails
      // its gates, every op has failed
      val opGates = results.map(_.gate)
      val failedOps = if (checked.gates.forall(_.ok)) opGates.count(!_.ok) else opGates.size
      val runGates = checked.gates ++ warm.map(_.gate) ++ layer.map(_._2)
      val allSeconds = results.map(_.seconds).toSeq
      val triplesPerOp = median(results.map(_.triples.toDouble).toSeq)

      val metrics = mutable.ArrayBuffer.empty[Metric]
      if (!a.trace) {
        metrics += Metric("setup_s", setupS, "s")
        metrics += Metric("triples_per_s", triplesPerOp / median(allSeconds), "triples/s")
        metrics += Metric("triple_precision", checked.precision, "ratio")
        metrics += Metric("triple_recall", checked.recall, "ratio")
        metrics += Metric("driver_heap_peak_mb", heap.liveMb, "MB")
      } else {
        val (traced, plain) = results.zipWithIndex.partition(_._2 % 2 == 1)
        metrics ++= Report.perLayer(tracer, layer.map(_._1), allSeconds,
          plain.map(_._1.seconds).toSeq, traced.map(_._1.seconds).toSeq, opGates.size, failedOps,
          calibBefore.get, calibAfter.get, heap.gcMb,
          median(results.map(_.codegenCompiles.toDouble).toSeq))
        tracer.write(a.work.getParent.resolve("traces").resolve(s"$runId.jsonl"))
      }
      val failures = opGates.filterNot(_.ok) ++ runGates.filterNot(_.ok)
      Result(failures.isEmpty, opGates.size.toLong, failedOps.toLong, metrics.toSeq,
        failures.toSeq)
    } finally spark.stop()
  }

  val SetupRepeats = 3
  /** Untimed ops after the checked one, until this many seconds passed. */
  val WarmSeconds = 6.0
  val MinOps = 4
}
