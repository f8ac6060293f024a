package kgbench

import kgbench.Main.Metric

/** The per-layer metrics of a traced run. */
object Report {
  /** Layers whose spans the traced run records; `op` is the workload's own
    * timed call, the others are the layer pass. */
  val Layers: Seq[String] = Seq("op", "run", "link", "canon", "store")

  /** Spark counters reported for every layer. */
  val Counters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "failed_tasks" -> "count",
    "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "busy_s" -> "s", "idle_s" -> "s")

  def perLayer(tracer: Tracer, pass: Option[LayerPass.Counts], allSeconds: Seq[Double],
      plainSeconds: Seq[Double], tracedSeconds: Seq[Double], attempted: Int, failedOps: Int,
      calibBefore: (Double, Double),
      calibAfter: (Double, Double), gcPeakMb: Double, codegenCompiles: Double): Seq[Metric] = {
    val counters = tracer.counters()
    val spans = tracer.spans.toSeq
    // op spans the listener saw
    val opSpans = spans.filter(s => s.name == "op" && counters.contains(s.id))
    def sum(ss: Seq[Span], f: SpanCounters => Double): Double =
      ss.iterator.map(s => counters.get(s.id).map(f).getOrElse(0.0)).sum
    def idle(ss: Seq[Span]): Double = ss.iterator.map { s =>
      Tracer.idleSeconds(s.startMs, s.endMs,
        counters.get(s.id).map(_.intervals.toSeq).getOrElse(Nil))
    }.sum
    def spanSeconds(name: String) = spans.filter(_.name == name).map(_.seconds).sum

    val layerMetrics = Layers.flatMap { layer =>
      val ss = if (layer == "op") opSpans else spans.filter(_.layer == layer)
      // op counters are per op; layer-pass counters are per pass
      val per = if (layer == "op") math.max(1, opSpans.size).toDouble else 1.0
      val vals = Map(
        "jobs" -> sum(ss, _.jobs.toDouble), "tasks" -> sum(ss, _.tasks.toDouble),
        "failed_tasks" -> sum(ss, _.failedTasks.toDouble),
        "shuffle_read_bytes" -> sum(ss, _.shuffleReadBytes.toDouble),
        "shuffle_write_bytes" -> sum(ss, _.shuffleWriteBytes.toDouble),
        "spill_bytes" -> sum(ss, _.spillBytes.toDouble),
        "busy_s" -> sum(ss, _.busyMs / 1e3), "idle_s" -> idle(ss))
      Metric(s"$layer.s", ss.map(_.seconds).sum / per, "s") +:
        Counters.map { case (k, unit) => Metric(s"$layer.$k", vals(k) / per, unit) }
    }

    val p = pass.getOrElse(LayerPass.Counts(0, 0, 0, 0, 0, 0, Fingerprint(0, 0)))
    val readSpans = spans.filter(_.name == "store.read")
    val scanned = sum(readSpans, _.recordsRead.toDouble)
    val tail = if (allSeconds.isEmpty) 0.0 else Main.quantile(allSeconds, 0.95)
    Seq(
      Metric("run.mentions_s", spanSeconds("run.mentions"), "s"),
      Metric("run.extract_s", spanSeconds("run.extract"), "s"),
      Metric("run.rewrite_s", spanSeconds("run.rewrite"), "s"),
      Metric("run.extract_triples", p.extractTriples.toDouble, "count"),
      Metric("link.entities_s", spanSeconds("link.entities"), "s"),
      Metric("link.edges_s", spanSeconds("link.edges"), "s"),
      Metric("link.entities", p.entities.toDouble, "count"),
      Metric("link.candidate_edges", p.candidateEdges.toDouble, "count"),
      Metric("canon.cc_s", spanSeconds("canon.cc"), "s"),
      Metric("canon.map_s", spanSeconds("canon.map"), "s"),
      Metric("canon.components", p.components.toDouble, "count"),
      Metric("canon.map_rows", p.mapRows.toDouble, "count"),
      Metric("store.commit_s", spanSeconds("store.commit"), "s"),
      Metric("store.read_s", spanSeconds("store.read"), "s"),
      Metric("store.bytes_written",
        sum(spans.filter(_.name == "store.commit"), _.bytesWritten.toDouble), "bytes"),
      Metric("store.rows_scanned_per_row_returned",
        if (p.rowsReturned == 0) 0.0 else scanned / p.rowsReturned, "ratio"),
      Metric("op.samples", allSeconds.size.toDouble, "count"),
      Metric("op.p50_ms", Main.quantile(allSeconds, 0.5) * 1e3, "ms"),
      Metric("op.p95_ms", tail * 1e3, "ms"),
      Metric("op.failed_ratio",
        if (attempted == 0) 0.0 else failedOps.toDouble / attempted, "ratio"),
      Metric("op.heap_after_gc_peak_mb", gcPeakMb, "MB"),
      Metric("op.codegen_compiles", codegenCompiles, "count"),
      Metric("trace.overhead_ratio",
        if (plainSeconds.isEmpty || tracedSeconds.isEmpty) 0.0
        else Main.quantile(tracedSeconds, 0.5) / Main.quantile(plainSeconds, 0.5), "ratio"),
      Metric("trace.layer_pass_s", spanSeconds("pass"), "s"),
      Metric("host.calib_single_s", calibBefore._1, "s"),
      Metric("host.calib_all_s", calibBefore._2, "s"),
      Metric("host.calib_single_after_s", calibAfter._1, "s"),
      Metric("host.calib_all_after_s", calibAfter._2, "s")) ++ layerMetrics
  }
}
