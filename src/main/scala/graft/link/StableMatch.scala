package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stable matching (Gale–Shapley, proposer-optimal) — the 1:1 assignment
  * primitive for entity resolution when BOTH sides rank their candidates:
  * source records propose to target records (scored by match confidence),
  * targets hold their best offer, and the result is the unique
  * proposer-optimal STABLE matching — no unmatched pair prefers each
  * other over what they got, so no post-hoc "obviously better link" audit
  * finding is possible (the failure mode of independent per-row argmax
  * linking, which can assign one target to many sources or leave
  * blocking pairs).
  *
  * Engine shape: the ROUND-PARALLEL form — every free proposer proposes
  * to its best not-yet-rejecting target in the same round (one argmax
  * aggregate over the non-rejected preference table), targets keep the
  * best of current + new offers (one argmax per target), losers record a
  * rejection. All joins are key-equi on ids; per-round driver state is
  * one count. Rounds are data-dependent (≤ total preference rows, in
  * practice ~O(n)); by McVitie–Wilson the result equals the sequential
  * one-proposal-at-a-time execution, which is what the oracle replays.
  *
  * Input: the full preference table `(m, w, m_score, w_score)` — higher
  * is better; scores must be tie-free per node on each side (distinct
  * m_score within each m, distinct w_score within each w), or the
  * deterministic-uniqueness guarantee is the caller's to establish.
  * Output: `(m, w)` — one row per matched pair. */
object StableMatch {

  def matchPairs(prefs: DataFrame, maxRounds: Int = 100000): DataFrame = {
    val p = graft.Materialize(prefs.select(
      col("m").cast("string").as("m"), col("w").cast("string").as("w"),
      col("m_score").cast("long").as("ms"),
      col("w_score").cast("long").as("ws"))
      .where(col("m").isNotNull && col("w").isNotNull)
      .distinct(), eager = false)

    // r6 size gate: Gale–Shapley is a data-dependent-round sequential
    // fixpoint — at gate-small preference-table sizes the distributed
    // loop is pure serial job latency (a 16×16 instance took ~40 Spark
    // jobs), so run the SEQUENTIAL McVitie–Wilson execution locally (the
    // same algorithm the oracle replays). Proposal order provably does
    // not change the proposer-optimal result under strict preferences,
    // and the local path restores strictness with EXACTLY the distributed
    // argmax's tie orders — max(struct(ms, w)) / max(struct(ws, m)), i.e.
    // (score, id-string) lexicographic — so the two paths are identical
    // even on tied scores (asserted by StableMatchSpec's gate-forced
    // parity case). Beyond the gate the round-parallel loop below is
    // unchanged — that is the 10^9-preference shape.
    // A row weighs 8 budget entries: it is held as a Row and again as a
    // boxed (ms, w, ws) tuple in its man's sorted list (this keeps the
    // 1M-row switch point). Null scores keep the struct-max path.
    val local = graft.Local.take(p, "stablematch",
      graft.Local.maxEntries(prefs.sparkSession) / 8)
      .filter(_.forall(r => !r.isNullAt(2) && !r.isNullAt(3)))
    if (local.isDefined) return matchLocal(local.get, prefs)

    // rejected(m, w) grows; engaged(w, m) is the tentative matching
    var live = p // preference rows not yet rejected
    var engaged = graft.Materialize(
      p.select(col("w"), col("m")).limit(0), eager = false)
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"StableMatch: $maxRounds rounds without convergence")
      // free proposers = those with live rows and no engagement
      val freeTop = live
        .join(engaged.select(col("m")), Seq("m"), "left_anti")
        .groupBy("m").agg(max(struct(col("ms"), col("w"))).as("__t"))
        .select(col("m"), col("__t.w").as("w"))
      val nProps = freeTop.count()
      if (nProps == 0L) done = true
      else {
        val offers = freeTop.join(p, Seq("m", "w"))
          .select(col("w"), col("m"), col("ws"))
          .union(engaged.join(p, Seq("w", "m"))
            .select(col("w"), col("m"), col("ws")))
        val newEngaged = graft.Materialize(offers
          .groupBy("w").agg(max(struct(col("ws"), col("m"))).as("__t"))
          .select(col("w"), col("__t.m").as("m")), eager = false)
        // every offer that did not win is now a standing rejection —
        // drop those preference rows for good (incl. displaced partners)
        val lost = offers.select("w", "m")
          .join(newEngaged, Seq("w", "m"), "left_anti")
        live = graft.Materialize(
          live.join(lost, Seq("m", "w"), "left_anti"), eager = false)
        engaged = newEngaged
      }
    }
    engaged.select(col("m"), col("w"))
  }

  /** Sequential man-proposing Gale–Shapley over the collected distinct
    * preference rows, with the distributed path's exact tie orders:
    * a man proposes down his list sorted by (ms, w) DESC; a woman holds
    * the max offer by (ws, m) — both lexicographic with the id STRING (in
    * Spark's order, [[graft.Local.order]]) as the tiebreak, matching
    * `max(struct(...))`. */
  private def matchLocal(rows: Array[org.apache.spark.sql.Row],
      prefs: DataFrame): DataFrame = {
    val spark = prefs.sparkSession
    import spark.implicits._
    // per-man preference list, best-first
    val byM = rows.groupBy(_.getString(0)).map { case (m, rs) =>
      m -> rs.map(r => (r.getLong(2), r.getString(1), r.getLong(3)))
        .sortBy { case (ms, w, _) => (-ms, w) }(
          Ordering.Tuple2(Ordering.Long, graft.Local.order.reverse))
    }
    val nextIdx = scala.collection.mutable.HashMap.empty[String, Int]
    val engagedW = scala.collection.mutable.HashMap.empty[String, (String, Long)] // w -> (m, ws)
    val free = scala.collection.mutable.Queue.empty[String]
    byM.keys.toSeq.sorted.foreach { m => free.enqueue(m); nextIdx(m) = 0 }
    while (free.nonEmpty) {
      val m = free.dequeue()
      val list = byM(m)
      var i = nextIdx(m)
      var engagedNow = false
      while (!engagedNow && i < list.length) {
        val (_, w, ws) = list(i)
        i += 1
        engagedW.get(w) match {
          case None =>
            engagedW(w) = (m, ws); engagedNow = true
          case Some((m2, ws2)) =>
            // woman keeps max by (ws, m) in Spark's string order
            if (ws > ws2 || (ws == ws2 && graft.Local.lt(m2, m))) {
              engagedW(w) = (m, ws); free.enqueue(m2); engagedNow = true
            } // else: standing rejection, try next preference
        }
      }
      nextIdx(m) = i // exhausted list → m stays unmatched
    }
    engagedW.toSeq.map { case (w, (m, _)) => (m, w) }.sorted
      .toDF("m", "w")
  }
}
