package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage data selection (Nemhauser–Wolsey–Fisher 1978:
  * the greedy picks achieve ≥ (1−1/e) of the optimal coverage — the
  * guarantee behind facility-location / coverage-based training-data
  * selection): choose k documents that together cover the most distinct
  * items (shingles, entities, vocabulary), the "smallest set that still
  * spans the corpus" curation move for seed sets, eval slices, and
  * annotation budgets.
  *
  * Deterministic greedy, exactly: per round the candidate gain is its
  * count of NOT-YET-COVERED items; the winner is argmax by
  * (gain DESC, id ASC) — integer counts, total order, no floats. Selection
  * stops early when no candidate covers anything new (gain would be 0).
  *
  * Scale shape per round: one anti join of the membership table against
  * the covered set (item-keyed; the covered set starts empty and grows to
  * ≤ |items|), one id-keyed count, one TakeOrdered(1). k rounds = k
  * passes — greedy's sequential nature is fundamental (lazy-greedy /
  * stochastic variants trade the guarantee for fewer passes); k is small
  * (a seed set, not a corpus). The winner row is the ONLY driver-side
  * value per round. */
object Coverage {

  /** df: (idCol, itemCol) membership rows. Returns the selection in pick
    * order: (rank, id, gain) — gain = newly covered items at pick time. */
  def greedySelect(df: DataFrame, idCol: String, itemCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"coverage: k >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val raw = df
      .select(col(idCol).cast("string").as("id"),
        col(itemCol).cast("string").as("item"))
      .where(col("id").isNotNull && col("item").isNotNull)
    // r6 local gate FIRST: collect the raw (pre-distinct) rows — the
    // driver's hash sets dedupe them, so the local path also skips the
    // distinct exchange + checkpoint. The take() probe over-counts vs
    // distinct rows, i.e. gates conservatively. A row weighs 4 budget
    // entries: it is held as a Row and again in both inverted indexes
    // (this keeps the 2M-row switch point).
    val probe = graft.Local.take(raw, "coverage", graft.Local.maxEntries(spark) / 4)
    if (probe.isDefined) return greedyLocal(probe.get, spark, k)
    val items = graft.Materialize(raw.distinct())
    // r6: INCREMENTAL gain maintenance. gain_t(id) = |items(id) ∖
    // covered_t|, and covered only ever GROWS by the winner's not-yet-
    // covered items — so instead of re-aggregating the full membership
    // table every round (k edge-scale anti-join aggregates), keep a
    // materialized per-candidate gain table and subtract, per round, each
    // candidate's overlap with the winner's NEWLY covered items. The
    // newly-covered set is ≤ one record's items (bounded by the largest
    // record — the same single-record bound the argmax collect already
    // carries), so its broadcast is always safe; rounds touch only the
    // rows that share an item with the winner. Winner selection is the
    // identical argmax on identical gains: a candidate whose items are
    // fully covered has gain 0 here where the old aggregate dropped its
    // row — both are excluded by the same `gain > 0` stop rule.
    var gains = graft.Materialize(
      items.groupBy("id").agg(count(lit(1)).as("gain")))
    var covered = graft.Materialize(items.select("item").limit(0))
    var nCovered = 0L
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var done = false
    var rank = 0
    while (!done && rank < k) {
      val winner = gains
        .orderBy(col("gain").desc, col("id").asc)
        .limit(1)
        .as[(String, Long)].collect()
      winner.headOption match {
        case Some((id, gain)) if gain > 0 =>
          rank += 1
          picks += ((rank, id, gain))
          // the winner's items not covered before this round (disjoint
          // from everything already in `covered` by construction)
          val newItems = graft.Materialize(
            items.where(col("id") === id).select("item")
              .join(graft.Hints.bcastIf(covered, nCovered),
                Seq("item"), "left_anti"))
          val nNew = gain // |newItems| IS the winner's gain, by definition
          val dec = items.join(graft.Hints.bcastIf(newItems, nNew), Seq("item"))
            .groupBy("id").agg(count(lit(1)).as("d"))
          gains = graft.Materialize(gains
            .join(dec, Seq("id"), "left")
            .select(col("id"),
              (col("gain") - coalesce(col("d"), lit(0L))).as("gain")))
          covered = graft.Materialize(covered.union(newItems), eager = false)
          nCovered += nNew
        case _ => done = true
      }
    }
    picks.toSeq.toDF("rank", "id", "gain")
  }

  /** Driver-local exact greedy over the collected membership rows
    * (deduped here — the distributed path's distinct): the same
    * (gain DESC, id ASC) argmax and gain-0 stop as the distributed
    * rounds. */
  private def greedyLocal(rows: Array[org.apache.spark.sql.Row],
      spark: org.apache.spark.sql.SparkSession,
      k: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val byId = new java.util.HashMap[String, java.util.HashSet[String]]()
    val byItem = new java.util.HashMap[String, java.util.HashSet[String]]()
    rows.foreach { r =>
      val id = r.getString(0); val item = r.getString(1)
      byId.computeIfAbsent(id, _ => new java.util.HashSet[String]()).add(item)
      byItem.computeIfAbsent(item, _ => new java.util.HashSet[String]()).add(id)
    }
    val covered = new java.util.HashSet[String]()
    val gains = new java.util.HashMap[String, Long]()
    byId.forEach((id, its) => gains.put(id, its.size.toLong))
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var rank = 0
    var done = false
    while (!done && rank < k) {
      // argmax by (gain DESC, id ASC in Spark's string order)
      var bestId: String = null
      var bestGain = 0L
      gains.forEach { (id, g) =>
        if (g > bestGain || (g == bestGain && g > 0 &&
            (bestId == null || graft.Local.lt(id, bestId)))) { bestId = id; bestGain = g }
      }
      if (bestId == null || bestGain == 0L) done = true
      else {
        rank += 1
        picks += ((rank, bestId, bestGain))
        val its = byId.get(bestId).iterator()
        while (its.hasNext) {
          val it = its.next()
          if (covered.add(it)) {
            // decrement candidates via the inverted index (membership
            // rows are distinct, so each (id, item) decrements once)
            val owners = byItem.get(it).iterator()
            while (owners.hasNext) {
              val oid = owners.next()
              gains.put(oid, gains.get(oid) - 1L)
            }
          }
        }
      }
    }
    picks.toSeq.toDF("rank", "id", "gain")
  }
}
