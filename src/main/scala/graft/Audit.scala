package graft

/** In-operator accounting channel — the "no silent caps" principle
  * (BASELINE.md plan notes, r3 verdict #3): an operator that DROPS data at
  * a safety cap must say how much it dropped, in-line, in the same call —
  * the separate audit functions (`EntityLinker.blockStats`,
  * `Similarity.bucketStats`) stay for deep dives, but a run log must not
  * be silent about lost recall.
  *
  * The sink is pluggable so specs can capture warnings deterministically;
  * the default is slf4j WARN (Spark's log4j2 backend picks it up).
  */
object Audit {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.Audit")

  @volatile var sink: String => Unit = log.warn(_)

  def warn(msg: String): Unit = sink(msg)

  /** The shared in-operator cap-accounting step (one place for the
    * gate/aggregate/warn idiom the blocking operators repeat): count the
    * over-cap groups of a lazily-materialized `sizes` table — the
    * aggregate doubles as its materializing action, so accounting costs
    * no extra job — and warn with the operator's own message. Under
    * materialize=none the sizes table is pure lineage and the aggregate
    * would recompute the upstream, so the accounting is skipped WITH a
    * warn pointing at the deep-dive audit functions (never silent).
    *
    * @param sizes   per-group table carrying a `count` column
    * @param cap     groups with count > cap are the dropped set
    * @param mkWarn  (nOverCapGroups, nCoveredRows) => message; called only
    *                when the dropped set is non-empty */
  def capAccounting(sizes: org.apache.spark.sql.DataFrame, cap: Long,
      op: String)(mkWarn: (Long, Long) => String): Unit = {
    import org.apache.spark.sql.functions._
    if (Materialize.materializing(sizes.sparkSession)) {
      val dropped = sizes.where(col("count") > cap)
        .agg(count(lit(1)), coalesce(sum(col("count")), lit(0L))).head()
      if (dropped.getLong(0) > 0) warn(mkWarn(dropped.getLong(0), dropped.getLong(1)))
    } else warn(s"$op: materialize=none — in-operator cap accounting " +
      "skipped (it would double-compute the sizing aggregate); audit caps " +
      "via the operator family's *Stats functions")
  }

  /** Run `f` with warnings captured into the returned buffer (spec hook);
    * restores the previous sink afterwards. Not reentrant. */
  def capturing[A](f: => A): (A, Seq[String]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val prev = sink
    sink = m => buf.synchronized { buf += m; () }
    try (f, buf.toSeq) finally sink = prev
  }
}
