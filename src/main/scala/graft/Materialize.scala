package graft

import org.apache.spark.sql.Dataset

/** Operator-internal materialization policy, gated by session config.
  *
  * Several operators compute an intermediate that feeds MULTIPLE downstream
  * scan branches (a shingle table read by 4 aggregates, the bucketed corpus
  * read by the band explode and two join-backs, the canonical map). Leaving
  * it as pure lineage recomputes it per branch; `persist()` inside an
  * operator leaks blocks into the session CacheManager (the round-1 bench
  * post-mortem, BASELINE.md); `localCheckpoint()` self-cleans with the
  * DataFrame's GC scope but stores UNREPLICATED executor-local blocks — an
  * executor loss (spot kill, OOM decommission) makes them unrecoverable and
  * fails the job, a real fault-tolerance tradeoff at cluster scale.
  *
  * So the strategy is a session conf, `spark.graft.materialize`:
  *
  *  - `"local"` (default): `localCheckpoint` — fastest, self-cleaning;
  *    correct for single-node / bench / driver-local runs and for clusters
  *    where task retry within live executors is the only failure mode.
  *    EXECUTOR LOSS ABORTS THE JOB in this mode; the orchestrator retries
  *    the whole job (idempotent sinks — TripleStore commits are atomic).
  *  - `"reliable"`: `Dataset.checkpoint` to the configured
  *    `sparkContext.setCheckpointDir` (HDFS/S3) — survives executor loss;
  *    pay one write+read of the intermediate. Use on preemptible clusters.
  *  - `"none"`: no materialization — pure lineage, fully fault tolerant,
  *    recomputes the intermediate per downstream branch. Use when the
  *    intermediate is cheap relative to storage.
  *
  * `eager = false` skips the materialization job when the result may go
  * unused (audit paths like `EntityLinker.entities` called from
  * `blockStats`); the first downstream action computes-and-stores.
  */
object Materialize {
  val ModeKey = "spark.graft.materialize"

  def apply[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    ds.sparkSession.conf.get(ModeKey, "local") match {
      case "reliable" => ds.checkpoint(eager)
      case "none"     => ds
      case _          => ds.localCheckpoint(eager)
    }

  /** Whether [[apply]] materializes (`local`, `reliable`) rather than
    * returning pure lineage (`none`). Two policies follow from it:
    *  - in-operator cap ACCOUNTING runs only when true: the accounting
    *    aggregate doubles as the materializing action of a lazily-
    *    checkpointed gate table, so it costs nothing extra — but under
    *    `none` the gate table is pure lineage and the accounting action
    *    would recompute the upstream aggregate a second time for the
    *    operator's own join. Operators skip it there (with a warn pointing
    *    at the deep-dive audit functions);
    *  - a doc-scale input read once by a materialized consumer is cached
    *    only when false, where every downstream branch re-reads it. */
  def materializing(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.get(ModeKey, "local") != "none"
}
