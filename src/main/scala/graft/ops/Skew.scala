package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities (SURVEY.md §4; north_star: "skew from
  * mega-vendors is handled with salted aggregations and AQE skew-join
  * hints").
  *
  * The corpus is Zipf-shaped by construction (30% of invoices hit one
  * vendor), so any groupBy/join on vendor keys has one hot partition. Two
  * mitigations compose with AQE (which is ON in every engine session):
  *
  *  - salted aggregation: partial agg on (key, salt) → final agg on key.
  *    The hot key's rows split across `salts` partitions in the first
  *    shuffle; the second shuffle moves only `salts` pre-aggregated rows.
  *  - salted broadcast-side replication for joins where the build side is
  *    small but the probe side is hot-keyed.
  */
object Skew {

  /** Salted two-phase aggregation: exact same result as
    * `df.groupBy(key).agg(aggs)` for DECOMPOSABLE aggregates (sum/count/
    * min/max), with the hot key spread over `salts` partitions first.
    *
    * The salt MUST be a DETERMINISTIC function of the row (`saltFrom`,
    * e.g. a row-identity column): a nondeterministic salt (such as
    * `monotonically_increasing_id`) can re-salt rows into different
    * (key, salt) groups between task attempts after a partial shuffle
    * fetch — the classic retry hazard that silently double-counts or drops
    * rows at cluster scale and never reproduces in local mode.
    *
    * @param saltFrom deterministic row-identity column(s) the salt is
    *        hashed from (xxhash64 → pmod salts)
    * @param partials (partialAggExprs, finalAggExprs) — the partial
    *        expressions run per (key, salt); the final ones combine them.
    */
  def saltedAgg(df: DataFrame, key: Column, saltFrom: Column, salts: Int)(
      partials: Seq[Column], finals: Seq[Column]): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltFrom), lit(salts)))
      .groupBy(key.as("__key"), col("__salt"))
      .agg(partials.head, partials.tail: _*)
      .groupBy("__key")
      .agg(finals.head, finals.tail: _*)
      .withColumnRenamed("__key", "key")

  /** Salted count per key — e.g. mention counts per entity key, where the
    * mega-vendor dominates.
    * `saltFrom` must be deterministic per row (see saltedAgg). */
  def saltedCount(df: DataFrame, keyCol: String, saltFrom: Column,
      salts: Int = 16, outCol: String = "n"): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltFrom), lit(salts)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__pc"))
      .groupBy(col(keyCol))
      .agg(sum("__pc").as(outCol))

  /** Key-frequency profile — the diagnostic that decides whether salting
    * is worth it (top-k hot keys with their share). One pass over the data:
    * `rollup` emits the per-key counts AND the grand-total row from the
    * same partial aggregation (no separate full-scan `count()` job, no
    * single-partition global window over the distinct keys);
    * `grouping()` tells the total row apart from a genuinely-null key. */
  def keyProfile(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    val counts = df.rollup(keyCol)
      .agg(count(lit(1)).as("n"), grouping(col(keyCol)).as("__g"))
    val total = counts.where(col("__g") === 1).select(col("n").as("__total"))
    counts.where(col("__g") === 0)
      .crossJoin(broadcast(total)) // 1 row — a broadcast, not a cartesian
      .withColumn("share", round(col("n") / col("__total"), 4))
      .select(col(keyCol), col("n"), col("share"))
      .orderBy(col("n").desc)
      .limit(k)
  }
}
