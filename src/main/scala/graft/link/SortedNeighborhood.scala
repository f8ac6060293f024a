package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995) — the
  * classic alternative to hash/LSH blocking for entity resolution: sort
  * entities by a blocking key (normalized name, phonetic code, zip+street)
  * and pair every two records whose SORT RANKS are within a window w.
  * Where hash blocking misses near-misses that straddle a bucket
  * boundary, the sliding window pairs every rank-adjacent record exactly
  * once — the standard complement the linker's LSH path lacks, and the
  * strategy [[graft.metrics.BlockingEval]] exists to arbitrate against.
  *
  * Distributed form: ranks come from ONE entity-scale row number in the
  * (key, id) order ([[graft.ops.Enumerate.rowNumber]]: range-partitioned,
  * never a single-partition global window — entity pools are 10⁶–10⁹
  * when the corpus is 10¹²); the window pairing is TWO equi joins on
  * rank-buckets of width w (each rank pairs only within its own and the
  * next bucket — |Δrank| < w never crosses more), so the shuffle carries
  * (bucket, rank, id) triples and the output is exactly the Θ(n·w) window
  * pairs, with no quadratic anywhere. Ordering ties break by id inside the sort key —
  * a total order, so ranks and pairs are a pure function of the data. */
object SortedNeighborhood {

  /** Window-w candidate pairs: (id_a, id_b, rank_a, rank_b) with
    * 0 < rank_b − rank_a < w under the (key, id) sort order. Null keys
    * are excluded (a null sort key is a missing blocking key, not a
    * neighborhood). w ≥ 2 (w = 1 pairs nothing). */
  def pairs(df: DataFrame, idCol: String, keyCol: String, w: Int): DataFrame = {
    require(w >= 2, "pairs: w must be >= 2 (w = 1 yields no pairs)")
    val base = df
      .select(col(idCol).cast("string").as("id"), col(keyCol).cast("string").as("key"))
      .where(col("id").isNotNull && col("key").isNotNull)
      .distinct()
    // rows are distinct on (key, id): the distributed row number needs no
    // single-partition global window
    val ranked = graft.Materialize(
      graft.ops.Enumerate.rowNumber(base, struct(col("key"), col("id")), "row_num")
        .select(col("id"), (col("row_num") + 1).cast("int").as("rank"),
          expr(s"row_num div $w").as("bucket")),
      eager = false)
    val l = ranked.select(col("id").as("id_a"), col("rank").as("rank_a"),
      col("bucket"))
    val rSame = ranked.select(col("id").as("id_b"), col("rank").as("rank_b"),
      col("bucket"))
    val rNext = ranked.select(col("id").as("id_b"), col("rank").as("rank_b"),
      (col("bucket") - 1).as("bucket"))
    l.join(rSame.union(rNext), "bucket")
      .where(col("rank_b") > col("rank_a") && col("rank_b") - col("rank_a") < w &&
        // an id listed under several keys ranks several times — a
        // self-pair is never an ER candidate
        col("id_a") =!= col("id_b"))
      .select("id_a", "id_b", "rank_a", "rank_b")
  }
}
