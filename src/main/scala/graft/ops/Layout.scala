package graft.ops

import graft.functions.ZOrderKey
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for write-time clustering — how a 100 TB
  * table is organized so reads touch the fewest bytes. `ORDER BY x` makes
  * parquet min/max stats prune x-predicates but leaves every file spanning
  * the full y domain; interleaving the bits of (x, y, …) into one sort key
  * (Morton/Z-order — Morton 1966, used by Delta OPTIMIZE ZORDER BY and
  * Iceberg's zorder rewrite) bounds every file's extent in EVERY clustered
  * dimension at once, so conjunctive AND disjunctive range predicates on
  * any subset of the clustered columns skip most files.
  *
  * Scale shape: one range shuffle (`repartitionByRange` samples the key
  * distribution, so skewed domains still yield equal-sized files) + an
  * in-partition sort — exactly what a nightly compaction job does; the
  * key itself is a codegen'd per-row expression (`ZOrderKeyExpr`). */
object Layout {

  /** Z-order key over integral columns (cast to long; see ZOrderKey's
    * low-bits contract — pre-scale skewed/negative domains first). */
  def zorderKey(cols: Column*): Column =
    ZOrderKey.keyCol(cols.map(_.cast("long")): _*)

  /** Cluster `df` into `numFiles` write tasks by the Z-order of `cols`:
    * range-shuffle on the interleaved key, sort within partitions, key
    * dropped. Write the result with `.write.parquet(...)` — each output
    * file then covers a bounded hyper-rectangle of `cols` space. */
  def clusterByZOrder(df: DataFrame, cols: Seq[String], numFiles: Int): DataFrame = {
    require(numFiles > 0, "numFiles must be positive")
    df.withColumn("_zkey", zorderKey(cols.map(col): _*))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
  }

  /** Layout audit: per output file, the min/max extent of each clustered
    * column — the numbers that decide whether a predicate can skip the
    * file. Read side of the spec's locality assertion and the tool you'd
    * run on a production table to check clustering health. */
  def fileExtents(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    df.withColumn("_file", input_file_name())
      .groupBy("_file")
      .agg(count(lit(1)).as("rows"), aggs: _*)
  }
}
