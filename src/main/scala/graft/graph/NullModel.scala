package graft.graph

import graft.ops.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Configuration-model rewiring (Molloy & Reed 1995; Newman 2003 §4.1) —
  * the degree-preserving NULL MODEL every graph statistic is judged
  * against: "is the real assortativity / clustering / motif count a
  * structure signal, or just what any graph with these degrees looks
  * like?" Each node keeps its exact degree; the wiring is re-dealt by
  * pairing the degree stubs in a deterministic pseudo-random order.
  *
  * Determinism (so the DuckDB oracle replays it row for row): stub i of
  * node n keys as `portableHash(n || '#' || i)`; stubs sort globally by
  * (key, node, i) and consecutive stubs pair. Self-loops and multi-edges
  * are KEPT — that is the configuration model (collapsing them would
  * perturb the degree sequence). Input edges are treated as a SIMPLE
  * directed edge set (distinct applied; parallel input edges would make
  * the per-node stub index ambiguous).
  *
  * Scale: a node-keyed row_number window gives the per-node stub index;
  * the global pairing order is one distributed row number over the
  * distinct (key, node, i) stubs ([[graft.ops.Enumerate.rowNumber]]:
  * range-partitioned, partition-local scans, never a single-partition
  * global window). */
object NullModel {

  /** Returns the rewired edge multiset, canonicalized (a ≤ b) with a
    * multiplicity count: (a, b, n). */
  def rewire(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val stubs = e.select(col("src").as("node"), col("dst").as("other"),
        lit(0).as("side"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("other"),
        lit(1).as("side")))
    val stubIdx = row_number().over(
      Window.partitionBy("node").orderBy(col("other"), col("side")))
    val keyed = stubs.withColumn("i", stubIdx)
      .withColumn("key",
        Sketch.kmvHash(concat(col("node"), lit("#"), col("i"))))
    // (node, i) is unique per stub, so the row number's keys are distinct
    graft.ops.Enumerate.rowNumber(keyed, struct(col("key"), col("node"), col("i")), "g")
      .withColumn("pair", call_function("div", col("g"), lit(2L)))
      .groupBy("pair")
      .agg(min("node").as("a"), max("node").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
  }
}
