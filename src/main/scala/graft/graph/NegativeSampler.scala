package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Filtered negative sampling for KG-embedding training (the corruption
  * sampler of Bordes et al., "Translating Embeddings", NIPS 2013): every
  * true triple (s, p, o) is paired with k corrupted candidates
  * (s, p, o′) drawn from the entity pool, and candidates that happen to be
  * TRUE triples are removed (the "filtered" setting — scoring a real fact
  * as a negative poisons the loss). This is the operator that turns the
  * materialized graph into link-prediction training data; it must be
  * deterministic so a resumed run regenerates the identical epoch.
  *
  * Determinism: the draw is the engine-wide keyed-PRNG idiom (the same
  * fingerprint hash q28/q52 prove cross-engine): candidate i of triple
  * (s,p,o) picks pool index fingerprint(s‖p‖o‖i) mod N — a pure function
  * of the triple and the pool, independent of partition layout, replayable
  * term-for-term in any engine with the same rolling hash.
  *
  * Scale: the pool index is one entity-scale row number in the pool's
  * order ([[graft.ops.Enumerate.rowNumber]]: range-partitioned, never a
  * single-partition global window — entity pools are 10^6–10^9 rows when
  * the corpus is 10^12, and never touch doc-scale data); the
  * candidate join is an equi join on the pool index (broadcastable for
  * real pools); the filtered-setting anti join is one triple-scale
  * shuffle on (s, p, o′) — the irreducible cost of filtering, keyed and
  * AQE-skew-splittable. Per-triple fan-out is k (bounded, caller-chosen).
  */
object NegativeSampler {

  /** k tail-corruptions per triple, filtered. Pool = the distinct objects
    * of `triples` (the standard protocol corrupts within the observed
    * entity set). Returns (subj, pred, obj, neg_idx, obj_neg) where
    * neg_idx ∈ [0, k) is the draw index; rows whose draw collided with the
    * true object or with another true triple are filtered out, so a
    * triple can carry fewer than k negatives (the filtered contract). */
  def corruptTail(triples: DataFrame, k: Int,
      sCol: String = "subj", pCol: String = "pred", oCol: String = "obj"): DataFrame = {
    require(k >= 1, "corruptTail: k must be >= 1")
    // r6: checkpoint the cleaned triple set — it feeds the pool, the draw
    // expansion AND the filtered-setting anti join (three recomputes of
    // the distinct as pure lineage), and its count gate-hints the anti
    // join's build side (§3.1). The pool (whose count the draw needs
    // anyway) is hinted into the candidate join the same way — both were
    // stat-less SortMergeJoins against the triple-scale draw stream.
    val t = graft.Materialize(triples
      .select(col(sCol).cast("string").as("subj"), col(pCol).cast("string").as("pred"),
        col(oCol).cast("string").as("obj"))
      .where(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
      .distinct(), eager = false)
    // entity pool, indexed 0..N-1 in lexicographic order (the replayable
    // indexing: a row number over the pool's own total order; the pool is
    // distinct, as the distributed row number needs)
    val pool = graft.Materialize(graft.ops.Enumerate.rowNumber(
      t.select(col("obj").as("cand")).distinct(), col("cand"), "idx"), eager = false)
    val n = pool.count()
    if (n <= 1L) return t.limit(0) // nothing to corrupt with
      .select(col("subj"), col("pred"), col("obj"),
        lit(0).as("neg_idx"), col("obj").as("obj_neg"))
    val nT = t.count()
    val draws = t.select(col("subj"), col("pred"), col("obj"),
        explode(sequence(lit(0), lit(k - 1))).as("neg_idx"))
      .withColumn("idx",
        pmod(drawKey(col("subj"), col("pred"), col("obj"), col("neg_idx")), lit(n)))
    val candidates = draws.join(graft.Hints.bcastIf(pool, n), "idx")
      .where(col("cand") =!= col("obj"))
    // filtered setting: drop corruptions (s, p, cand) that are TRUE triples
    val truths = t.select(col("subj"), col("pred"), col("obj").as("cand"))
    candidates
      .join(graft.Hints.bcastIf(truths, nT), Seq("subj", "pred", "cand"), "left_anti")
      .select(col("subj"), col("pred"), col("obj"), col("neg_idx"),
        col("cand").as("obj_neg"))
  }

  /** The deterministic draw key: rolling fingerprint of s‖p‖o‖i with an
    * unambiguous field separator. */
  private def drawKey(s: Column, p: Column, o: Column, i: Column): Column =
    graft.ops.TextOps.fingerprint(
      concat_ws("|", s, p, o, i.cast("string")))
}
