package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mann–Kendall trend test (Mann 1945; Kendall 1975) — the
  * distribution-free "is this metric drifting?" check a pipeline runs
  * over its own daily counters (ingest volume, dedup rate, extraction
  * yield): S = Σ_{i<j} sign(x_j − x_i) over the time-ordered series.
  * Monotone drift pushes S toward ±C(n,2); noise hovers near 0. No
  * means, no variances, no floats — S, the tie count, and the C(n,2)
  * bound are exact integers, so the verdict is bit-stable and the
  * oracle replays it as a plain self-join.
  *
  * Scale shape: the series is an AGGREGATE of the raw log (one keyed
  * count/sum shuffle, bucket-scale output ≤ days/hours, never
  * row-scale); the pairwise Σ is a self-join of that bucket table —
  * C(n_buckets, 2) pairs, thousands at most, broadcast territory. The
  * heavy data is touched exactly once. */
object Trend {

  /** series: (t ordinal, v measure) — one row per bucket. Output one row:
    * (n, s, n_pairs, n_ties, trend) with trend ∈ asc/desc/none. */
  def mannKendall(series: DataFrame, tCol: String, vCol: String): DataFrame = {
    val a = series.where(col(tCol).isNotNull && col(vCol).isNotNull)
      .select(col(tCol).as("ta"), col(vCol).as("va"))
    val b = series.where(col(tCol).isNotNull && col(vCol).isNotNull)
      .select(col(tCol).as("tb"), col(vCol).as("vb"))
    val pairs = a.join(b, col("ta") < col("tb"))
      .select(when(col("vb") > col("va"), 1L)
        .when(col("vb") < col("va"), -1L).otherwise(0L).as("sgn"))
    val n = a.agg(count(lit(1)).as("n"))
    pairs.agg(coalesce(sum(col("sgn")), lit(0L)).as("s"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("sgn") === 0, 1L).otherwise(0L)).as("n_ties"))
      .crossJoin(broadcast(n))
      .select(col("n"), col("s"), col("n_pairs"),
        coalesce(col("n_ties"), lit(0L)).as("n_ties"),
        when(col("s") > 0, "asc").when(col("s") < 0, "desc")
          .otherwise("none").as("trend"))
  }

  /** χ² categorical-drift test between an OBSERVED slice and a REFERENCE
    * slice (Pearson 1900) — "did the language/source/type mix move?", the
    * categorical complement of Mann–Kendall's numeric drift. With observed
    * counts o_i (total N_o) and Laplace-smoothed reference counts
    * r_i = raw_i + 1 (total N_r, smoothing over the UNION of categories so
    * a class absent from the reference cannot divide by zero), expected
    * e_i = N_o·r_i/N_r and each term
    *   (o_i − e_i)²/e_i = (o_i·N_r − N_o·r_i)² / (N_o·r_i·N_r)
    * is an exact integer ratio. Per term the engine emits
    * term_ppt = (numerator · 1000) div denominator — a truncating INTEGER
    * division (numerator ~ counts² · N_r² stays in long while
    * N_o·N_r < ~3·10⁷; beyond that, pre-aggregate or sample slices) — so
    * the χ² total in ppt (per-mille) is an exact long Σ, order-independent
    * and bit-stable across engines (a float Σ would differ in the last
    * ulp by accumulation order alone).
    *
    * Output: one row per union category (cat, o, r_smoothed, term_ppt)
    * plus the totals repeated (n_o, n_r, chi2_ppt) — the scorecard shape.
    * Scale: two category-keyed aggregates + one category-scale join. */
  def chiSquareDrift(observed: DataFrame, reference: DataFrame,
      catCol: String): DataFrame = {
    val idiv = (a: Column, b: Column) => call_function("div", a, b)
    def counts(df: DataFrame, as: String) =
      df.where(col(catCol).isNotNull)
        .groupBy(col(catCol).as("cat")).agg(count(lit(1)).as(as))
    val o = counts(observed, "o_raw")
    val r = counts(reference, "r_raw")
    val cats = o.join(r, Seq("cat"), "full_outer")
      .select(col("cat"),
        coalesce(col("o_raw"), lit(0L)).as("o"),
        (coalesce(col("r_raw"), lit(0L)) + 1L).as("r_smoothed"))
    val withTotals = cats.crossJoin(broadcast(cats.agg(
      coalesce(sum("o"), lit(0L)).as("n_o"),
      coalesce(sum("r_smoothed"), lit(0L)).as("n_r"))))
    val num = col("o") * col("n_r") - col("n_o") * col("r_smoothed")
    val terms = withTotals.select(col("cat"), col("o"), col("r_smoothed"),
      col("n_o"), col("n_r"),
      when(col("n_o") > 0,
        idiv(num * num * 1000L, col("n_o") * col("r_smoothed") * col("n_r")))
        .otherwise(0L).as("term_ppt"))
    terms.crossJoin(broadcast(
        terms.agg(coalesce(sum("term_ppt"), lit(0L)).as("chi2_ppt"))))
      .select(col("cat"), col("o"), col("r_smoothed"), col("term_ppt"),
        col("n_o"), col("n_r"), col("chi2_ppt"))
  }

  /** CUSUM changepoint LOCALIZATION (Page 1954; the Pettitt-style argmax
    * form) — Mann–Kendall (above) answers "is it drifting?"; this answers
    * the question ops actually asks next: WHEN did the level shift?
    * With the series x_1..x_n (total T), the cumulative deviation from
    * the global mean at prefix i is S_i = Σ_{j≤i} x_j − i·T/n; scaling by
    * n keeps it integer: S'_i = n·P_i − i·T (P_i the prefix sum). The
    * changepoint estimate is argmax_i |S'_i| over i < n (S'_n ≡ 0 —
    * the endpoint carries no signal), ties → earliest bucket; the sign
    * says which way the level moved (prefix ABOVE the mean ⇒ the later
    * regime is lower).
    *
    * All-integer (counts·n products — exact while n·T < 2⁶³, i.e. any
    * realistic counter series), so the located bucket is bit-stable and
    * the oracle replays the window arithmetic exactly.
    *
    * Scale shape: like mannKendall, the series is an AGGREGATE of the raw
    * log (bucket-scale, ≤ days/hours rows, one per distinct `t`); the
    * positions and running sums are [[Enumerate]]'s range-partitioned
    * scans, so no step moves the series through one partition.
    *
    * Output (1 row): (n, total, cp_t, cp_index, s_scaled, shift) with
    * shift ∈ down/up/none (none ⇔ S' ≡ 0, a perfectly flat series);
    * n < 2 ⇒ null cp columns. */
  def cusumChangepoint(series: DataFrame, tCol: String,
      vCol: String): DataFrame = {
    val rows = series.where(col(tCol).isNotNull && col(vCol).isNotNull)
      .select(col(tCol).as("t"), col(vCol).cast("long").as("v"))
    val totals = rows.agg(count(lit(1)).as("n"),
      coalesce(sum("v"), lit(0L)).as("total"))
    // i = 1-based position and p = running sum through this bucket, from
    // the two exclusive scans in t order
    val s = Enumerate.rowNumber(Enumerate.prefixSums(rows, col("t"), col("v"), "p0"),
        col("t"), "i0")
      .withColumn("i", (col("i0") + 1).cast("int"))
      .withColumn("p", col("p0") + col("v"))
      .crossJoin(broadcast(totals))
      .where(col("i") < col("n")) // S'_n ≡ 0 carries no signal
      .select(col("t"), col("i"), col("n"), col("total"),
        (col("n") * col("p") - col("i") * col("total")).as("s_scaled"))
    val peak = s
      .select(struct(abs(col("s_scaled")).as("a"),
        (-col("i")).as("negi"), col("t").as("t"), col("i").as("i"),
        col("s_scaled").as("s"), col("n").as("n"),
        col("total").as("total")).as("k"))
      .agg(max("k").as("k")) // max |S'|, tie → earliest i (negated index)
      .select(col("k.n").as("n"), col("k.total").as("total"),
        col("k.t").as("cp_t"), col("k.i").as("cp_index"),
        col("k.s").as("s_scaled"),
        when(col("k.s") > 0, "down").when(col("k.s") < 0, "up")
          .otherwise("none").as("shift"))
    // n < 2 ⇒ the filtered prefix table is empty; emit the degenerate row
    val degenerate = totals.where(col("n") < 2)
      .select(col("n"), col("total"), lit(null).cast("string").as("cp_t"),
        lit(null).cast("int").as("cp_index"),
        lit(null).cast("long").as("s_scaled"),
        lit(null).cast("string").as("shift"))
    peak.where(col("n").isNotNull)
      .select(col("n"), col("total"), col("cp_t").cast("string").as("cp_t"),
        col("cp_index"), col("s_scaled"), col("shift"))
      .unionByName(degenerate)
  }
}
