package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT Jaccard set-similarity self-join via prefix filtering — the
  * AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al., WWW'08;
  * distributed form: Vernica et al., SIGMOD'10). The exact complement to
  * `Dedup.minhashNearDup`: same blocking+verify house shape, but the
  * candidate set PROVABLY contains every pair at jaccard ≥ t, so the
  * output is the exact answer (minhash trades a recall epsilon for fewer
  * candidates; prefix filtering trades more candidates for zero loss —
  * at dedup thresholds ≥0.5 the prefix is short and the trade wins).
  *
  * Blocking: order each record's distinct tokens by ASCENDING global
  * document frequency (rarest first, ties by token — any global total
  * order is correct; df order makes prefixes meet in RARE tokens, which
  * is what keeps candidate buckets small at corpus scale), then emit
  * only the first `|s| - ceil(t·|s|) + 1` tokens as join keys: two sets
  * with jaccard ≥ t must share a prefix token (if the prefixes were
  * disjoint, every common token would sit in the suffixes, bounding the
  * overlap below t·min(|a|,|b|) — which forces jaccard < t).
  *
  * Scale: token-frequency aggregate + per-record sort are one shuffle
  * each over the token stream; prefix join keys are 64-bit token HASHES
  * (strings never shuffle; a hash collision only ADDS candidates, which
  * the exact verify removes); length pruning (min ≥ ceil(t·max)) cuts
  * candidates inside the join; hot prefix buckets are capped at
  * `maxBucket` with the drop counted and WARNED in-operator (the
  * no-silent-caps rule). Verify re-joins the full token arrays by id and
  * scores `|a∩b| / |a∪b|` in codegen'd HOFs. The `ceil` calls back off
  * by 1e-9 so IEEE noise can only widen prefixes (more candidates),
  * never narrow them (lost pairs).
  */
object SetSim {

  /** Distinct pairs (id_a < id_b, string-compared) with exact
    * jaccard(toks_a, toks_b) ≥ threshold, plus the score. Tokens are
    * deduped per record; null ids / null or empty token arrays drop. */
  def jaccardJoin(df: DataFrame, idCol: String, toksCol: String,
      threshold: Double, maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "jaccardJoin: threshold must be in (0, 1]")
    require(maxBucket > 1, "jaccardJoin: maxBucket must be > 1")

    val base = graft.Materialize(df
      .select(col(idCol).cast("string").as("id"),
        array_distinct(col(toksCol)).as("toks"))
      .where(col("id").isNotNull && col("toks").isNotNull &&
        size(col("toks")) > 0), eager = false)

    val toks = base.select(col("id"), explode(col("toks")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("df"))

    // r6: dictionary-encode the vocabulary with a COLLISION-FREE integer
    // id (monotonically_increasing_id over the distinct-token table —
    // any bijection preserves every intersection/size below, and unlike
    // xxhash64 it cannot merge two tokens' prefix buckets under the cap).
    // The canonical prefix order stays EXACTLY (df, tok): the tid rides
    // the same sorted struct. Records then carry int arrays — the
    // prefix join keys and the verify-stage intersections work on longs
    // instead of token strings (guide §2.3 "narrower types"), and the
    // verify join attaches the per-record tid arrays produced by the
    // SAME aggregate (no second token-table pass, no string arrays).
    val vocab = graft.Materialize(
      freq.withColumn("tid", monotonically_increasing_id()), eager = false)
    val nVocab = vocab.count()
    // records also get a compact rid (bijective with id — one record per
    // id after the groupBy): the candidate join, its canonical
    // orientation, and the distinct all run on (long, long) pairs, and
    // the id STRINGS reappear only at the output projection as
    // least/greatest — exactly the original's id_a < id_b rows.
    val rec = graft.Materialize(toks
      .join(graft.Hints.bcastIf(vocab, nVocab), Seq("tok"))
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok"), col("tid"))))
        .as("sorted"))
      .select(col("id"), monotonically_increasing_id().as("rid"),
        size(col("sorted")).as("sz"),
        expr("transform(sorted, s -> s.tid)").as("tids")), eager = false)
    // Σ sz: the tid entries the verify broadcast would carry (this action
    // also materializes `rec`)
    val nTids = rec.agg(coalesce(sum(col("sz")), lit(0L))).head().getLong(0)
    val hashed = graft.Materialize(rec
      .withColumn("plen",
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1)
      .select(col("rid"), col("sz"),
        explode(expr("slice(tids, 1, plen)")).as("h")), eager = false)

    val sizes = graft.Materialize(hashed.groupBy("h").count(), eager = false)
    graft.Audit.capAccounting(sizes, maxBucket, "SetSim.jaccardJoin") {
      (nBuckets, nRows) =>
        s"SetSim.jaccardJoin: dropping $nBuckets over-cap prefix-token " +
          s"buckets covering $nRows (id, token) rows (maxBucket=" +
          s"$maxBucket); pairs found ONLY through dropped tokens are not " +
          "emitted — raise maxBucket"
    }
    // r6 follow-up: the bucket-size table is prefix-vocab-scale and its
    // count is known (the accounting materialized it) — broadcast it
    // under the gate so `kept` stays in the checkpoint's balanced
    // partitioning instead of both sides shuffling by the (few, hot)
    // prefix keys (§3.1).
    val nBuckets = sizes.count()
    val kept = hashed.join(
      graft.Hints.bcastIf(sizes.where(col("count") <= maxBucket), nBuckets),
      Seq("h"))

    // unordered pairs canonicalized by rid (a bijection of id, so the
    // pair SET is the same); noop-sink decomposition showed the distinct
    // over string id pairs at 6.2 s of q96's 7.8 — on (long, long) rows
    // it is a fraction of that (guide §2.3 "narrower types").
    // r6 follow-up: candidates come from per-bucket SORTED member arrays
    // (rid-unique ⇒ sorted-by-rid) expanded by suffix — the same pair
    // set as the h-keyed self-join, generated without it — with a
    // ROUND-ROBIN repartition of the (member, suffix) rows between the
    // two explode levels: prefix buckets are few (one hot bucket ⇒ one
    // hot partition, under AQE's 256 MB skew-split threshold), so both
    // the pair expansion and the distinct's partial aggregate previously
    // ran on a handful of skewed threads (§2.2). The distinct then runs
    // balanced; its own pair-keyed exchange is unchanged.
    val buckets = kept
      .groupBy("h")
      .agg(sort_array(collect_list(struct(col("rid"), col("sz")))).as("rs"))
    val cand = buckets
      .select(posexplode(col("rs")).as(Seq("i", "a")), col("rs"))
      .select(col("a.rid").as("rid_a"), col("a.sz").as("sz_a"),
        expr("slice(rs, i + 2, size(rs))").as("suf"))
      .repartition(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "200").toInt)
      .select(col("rid_a"), col("sz_a"), explode(col("suf")).as("b"))
      .select(col("rid_a"), col("b.rid").as("rid_b"),
        col("sz_a"), col("b.sz").as("sz_b"))
      .where(least(col("sz_a"), col("sz_b")) >=
        ceil(lit(threshold) * greatest(col("sz_a"), col("sz_b")) - lit(1e-9)))
      .select("rid_a", "rid_b").distinct()

    // r6: the verify join re-attaches the per-record tid arrays to every
    // candidate pair; with the record checkpoint opaque to the planner
    // this was two SortMergeJoins shuffling the (large) pair table
    // twice. When the records' tid entries fit Hints' gate (records
    // carry whole arrays, so the gate counts entries, not rows),
    // broadcast the record table on both sides — the pair table then
    // never shuffles (guide §3.1; strategy only).
    def vb(d: DataFrame): DataFrame = graft.Hints.bcastIf(d, nTids)
    cand
      .join(vb(rec.select(col("rid").as("rid_a"), col("id").as("__ia"),
        col("sz").as("__sa"), col("tids").as("__ta"))), Seq("rid_a"))
      .join(vb(rec.select(col("rid").as("rid_b"), col("id").as("__ib"),
        col("sz").as("__sb"), col("tids").as("__tb"))), Seq("rid_b"))
      .withColumn("__i", size(array_intersect(col("__ta"), col("__tb"))))
      .withColumn("__j", col("__i").cast("double") /
        (col("__sa") + col("__sb") - col("__i")))
      .where(col("__j") >= threshold)
      // canonical output orientation is the original id_a < id_b STRING
      // order, independent of the internal rid orientation
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        round(col("__j"), 4).as("jaccard"))
  }
}
