package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequent-itemset mining and association rules — market-basket
  * analysis over (basket, item) pairs (Agrawal & Srikant, VLDB 1994),
  * the classic "which products co-occur on invoices" question a KG
  * consumer asks once line items are extracted: co-purchase edges for
  * the product graph, bundle detection, cross-sell rule mining.
  *
  * Engine shape: LEVEL-WISE Apriori expressed as DataFrame joins —
  * downward closure (every subset of a frequent set is frequent) is the
  * pruning lever, so each level only counts candidates whose sub-level
  * survived:
  *
  *   - F1: one map-side-combined groupBy over the pair table.
  *   - F2: the per-basket pair stream is generated by a basket-key
  *     self-join restricted to FREQUENT items only (the projection is
  *     what bounds the quadratic: a basket with b frequent items emits
  *     C(b,2) rows, not C(total,2)), then one pair-keyed count.
  *   - F3: per-basket triples extend the basket's FREQUENT PAIRS by one
  *     frequent item (ia<ib<ic), and candidates are Apriori-pruned by
  *     semi-joining BOTH remaining sub-pairs (ib,ic) and (ia,ic) against
  *     F2 before the count — the count job only sees triples all of
  *     whose subsets are frequent.
  *
  * Every stage shuffles on either the basket key or the itemset key;
  * nothing is driver-side and no stage holds a basket in memory — the
  * quadratic/cubic blowup of a pathological mega-basket is capped by
  * `maxBasketItems` with in-operator drop accounting ([[graft.Audit]],
  * the "no silent caps" rule: a dropped basket silently deflates
  * support counts, so the run log must say how many were dropped).
  *
  * Items are compared as STRINGS (itemsets are emitted in lexicographic
  * order, joined by '|') — a total order identical in any engine, which
  * is what lets the result be hash-oracled against a direct
  * enumeration. Output: (itemset, size, support), deterministic. */
object Itemsets {

  /** Cleaned per-basket item-set arrays (one row per distinct basket),
    * the cap-filtered per-basket SORTED frequent-item ARRAY table (r6:
    * one row per kept basket instead of the exploded (bk, it) stream —
    * the pair/triple levels expand it with HOFs, removing the basket-key
    * self-joins), and the F1 table. Shared by both public operators. */
  private def prepare(df: DataFrame, basket: Column, item: Column,
      minSupport: Long, maxBasketItems: Int)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    // r6 follow-up: ONE basket-keyed exchange for the whole prepare —
    // collect_set dedups (bk, it) inside the aggregation, and F1's
    // distinct-basket counts then come from a narrow explode of the
    // arrays (the old shape paid a (bk,it) distinct exchange AND a
    // second full basket-keyed shuffle for the projection aggregate).
    val b = graft.Materialize(df
      .select(basket.cast("string").as("bk"), item.cast("string").as("it"))
      .where(col("bk").isNotNull && col("it").isNotNull)
      .groupBy("bk").agg(collect_set("it").as("__its")), eager = false)
    val f1 = graft.Materialize(
      b.select(explode(col("__its")).as("it"))
        .groupBy("it").count().where(col("count") >= minSupport),
      eager = false)
    val nF1 = f1.count()
    // project baskets onto frequent items FIRST (Apriori level 1->2):
    // infrequent items can never appear in a frequent pair. Within the
    // broadcast gate the projection is a per-row array_intersect against
    // the ONE-row frequent-item array (no join at all); beyond it, the
    // same semi join + per-basket re-aggregate as before.
    val projected =
      if (nF1 <= graft.Hints.maxRows(df.sparkSession)) {
        val fArr = f1.agg(sort_array(collect_list("it")).as("__fs"))
        b.crossJoin(broadcast(fArr))
          .select(col("bk"),
            array_sort(array_intersect(col("__its"), col("__fs"))).as("fa"))
      } else
        b.select(col("bk"), explode(col("__its")).as("it"))
          .join(f1.select("it"), Seq("it"), "left_semi")
          .groupBy("bk").agg(sort_array(collect_set("it")).as("fa"))
    val baskets = graft.Materialize(
      projected.where(size(col("fa")) > 0), eager = false)
    // cap accounting on the PROJECTED basket size (that is what the
    // pair/triple expansions square/cube) — now a pure projection of the
    // checkpointed array table, same (bk, count) rows as before
    val sizes = baskets.select(col("bk"), size(col("fa")).as("count"))
    graft.Audit.capAccounting(sizes, maxBasketItems, "frequentItemsets") {
      (nb, rows) =>
        s"frequentItemsets: dropping $nb over-cap baskets covering " +
          s"$rows frequent-item rows (maxBasketItems=$maxBasketItems); " +
          "their co-occurrences are not counted — supports are a lower " +
          "bound for itemsets those baskets contain"
    }
    val kept = graft.Materialize(
      baskets.where(size(col("fa")) <= maxBasketItems), eager = false)
    (b, kept, f1, nF1)
  }

  /** Per-basket (bk, ia, ib) frequent-item pairs, ia < ib — HOF
    * expansion of the sorted array (replaces the bk-keyed self-join). */
  private def pairsOf(kb: DataFrame): DataFrame =
    kb.select(col("bk"), explode(expr(
      """flatten(transform(fa, (x, i) ->
        |  transform(slice(fa, i + 2, size(fa)),
        |    y -> struct(x as ia, y as ib))))""".stripMargin)).as("p"))
      .select(col("bk"), col("p.ia").as("ia"), col("p.ib").as("ib"))

  /** All itemsets of size 1–3 with support ≥ `minSupport`.
    * Returns (itemset: string — items lexicographically sorted, joined
    * by '|'; size: int; support: long). */
  def frequentItemsets(df: DataFrame, basket: Column, item: Column,
      minSupport: Long, maxBasketItems: Int = 10000): DataFrame = {
    require(minSupport >= 1, "frequentItemsets: minSupport must be >= 1")
    val (_, kb, f1, nF1) = prepare(df, basket, item, minSupport, maxBasketItems)
    val nBk = kb.count()
    val pairsInBasket = pairsOf(kb)
    val f2 = graft.Materialize(
      pairsInBasket.groupBy("ia", "ib").count()
        .where(col("count") >= minSupport),
      eager = false)
    val nF2 = f2.count() // r6: gate-hint the three Apriori prunes below
    def h(d: DataFrame): DataFrame = graft.Hints.bcastIf(d, nF2)
    // r6 follow-up: when the UNPRUNED triple stream Σ C(|fa|, 3) is
    // gate-small, enumerate triples directly from the sorted arrays and
    // count — downward closure makes this EXACTLY f3 (a triple with an
    // infrequent sub-pair can never reach minSupport, so the prune only
    // removes rows the ≥ minSupport filter would drop anyway), and the
    // map-side partial aggregate collapses the stream to ≤|items|³ keys,
    // so the three Apriori prune joins cost more than they save at this
    // scale. Beyond the gate the pruned pipeline is unchanged — at
    // corpus scale pruning is what bounds the candidate space.
    // bigint before the multiply: the INT product wraps once |fa| >= 1291
    val triBound = kb.agg(coalesce(sum(expr(
      "(cast(size(fa) as bigint) * (size(fa) - 1) * (size(fa) - 2)) div 6")), lit(0L)))
      .head().getLong(0)
    val directMax = df.sparkSession.conf
      .get("spark.graft.itemsets.directTriplesMax", "20000000").toLong
    val f3 =
      if (triBound <= directMax) {
        kb.select(col("fa"), posexplode(col("fa")).as(Seq("i", "ia")))
          .select(col("fa"), col("i"), col("ia"),
            posexplode(expr("slice(fa, i + 2, size(fa))")).as(Seq("j", "ib")))
          .select(col("ia"), col("ib"),
            explode(expr("slice(fa, i + j + 3, size(fa))")).as("ic"))
          .groupBy("ia", "ib", "ic").count()
          .where(col("count") >= minSupport)
      } else {
        // per-basket triples = frequent pair (ia,ib) + one more frequent
        // item ic > ib in the same basket (a per-row filter of the
        // basket's own sorted array — no third bk-keyed exchange),
        // Apriori-pruned on both other sub-pairs
        val bp = pairsInBasket
          .join(h(f2.select("ia", "ib")), Seq("ia", "ib"), "left_semi")
        bp.join(graft.Hints.bcastIf(kb, nBk), Seq("bk"))
          .select(col("bk"), col("ia"), col("ib"),
            explode(expr("filter(fa, z -> z > ib)")).as("ic"))
          .join(h(f2.select(col("ia").as("ib"), col("ib").as("ic"))),
            Seq("ib", "ic"), "left_semi")
          .join(h(f2.select(col("ia"), col("ib").as("ic"))),
            Seq("ia", "ic"), "left_semi")
          .groupBy("ia", "ib", "ic").count()
          .where(col("count") >= minSupport)
      }
    f1.select(col("it").as("itemset"), lit(1).as("size"),
        col("count").as("support"))
      .unionAll(f2.select(
        concat_ws("|", col("ia"), col("ib")).as("itemset"),
        lit(2).as("size"), col("count").as("support")))
      .unionAll(f3.select(
        concat_ws("|", col("ia"), col("ib"), col("ic")).as("itemset"),
        lit(3).as("size"), col("count").as("support")))
  }

  /** Pairwise association rules x→y from the frequent pairs: BOTH
    * directions of every frequent pair, kept when confidence ≥
    * `minConfPpm`. Scores are integer parts-per-million (floor) so the
    * result is bit-stable: conf = 10⁶·supp(xy)/supp(x), lift =
    * 10⁶·supp(xy)·n/(supp(x)·supp(y)) where n = the number of distinct
    * baskets in the cleaned input (an over-cap basket still IS a
    * transaction — only its co-occurrences go uncounted, per the cap
    * warning). The products are computed
    * in decimal(38,0) — at 10¹² baskets 10⁶·supp·n overflows int64, and
    * a silent wrap would invert rule rankings.
    * Returns (antecedent, consequent, support, conf_ppm, lift_ppm). */
  def associationRules(df: DataFrame, basket: Column, item: Column,
      minSupport: Long, minConfPpm: Long = 0L,
      maxBasketItems: Int = 10000): DataFrame = {
    require(minSupport >= 1, "associationRules: minSupport must be >= 1")
    val (b, kb, f1, nF1) = prepare(df, basket, item, minSupport, maxBasketItems)
    val nBaskets = b.count() // one row per distinct cleaned basket
    val pairsInBasket = pairsOf(kb)
    val f2 = pairsInBasket.groupBy("ia", "ib").count()
      .where(col("count") >= minSupport)
      .select(col("ia"), col("ib"), col("count").as("supp"))
    val directed = f2.select(col("ia").as("x"), col("ib").as("y"), col("supp"))
      .unionAll(f2.select(col("ib").as("x"), col("ia").as("y"), col("supp")))
    val sx = graft.Hints.bcastIf(
      f1.select(col("it").as("x"), col("count").as("sx")), nF1)
    val sy = graft.Hints.bcastIf(
      f1.select(col("it").as("y"), col("count").as("sy")), nF1)
    val M = lit(1000000L).cast("decimal(38,0)")
    directed.join(sx, Seq("x")).join(sy, Seq("y"))
      .select(col("x").as("antecedent"), col("y").as("consequent"),
        col("supp").as("support"),
        floor(M * col("supp").cast("decimal(38,0)") /
          col("sx").cast("decimal(38,0)")).cast("long").as("conf_ppm"),
        floor(M * col("supp").cast("decimal(38,0)") *
          lit(nBaskets).cast("decimal(38,0)") /
          (col("sx").cast("decimal(38,0)") * col("sy").cast("decimal(38,0)")))
          .cast("long").as("lift_ppm"))
      .where(col("conf_ppm") >= minConfPpm)
  }
}
