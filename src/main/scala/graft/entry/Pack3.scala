package graft.entry

import graft.fixtures.InvoiceCorpus
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.run.{Extract, Pipeline}
import graft.tag.Taggers
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver-contract query pack 3/5 — graph analytics (second band), SPARQL/inference, ER.
  * Split from the former 6.8k-line SparkEntry (r4 verdict #4);
  * content is byte-moved, composed back in [[graft.SparkEntry]].
  * Shared helpers live in [[graft.entry.Q]]. */
private[graft] object Pack3 {
  import Q._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q111_cdc_diff" -> ((s, d) => {
      // net-change computation between two deterministic snapshots of
      // the customer mirror: %5-keys deleted, %7-keys inserted, %3-keys
      // updated (+100.0 acctbal) — the feed applyChanges consumes
      val cu = t(s, d, "customer").where(col("c_custkey").isNotNull)
      val oldSnap = cu.where(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val newSnap = cu.where(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"))
      graft.ops.Cdc.diff(oldSnap, newSnap, Seq("c_custkey"),
        Seq("c_acctbal", "c_mktsegment"))
    }),
    "q112_bigram_lm" -> ((s, d) =>
      // corpus bigram LM self-scoring: per-doc mean log-probability in
      // exact integer micro-nats (the perplexity-proxy quality score)
      graft.ops.LangModel.bigramScore(t(s, d, "documents"), "doc_id", "text")),
    "q113_alias_table" -> ((s, d) =>
      // top-3 surface forms per brand with counts + frequency share —
      // the linker-facing alias dictionary
      graft.canon.AliasTable.build(t(s, d, "part"), "p_brand", "p_type", k = 3)),

    // ---- r4 continuation: centrality / MST / KG-training / chunking ----
    "q114_harmonic" -> ((s, d) => {
      // inbound harmonic centrality over the customer parent tree with ALL
      // nodes as landmarks (exact scores; a landmark SAMPLE is the 10^12
      // path). Fixed-point Σ floor(SCALE/d) — replayable integer division;
      // oracle = DuckDB recursive-CTE BFS, the sequential definition.
      val e = t(s, d, "customer").where(col("c_custkey") > 1).select(
        concat(lit("c"), expr("c_custkey div 2")).as("src"),
        concat(lit("c"), col("c_custkey")).as("dst"))
      val lm = t(s, d, "customer")
        .select(concat(lit("c"), col("c_custkey")).as("id"))
      graft.graph.Centrality.harmonic(e, lm)
    }),
    "q115_mst" -> ((s, d) => {
      // minimum spanning forest (Borůvka rounds) of the weighted customer
      // graph — tree edges (w = k%7+1) compete against grandparent
      // shortcuts (w = k%5+1), so min-edge selection genuinely arbitrates.
      // Oracle = an independent sequential KRUSKAL under the same
      // (w, src, dst) total order in tools.GenFixtures (unique forest).
      val cust = t(s, d, "customer").select(col("c_custkey"))
      val parent = cust.where(col("c_custkey") > 1).select(
        concat(lit("c"), expr("c_custkey div 2")).as("src"),
        concat(lit("c"), col("c_custkey")).as("dst"),
        (col("c_custkey") % 7 + 1).cast("long").as("w"))
      val shortcut = cust.where(col("c_custkey") > 3).select(
        concat(lit("c"), expr("c_custkey div 4")).as("src"),
        concat(lit("c"), col("c_custkey")).as("dst"),
        (col("c_custkey") % 5 + 1).cast("long").as("w"))
      graft.graph.Mst.spanningForest(parent.union(shortcut))
        .select("src", "dst", "w")
    }),
    "q116_hits" -> ((s, d) =>
      // HITS hubs/authorities, 4 exact-integer rounds over the directed
      // customer graph (child→parent + grandparent shortcuts): interior
      // nodes accumulate authority, deep leaves act as hubs. Oracle = an
      // independent sequential adjacency-map replay in tools.GenFixtures
      // (bit-equality — integer HITS has exactly one correct answer).
      graft.graph.Centrality.hits(custGraph(s, d), iters = 4)),
    "q117_neg_sampling" -> ((s, d) =>
      // filtered negative sampling for KG-embedding training: 2 tail
      // corruptions per (order, hasCustomer, customer) triple, drawn by
      // the engine-wide fingerprint PRNG from the indexed entity pool,
      // true triples filtered. Oracle = DuckDB replaying the draw
      // term-for-term (list_reduce rolling hash + row_number pool).
      graft.graph.NegativeSampler.corruptTail(
        t(s, d, "orders").select(
          concat(lit("o"), col("o_orderkey")).as("subj"),
          lit("hasCustomer").as("pred"),
          concat(lit("c"), col("o_custkey")).as("obj")), k = 2)),
    "q118_transitive_reduction" -> ((s, d) =>
      // taxonomy hygiene: every grandparent shortcut is implied by two
      // tree hops, so the reduction returns exactly the tree edges.
      // Oracle = DuckDB recursive closure + NOT EXISTS — independent of
      // the engine's semi-naive fixpoint.
      graft.graph.TransitiveReduction.reduce(custGraph(s, d))),
    "q119_rag_chunks" -> ((s, d) =>
      // sliding-window retrieval chunking (window 32, stride 24) over the
      // documents corpus — overlapping windows, provenance offsets, pure
      // per-row HOFs (zero shuffles). Oracle = DuckDB list slicing over
      // the same whitespace tokenization.
      graft.ops.Chunker.chunk(t(s, d, "documents"), "text", Seq("doc_id"),
        window = 32, stride = 24)),
    "q120_heavy_hitters" -> ((s, d) =>
      // exact heavy hitters (count·k > n, k=10) with Misra–Gries-bounded
      // shuffle over a planted-skew key (25% 'megacorp' + uniform tail).
      // Oracle = DuckDB GROUP BY + HAVING, the exact definition.
      graft.ops.Sketch.heavyHitters(
        t(s, d, "orders").select(
          when(col("o_orderkey") % 4 === 0, lit("megacorp"))
            .otherwise(concat(lit("c"), col("o_custkey"))).as("hh_key")),
        "hh_key", k = 10)),
    "q121_betweenness" -> ((s, d) =>
      // broker-entity ranking: Brandes dependency accumulation from a
      // hashed source sample over the customer graph (tree + shortcuts,
      // so shortest-path counts genuinely compound); fixed-point integer
      // arithmetic — oracle = independent sequential Brandes replay in
      // tools.GenFixtures (bit-equality)
      graft.graph.Betweenness.fromSources(custGraph(s, d),
        t(s, d, "customer").where(col("c_custkey") % 80 === 0)
          .select(concat(lit("c"), col("c_custkey")).as("id")))),
    "q122_mis" -> ((s, d) =>
      // conflict-free merge batching: Luby MIS over the customer conflict
      // graph with the keyed-hash total order; oracle = sequential Luby
      // replay in tools.GenFixtures sharing only the hash values
      graft.graph.Mis.maximalIndependentSet(custGraph(s, d))),
    "q123_ktruss" -> ((s, d) =>
      // triangle-backed cohesion filter before canonicalization: the
      // 3-truss of the customer graph (every (k, k/2, k/4) closes a
      // triangle, but chain-only edges peel); oracle = independent
      // sequential peel replay in tools.GenFixtures
      graft.graph.Truss.kTruss(custGraph(s, d), k = 3)),
    "q124_text_normalize" -> ((s, d) =>
      // accent-insensitive dedup keys through the native text_norm
      // Catalyst expression (codegen, §2.10): accents synthesized
      // deterministically via translate, normalized, grouped; oracle =
      // DuckDB's lower(strip_accents(...)) over the same translate
      t(s, d, "part")
        .select(col("p_partkey"),
          translate(col("p_name"), "aeiou", "àéîöü").as("accented"))
        .select(col("p_partkey"),
          graft.functions.TextNorm.normCol(col("accented")).as("norm_key"))
        .groupBy("norm_key")
        .agg(count(lit(1)).as("n"), min("p_partkey").as("first_key"))),
    "q125_time_decay" -> ((s, d) =>
      // freshness-weighted activity: exponentially decayed event value per
      // type (half-life 7 days, as-of 2024-04-01) in exact micro-unit
      // integer sums; oracle = DuckDB replaying the per-row term
      graft.ops.Decay.decayedSum(t(s, d, "events"), Seq("event_type"),
        "ts", "value", halfLifeSec = 604800L, asOfEpochSec = 1711929600L)),
    "q126_rendezvous" -> ((s, d) =>
      // rendezvous (HRW) sharding of the entity space over 5 stores —
      // minimal-movement ownership; oracle = DuckDB replaying the
      // fingerprint argmax term-for-term
      graft.ops.Shard.assign(
        t(s, d, "customer").select(concat(lit("c"), col("c_custkey")).as("k")),
        "k", Seq("shard-00", "shard-01", "shard-02", "shard-03", "shard-04"))),
    "q127_blocking_eval" -> ((s, d) => {
      // blocking-strategy scorecard (RR / PC / PQ) for a nation-keyed
      // blocking against a deterministic gold pair set; oracle = the
      // DEFINITIONAL computation in DuckDB (block self-join + gold joins)
      val blocks = t(s, d, "customer").select(
        concat(lit("c"), col("c_custkey")).as("id"),
        concat(lit("n"), col("c_nationkey")).as("block"))
      val gold = t(s, d, "customer").where(col("c_custkey") % 2 === 0).select(
        concat(lit("c"), col("c_custkey")).as("a"),
        concat(lit("c"), col("c_custkey") + 1).as("b"))
      graft.metrics.BlockingEval.evaluate(blocks, gold)
    }),
    "q128_jaro_winkler" -> ((s, d) =>
      // native codegen Jaro–Winkler (§2.10) scoring names against a
      // deterministic mutation; oracle = DuckDB's independent
      // jaro_winkler_similarity (identical on this query's ASCII input —
      // probe-verified incl. the 0.7 boost threshold; on non-ASCII the
      // engine scores codepoints where DuckDB scores UTF-8 bytes, the
      // divergence documented in functions/JaroWinkler)
      t(s, d, "customer").select(
        col("c_custkey"),
        round(graft.functions.JaroWinkler.jwCol(
          lower(col("c_name")),
          translate(lower(col("c_name")), "aeiou#", "eaoiu-")), 6).as("jw"))),
    "q129_snm_blocking" -> ((s, d) =>
      // sorted-neighborhood candidate pairs (window 4 over the name sort
      // order) — the hash-blocking complement; oracle = DuckDB's direct
      // rank self-join definition (no buckets)
      graft.link.SortedNeighborhood.pairs(
        t(s, d, "customer").select(concat(lit("c"), col("c_custkey")).as("id"),
          col("c_name").as("key")),
        "id", "key", w = 4)),
    "q130_bpe_encode" -> ((s, d) =>
      // the full BPE token SEQUENCE with the committed vocab (q48 is its
      // length projection); oracle = the independent merge-order
      // sequential replay in tools.GenFixtures, position for position
      graft.ops.Bpe.encode(t(s, d, "documents"))),
    "q131_inverted_index" -> ((s, d) =>
      // materialized positional postings over the documents corpus
      // (minDf 2 prunes hapax terms); oracle = DuckDB's unnest WITH
      // ORDINALITY definition
      graft.ops.Retrieval.invertedIndex(
        t(s, d, "documents"), "doc_id", "text", minDf = 2)),
    "q132_rrf_fusion" -> ((s, d) => {
      // reciprocal-rank fusion of two heterogeneous top-100 rankings
      // (price-desc and date-asc) — exact integer 10⁹ div (60+rank)
      // terms; oracle = DuckDB row_number + the same truncating division
      val o = t(s, d, "orders")
      // rank 1..100 in ascending `key` order (keys end in the unique o_orderkey)
      def top100(key: Column) = graft.ops.Enumerate.rowNumber(
          o.select(col("o_orderkey").as("id"), key.as("k")).orderBy("k").limit(100),
          col("k"), "r")
        .select(col("id"), (col("r") + 1).cast("int").as("rank"))
      val byPrice = top100(struct(-col("o_totalprice"), col("o_orderkey")))
      val byDate = top100(struct(col("o_orderdate"), col("o_orderkey")))
      graft.ops.Retrieval.rrfFuse(Seq(byPrice, byDate), k = 60, topK = 20)
    }),
    "q133_calibration" -> ((s, d) =>
      // reliability diagram of a deliberately miscalibrated synthetic
      // confidence (conf = keyed hash / 1000, accuracy = 1/3 everywhere)
      // — integer-exact bins; oracle = DuckDB replaying the micro-unit
      // quantization and truncating divisions
      graft.metrics.Calibration.reliability(
        t(s, d, "orders").select(
          (pmod(col("o_orderkey") * 37, lit(1000)) / 1000.0).as("conf"),
          (col("o_orderkey") % 3 === 0).as("ok")),
        "conf", "ok", bins = 10)),
    "q134_sentence_lid" -> ((s, d) =>
      // sentence segmentation + per-sentence language ID (the curation
      // unit below the document — mixed-language docs become visible);
      // RE2-compatible split rule, q25's oracle-proven language scorer;
      // oracle = DuckDB replaying split, trim, ranks, and the score CASE
      graft.ops.Segmenter.sentenceTable(t(s, d, "documents"), "text",
        Seq("doc_id"))),
    "q135_trimmed_mean" -> ((s, d) =>
      // robust per-group center: 10%-trimmed mean of quantities (exact
      // long kept-sum, one IEEE division); oracle = DuckDB replaying
      // rank-trim + integer sum
      graft.ops.Profile.trimmedMean(
        t(s, d, "lineitem").select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("v")),
        Seq("g"), "v", trim = 0.1)),
    "q136_kwic" -> ((s, d) =>
      // keyword-in-context concordance for a corpus term (±4 tokens) —
      // zero-shuffle per-row HOFs; oracle = DuckDB slice arithmetic over
      // the same tokenization
      graft.ops.Retrieval.kwic(t(s, d, "documents"), "doc_id", "text",
        term = "hash", w = 4)),
    "q137_zorder" -> ((s, d) =>
      // Z-order (Morton) clustering key — the multi-column file-pruning
      // layout (native codegen expression; locality + interleave2 parity
      // in ZOrderSpec); oracle = DuckDB replaying the bit interleave with
      // plain shift/mask arithmetic
      t(s, d, "part").select(col("p_partkey"), col("p_size"),
        graft.ops.Layout.zorderKey(col("p_partkey"), col("p_size"))
          .as("zkey"))),
    "q138_fellegi_sunter" -> ((s, d) => {
      // Fellegi–Sunter record-linkage scoring: nation-blocked candidate
      // pairs (key distance ≤ 30 bounds the block quadratic), three
      // agreement fields, chained log2-weight sum, two-threshold decision;
      // oracle = DuckDB replaying the identical CASE arithmetic
      val c = t(s, d, "customer")
      val a = c.select(col("c_custkey").as("a"), col("c_nationkey").as("nk"),
        col("c_mktsegment").as("seg_a"), col("c_acctbal").as("bal_a"),
        col("c_name").as("name_a"))
      val b = c.select(col("c_custkey").as("b"), col("c_nationkey").as("nk"),
        col("c_mktsegment").as("seg_b"), col("c_acctbal").as("bal_b"),
        col("c_name").as("name_b"))
      val pairs = a.join(b, Seq("nk"))
        .where(col("a") < col("b") && col("b") - col("a") <= 30)
        .select(col("a"), col("b"),
          (col("seg_a") === col("seg_b")).as("agr_seg"),
          (floor(col("bal_a") / 1000.0) === floor(col("bal_b") / 1000.0))
            .as("agr_bal"),
          (substring(col("name_a"), -3, 3) === substring(col("name_b"), -3, 3))
            .as("agr_sfx"))
      graft.link.FellegiSunter.score(pairs,
        Seq(("agr_seg", 1.5, -0.7), ("agr_bal", 2.25, -0.2),
          ("agr_sfx", 4.5, -0.05)),
        upper = 3.1, lower = -0.5)
    }),
    "q139_soundex_blocking" -> ((s, d) =>
      // phonetic blocking: collision classes of the corpus vocabulary under
      // American Soundex (Spark's BUILT-IN expression; the oracle joins the
      // same DuckDB-tokenized vocabulary to a committed map computed by an
      // independent sequential Odell–Russell implementation)
      t(s, d, "documents").where(col("text").isNotNull)
        .select(explode(expr(
          "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("token"))
        .where(length(col("token")) >= 3)
        .distinct()
        .select(col("token"), soundex(col("token")).as("skey"))
        .withColumn("class_size",
          count(lit(1)).over(Window.partitionBy("skey")))),
    "q140_katz" -> ((s, d) =>
      // bounded-horizon Katz centrality, exact integer fixed-point
      // (α = 1/4, L = 4): L vertex-keyed matvec shuffles + one final
      // aggregate; oracle = DuckDB recursive-CTE walk enumeration with the
      // same invAlpha^(L−l) weights
      graft.graph.Katz.boundedKatz(custGraph(s, d), L = 4, invAlpha = 4)),
    "q141_wl_refine" -> ((s, d) =>
      // 1-WL color refinement (3 rounds) with a commutative modular
      // multiset fingerprint — structural-role keys; oracle = the same
      // integer arithmetic unrolled as 3 join+GROUP BY rounds in DuckDB
      graft.graph.WlRefine.refine(custGraph(s, d), rounds = 3)),
    "q142_subword_segment" -> ((s, d) =>
      // unigram-LM Viterbi subword segmentation (committed integer-cost
      // vocab, smallest-j tie rule) over the corpus vocabulary — narrow
      // mapPartitions, zero shuffle; oracle = committed fixture from the
      // independent forward-DP sequential replay (tools.GenFixtures)
      graft.ops.Subword.segmentTokens(
        t(s, d, "documents").where(col("text").isNotNull)
          .select(explode(expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("token"))
          .where(length(col("token")) >= 3).distinct())),
    "q143_functional_deps" -> ((s, d) => {
      // exact FD discovery: all rhs candidates per lhs in ONE keyed
      // aggregation pass + unpivot (KG schema induction: which predicates
      // are single-valued); a key lhs (holds) and a low-card lhs
      // (violated) in the same report; oracle = DuckDB per-candidate
      // count(DISTINCT) replays
      val c = t(s, d, "customer")
      graft.ops.Profile.functionalDeps(c, "c_custkey",
          Seq("c_name", "c_mktsegment"))
        .unionByName(graft.ops.Profile.functionalDeps(c, "c_nationkey",
          Seq("c_mktsegment", "c_acctbal")))
    }),
    "q144_truth_discovery" -> ((s, d) =>
      // source-reliability truth discovery (Sums fixpoint, 5 rounds,
      // exact ppm integer arithmetic) over synthetic conflicting claims:
      // 7 sources each assert an order-priority per customer; oracle =
      // the SAME integer fixpoint unrolled as 5 CTE rounds in DuckDB
      graft.ops.TruthDiscovery.resolve(
        t(s, d, "orders").select(
          concat(lit("src"), col("o_orderkey") % 7).as("src"),
          concat(lit("c"), col("o_custkey")).as("obj"),
          col("o_orderpriority").as("val")),
        rounds = 5)),
    "q145_er_pipeline" -> ((s, d) => {
      // the end-to-end ER composition: blocking → Fellegi–Sunter scoring →
      // match threshold → connected-components clustering (oracle-proven
      // large/small-star) → per-entity cluster + size; zero-padded ids make
      // CC's lexicographic min == numeric min; oracle = the same scoring
      // arithmetic + q47's recursive-CTE reachability
      val c = t(s, d, "customer")
      val a = c.select(format_string("c%06d", col("c_custkey")).as("a"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg_a"),
        col("c_acctbal").as("bal_a"))
      val b = c.select(format_string("c%06d", col("c_custkey")).as("b"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg_b"),
        col("c_acctbal").as("bal_b"))
      val pairs = a.join(b, Seq("nk"))
        .where(col("a") < col("b"))
        .where(substring(col("b"), 2, 6).cast("long") -
          substring(col("a"), 2, 6).cast("long") <= 30)
        .select(col("a"), col("b"),
          (col("seg_a") === col("seg_b")).as("agr_seg"),
          (floor(col("bal_a") / 1000.0) === floor(col("bal_b") / 1000.0))
            .as("agr_bal"))
      val matches = graft.link.FellegiSunter.score(pairs,
          Seq(("agr_seg", 1.5, -0.7), ("agr_bal", 2.25, -0.2)),
          upper = 3.1, lower = -0.5)
        .where(col("decision") === "match")
        .select(col("a").as("src"), col("b").as("dst"))
      graft.canon.ConnectedComponents.run(matches)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("component")))
    }),
    "q146_wl_quotient" -> ((s, d) =>
      // role-level KG summary: collapse nodes into 2-round WL color classes
      // and count directed edges between classes; oracle = the q141 WL
      // replay at 2 rounds + two label joins over the directed edges
      graft.graph.WlRefine.quotient(custGraph(s, d), rounds = 2)),
    "q147_hll" -> ((s, d) =>
      // HyperLogLog over the portable KMV hash: integer registers, exact
      // S_fp, one float step; oracle = DuckDB replaying hash → bucket/rank
      // (bin() bitlength) → max registers → the identical estimate
      // arithmetic
      graft.ops.Sketch.hllEstimate(
        t(s, d, "orders").select(concat(lit("c"), col("o_custkey")).as("v")),
        "v", b = 8)),
    "q148_temporal_reach" -> ((s, d) => {
      // earliest-arrival reachability over a deterministic temporal edge
      // stream derived from events (4 time-respecting hops from 5 seeds);
      // pure timestamp MINs — oracle = the same rounds unrolled in DuckDB
      val ev = t(s, d, "events")
      val edges = ev.select(
        concat(lit("u"), col("user_id")).as("src"),
        concat(lit("u"), (col("user_id") * 31 + col("event_id")) % 150)
          .as("dst"),
        col("ts").as("t"))
      val seeds = ev.where(col("user_id") <= 5)
        .select(concat(lit("u"), col("user_id")).as("id"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("t0"))
        .distinct()
      graft.graph.TemporalReach.earliestArrival(edges, seeds, hops = 4)
    }),
    "q149_count_min" -> ((s, d) => {
      // Count-Min frequency sketch (4x1024 integer counters over the
      // portable hash) probed for 10 keys, true counts joined for the
      // one-sided-error contract; oracle = the identical register build +
      // probe mins in DuckDB
      val li = t(s, d, "lineitem")
        .select(concat(lit("p"), col("l_partkey")).as("v"))
      val probes = t(s, d, "part").where(col("p_partkey") <= 10)
        .select(concat(lit("p"), col("p_partkey")).as("key"))
      val truth = li.groupBy(col("v").as("key"))
        .agg(count(lit(1)).as("true_count"))
      graft.ops.Sketch.cmEstimate(li, "v", probes, "key")
        .join(truth, Seq("key"), "left")
        .select(col("key"),
          coalesce(col("true_count"), lit(0L)).as("true_count"),
          col("cm_estimate"))
    }),
    "q150_assortativity" -> ((s, d) =>
      // Newman degree assortativity of the customer graph from exact
      // integer moment sums (one float division at the very end); oracle =
      // the same moments + the same closed form in DuckDB
      graft.graph.GraphStats.assortativity(custGraph(s, d))),
    "q151_leakage_split" -> ((s, d) => {
      // leakage-safe splits: near-dup GROUPS (q20's exact-jaccard pairs →
      // q47's components) share a train/val/test assignment, singletons
      // hash on their own id; oracle = q20's pair SQL + the recursive-CTE
      // components + the same hash-bucket CASE
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, k = 5, threshold = 0.2,
        maxDf = 50)
      graft.ops.Curation.leakageSafeSplit(docs, "doc_id",
        Dedup.dupGroups(pairs))
    }),
    "q152_ppr" -> ((s, d) =>
      // personalized PageRank from 5 seed customers (α = 0.2, 5 rounds,
      // exact ppb integer mass); oracle = the same truncating-div rounds
      // unrolled in DuckDB
      graft.graph.Ppr.personalized(custGraph(s, d),
        t(s, d, "customer").where(col("c_custkey") <= 5)
          .select(concat(lit("c"), col("c_custkey")).as("id")),
        rounds = 5, alphaTenths = 2)),
    "q153_mutual_align" -> ((s, d) => {
      // mutual-nearest-neighbor alignment of the even-id vs odd-id
      // embedding halves (one scored cross product feeds BOTH direction
      // ranks); oracle = committed fixture from an independent naive
      // double-loop replay (tools.GenFixtures)
      val emb = t(s, d, "embeddings")
      graft.ops.Similarity.mutualTopMatch(
        emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1))
    }),
    "q154_null_model" -> ((s, d) =>
      // configuration-model rewiring of the customer graph (deterministic
      // stub pairing by portable hash; self-loops/multi-edges kept — that
      // IS the null model); oracle = the identical stub windows in DuckDB
      graft.graph.NullModel.rewire(custGraph(s, d))),
    "q155_keyphrases" -> ((s, d) =>
      // RAKE corpus keyphrases: gaps-and-islands phrase assembly, integer
      // deg·10^6 div freq word scores, order-free phrase sums; oracle =
      // the same islands + stats replayed in DuckDB
      graft.ops.Keyphrases.rake(t(s, d, "documents"), "doc_id", "text",
        k = 20)),
    "q156_maximal_matching" -> ((s, d) =>
      // maximal matching by local-min edge rounds (ER merge-planning: a
      // disjoint pair set with no live edge left); oracle = committed
      // fixture from the independent sequential replay (tools.GenFixtures)
      graft.graph.Matching.maximal(custGraph(s, d))),
    "q157_quantile_norm" -> ((s, d) =>
      // cross-source score calibration: within-source rank quantiles on
      // the shared ppm grid (one window, integer div); oracle = the same
      // rank/count window arithmetic in DuckDB
      graft.metrics.Calibration.quantileNormalize(t(s, d, "orders"),
        "o_orderpriority", "o_orderkey", "o_totalprice")),
    "q158_benford" -> ((s, d) =>
      // Benford first-digit audit of order totals — string-derived digits
      // (no float logs), integer ppm shares vs committed expectations;
      // oracle = the identical digit/ppm arithmetic in DuckDB
      graft.ops.Profile.benford(t(s, d, "orders"), "o_totalprice"))
  )

  def oracleSql: Map[String, String] = Map(
    // q111: the definitional FULL OUTER diff in DuckDB (IS NOT DISTINCT
    // FROM = the engine's null-safe struct compare)
    "q111_cdc_diff" ->
      """WITH o AS (
        |  SELECT c_custkey AS k, c_acctbal AS a, c_mktsegment AS m
        |  FROM customer WHERE c_custkey IS NOT NULL AND c_custkey % 5 <> 0
        |), n AS (
        |  SELECT c_custkey AS k,
        |         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
        |              ELSE c_acctbal END AS a,
        |         c_mktsegment AS m
        |  FROM customer WHERE c_custkey IS NOT NULL AND c_custkey % 7 <> 0
        |), j AS (
        |  SELECT coalesce(n.k, o.k) AS c_custkey, o.k AS ko, n.k AS kn,
        |         o.a AS ao, o.m AS mo, n.a AS an, n.m AS mn
        |  FROM o FULL OUTER JOIN n ON o.k = n.k
        |), ops AS (
        |  SELECT c_custkey,
        |    CASE WHEN ko IS NULL THEN 'I' WHEN kn IS NULL THEN 'D'
        |         WHEN NOT (ao IS NOT DISTINCT FROM an
        |                   AND mo IS NOT DISTINCT FROM mn) THEN 'U' END AS op,
        |    an AS c_acctbal, mn AS c_mktsegment
        |  FROM j
        |)
        |SELECT * FROM ops WHERE op IS NOT NULL""".stripMargin,
    // q112: DuckDB replays tokenize -> bigram explode -> counts -> add-one
    // log-prob quantized to integer micro-nats -> exact per-doc sum
    "q112_bigram_lm" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), ok AS (
        |  SELECT * FROM base WHERE len(t) >= 2
        |), pairs AS (
        |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
        |  FROM ok, unnest(range(1, len(t))) AS u(i)
        |), bgc AS (
        |  SELECT bg, count(*) AS nbg FROM pairs GROUP BY 1
        |), ctx AS (
        |  SELECT w1, count(*) AS nctx FROM pairs GROUP BY 1
        |), voc AS (
        |  SELECT count(DISTINCT tok) AS v
        |  FROM (SELECT unnest(t) AS tok FROM ok)
        |), sp AS (
        |  SELECT p.doc_id,
        |    CAST(round(ln(CAST(bgc.nbg + 1 AS DOUBLE)
        |               / CAST(ctx.nctx + voc.v AS DOUBLE)) * 1000000, 0)
        |         AS BIGINT) AS lp
        |  FROM pairs p JOIN bgc USING (bg) JOIN ctx USING (w1), voc
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(CAST(sum(lp) AS DOUBLE) / 1000000 / count(*), 6)
        |         AS avg_logprob
        |FROM sp GROUP BY 1""".stripMargin,
    // q113: the definitional count -> per-entity share + rank replay
    "q113_alias_table" ->
      """WITH c AS (
        |  SELECT p_brand AS entity, p_type AS form, count(*) AS n FROM part
        |  WHERE p_brand IS NOT NULL AND p_type IS NOT NULL GROUP BY 1, 2
        |), t AS (
        |  SELECT entity, form, n,
        |         sum(n) OVER (PARTITION BY entity) AS tot,
        |         row_number() OVER (
        |           PARTITION BY entity ORDER BY n DESC, form ASC) AS rank
        |  FROM c
        |)
        |SELECT entity, form, n, round(CAST(n AS DOUBLE) / tot, 6) AS share,
        |       CAST(rank AS BIGINT) AS rank
        |FROM t WHERE rank <= 3""".stripMargin,

    // q114: recursive-CTE BFS (the sequential definition) + the same
    // replayable integer division SCALE // d — independent of the
    // engine's semi-naive frontier loop.
    "q114_harmonic" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'c' || (c_custkey // 2) AS s, 'c' || c_custkey AS d
        |  FROM customer WHERE c_custkey > 1
        |), lm AS (SELECT 'c' || c_custkey AS l FROM customer),
        |r AS (
        |  SELECT l AS id, l AS landmark, 0 AS dist FROM lm
        |  UNION
        |  SELECT e.d, r.landmark, r.dist + 1 FROM r JOIN e ON r.id = e.s
        |), m AS (SELECT id, landmark, min(dist) AS dist FROM r GROUP BY 1, 2)
        |SELECT id, CAST(sum(1000000000000 // dist) AS BIGINT) AS score_fp,
        |       count(*) AS n_sources
        |FROM m WHERE dist > 0 GROUP BY 1""".stripMargin,
    // q115/q116: Borůvka's forest and integer HITS are checked against
    // INDEPENDENT sequential replays in tools.GenFixtures (Kruskal with
    // union-find under the same total edge order; adjacency-map HITS loop
    // with the same exact-integer re-scale) — different algorithms, same
    // unique answer.
    "q115_mst" ->
      """SELECT src, dst, w
        |FROM read_parquet('/root/repo/src/test/resources/expected/q115_expected_mst.parquet')""".stripMargin,
    "q116_hits" ->
      """SELECT id, hub_fp, auth_fp
        |FROM read_parquet('/root/repo/src/test/resources/expected/q116_expected_hits.parquet')""".stripMargin,
    // q117: the draw is replayed term-for-term — q28's list_reduce rolling
    // hash over s‖p‖o‖i, mod the row_number-indexed entity pool — then the
    // filtered-setting anti join, all in DuckDB.
    "q117_neg_sampling" ->
      """WITH t AS (
        |  SELECT DISTINCT 'o' || o_orderkey AS subj, 'hasCustomer' AS pred,
        |         'c' || o_custkey AS obj FROM orders),
        |pool AS (
        |  SELECT cand, row_number() OVER (ORDER BY cand) - 1 AS idx
        |  FROM (SELECT DISTINCT obj AS cand FROM t)),
        |draws AS (
        |  SELECT subj, pred, obj, CAST(i AS INTEGER) AS neg_idx,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(unicode(ch) AS BIGINT) FOR ch IN
        |        string_split(subj || '|' || pred || '|' || obj || '|' || CAST(i AS VARCHAR), '')]),
        |      (h, cp) -> (h * 31 + cp) % 2147483647)
        |      % (SELECT count(*) FROM pool) AS idx
        |  FROM t, unnest(range(0, 2)) AS u(i)),
        |cand AS (
        |  SELECT d.subj, d.pred, d.obj, d.neg_idx, p.cand AS obj_neg
        |  FROM draws d JOIN pool p USING (idx) WHERE p.cand <> d.obj)
        |SELECT c.subj, c.pred, c.obj, c.neg_idx, c.obj_neg
        |FROM cand c LEFT JOIN t
        |  ON t.subj = c.subj AND t.pred = c.pred AND t.obj = c.obj_neg
        |WHERE t.subj IS NULL""".stripMargin,
    // q118: closure + NOT EXISTS — the quadratic definition, independent
    // of the engine's semi-naive reachability loop.
    "q118_transitive_reduction" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'c' || c_custkey AS s, 'c' || (c_custkey // 2) AS d
        |  FROM customer WHERE c_custkey > 1
        |  UNION
        |  SELECT 'c' || c_custkey, 'c' || (c_custkey // 4)
        |  FROM customer WHERE c_custkey > 3
        |), r AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e.d FROM r JOIN e ON r.d = e.s
        |), two AS (
        |  SELECT DISTINCT e.s, r.d FROM e JOIN r ON e.d = r.s
        |)
        |SELECT e.s AS src, e.d AS dst FROM e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM two WHERE two.s = e.s AND two.d = e.d)""".stripMargin,
    // q119: DuckDB's 1-based inclusive list slicing over the same
    // whitespace tokenization (full \s trim, \s+ split).
    "q119_rag_chunks" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(
        |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS tok
        |  FROM documents
        |  WHERE text IS NOT NULL
        |    AND length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0),
        |c AS (
        |  SELECT doc_id, tok, CAST(i AS INTEGER) AS chunk_id,
        |         CAST(i * 24 AS INTEGER) AS start_tok
        |  FROM w, unnest(range(0, ((len(tok) - 1) // 24) + 1)) AS t(i))
        |SELECT doc_id, chunk_id, start_tok,
        |  CAST(least(32, len(tok) - start_tok) AS INTEGER) AS n_tok,
        |  array_to_string(tok[start_tok + 1 : start_tok + 32], ' ') AS chunk_text
        |FROM c""".stripMargin,
    // q120: GROUP BY + HAVING is the exact heavy-hitter definition the
    // sketch-bounded plan must reproduce.
    "q120_heavy_hitters" ->
      """WITH k AS (
        |  SELECT CASE WHEN o_orderkey % 4 = 0 THEN 'megacorp'
        |              ELSE 'c' || o_custkey END AS hh_key FROM orders)
        |SELECT hh_key AS "key", count(*) AS cnt
        |FROM k GROUP BY 1 HAVING count(*) * 10 > (SELECT count(*) FROM k)""".stripMargin,
    // q121/q122/q123: fixed-point Brandes, Luby MIS, and k-truss peeling
    // are iterative fixpoints — checked against INDEPENDENT sequential
    // replays in tools.GenFixtures (per-source BFS Brandes with the same
    // truncating arithmetic; driver Luby sharing only the hash values;
    // naive per-round triangle recount peel).
    "q121_betweenness" ->
      """SELECT id, bc_fp, n_sources
        |FROM read_parquet('/root/repo/src/test/resources/expected/q121_expected_betweenness.parquet')""".stripMargin,
    "q122_mis" ->
      """SELECT id, round
        |FROM read_parquet('/root/repo/src/test/resources/expected/q122_expected_mis.parquet')""".stripMargin,
    "q123_ktruss" ->
      """SELECT src, dst, support
        |FROM read_parquet('/root/repo/src/test/resources/expected/q123_expected_ktruss.parquet')""".stripMargin,
    // q124: DuckDB's strip_accents+lower is an independent implementation
    // of the same Latin-script fold the native expression computes.
    "q124_text_normalize" ->
      """WITH n AS (
        |  SELECT p_partkey,
        |         lower(strip_accents(translate(p_name, 'aeiou', 'àéîöü'))) AS norm_key
        |  FROM part)
        |SELECT norm_key, count(*) AS n, min(p_partkey) AS first_key
        |FROM n GROUP BY 1""".stripMargin,
    // q125: the per-row decay term (floor-epoch Δ, IEEE pow, micro-unit
    // round) replayed in SQL; the sum is exact BIGINT on both sides.
    "q125_time_decay" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(round(value * power(2,
        |      -(1711929600 - floor(date_part('epoch', ts))) / 604800.0)
        |      * 1000000.0) AS BIGINT) AS term
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
        |SELECT event_type, CAST(sum(term) AS BIGINT) AS decayed_fp,
        |       count(*) AS n_events
        |FROM t GROUP BY 1""".stripMargin,
    // q126: the scrambled-fingerprint argmax replayed with a DuckDB list
    // comprehension + struct list_max (same (weight, shard) total order;
    // the q98-proven kmvHash construction).
    "q126_rendezvous" ->
      """WITH k AS (SELECT 'c' || c_custkey AS k FROM customer),
        |w AS (
        |  SELECT k, list_max([{'w':
        |    (( (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(s || '|' || k, '')]),
        |        (h, cp) -> (h * 31 + cp) % 2147483647)
        |       * 48271 + 12345) % 2147483647)
        |     * 69621 + 54321) % 2147483647, 's': s}
        |    FOR s IN ['shard-00', 'shard-01', 'shard-02', 'shard-03', 'shard-04']]) AS m
        |  FROM k)
        |SELECT k, m.s AS owner FROM w""".stripMargin,
    // q127: the definitional scorecard — block sizes for Σ C(n_b,2),
    // distinct pair self-join, gold coverage joins — computed directly.
    "q127_blocking_eval" ->
      """WITH b AS (
        |  SELECT DISTINCT 'c' || c_custkey AS id, 'n' || c_nationkey AS block
        |  FROM customer),
        |g AS (
        |  SELECT DISTINCT least('c' || c_custkey, 'c' || (c_custkey + 1)) AS x,
        |         greatest('c' || c_custkey, 'c' || (c_custkey + 1)) AS y
        |  FROM customer WHERE c_custkey % 2 = 0),
        |sizes AS (SELECT block, count(*) AS nb FROM b GROUP BY 1),
        |cand AS (
        |  SELECT DISTINCT l.id AS x, r.id AS y
        |  FROM b l JOIN b r ON l.block = r.block AND l.id < r.id),
        |cov AS (
        |  SELECT DISTINCT g.x, g.y
        |  FROM g JOIN b bx ON bx.id = g.x JOIN b bz ON bz.id = g.y
        |   AND bz.block = bx.block),
        |n AS (SELECT count(DISTINCT id) AS n_entities FROM b)
        |SELECT n.n_entities,
        |  n.n_entities * (n.n_entities - 1) // 2 AS total_pairs,
        |  (SELECT CAST(coalesce(sum(nb * (nb - 1) // 2), 0) AS BIGINT) FROM sizes)
        |    AS candidate_pairs,
        |  (SELECT count(*) FROM cand) AS distinct_candidates,
        |  (SELECT count(*) FROM g) AS gold_pairs,
        |  (SELECT count(*) FROM cov) AS covered_gold,
        |  round(1.0 - CAST((SELECT count(*) FROM cand) AS DOUBLE)
        |    / (n.n_entities * (n.n_entities - 1) // 2), 6) AS rr,
        |  round(CAST((SELECT count(*) FROM cov) AS DOUBLE)
        |    / (SELECT count(*) FROM g), 6) AS pc,
        |  round(CAST((SELECT count(*) FROM cov) AS DOUBLE)
        |    / (SELECT count(*) FROM cand), 6) AS pq
        |FROM n""".stripMargin,
    // q128: DuckDB's jaro_winkler_similarity is an independent
    // implementation of the same contract (probe-verified).
    "q128_jaro_winkler" ->
      """SELECT c_custkey,
        |  round(jaro_winkler_similarity(lower(c_name),
        |    translate(lower(c_name), 'aeiou#', 'eaoiu-')), 6) AS jw
        |FROM customer""".stripMargin,
    // q129: the direct rank self-join definition — no buckets.
    "q129_snm_blocking" ->
      """WITH b AS (
        |  SELECT DISTINCT 'c' || c_custkey AS id, c_name AS key
        |  FROM customer WHERE c_name IS NOT NULL),
        |r AS (SELECT id, row_number() OVER (ORDER BY key, id) AS rank FROM b)
        |SELECT l.id AS id_a, r2.id AS id_b,
        |       CAST(l.rank AS INT) AS rank_a, CAST(r2.rank AS INT) AS rank_b
        |FROM r l JOIN r r2
        |  ON r2.rank > l.rank AND r2.rank - l.rank < 4 AND l.id <> r2.id""".stripMargin,
    // q130: independent merge-order sequential replay (GenFixtures).
    "q130_bpe_encode" ->
      """SELECT doc_id, pos, token
        |FROM read_parquet('/root/repo/src/test/resources/expected/q130_expected_bpe_tokens.parquet')""".stripMargin,
    // q131: unnest WITH ORDINALITY is the definitional positional index.
    "q131_inverted_index" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(text), '\s+'),
        |           t -> length(t) > 0) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, tok[CAST(i AS INT) + 1] AS term, CAST(i AS INT) AS pos
        |  FROM w, unnest(range(0, len(tok))) AS t(i)),
        |post AS (
        |  SELECT term, doc_id, count(*) AS tf,
        |         string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
        |  FROM p GROUP BY 1, 2),
        |keep AS (SELECT term FROM post GROUP BY 1 HAVING count(*) >= 2)
        |SELECT post.term, post.doc_id, post.tf, post.positions
        |FROM post JOIN keep USING (term)""".stripMargin,
    // q132: row_number + the same truncating integer division.
    "q132_rrf_fusion" ->
      """WITH p AS (
        |  SELECT o_orderkey AS id,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100),
        |d AS (
        |  SELECT o_orderkey AS id,
        |    row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey) AS rank
        |  FROM orders ORDER BY o_orderdate ASC, o_orderkey LIMIT 100),
        |u AS (SELECT * FROM p UNION ALL SELECT * FROM d),
        |f AS (
        |  SELECT CAST(id AS VARCHAR) AS id,
        |         CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_fp,
        |         count(*) AS n_lists
        |  FROM u GROUP BY 1)
        |SELECT id, rrf_fp, n_lists,
        |       CAST(row_number() OVER (ORDER BY rrf_fp DESC, id ASC) AS INT) AS rank
        |FROM f ORDER BY rrf_fp DESC, id ASC LIMIT 20""".stripMargin,
    // q133: micro-unit quantization + truncating division replayed.
    "q133_calibration" ->
      """WITH c AS (
        |  SELECT ((o_orderkey * 37) % 1000) / 1000.0 AS conf,
        |         o_orderkey % 3 = 0 AS ok
        |  FROM orders),
        |b AS (
        |  SELECT least(CAST(floor(conf * 10) AS INT), 9) AS bin,
        |         CAST(round(conf * 1000000.0) AS BIGINT) AS conf_fp,
        |         CASE WHEN ok THEN 1 ELSE 0 END AS hit
        |  FROM c),
        |g AS (
        |  SELECT bin, count(*) AS n, sum(conf_fp) AS sum_conf,
        |         sum(hit) AS n_hit
        |  FROM b GROUP BY 1)
        |SELECT bin, n,
        |  CAST(sum_conf // n AS BIGINT) AS conf_avg_fp,
        |  CAST((1000000 * n_hit) // n AS BIGINT) AS acc_fp,
        |  CAST(abs(sum_conf // n - (1000000 * n_hit) // n) AS BIGINT) AS gap_fp
        |FROM g""".stripMargin,
    // q134: the split/trim/rank replayed (RE2 split rule by construction),
    // then q25's score CASE over per-sentence text.
    "q134_sentence_lid" -> {
      val scores = langScoresFrom("doc_id, sent_id, sentence",
        "(SELECT doc_id, sent_id, sentence, sentence AS text FROM s)")
      s"""WITH raw AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g'),
        |    chr(1)) AS frag
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (
        |  SELECT doc_id,
        |    regexp_replace(frag[CAST(i AS INT) + 1], '^\\s+|\\s+$$', '', 'g')
        |      AS sentence,
        |    CAST(i AS INT) AS rawpos
        |  FROM raw, unnest(range(0, len(frag))) AS t(i)),
        |s AS (
        |  SELECT doc_id, sentence,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) - 1
        |      AS INT) AS sent_id
        |  FROM f WHERE length(sentence) > 0),
        |sc AS ($scores)
        |SELECT doc_id, sent_id, sentence, $langCaseSql AS lang,
        |  CASE WHEN length(trim(sentence)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(sentence), '\\s+')) AS INT)
        |  END AS n_tok
        |FROM sc""".stripMargin
    },
    // q135: rank-trim + exact integer kept-sum, replayed directly.
    "q135_trimmed_mean" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |         count(*) OVER (PARTITION BY g) AS n
        |  FROM v),
        |k AS (SELECT *, CAST(floor(n * 0.1) AS BIGINT) AS k FROM r)
        |SELECT g, max(n) AS n,
        |  CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN v END) AS BIGINT)
        |    AS sum_kept,
        |  round(CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN v END) AS DOUBLE)
        |    / sum(CASE WHEN rn > k AND rn <= n - k THEN 1 ELSE 0 END), 6)
        |    AS trimmed_mean
        |FROM k GROUP BY g""".stripMargin,
    // q136: the same tokenization + 1-based inclusive slice arithmetic.
    "q136_kwic" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> length(t) > 0) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, tok, CAST(i AS INT) AS pos
        |  FROM w, unnest(range(0, len(tok))) AS t(i)
        |  WHERE tok[CAST(i AS INT) + 1] = 'hash')
        |SELECT doc_id, pos,
        |  coalesce(array_to_string(tok[greatest(1, pos + 1 - 4) : pos], ' '), '')
        |    AS left_ctx,
        |  coalesce(array_to_string(tok[pos + 2 : least(len(tok), pos + 1 + 4)], ' '), '')
        |    AS right_ctx
        |FROM p""".stripMargin,
    // q137: the bit-interleave contract replayed with plain shift/mask
    // arithmetic — result bit (2i) = bit i of p_partkey, bit (2i+1) =
    // bit i of p_size (disjoint bits, so SUM == OR).
    "q137_zorder" ->
      """SELECT p_partkey, p_size,
        |  CAST(sum((((p_partkey >> i) & 1) << (2 * i)) +
        |           (((CAST(p_size AS BIGINT) >> i) & 1) << (2 * i + 1)))
        |       AS BIGINT) AS zkey
        |FROM part,
        |     (SELECT CAST(i AS BIGINT) AS i
        |      FROM unnest(range(0, 32)) AS t(i)) bits
        |GROUP BY 1, 2""".stripMargin,
    // q138: identical blocking join + the SAME chained CASE arithmetic
    // (left-to-right adds of the same double literals → bit-identical).
    "q138_fellegi_sunter" ->
      """WITH p AS (
        |  SELECT a.c_custkey AS a, b.c_custkey AS b,
        |    a.c_mktsegment = b.c_mktsegment AS agr_seg,
        |    floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
        |      AS agr_bal,
        |    right(a.c_name, 3) = right(b.c_name, 3) AS agr_sfx
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |   AND a.c_custkey < b.c_custkey
        |   AND b.c_custkey - a.c_custkey <= 30),
        |sc AS (
        |  SELECT *, round(CASE WHEN agr_seg THEN 1.5 ELSE -0.7 END
        |                + CASE WHEN agr_bal THEN 2.25 ELSE -0.2 END
        |                + CASE WHEN agr_sfx THEN 4.5 ELSE -0.05 END, 6)
        |    AS score
        |  FROM p)
        |SELECT a, b, agr_seg, agr_bal, agr_sfx, score,
        |  CASE WHEN score > 3.1 THEN 'match'
        |       WHEN score < -0.5 THEN 'non_match'
        |       ELSE 'possible' END AS decision
        |FROM sc""".stripMargin,
    // q139: DuckDB re-derives the vocabulary with its own regex engine,
    // then joins the committed token→key map computed by an INDEPENDENT
    // sequential Odell–Russell soundex (tools.GenFixtures) — any token the
    // map misses, or any key the two implementations disagree on, surfaces
    // as a row/value mismatch.
    "q139_soundex_blocking" ->
      """WITH tok AS (
        |  SELECT DISTINCT t AS token
        |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z]+'))
        |    AS u(t)
        |  WHERE text IS NOT NULL AND length(t) >= 3),
        |j AS (
        |  SELECT tok.token, m.skey
        |  FROM tok JOIN read_parquet(
        |    '/root/repo/src/test/resources/expected/q139_expected_soundex.parquet') m
        |    USING (token))
        |SELECT token, skey,
        |       count(*) OVER (PARTITION BY skey) AS class_size
        |FROM j""".stripMargin,
    // q140: enumerate every directed walk of length ≤ 4 with a recursive
    // CTE and re-weight by invAlpha^(L−l) — same exact-integer fixed point.
    "q140_katz" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'c' || c_custkey AS src, 'c' || (c_custkey // 2) AS dst
        |  FROM customer WHERE c_custkey > 1
        |  UNION ALL
        |  SELECT 'c' || c_custkey, 'c' || (c_custkey // 4)
        |  FROM customer WHERE c_custkey > 3),
        |w(v, len) AS (
        |  SELECT dst, 1 FROM e
        |  UNION ALL
        |  SELECT e.dst, w.len + 1 FROM w JOIN e ON e.src = w.v
        |  WHERE w.len < 4)
        |SELECT v AS id,
        |  CAST(sum(CASE len WHEN 1 THEN 64 WHEN 2 THEN 16
        |                    WHEN 3 THEN 4 ELSE 1 END) AS BIGINT) AS katz_fp,
        |  count(*) AS n_walks
        |FROM w GROUP BY 1""".stripMargin,
    // q141: the same modular fingerprint unrolled — degree init, then r
    // (neighbor-sum ⋈ relabel) rounds (see wlOracleSql); P = 1048573,
    // mixA/mixB constants as in graph.WlRefine.
    "q141_wl_refine" ->
      wlOracleSql(3, "SELECT v AS id, degree, l AS wl_label FROM l3"),
    // q142: DuckDB re-derives the vocabulary, the committed fixture carries
    // the INDEPENDENT forward-DP segmentation (tools.GenFixtures).
    "q142_subword_segment" ->
      """WITH tok AS (
        |  SELECT DISTINCT t AS token
        |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z]+'))
        |    AS u(t)
        |  WHERE text IS NOT NULL AND length(t) >= 3)
        |SELECT token, pieces, n_pieces, cost_fp
        |FROM tok JOIN read_parquet(
        |  '/root/repo/src/test/resources/expected/q142_expected_subword.parquet') m
        |  USING (token)""".stripMargin,
    // q143: per-candidate count(DISTINCT)-per-group replays, one UNION ALL
    // block per (lhs, rhs) pair.
    "q143_functional_deps" -> Seq(
        ("c_custkey", "c_name"), ("c_custkey", "c_mktsegment"),
        ("c_nationkey", "c_mktsegment"), ("c_nationkey", "c_acctbal"))
      .map { case (l, r) =>
        s"""SELECT '$l' AS lhs, '$r' AS rhs, count(*) AS n_lhs,
           |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
           |    AS holds
           |FROM (SELECT $l, count(DISTINCT $r) AS nd FROM customer
           |      WHERE $l IS NOT NULL GROUP BY 1)""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", ""),
    // q144: the ppm integer fixpoint unrolled round by round (DuckDB `//`
    // floor division == Spark `div` truncation on these non-negative
    // operands; HUGEINT sums cast back to BIGINT).
    "q144_truth_discovery" -> truthOracleSql(5),
    // q145: identical blocking + CASE-sum scoring, then q47's recursive-CTE
    // reachability computes the same min-label components.
    "q145_er_pipeline" ->
      """WITH RECURSIVE p AS (
        |  SELECT format('c{:06d}', a.c_custkey) AS a,
        |         format('c{:06d}', b.c_custkey) AS b,
        |    round(CASE WHEN a.c_mktsegment = b.c_mktsegment
        |               THEN 1.5 ELSE -0.7 END
        |        + CASE WHEN floor(a.c_acctbal / 1000.0)
        |                  = floor(b.c_acctbal / 1000.0)
        |               THEN 2.25 ELSE -0.2 END, 6) AS score
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |   AND a.c_custkey < b.c_custkey
        |   AND b.c_custkey - a.c_custkey <= 30),
        |m AS (SELECT a, b FROM p WHERE score > 3.1),
        |edges AS (SELECT a, b FROM m UNION ALL SELECT b, a FROM m),
        |reach AS (
        |  SELECT a AS id, b AS r FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
        |comp AS (SELECT id, least(id, min(r)) AS component
        |         FROM reach GROUP BY id)
        |SELECT id, component,
        |       count(*) OVER (PARTITION BY component) AS cluster_size
        |FROM comp""".stripMargin,
    // q146: the same WL replay at 2 rounds, quotiented over the DIRECTED
    // edge list.
    "q146_wl_quotient" -> wlOracleSql(2,
      """SELECT ls.l AS c_src, ld.l AS c_dst, count(*) AS n_edges
        |FROM edir JOIN l2 ls ON ls.v = edir.src
        |          JOIN l2 ld ON ld.v = edir.dst
        |GROUP BY 1, 2""".stripMargin),
    // q147: q98's portable scrambled hash → bucket/rank registers (bin()
    // bitlength, w = 0 handled as the all-zeros rank) → per-bucket MAX →
    // exact-integer S_fp → the identical left-associated estimate chain
    // (ln-based linear counting in the same CASE, not triggered at this
    // cardinality).
    "q147_hll" ->
      """WITH h AS (
        |  SELECT (( (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        [CAST(unicode(c) AS BIGINT) FOR c IN
        |          string_split('c' || o_custkey, '')]),
        |      (h, c) -> (h * 31 + c) % 2147483647)
        |     * 48271 + 12345) % 2147483647)
        |   * 69621 + 54321) % 2147483647 AS hv
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |rk AS (
        |  SELECT hv % 256 AS bucket,
        |    CASE WHEN hv // 256 = 0 THEN 24
        |         ELSE 24 - length(bin(hv // 256)) END AS rank
        |  FROM h),
        |reg AS (SELECT bucket, CAST(max(rank) AS INT) AS max_rank
        |        FROM rk GROUP BY 1),
        |agg AS (
        |  SELECT count(*) AS n_buckets_used,
        |    CAST(sum(CAST(1 AS BIGINT) << (24 - max_rank)) AS BIGINT)
        |      AS s_used
        |  FROM reg),
        |s AS (
        |  SELECT n_buckets_used,
        |    s_used + (256 - n_buckets_used) * (CAST(1 AS BIGINT) << 24)
        |      AS s_fp
        |  FROM agg),
        |e AS (
        |  -- DOUBLE casts matter: bare decimal literals are DECIMAL in
        |  -- DuckDB, and the replay must walk the same IEEE chain Spark does
        |  SELECT n_buckets_used, s_fp,
        |    (CAST(0.7213 AS DOUBLE) /
        |      (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256))
        |      * 256 * 256 * 16777216 / s_fp AS raw
        |  FROM s)
        |SELECT n_buckets_used, s_fp,
        |  round(CASE WHEN raw <= CAST(2.5 AS DOUBLE) * 256
        |              AND n_buckets_used < 256
        |             THEN CAST(256.0 AS DOUBLE) *
        |                  ln(CAST(256.0 AS DOUBLE) / (256 - n_buckets_used))
        |             ELSE raw END, 4) AS hll_estimate
        |FROM e""".stripMargin,
    // q149: the same register build + probe mins — the 4 row-hashes
    // unrolled as a UNION ALL fan-out over the shared scrambled hash.
    "q149_count_min" -> {
      def fan(src: String, extra: String) =
        Seq((0, 16807L, 11L), (1, 48271L, 101L), (2, 69621L, 1009L),
          (3, 40692L, 10007L)).map { case (r, a, c) =>
          s"SELECT $extra$r AS row, ((hv * $a + $c) % 2147483647) % 1024 AS bucket FROM $src"
        }.mkString("\n  UNION ALL ")
      s"""WITH h AS (
         |  SELECT ${kmvHashSql("'p' || l_partkey")} AS hv
         |  FROM lineitem WHERE l_partkey IS NOT NULL),
         |fan AS (
         |  ${fan("h", "")}),
         |reg AS (SELECT row, bucket, count(*) AS cnt FROM fan GROUP BY 1, 2),
         |pk AS (
         |  SELECT 'p' || p_partkey AS key,
         |    ${kmvHashSql("'p' || p_partkey")} AS hv
         |  FROM part WHERE p_partkey <= 10),
         |paddr AS (
         |  ${fan("pk", "key, ")}),
         |est AS (
         |  SELECT key, min(coalesce(cnt, 0)) AS cm_estimate
         |  FROM paddr LEFT JOIN reg USING (row, bucket) GROUP BY 1),
         |tc AS (SELECT 'p' || l_partkey AS key, count(*) AS true_count
         |       FROM lineitem GROUP BY 1)
         |SELECT key, coalesce(true_count, 0) AS true_count, cm_estimate
         |FROM est LEFT JOIN tc USING (key)""".stripMargin
    },
    // q150: the same exact moments + the same single-division closed form.
    "q150_assortativity" ->
      """WITH edir AS (
        |  SELECT 'c' || c_custkey AS src, 'c' || (c_custkey // 2) AS dst
        |  FROM customer WHERE c_custkey > 1
        |  UNION ALL
        |  SELECT 'c' || c_custkey, 'c' || (c_custkey // 4)
        |  FROM customer WHERE c_custkey > 3),
        |sym AS (SELECT src AS a, dst AS b FROM edir
        |        UNION ALL SELECT dst, src FROM edir),
        |deg AS (SELECT a AS id, count(*) AS deg FROM sym GROUP BY 1),
        |xy AS (
        |  SELECT dx.deg AS x, dy.deg AS y
        |  FROM sym JOIN deg dx ON dx.id = sym.a JOIN deg dy ON dy.id = sym.b),
        |m AS (
        |  SELECT count(*) AS n_edges, CAST(sum(x) AS BIGINT) AS sum_x,
        |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |    CAST(sum(x * x) AS BIGINT) AS sum_xx
        |  FROM xy)
        |SELECT n_edges, sum_x, sum_xy, sum_xx,
        |  round(CAST(n_edges * sum_xy - sum_x * sum_x AS DOUBLE) /
        |        CAST(n_edges * sum_xx - sum_x * sum_x AS DOUBLE), 6)
        |    AS assortativity
        |FROM m""".stripMargin,
    // q151: q20's exact-jaccard pair mining + q47's recursive-CTE
    // components + the portable-hash bucket CASE — singletons fall back to
    // their own id as the group label via the LEFT join.
    "q151_leakage_split" ->
      s"""WITH RECURSIVE words AS (
         | SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS w
         | FROM documents),
         |sh AS (
         | SELECT DISTINCT id, shingle FROM (
         |  SELECT id, array_to_string(w[i:i+4], ' ') AS shingle
         |  FROM words, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)
         |  WHERE len(w) >= 5)),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         |kept AS (SELECT id, shingle FROM sh
         |         WHERE shingle IN (SELECT shingle FROM sh
         |                           GROUP BY shingle HAVING COUNT(*) <= 50)),
         |cand AS (
         | SELECT DISTINCT a.id AS id_a, b.id AS id_b
         | FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.id < b.id),
         |inter AS (
         | SELECT c.id_a, c.id_b, COUNT(*) AS i
         | FROM cand c
         | JOIN sh a ON a.id = c.id_a
         | JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
         | GROUP BY c.id_a, c.id_b),
         |pairs AS (
         | SELECT id_a AS a, id_b AS b
         | FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         | WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.2),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach AS (
         | SELECT a AS id, b AS r FROM edges
         | UNION
         | SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
         |grp AS (SELECT id, least(id, min(r)) AS group_id
         |        FROM reach GROUP BY id),
         |asg AS (
         | SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id
         | FROM documents d LEFT JOIN grp g ON g.id = d.doc_id),
         |bkt AS (
         | SELECT doc_id, group_id,
         |   (${kmvHashSql("'g' || group_id")}) % 1000 AS bucket
         | FROM asg)
         |SELECT doc_id, group_id,
         |  CASE WHEN bucket < 800 THEN 'train'
         |       WHEN bucket < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM bkt""".stripMargin,
    // q152: the ppb truncating-div rounds unrolled (same double-div order:
    // (r·(10−A)) div 10, then div out-degree).
    "q152_ppr" -> {
      val roundCtes = (1 to 5).map { r =>
        s""",
           |p$r AS (
           |  SELECT e.dst AS id,
           |    CAST(sum(((r${r - 1}.r * 8) // 10) // o.outd) AS BIGINT) AS r
           |  FROM r${r - 1} JOIN edir e ON e.src = r${r - 1}.id
           |  JOIN outd o ON o.src = e.src
           |  GROUP BY 1),
           |r$r AS (
           |  SELECT id, CAST(sum(r) AS BIGINT) AS r
           |  FROM (SELECT id, r FROM p$r UNION ALL SELECT id, r FROM rst)
           |  GROUP BY 1)""".stripMargin
      }.mkString
      s"""WITH edir AS (
         |  SELECT 'c' || c_custkey AS src, 'c' || (c_custkey // 2) AS dst
         |  FROM customer WHERE c_custkey > 1
         |  UNION ALL
         |  SELECT 'c' || c_custkey, 'c' || (c_custkey // 4)
         |  FROM customer WHERE c_custkey > 3),
         |outd AS (SELECT src, count(*) AS outd FROM edir GROUP BY 1),
         |sd AS (SELECT DISTINCT 'c' || c_custkey AS id FROM customer
         |       WHERE c_custkey <= 5),
         |ns AS (SELECT count(*) AS ns FROM sd),
         |r0 AS (SELECT id, 1000000000 // ns AS r FROM sd, ns),
         |rst AS (SELECT id, ((1000000000 * 2) // 10) // ns AS r
         |        FROM sd, ns)$roundCtes
         |SELECT id, r AS ppr_fp FROM r5 WHERE r > 0""".stripMargin
    },
    // q153: independent naive double-loop fixture (GenFixtures) — same r4
    // rounding and (sim desc, id asc) tie rule.
    "q153_mutual_align" ->
      """SELECT id_a, id_b, sim
        |FROM read_parquet(
        |  '/root/repo/src/test/resources/expected/q153_expected_mutual.parquet')""".stripMargin,
    // q154: the same stub construction — per-node stub index window, the
    // portable hash of node||'#'||i, the global pairing window, pair
    // min/max, multiplicity count.
    "q154_null_model" ->
      s"""WITH e AS (
         |  SELECT DISTINCT * FROM (
         |    SELECT 'c' || c_custkey AS src, 'c' || (c_custkey // 2) AS dst
         |    FROM customer WHERE c_custkey > 1
         |    UNION ALL
         |    SELECT 'c' || c_custkey, 'c' || (c_custkey // 4)
         |    FROM customer WHERE c_custkey > 3)),
         |stubs AS (
         |  SELECT src AS node, dst AS other, 0 AS side FROM e
         |  UNION ALL SELECT dst, src, 1 FROM e),
         |si AS (
         |  SELECT node,
         |    row_number() OVER (PARTITION BY node ORDER BY other, side) AS i
         |  FROM stubs),
         |k AS (SELECT node, i,
         |        (${kmvHashSql("node || '#' || i")}) AS key FROM si),
         |g AS (SELECT node,
         |        row_number() OVER (ORDER BY key, node, i) AS g FROM k),
         |pe AS (
         |  SELECT (g - 1) // 2 AS pair, min(node) AS a, max(node) AS b
         |  FROM g GROUP BY 1)
         |SELECT a, b, count(*) AS n FROM pe GROUP BY 1, 2""".stripMargin,
    // q155: the same islands (position minus keeper-rank), word stats over
    // ALL phrase occurrences, integer div scores, distinct-phrase sums.
    // Constant position shifts from dropped/kept boundary empties cannot
    // change islands — island ids are grouping keys only.
    "q155_keyphrases" -> {
      val stop = graft.ops.Keyphrases.DefaultStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH raw AS (
         |  SELECT doc_id AS doc,
         |    string_split_regex(lower(text), '[^a-z ]+') AS fr
         |  FROM documents WHERE text IS NOT NULL),
         |frags AS (
         |  SELECT doc, CAST(f AS BIGINT) AS fid,
         |    string_split_regex(fr[CAST(f AS INT) + 1], ' +') AS ws
         |  FROM raw, unnest(range(0, len(fr))) AS t(f)),
         |words AS (
         |  SELECT doc, fid, CAST(i AS BIGINT) AS pos,
         |    ws[CAST(i AS INT) + 1] AS w
         |  FROM frags, unnest(range(0, len(ws))) AS t(i)
         |  WHERE length(ws[CAST(i AS INT) + 1]) > 0),
         |keep AS (
         |  SELECT doc, fid, pos, w,
         |    pos - row_number() OVER (PARTITION BY doc, fid ORDER BY pos)
         |      AS island
         |  FROM words WHERE w NOT IN ($stop)),
         |ph AS (
         |  SELECT array_to_string(array_agg(w ORDER BY pos), ' ') AS phrase
         |  FROM keep GROUP BY doc, fid, island),
         |occw AS (
         |  SELECT t.w, len(string_split(phrase, ' ')) AS len
         |  FROM ph, unnest(string_split(phrase, ' ')) AS t(w)),
         |ws2 AS (
         |  SELECT w, (CAST(sum(len) AS BIGINT) * 1000000) // count(*)
         |    AS wscore_fp
         |  FROM occw GROUP BY w),
         |occ AS (SELECT phrase, count(*) AS n_occ FROM ph GROUP BY 1),
         |scored AS (
         |  SELECT o.phrase, o.n_occ, count(*) AS n_words,
         |    CAST(sum(ws2.wscore_fp) AS BIGINT) AS score_fp
         |  FROM (SELECT occ.phrase, occ.n_occ, t.w
         |        FROM occ, unnest(string_split(occ.phrase, ' ')) AS t(w)) o
         |  JOIN ws2 ON ws2.w = o.w
         |  GROUP BY 1, 2)
         |SELECT phrase, n_words, n_occ, score_fp,
         |  row_number() OVER (ORDER BY score_fp DESC, phrase) AS rk
         |FROM scored
         |QUALIFY rk <= 20""".stripMargin
    },
    // q157: the same rank/count window + ppm integer division.
    "q157_quantile_norm" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CASE WHEN n > 1 THEN ((rn - 1) * 1000000) // (n - 1)
        |       ELSE 0 END AS q_ppm
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders WHERE o_totalprice IS NOT NULL)""".stripMargin,
    // q158: the same string-derived first digit + integer ppm shares and
    // the committed Benford constants.
    "q158_benford" -> {
      val caseExp = graft.ops.Profile.BenfordPpm.toSeq.sortBy(_._1)
        .map { case (dd, p) => s"WHEN $dd THEN $p" }.mkString(" ")
      s"""WITH c AS (
         |  SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INT) AS digit,
         |    count(*) AS n
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL
         |    AND CAST(floor(abs(o_totalprice)) AS BIGINT) >= 1
         |  GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
         |SELECT digit, n, (n * 1000000) // total AS obs_ppm,
         |  CAST(CASE digit $caseExp END AS BIGINT) AS exp_ppm,
         |  abs((n * 1000000) // total
         |      - CAST(CASE digit $caseExp END AS BIGINT)) AS dev_ppm
         |FROM c, t""".stripMargin
    },
    // q156: independent sequential replay fixture (GenFixtures) of the
    // local-min rule — same portable hash, same fixpoint.
    "q156_maximal_matching" ->
      """SELECT a, b, priority
        |FROM read_parquet(
        |  '/root/repo/src/test/resources/expected/q156_expected_matching.parquet')""".stripMargin,
    // q148: the same hop rounds unrolled — per round a time-respecting
    // join (t >= arrival), a dst-keyed MIN, and a node-keyed MIN merge.
    "q148_temporal_reach" -> {
      val roundCtes = (1 to 4).map { r =>
        s""",
           |c$r AS (
           |  SELECT e.dst AS id, min(e.t) AS arrival
           |  FROM e JOIN a${r - 1} ON a${r - 1}.id = e.src
           |   AND e.t >= a${r - 1}.arrival
           |  GROUP BY 1),
           |a$r AS (
           |  SELECT id, min(arrival) AS arrival
           |  FROM (SELECT id, arrival FROM a${r - 1}
           |        UNION ALL SELECT id, arrival FROM c$r)
           |  GROUP BY 1)""".stripMargin
      }.mkString
      s"""WITH e AS (
         |  SELECT 'u' || user_id AS src,
         |    'u' || ((user_id * 31 + event_id) % 150) AS dst, ts AS t
         |  FROM events),
         |a0 AS (
         |  SELECT DISTINCT 'u' || user_id AS id,
         |    TIMESTAMP '2024-01-01 00:00:00' AS arrival
         |  FROM events WHERE user_id <= 5)$roundCtes
         |SELECT id, arrival FROM a4""".stripMargin
    }
  )
}
