#!/bin/bash
# Capture plans/r06/<q>_after.txt for every query touched in the r6
# optimization round. Two passes per loop query: the default plan (what
# the driver executes — local fast paths / checkpoint scans), and a
# "round-plan shape" excerpt with spark.graft.materialize=none and every
# local-path gate forced to 0, so the BEYOND-GATE distributed round
# shape (with the r6 broadcast hints) is visible to an auditor who
# cannot run Spark. With BEFORE_TREE set (an r5 checkout), writes
# plans/r06/<q>_before.txt for the queries listed in NEW_BEFORE instead.
set -e
cd "${BEFORE_TREE:-/root/repo}"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.001}"
QUERIES_PLAIN="q127_blocking_eval q144_truth_discovery q165_coloring q173_winnow q175_greedy_cover q196_stable_match q198_freq_itemsets q199_assoc_rules q59_triangles q76_property_path q87_condensation_levels q96_setsim_join q197_containment q183_repeated_spans q80_repeated_passages q81_boilerplate_fraction q184_cut_spans q93_cooccurrence q102_cooccur_pmi q117_neg_sampling q63_bfs_distances q160_eccentricity q192_suffix_array q61_random_walks q62_skipgram q65_node2vec_walks q118_transitive_reduction q69_rdfs_closure q185_owl_closure q79_clustering_coefficient q20_ngram_jaccard_neardup q207_rule_mining q73_weighted_sssp q115_mst q28_fingerprint q121_betweenness q122_mis q156_maximal_matching q168_critical_path q172_widest_path q174_butterflies q186_bridges q189_articulation q204_two_edge_cc q88_editdist_join q148_temporal_reach"
QUERIES_LOOP="q114_harmonic q116_hits q56_pagerank q58_path_reachable q64_communities q68_kcore"
NEW_BEFORE="q197_containment q183_repeated_spans q80_repeated_passages q81_boilerplate_fraction q184_cut_spans q93_cooccurrence q102_cooccur_pmi q117_neg_sampling q63_bfs_distances q160_eccentricity q192_suffix_array q61_random_walks q62_skipgram q65_node2vec_walks q118_transitive_reduction q69_rdfs_closure q185_owl_closure q79_clustering_coefficient q20_ngram_jaccard_neardup q207_rule_mining q73_weighted_sssp q115_mst q28_fingerprint q121_betweenness q122_mis q156_maximal_matching q168_critical_path q172_widest_path q174_butterflies q186_bridges q189_articulation q204_two_edge_cc q88_editdist_join q148_temporal_reach"

if [ -n "$BEFORE_TREE" ]; then
  # an r5 checkout predates graft.run.Plans's query arguments: it dumps
  # through its own graft.tools.PlanDump (sf dir from SPARK_GRAFT_SF_DIR)
  sbt -batch "runMain graft.tools.PlanDump $NEW_BEFORE" \
    > /tmp/plandump_before.txt 2>/dev/null
  python3 - <<'PYEOF'
import re, os
txt = open('/tmp/plandump_before.txt').read()
txt = re.sub(r"(?m)^\[info\] ?", "", txt)
parts = re.split(r"\n========== (\S+) ==========\n", txt)
os.makedirs('/root/repo/plans/r06', exist_ok=True)
for i in range(1, len(parts), 2):
    with open(f'/root/repo/plans/r06/{parts[i]}_before.txt', 'w') as f:
        f.write(parts[i+1].strip() + "\n")
    print('wrote before', parts[i])
PYEOF
  exit 0
fi

GATES_OFF="spark.graft.materialize=none;spark.graft.local.maxEntries=0"

# pass 1: default conf — the executed plan
sbt -batch "runMain graft.run.Plans $SF_DIR $QUERIES_PLAIN $QUERIES_LOOP" \
  > /tmp/plandump_default.txt 2>/dev/null

# pass 2: full lineage, gates off — the distributed round shape
SPARK_GRAFT_EXTRA_CONF="$GATES_OFF" \
  sbt -batch "runMain graft.run.Plans $SF_DIR $QUERIES_LOOP" \
  > /tmp/plandump_none.txt 2>/dev/null

python3 - <<'PYEOF'
import re, os
def split_plans(path):
    txt = open(path).read()
    txt = re.sub(r"(?m)^\[info\] ?", "", txt)
    parts = re.split(r"\n========== (\S+) ==========\n", txt)
    return {parts[i]: parts[i+1].strip() for i in range(1, len(parts), 2)}

default = split_plans('/tmp/plandump_default.txt')
none = split_plans('/tmp/plandump_none.txt')
loops = set("q114_harmonic q116_hits q56_pagerank q58_path_reachable q64_communities q68_kcore".split())
os.makedirs('plans/r06', exist_ok=True)
for q, plan in default.items():
    body = plan
    if q in loops and q in none:
        lines = none[q].splitlines()
        body += ("\n\n===== round-plan shape (spark.graft.materialize=none, "
                 "local gates=0, full lineage) =====\n"
                 "(truncated to first 120 lines — full-lineage plans of "
                 "iterative operators repeat the same per-round join shape)\n"
                 + "\n".join(lines[:120]))
    with open(f'plans/r06/{q}_after.txt', 'w') as f:
        f.write(body + "\n")
    print('wrote', q)
PYEOF
