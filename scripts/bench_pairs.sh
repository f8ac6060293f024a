#!/usr/bin/env bash
# Paired benchmark runs of a parent revision against HEAD.
#
#   scripts/bench_pairs.sh [-d DIR] [-t SECONDS] [-c METRIC] <parent-rev> <workload> <seed>...
#
# Exports <parent-rev> and HEAD with `git archive` into DIR/parent and
# DIR/change (DIR defaults to a fresh temporary directory; pass -d to reuse
# the builds of an earlier call), then runs `kgbench/run.py --trace 0` from
# each checkout once per seed. The side that runs first alternates per seed
# (parent first for the 1st, 3rd, ... seed), because the first run of a
# back-to-back pair reads lower whichever commit it is. Prints one line per
# seed with both sides' end-to-end metrics (BENCHMARK.json `end_to_end`),
# then each side's median and how many pairs the change won per metric,
# and ends with one verdict line per end-to-end metric:
#   - the metric named by -c (the claimed gain): "claim met" when the change
#     wins at least 9 in 10 of the pairs and its median beats the parent's
#     by more than the parent's interquartile range, else "claim not met";
#   - every other metric: "within bound" or "worse than bound", comparing
#     the change's median with the parent's against the metric's relative
#     `bound` in BENCHMARK.json.
# Only committed files are measured: commit before running.
set -euo pipefail

usage() {
  echo "usage: $0 [-d DIR] [-t SECONDS] [-c METRIC] <parent-rev> <workload> <seed>..." >&2
  exit 2
}

dir=""
seconds=22
claim=""
while getopts "d:t:c:" opt; do
  case "$opt" in
    d) dir="$OPTARG" ;;
    t) seconds="$OPTARG" ;;
    c) claim="$OPTARG" ;;
    *) usage ;;
  esac
done
shift $((OPTIND - 1))
[ $# -ge 3 ] || usage
parent_rev="$1"; workload="$2"; shift 2
seeds=("$@")

repo="$(git rev-parse --show-toplevel)"
[ -n "$dir" ] || dir="$(mktemp -d "${TMPDIR:-/tmp}/bench_pairs.XXXXXX")"
mkdir -p "$dir"

# checkout <side> <rev>: an exported tree of <rev>, kept while it matches
checkout() {
  local side="$1" rev
  rev="$(git -C "$repo" rev-parse "$2^{commit}")"
  if [ "$(cat "$dir/$side.rev" 2>/dev/null)" != "$rev" ]; then
    rm -rf "${dir:?}/$side"
    mkdir -p "$dir/$side"
    git -C "$repo" archive "$rev" | tar -x -C "$dir/$side"
    echo "$rev" > "$dir/$side.rev"
  fi
  echo "[bench_pairs] $side = $rev ($dir/$side)" >&2
}
checkout parent "$parent_rev"
checkout change HEAD

# run <side> <seed>: the run's JSON result line, appended to results.jsonl
run() {
  local side="$1" seed="$2" line
  line="$(cd "$dir/$side" && python3 kgbench/run.py --workload "$workload" \
    --seed "$seed" --seconds "$seconds" --trace 0 2>"$dir/$side.$seed.err" | tail -1)"
  printf '{"side": "%s", "seed": %s, "result": %s}\n' "$side" "$seed" "$line" \
    >> "$dir/results.jsonl"
}

: > "$dir/results.jsonl"
i=0
for seed in "${seeds[@]}"; do
  if [ $((i % 2)) -eq 0 ]; then order=(parent change); else order=(change parent); fi
  echo "[bench_pairs] seed $seed: ${order[0]} first" >&2
  run "${order[0]}" "$seed"
  run "${order[1]}" "$seed"
  i=$((i + 1))
done

python3 - "$dir/results.jsonl" "$dir/change/BENCHMARK.json" "$claim" <<'EOF'
import json, math, statistics, sys

rows = [json.loads(l) for l in open(sys.argv[1])]
spec = json.load(open(sys.argv[2]))["end_to_end"]
claim = sys.argv[3]
if claim and claim not in [m["name"] for m in spec]:
    sys.exit(f"-c {claim}: not an end_to_end metric of BENCHMARK.json")
by = {}
for r in rows:
    by.setdefault(r["seed"], {})[r["side"]] = r["result"]
seeds = list(dict.fromkeys(r["seed"] for r in rows))

def val(res, name):
    m = res.get("metrics", {}).get(name)
    return None if m is None else m["value"]

print("seed first " + " ".join(f"{m['name']}(parent/change)" for m in spec) + " failed(parent/change)")
for i, s in enumerate(seeds):
    first = "parent" if i % 2 == 0 else "change"
    cells = [f"{val(by[s]['parent'], m['name'])}/{val(by[s]['change'], m['name'])}" for m in spec]
    fails = f"{by[s]['parent'].get('failed')}/{by[s]['change'].get('failed')}"
    print(f"{s} {first} " + " ".join(cells) + " " + fails)
verdicts = []
for m in spec:
    p = [val(by[s]["parent"], m["name"]) for s in seeds]
    c = [val(by[s]["change"], m["name"]) for s in seeds]
    pairs = [(a, b) for a, b in zip(p, c) if a is not None and b is not None]
    if not pairs:
        continue
    better = (lambda a, b: b > a) if m["better"] == "higher" else (lambda a, b: b < a)
    wins = sum(better(a, b) for a, b in pairs)
    pm = statistics.median(a for a, _ in pairs)
    cm = statistics.median(b for _, b in pairs)
    pq = statistics.quantiles([a for a, _ in pairs], n=4) if len(pairs) > 1 else [pm, pm, pm]
    print(f"median {m['name']}: parent {pm:.6g} change {cm:.6g} "
          f"({(cm / pm - 1) * 100 if pm else float('nan'):+.1f}%), change better in "
          f"{wins}/{len(pairs)}; parent quartiles {pq[0]:.6g}-{pq[2]:.6g}")
    gain = cm - pm if m["better"] == "higher" else pm - cm
    if m["name"] == claim:
        iqr = pq[2] - pq[0]
        met = wins >= math.ceil(0.9 * len(pairs)) and gain > iqr
        verdicts.append(f"verdict {m['name']}: {'claim met' if met else 'claim not met'} "
                        f"({wins}/{len(pairs)} wins, median gain {gain:.6g} vs parent IQR {iqr:.6g})")
    else:
        worse = -gain > m["bound"] * abs(pm)
        verdicts.append(f"verdict {m['name']}: {'worse than bound' if worse else 'within bound'} "
                        f"(median change {(cm / pm - 1) * 100 if pm else float('nan'):+.1f}%, "
                        f"bound {m['bound'] * 100:g}%)")
print("\n".join(verdicts))
EOF
