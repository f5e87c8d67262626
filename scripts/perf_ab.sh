#!/usr/bin/env bash
# Interleaved before/after benchmark of two git revisions.
#
#   scripts/perf_ab.sh BASE HEAD [WORKLOAD] [PAIRS] [SECONDS]
#
# Exports BASE and HEAD into temporary directories (`git archive`), then
# runs `python3 perfbench/run.py --workload WORKLOAD --seed S --seconds
# SECONDS` PAIRS times in each, alternating between them: pair i uses seed
# SEED0+i on both sides, and the side that runs first alternates per pair,
# so slow drifts in host load hit both sides alike. One run at a time.
#
# Prints each run's end-to-end metrics, then per metric each side's median
# and quartiles, the per-pair HEAD/BASE ratios, their median, and how many
# pairs HEAD won (the direction comes from BENCHMARK.json). With TRACE=1 it
# then makes one traced run (`--trace 1`) per side on seed SEED0 and prints
# their per-layer metrics side by side. Exits 1 when any run fails its
# oracle check.
#
# Defaults: WORKLOAD=durable_filtered PAIRS=5 SECONDS=10. Environment:
# SEED0 (first seed, default 401), TRACE (1 adds the traced runs), OUT (a
# file that keeps every untraced run's JSON result line, default a
# temporary file).
set -euo pipefail

if [ $# -lt 2 ]; then
    sed -n '2,22p' "$0" | sed 's/^# \{0,1\}//'
    exit 2
fi
base_rev=$1 head_rev=$2
workload=${3:-durable_filtered} pairs=${4:-5} seconds=${5:-10}
seed0=${SEED0:-401} trace=${TRACE:-0}

repo=$(git rev-parse --show-toplevel)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
out=${OUT:-$tmp/runs.jsonl}

trap 'rm -rf "$tmp"' EXIT

mkdir "$tmp/base" "$tmp/head"
git -C "$repo" archive "$base_rev" | tar -x -C "$tmp/base"
git -C "$repo" archive "$head_rev" | tar -x -C "$tmp/head"
echo "base $(git -C "$repo" rev-parse --short "$base_rev")" \
     "head $(git -C "$repo" rev-parse --short "$head_rev")" \
     "workload $workload, $pairs pairs, ${seconds}s per run" >&2

failed=0
run() {  # run SIDE PAIR SEED [TRACE OUTFILE]
    local line status=0
    line=$(cd "$tmp/$1" && python3 perfbench/run.py --workload "$workload" \
        --seed "$3" --seconds "$seconds" --trace "${4:-0}" | tail -n 1) \
        || status=$?
    if [ "$status" -ne 0 ]; then
        failed=1
    fi
    if [ -z "$line" ]; then
        echo "$1 pair $2 seed $3: no result (exit $status)" >&2
        return
    fi
    printf '{"side": "%s", "pair": %d, "seed": %d, "result": %s}\n' \
        "$1" "$2" "$3" "$line" >> "${5:-$out}"
    echo "$1 pair $2 seed $3: $line" >&2
}

for ((i = 0; i < pairs; i++)); do
    seed=$((seed0 + i))
    if ((i % 2 == 0)); then
        run base "$i" "$seed"
        run head "$i" "$seed"
    else
        run head "$i" "$seed"
        run base "$i" "$seed"
    fi
done

if [ "$trace" = 1 ]; then
    run base 0 "$seed0" 1 "$tmp/traced.jsonl"
    run head 0 "$seed0" 1 "$tmp/traced.jsonl"
fi

python3 - "$out" "$repo/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

runs = [json.loads(line) for line in open(sys.argv[1])]
better = {m["name"]: m["better"]
          for m in json.load(open(sys.argv[2]))["end_to_end"]}
by = {(r["side"], r["pair"]): r["result"] for r in runs}
pairs = sorted({p for _, p in by})


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


for name, direction in better.items():
    side = {s: [by[s, p]["metrics"][name]["value"]
                for p in pairs if (s, p) in by] for s in ("base", "head")}
    if not side["base"] or not side["head"]:
        continue
    print(f"{name} ({direction} is better)")
    for s, xs in side.items():
        q1, med, q3 = quartiles(xs)
        print(f"  {s:4}  median {med:10.3f}   quartiles {q1:.3f} .. {q3:.3f}"
              f"   n={len(xs)}")
    ratios = [by["head", p]["metrics"][name]["value"]
              / by["base", p]["metrics"][name]["value"]
              for p in pairs if ("head", p) in by and ("base", p) in by]
    wins = sum((r > 1) if direction == "higher" else (r < 1) for r in ratios)
    print("  head/base per pair: " + " ".join(f"{r:.3f}" for r in ratios))
    print(f"  median ratio {statistics.median(ratios):.3f}, "
          f"head better in {wins}/{len(ratios)} pairs")
bad = sum(r["result"]["failed"] for r in runs)
print(f"failed operations: {bad} over {len(runs)} runs")
EOF
if [ -s "$tmp/traced.jsonl" ]; then
    python3 - "$tmp/traced.jsonl" <<'EOF'
import json
import math
import sys

by = {}
for line in open(sys.argv[1]):
    r = json.loads(line)
    by[r["side"]] = r
print(f"traced run, seed {next(iter(by.values()))['seed']}")
print(f"  {'metric':34} {'base':>14} {'head':>14}")
names = sorted({k for r in by.values() for k in r["result"]["metrics"]})
for name in names:
    base, head = (by[s]["result"]["metrics"].get(name, {}).get("value",
                                                                math.nan)
                  if s in by else math.nan for s in ("base", "head"))
    print(f"  {name:34} {base:14.3f} {head:14.3f}")
print("traced failed operations: " + ", ".join(
    f"{s} {r['result']['failed']}" for s, r in sorted(by.items())))
EOF
fi
exit "$failed"
