#!/usr/bin/env bash
# Interleaved before/after benchmark of two git revisions.
#
#   scripts/perf_ab.sh BASE HEAD [WORKLOAD] [PAIRS] [SECONDS]
#
# Checks BASE and HEAD out as temporary git worktrees, then runs
# `python3 perfbench/run.py --workload WORKLOAD --seed S --seconds SECONDS`
# PAIRS times in each, alternating between them: pair i uses seed
# SEED0+i on both sides, and the side that runs first alternates per pair,
# so slow drifts in host load hit both sides alike. One run at a time.
#
# Prints each run's end-to-end metrics, then per metric each side's median
# and quartiles, the per-pair HEAD/BASE ratios, their median, and how many
# pairs HEAD won (the direction comes from BENCHMARK.json). Exits 1 when any
# run fails its oracle check.
#
# Defaults: WORKLOAD=durable_filtered PAIRS=5 SECONDS=10. Environment:
# SEED0 (first seed, default 401), OUT (a file that keeps every run's JSON
# result line, default a temporary file).
set -euo pipefail

if [ $# -lt 2 ]; then
    sed -n '2,20p' "$0" | sed 's/^# \{0,1\}//'
    exit 2
fi
base_rev=$1 head_rev=$2
workload=${3:-durable_filtered} pairs=${4:-5} seconds=${5:-10}
seed0=${SEED0:-401}

repo=$(git rev-parse --show-toplevel)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
out=${OUT:-$tmp/runs.jsonl}

cleanup() {
    for side in base head; do
        if [ -d "$tmp/$side" ]; then
            git -C "$repo" worktree remove --force "$tmp/$side" || true
        fi
    done
    git -C "$repo" worktree prune
    rm -rf "$tmp"
}
trap cleanup EXIT

git -C "$repo" worktree add --detach "$tmp/base" "$base_rev" >/dev/null
git -C "$repo" worktree add --detach "$tmp/head" "$head_rev" >/dev/null
echo "base $(git -C "$tmp/base" rev-parse --short HEAD)" \
     "head $(git -C "$tmp/head" rev-parse --short HEAD)" \
     "workload $workload, $pairs pairs, ${seconds}s per run" >&2

failed=0
run() {  # run SIDE PAIR SEED
    local line status=0
    line=$(cd "$tmp/$1" && python3 perfbench/run.py --workload "$workload" \
        --seed "$3" --seconds "$seconds" --trace 0 | tail -n 1) || status=$?
    if [ "$status" -ne 0 ]; then
        failed=1
    fi
    if [ -z "$line" ]; then
        echo "$1 pair $2 seed $3: no result (exit $status)" >&2
        return
    fi
    printf '{"side": "%s", "pair": %d, "seed": %d, "result": %s}\n' \
        "$1" "$2" "$3" "$line" >> "$out"
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
exit "$failed"
