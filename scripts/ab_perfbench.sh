#!/bin/bash
# Same-host A/B of the repository benchmark (perfbench) between two commits.
#
#   scripts/ab_perfbench.sh <base> <change> <workload> <pairs> [seconds] [first-seed] [work-dir]
#
# Checks both commits out as git worktrees under <work-dir> (default: a new
# temporary directory), builds each once, then runs <pairs> pairs of
# `perfbench/run.py --trace 0`, one pair per seed from [first-seed] (default
# 11) on. Even pairs run <base> first, odd pairs <change> first, so a host
# that drifts in speed does not favour one side. [seconds] defaults to
# BENCHMARK.json's run_seconds.
#
# Prints, for every end-to-end metric (and, for rag_serve, the report's
# build_s), each pair's values and delta (change - base), the per-side
# medians, and on how many pairs <change> was better. Raw outputs stay in
# <work-dir>/out; the worktrees are removed at exit.
set -euo pipefail

if [ $# -lt 4 ]; then
  sed -n '2,16p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
BASE=$(git rev-parse --verify "$1^{commit}")
CHANGE=$(git rev-parse --verify "$2^{commit}")
WORKLOAD=$3
PAIRS=$4
SECONDS_ARG=${5:-$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')}
SEED0=${6:-11}
WORK=${7:-$(mktemp -d -t ab_perfbench.XXXXXX)}
mkdir -p "$WORK/out"
WORK=$(cd "$WORK" && pwd)

cleanup() {
  for side in base change; do
    [ -d "$WORK/$side" ] && git worktree remove --force "$WORK/$side" || true
  done
  git worktree prune
}
trap cleanup EXIT

git worktree add --detach "$WORK/base" "$BASE" >/dev/null
git worktree add --detach "$WORK/change" "$CHANGE" >/dev/null

run() { # side seed
  local side=$1 seed=$2
  echo "ab_perfbench: $side seed $seed" >&2
  (cd "$WORK/$side" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
    --seconds "$SECONDS_ARG" --trace 0) >"$WORK/out/$side-$seed.txt" \
    2>"$WORK/out/$side-$seed.err" || echo "ab_perfbench: $side seed $seed failed" >&2
}

# build both sides before the first timed pair
for side in base change; do
  (cd "$WORK/$side" && python3 perfbench/run.py --self-test) >"$WORK/out/$side-build.txt" 2>&1 \
    || { echo "ab_perfbench: $side does not build or fails its self-test" >&2; exit 1; }
done

for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then run base "$seed"; run change "$seed"
  else run change "$seed"; run base "$seed"; fi
done

python3 - "$WORK" "$WORKLOAD" "$SEED0" "$PAIRS" "$BASE" "$CHANGE" <<'EOF'
import json, os, statistics, sys

work, workload, seed0, pairs, base, change = sys.argv[1:]
seeds = range(int(seed0), int(seed0) + int(pairs))
better = {m["name"]: m["better"] for m in
          json.load(open(os.path.join(work, "base", "BENCHMARK.json")))["end_to_end"]}


def load(side, seed):
    """(metrics, correct) of one run, or None if it left no result."""
    try:
        lines = [l for l in open(os.path.join(work, "out", "%s-%d.txt" % (side, seed)))
                 if l.strip()]
        res, rep = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    except (OSError, IndexError, ValueError, KeyError):
        return None
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "rag_serve" and "build_s" in rep["info"]:
        vals["build_s"] = float(rep["info"]["build_s"])
    return vals, res["correct"] and res["failed"] == 0


runs = {(side, s): load(side, s) for side in ("base", "change") for s in seeds}
names = [n for n in better] + (["build_s"] if workload == "rag_serve" else [])
print("ab_perfbench %s: base %s, change %s, seeds %s..%s, order alternating (even pairs base first)"
      % (workload, base[:7], change[:7], seeds[0], seeds[-1]))
bad = [(side, s) for (side, s), r in runs.items() if r is None or not r[1]]
if bad:
    print("runs failed or incorrect: " + ", ".join("%s/%d" % b for b in sorted(bad)))
for name in names:
    direction = better.get(name, "lower")
    rows, a_vals, b_vals, wins = [], [], [], 0
    for s in seeds:
        a, b = runs[("base", s)], runs[("change", s)]
        if a is None or b is None or name not in a[0] or name not in b[0]:
            continue
        va, vb = a[0][name], b[0][name]
        a_vals.append(va)
        b_vals.append(vb)
        wins += (vb < va) if direction == "lower" else (vb > va)
        rows.append("  seed %d: %.4g -> %.4g (%+.4g)" % (s, va, vb, vb - va))
    if not rows:
        continue
    print("%s (%s is better)" % (name, direction))
    print("\n".join(rows))
    print("  median base %.4g, change %.4g; change better on %d of %d pairs"
          % (statistics.median(a_vals), statistics.median(b_vals), wins, len(rows)))
EOF
