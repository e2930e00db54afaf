#!/usr/bin/env bash
# Parent-vs-change A/B of one perfbench workload, by the pairing rule of
# a small sandbox: the parent revision is built in a git worktree, then
# `perfbench/run.py` runs on both sides in N pairs, alternating which
# side goes first, each pair on a fresh seed shared by both sides. For
# every end-to-end metric in BENCHMARK.json it prints each side's
# median and quartiles, the pairs each side won (ties count for
# neither) and whether the change's gain meets the claim rule: at least
# ten pairs, the change wins at least 9/10 of them and the medians
# differ by more than the distance between the parent's quartiles.
#
#   tools/perf_ab.sh <workload> [pairs=10] [parent-rev]
#
# The change side is this checkout's working tree. The parent defaults
# to HEAD while the tree has uncommitted changes (a change measured
# before its commit) and to HEAD^ once it is clean (a committed change).
# Pair i runs on seed 1001 + i. Files go under PERF_AB_DIR (default
# /tmp/perf_ab): the parent worktree, and every run's result line in
# <workload>.jsonl.
set -euo pipefail
cd "$(dirname "$0")/.."
WORKLOAD="${1:?usage: perf_ab.sh <workload> [pairs] [parent-rev]}"
PAIRS="${2:-10}"
if git diff --quiet HEAD; then DEFAULT_REV=HEAD^; else DEFAULT_REV=HEAD; fi
REV="$(git rev-parse "${3:-$DEFAULT_REV}^{commit}")"
FIRST=1001
OUT="${PERF_AB_DIR:-/tmp/perf_ab}"
SECONDS_RUN="$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')"
mkdir -p "$OUT"
WT="$OUT/parent-${REV:0:12}"
# reuse the worktree (and its build) only while it is clean and at REV
if [ -d "$WT" ] && { [ -n "$(git -C "$WT" status --porcelain 2>/dev/null || echo dirty)" ] ||
     [ "$(git -C "$WT" rev-parse HEAD 2>/dev/null || echo none)" != "$REV" ]; }; then
  git worktree remove --force "$WT" 2>/dev/null || { rm -rf "$WT"; git worktree prune; }
fi
[ -d "$WT" ] || git worktree add --detach "$WT" "$REV" >&2
echo "parent $REV, change: working tree of $(pwd)" >&2
RESULTS="$OUT/$WORKLOAD.jsonl"
: > "$RESULTS"

run() { # <side> <dir> <seed>
  local line
  line="$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds "$SECONDS_RUN" --trace 0 | tail -n 1)"
  printf '{"side": "%s", "seed": %s, "result": %s}\n' "$1" "$3" "$line" >> "$RESULTS"
  echo "pair seed $3: $1 done" >&2
}

for ((i = 0; i < PAIRS; i++)); do
  seed=$((FIRST + i))
  if ((i % 2 == 0)); then run parent "$WT" "$seed"; run change . "$seed"
  else run change . "$seed"; run parent "$WT" "$seed"; fi
done

python3 - "$RESULTS" <<'EOF'
import json, statistics, sys

bench = json.load(open("BENCHMARK.json"))
runs = [json.loads(l) for l in open(sys.argv[1])]
by = {}
for r in runs:
    by.setdefault(r["seed"], {})[r["side"]] = r["result"]
pairs = [p for _, p in sorted(by.items()) if len(p) == 2]
for side in ("parent", "change"):
    rs = [p[side] for p in pairs]
    print(f"{side}: {len(rs)} runs, correct {sum(r['correct'] for r in rs)}, "
          f"failed ops {sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)}")

def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]

print(f"\n{'metric':16s} {'side':7s} {'q1':>10s} {'median':>10s} {'q3':>10s} {'wins':>5s}  claim")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    xs = {s: [p[s]["metrics"][name]["value"] for p in pairs] for s in ("parent", "change")}
    better = lambda a, b: a < b if lower else a > b
    wins = {"change": sum(better(p["change"]["metrics"][name]["value"], p["parent"]["metrics"][name]["value"]) for p in pairs),
            "parent": sum(better(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"]) for p in pairs)}
    pq, cq = quartiles(xs["parent"]), quartiles(xs["change"])
    gain = better(cq[1], pq[1]) and abs(cq[1] - pq[1]) > pq[2] - pq[0]
    # the rule needs at least ten pairs; fewer never support a claim
    claim = "gain" if gain and len(pairs) >= 10 and wins["change"] * 10 >= 9 * len(pairs) else "-"
    for side, q in (("parent", pq), ("change", cq)):
        print(f"{name:16s} {side:7s} {q[0]:10.4g} {q[1]:10.4g} {q[2]:10.4g} {wins[side]:5d}"
              + (f"  {claim}  (change/parent median {cq[1] / pq[1]:.3f})" if side == "change" else ""))
EOF
