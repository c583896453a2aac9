#!/bin/bash
# Interleaved A/B pairs of the end-to-end benchmark (e2ebench/run.py):
# one run of a parent revision and one of the working tree per seed,
# alternating which side runs first, then the medians, IQRs and win
# counts of every end-to-end metric.
#
# Usage: scripts/e2e_pairs.sh <parent-rev> <workload> <seed>...
#   e.g. scripts/e2e_pairs.sh HEAD~1 load_upsert 1 2 3 4 5 6 7 8 9 10
#
# The parent is copied with `git archive` (never `cp -r` of a built
# tree: sbt's incremental compiler in a copy of a built tree deletes the
# original tree's classes) into ${TMPDIR:-/tmp}/e2e_pairs_<sha>, and
# run.py builds each side into its own .bench_build/. Pair k runs the
# parent first when k is odd. Per pair it prints each metric as
# parent -> change and the steal run.py reports for each run; the raw
# results go to <copy>/pairs-<workload>.jsonl. A metric "wins" for the
# change when it is strictly better in the direction BENCHMARK.json
# gives.
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -lt 3 ]; then
  sed -n '5,6p' "$0" >&2
  exit 2
fi
REV=$1 WORKLOAD=$2
shift 2
SHA=$(git rev-parse --short "$REV")
PARENT=${TMPDIR:-/tmp}/e2e_pairs_$SHA
if [ ! -f "$PARENT/.archived" ]; then
  rm -rf "$PARENT" && mkdir -p "$PARENT"
  git archive "$SHA" | tar -x -C "$PARENT"
  touch "$PARENT/.archived"
fi
OUT=$PARENT/pairs-$WORKLOAD.jsonl
: > "$OUT"

# run <dir> <seed>: one run in checkout <dir>; prints {"steal": .., "result": {..}}.
run() {
  local log
  log=$(cd "$1" && python3 e2ebench/run.py --workload "$WORKLOAD" --seed "$2" \
    --seconds 30 --trace 0 2>&1) || { echo "$log" | tail -20 >&2; return 1; }
  python3 -c '
import json, re, sys
log = sys.stdin.read().splitlines()
steal = next((float(m.group(1)) for l in log
              for m in [re.match(r"e2ebench: steal ([0-9.]+) %", l)] if m), None)
print(json.dumps({"steal": steal, "result": json.loads(log[-1])}))' <<< "$log"
}

# report <jsonl> last|all: the last pair, or the summary of every pair.
report() {
  python3 - "$@" <<'PY'
import json, statistics, sys
pairs = [json.loads(l) for l in open(sys.argv[1])]
better = {m["name"]: m["better"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]}
metric = lambda side, name: side["result"]["metrics"][name]["value"]
if sys.argv[2] == "last":
    r = pairs[-1]
    p, c = r["parent"], r["change"]
    print(f"seed {r['seed']} ({r['first']} first) steal {p['steal']}/{c['steal']} % "
          f"correct {p['result']['correct']}/{c['result']['correct']}: "
          + " ".join(f"{n} {metric(p, n):.4g}->{metric(c, n):.4g}" for n in better))
    sys.exit(0)

def summary(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[1], q[0], q[2]

print(f"{len(pairs)} pairs; all correct: "
      f"{all(p[s]['result']['correct'] for p in pairs for s in ('parent', 'change'))}")
for name, way in better.items():
    pv = [metric(p["parent"], name) for p in pairs]
    cv = [metric(p["change"], name) for p in pairs]
    sign = 1 if way == "lower" else -1
    wins = sum(1 for a, b in zip(pv, cv) if sign * (b - a) < 0)
    (pm, pq1, pq3), (cm, cq1, cq3) = summary(pv), summary(cv)
    print(f"{name}: median {pm:.4g} (IQR {pq1:.4g}-{pq3:.4g}) -> {cm:.4g} ({cq1:.4g}-{cq3:.4g}); "
          f"change wins {wins}/{len(pairs)}; |gap| {abs(cm - pm):.4g} vs parent IQR {pq3 - pq1:.4g}")
PY
}

k=0
for seed in "$@"; do
  k=$((k + 1))
  if [ $((k % 2)) -eq 1 ]; then
    p=$(run "$PARENT" "$seed"); c=$(run . "$seed"); first=parent
  else
    c=$(run . "$seed"); p=$(run "$PARENT" "$seed"); first=change
  fi
  echo "{\"seed\": $seed, \"first\": \"$first\", \"parent\": $p, \"change\": $c}" >> "$OUT"
  report "$OUT" last
done

report "$OUT" all
