#!/bin/bash
# CPU profile of one end-to-end benchmark run: where the timed ops spend
# their samples, by thread and by frame family.
#
# Usage: scripts/jfr_profile.sh <workload> <seed>
#   e.g. scripts/jfr_profile.sh curate_stream 1
#
# Builds the benchmark first (so sbt is not recorded), then runs
# e2ebench/run.py --trace 0 with Java Flight Recorder switched on through
# JAVA_TOOL_OPTIONS; no file under e2ebench/ changes. The recording is
# kept as .bench_build/e2ebench/profile-<workload>-<seed>.jfr. It reads
# the execution samples with `jfr print --json --stack-depth 64`, keeps
# those taken from the first timed op on (`first_op_us` in the run's
# result file) and prints their shares by thread (digits and query ids
# folded, so all task threads form one group) and by frame family. A
# sample counts in the first family, in the order below, that any of its
# frames is in:
#   codegen compile  Janino, or CodeGenerator.doCompile and the class
#                    lookups it makes
#   class loading    any other ClassLoader.loadClass/findClass
#   AQE              org.apache.spark.sql.execution.adaptive
#   Catalyst         analysis, optimizer, rules, trees and plans of
#                    org.apache.spark.sql.catalyst
#   parquet          parquet-mr and Spark's parquet data source
#   graft            graft.* and its Spark shims
#   other            the rest (generated code, shuffle, I/O, ...)
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -ne 2 ]; then
  sed -n '5,6p' "$0" >&2
  exit 2
fi
WORKLOAD=$1 SEED=$2
OUT=.bench_build/e2ebench
JFR=$PWD/$OUT/profile-$WORKLOAD-$SEED.jfr

python3 -c 'import sys; sys.path.insert(0, "e2ebench"); import run; run.build()'
rm -f "$JFR"
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$JFR,settings=profile,dumponexit=true" \
  python3 e2ebench/run.py --workload "$WORKLOAD" --seed "$SEED" --seconds 30 --trace 0 \
  | tail -1
[ -s "$JFR" ] || { echo "jfr_profile: no recording at $JFR" >&2; exit 1; }

# The samples arrive on stdin, so the program is passed with -c.
SHARES=$(cat <<'PY'
import collections, datetime, json, re, sys

first_us = json.load(open(sys.argv[1]))["first_op_us"]

FAMILIES = [
    ("codegen compile", lambda t, m: t.startswith("org.codehaus.") or m == "doCompile"),
    ("class loading", lambda t, m: m in ("loadClass", "findClass")),
    ("AQE", lambda t, m: t.startswith("org.apache.spark.sql.execution.adaptive.")),
    ("Catalyst", lambda t, m: re.match(
        r"org\.apache\.spark\.sql\.catalyst\.(analysis|optimizer|rules|trees|plans)\.", t)),
    ("parquet", lambda t, m: t.startswith("org.apache.parquet.") or
        t.startswith("org.apache.spark.sql.execution.datasources.parquet.")),
    ("graft", lambda t, m: t.startswith("graft.") or ".graftshim." in t),
]


def micros(stamp):
    # "2026-10-20T22:35:16.123456789Z": keep microseconds.
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)$", stamp)
    base = datetime.datetime.fromisoformat(
        m.group(1) + ("+00:00" if m.group(3) == "Z" else m.group(3)))
    return int(base.timestamp()) * 1_000_000 + int((m.group(2) or "0").ljust(6, "0")[:6])


def events(stream):
    """Decodes the recording's events one at a time, so the whole JSON
    document is never held as Python objects."""
    dec, buf, pos, eof = json.JSONDecoder(), "", None, False
    while True:
        if pos is None:
            i = buf.find('"events": [')
            if i >= 0:
                buf, pos = buf[i + len('"events": ['):], 0
        if pos is not None:
            while pos < len(buf) and buf[pos] in " \r\n\t,":
                pos += 1
            if buf.startswith("]", pos):
                return
            try:
                ev, end = dec.raw_decode(buf, pos)
                yield ev
                pos = end
                continue
            except json.JSONDecodeError:
                if eof:
                    raise
                buf, pos = buf[pos:], 0
        chunk = stream.read(1 << 22)
        if not chunk:
            if eof or pos is None:
                return
            eof = True
        buf += chunk


by_thread, by_family, n, skipped = collections.Counter(), collections.Counter(), 0, 0
for ev in events(sys.stdin):
    v = ev["values"]
    if micros(v["startTime"]) < first_us:
        skipped += 1
        continue
    n += 1
    thread = (v.get("sampledThread") or {}).get("javaName") or "?"
    by_thread[re.sub(r"\d+", "#", thread.split(" [")[0])] += 1
    frames = [(f["method"]["type"]["name"].replace("/", "."), f["method"]["name"])
              for f in ((v.get("stackTrace") or {}).get("frames") or [])]
    by_family[next((name for name, hit in FAMILIES
                    if any(hit(t, m) for t, m in frames)), "other")] += 1

print(f"jfr_profile: {n} execution samples inside the timed ops "
      f"({skipped} before the first op dropped)")
for title, counts, top in (("by thread", by_thread, 12), ("by frame family", by_family, None)):
    print(title + ":")
    for key, c in counts.most_common(top):
        print(f"  {100.0 * c / max(1, n):5.1f} %  {key}")
PY
)
jfr print --json --stack-depth 64 --events jdk.ExecutionSample "$JFR" \
  | python3 -c "$SHARES" "$OUT/result-$WORKLOAD.json"
