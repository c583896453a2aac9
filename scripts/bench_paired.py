#!/usr/bin/env python3
"""Paired interleaved A/B bench driver (the r14 #1 / r15 #2 verdict ask).

Spawns two graft.BenchServe JVMs — REF (a reference build's classes) and
NEW (the current build) — and sends each gate query to both back-to-back,
repeating R times with the side order alternating per repeat. Because the
two executions of a pair share the same wall-clock window, ambient box
load inflates both sides together and cancels in the ratio; the suite-gap
drift that made every previous round's BENCH_DELTA unadjudicable
("probably ambient") never enters the comparison.

Per query: ratio = min(new repeats) / min(ref repeats) (min-of-N kills
JIT/GC outliers exactly like Bench), plus the per-repeat PAIRED ratios
whose spread is the honest noise band. A query flags when BOTH
ratio >= 1.5 and new_min - ref_min >= 0.3 s (bench_delta.py thresholds).

Usage: bench_paired.py REF_CLASSES NEW_CLASSES [--sf DIR] [--cpus N]
       [--repeats R] [--out BENCH_PAIRED.json] [--only q1,q2,...]
       [--ref-label STR]
Exit nonzero when any query flags (same ship-gate contract as
run_bench.sh).
"""
import argparse
import json
import os
import subprocess
import sys

SPARK_JARS = "/opt/spark/jars/*"
ADD_OPENS = []
for p in ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
          "java.nio java.util java.util.concurrent "
          "java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
          "sun.security.action sun.util.calendar").split():
    ADD_OPENS += [f"--add-opens=java.base/{p}=ALL-UNNAMED"]


def heap():
    """SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 GiB (the
    Tier-1 test sizing, as in run_bench.sh)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def spawn(classes, sf, cpus):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=cpus)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{SPARK_JARS}", "graft.BenchServe"])
    return subprocess.Popen(cmd, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            env=env, text=True, bufsize=1)


def recv(proc, side):
    """Next protocol JSON line (skips Spark stdout chatter)."""
    while True:
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError(f"{side} server exited early "
                               f"(rc={proc.poll()})")
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue


def ask(proc, side, query):
    proc.stdin.write(query + "\n")
    proc.stdin.flush()
    while True:
        msg = recv(proc, side)
        if msg.get("q") == query or "queries" in msg:
            return msg


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("ref_classes")
    ap.add_argument("new_classes")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=str(os.cpu_count()))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--out", default="BENCH_PAIRED.json")
    ap.add_argument("--only", default="")
    ap.add_argument("--ref-label", default="")
    a = ap.parse_args()

    ref = spawn(a.ref_classes, a.sf, a.cpus)
    new = spawn(a.new_classes, a.sf, a.cpus)
    for side, proc in (("ref", ref), ("new", new)):
        msg = recv(proc, side)
        if not msg.get("ready"):
            raise RuntimeError(f"{side} server bad handshake: {msg}")
        print(f"[paired] {side} ready ({msg.get('n_queries')} queries)",
              file=sys.stderr)

    queries = ask(new, "new", "LIST")["queries"]
    if a.only:
        want = {q.strip() for q in a.only.split(",") if q.strip()}
        queries = [q for q in queries if q in want]

    times = {q: {"ref": [], "new": [], "pair_ratios": [], "err": None}
             for q in queries}
    for rep in range(a.repeats):
        # Alternate which side runs first each repeat so one-side-first
        # bias (page cache, GC phase) cancels across repeats too.
        order = [("ref", ref), ("new", new)] if rep % 2 == 0 \
            else [("new", new), ("ref", ref)]
        for q in queries:
            got = {}
            for side, proc in order:
                msg = ask(proc, side, q)
                if "err" in msg:
                    got[side] = None
                    if times[q]["err"] is None:
                        times[q]["err"] = f"{side}: {msg['err']}"
                else:
                    got[side] = msg["secs"]
                    times[q][side].append(msg["secs"])
            if got.get("ref") and got.get("new"):
                times[q]["pair_ratios"].append(
                    round(got["new"] / got["ref"], 4))
        done = sum(len(v["new"]) for v in times.values())
        print(f"[paired] repeat {rep + 1}/{a.repeats} done "
              f"({done} timings)", file=sys.stderr)

    for proc in (ref, new):
        try:
            proc.stdin.write("EXIT\n")
            proc.stdin.flush()
            proc.wait(timeout=120)
        except Exception:
            proc.kill()

    rows, flags, unpaired = {}, [], []
    for q in queries:
        t = times[q]
        if not t["ref"] or not t["new"]:
            unpaired.append(q)
            rows[q] = {"ref": t["ref"], "new": t["new"], "err": t["err"]}
            continue
        ref_min, new_min = min(t["ref"]), min(t["new"])
        ratio = round(new_min / ref_min, 4) if ref_min > 0 else None
        row = {"ref_min": round(ref_min, 4), "new_min": round(new_min, 4),
               "ratio": ratio, "pair_ratios": t["pair_ratios"],
               "ref": [round(x, 4) for x in t["ref"]],
               "new": [round(x, 4) for x in t["new"]]}
        rows[q] = row
        if ratio is not None and ratio >= 1.5 and new_min - ref_min >= 0.3:
            flags.append({"query": q, "ratio": ratio,
                          "ref_min": row["ref_min"],
                          "new_min": row["new_min"]})

    paired = [r["ratio"] for r in rows.values() if r.get("ratio")]
    paired.sort()
    median = paired[len(paired) // 2] if paired else None
    summary = {"sf": a.sf, "repeats": a.repeats, "cpus": a.cpus,
               "ref_label": a.ref_label, "n_paired": len(paired),
               "unpaired": unpaired, "median_ratio": median,
               "regressions": flags, "queries": rows}
    with open(a.out, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: summary[k] for k in
                      ("sf", "repeats", "ref_label", "n_paired",
                       "median_ratio", "unpaired", "regressions")}))
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
