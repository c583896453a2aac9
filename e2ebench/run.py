#!/usr/bin/env python3
"""End-to-end benchmark of the load path, the curation stream and the
gate query suite.

    python3 e2ebench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark from
source with sbt (cached under .bench_build/ until a source changes),
sizes the JVM from the machine, runs one workload in one JVM as a closed
loop with one client, checks every op's output, and prints one JSON
object as its last line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Each workload runs a fixed, seeded op sequence;
--seconds is accepted but does not change how many ops run: the table
and the stores grow, so a time-bounded run would let its own speed pick
the state later ops see.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import bench_stats  # noqa: E402

BUILD = os.path.join(REPO, ".bench_build", "e2ebench")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
WORKLOADS = ("load_upsert", "curate_stream", "gate_suite")
# Every workload was sized to run in a 2 GiB heap on two cores.
MIN_HEAP_GB = 2
MIN_CORES = 2
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def machine(workload):
    """Cores and heap from the machine: Spark threads and shuffle
    partitions follow the usable cores; the heap is a quarter of
    MemTotal clamped to 2..4 GiB, pinned (-Xms = -Xmx) and pre-touched."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    heap_gb = max(MIN_HEAP_GB, min(4, mem_kb // (4 * 1048576)))
    if cores < MIN_CORES:
        die(f"{workload} needs at least {MIN_CORES} cores, this machine has {cores}", 3)
    # The JVM's resident set runs about 0.5 GiB above its heap; leave the
    # rest of the machine another 1.5 GiB.
    if mem_kb < (heap_gb + 2) * 1048576:
        die(f"{workload} needs {heap_gb + 2} GiB of memory (a {heap_gb} GiB heap), "
            f"MemTotal is {mem_kb // 1024} MiB", 3)
    free_gb = shutil.disk_usage(REPO).free / 2**30
    if free_gb < 2:
        die(f"{workload} needs 2 GiB free disk under {REPO}, {free_gb:.1f} GiB left", 3)
    return cores, heap_gb


def digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {rc}); log in {log}", 4)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def oracle_check(dump, names):
    """Runs the repository's DuckDB oracle check on the first executions'
    results. Returns {query: (ok, rows)}."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_oracle.py"), FIXTURE, dump, *names],
        capture_output=True, text=True, timeout=60)
    return parse_oracle(proc.stdout, names)


def parse_oracle(stdout, names):
    verdict = {n: (False, 0) for n in names}
    for line in stdout.splitlines():
        m = re.match(r"OK\s+(\S+) \((\d+) rows\)", line)
        if m and m.group(1) in verdict:
            verdict[m.group(1)] = (True, int(m.group(2)))
        elif line.startswith("FAIL"):
            print(f"e2ebench: oracle {line}", file=sys.stderr)
    return verdict


def e2e_metrics(res, launch_s):
    ops, totals = res["ops"], res["totals"]
    walls = [o["wall_s"] for o in ops]
    return {
        "op_p50_s": bench_stats.median(walls),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(walls),
        "queries_per_s": len(ops) / sum(walls),
        "read_p50_s": bench_stats.median([o["read_s"] for o in ops]),
        "write_amp": totals["written_bytes"] / totals["input_bytes"],
        "stored_bytes_per_row": totals["live_bytes"] / totals["live_rows"],
        "setup_s": res["first_op_us"] / 1e6 - launch_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def layer_metrics(res, spans_path, cores):
    """Median over traced ops of each per-layer number, plus the tracing
    overhead: traced ops against untraced executions of the same query,
    or, where an op cannot be repeated, against the run's untraced ops."""
    with open(spans_path) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    per_op = bench_stats.layer_metrics(spans, cores)
    for o in res["ops"]:
        m = per_op.setdefault(o["i"], {})
        for k, v in o.items():
            if "." in k and isinstance(v, (int, float)):
                m[k] = v
    names = sorted({k for m in per_op.values() for k in m})
    out = {}
    for k in names:
        vals = [m[k] for i, m in per_op.items() if k in m]
        out[k] = bench_stats.median(vals)
    traced = [o for o in res["ops"] if o["traced"]]
    if all("plain_s" in o for o in traced):
        # Each traced op was also timed untraced (gate_suite).
        ratio = bench_stats.median([o["wall_s"] / o["plain_s"] for o in traced])
    else:
        ratio = (bench_stats.median([o["wall_s"] for o in traced]) /
                 bench_stats.median([o["wall_s"] for o in res["ops"] if not o["traced"]]))
    out["trace.overhead_pct"] = 100.0 * (ratio - 1)
    return out


def cpu_times():
    """Machine-wide CPU jiffies from /proc/stat: (steal, demanded), where
    demanded is every jiffy that was not idle or waiting on I/O."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v) - v[3] - v[4]


def run_jvm(a, cores, heap_gb, cp, work):
    """Runs the workload in one JVM; returns its result and launch time."""
    out_json = os.path.join(work, "result.json")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # Pinned and pre-touched: GC sizing cannot drift between runs,
           # and peak RSS moves only with memory outside the heap.
           f"-Xms{heap_gb}g", f"-Xmx{heap_gb}g", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "e2ebench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
           "--work", work, "--fixture", FIXTURE, "--cores", str(cores), "--out", out_json]
    log = os.path.join(work, "jvm.log")
    launch_s = time.time()
    steal0, demand0 = cpu_times()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        rc = None
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # Also reached on SIGTERM (see main): never leave the JVM behind.
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    steal1, demand1 = cpu_times()
    # Steal is CPU time the hypervisor gave to other guests: a run that
    # is slow with high steal was slowed by its neighbours, not itself.
    print(f"e2ebench: steal {100.0 * (steal1 - steal0) / max(1, demand1 - demand0):.1f} % "
          "of the CPU time the machine demanded during the run")
    kept_log = os.path.join(BUILD, f"jvm-{a.workload}.log")
    shutil.copy(log, kept_log)
    if rc != 0 or not os.path.exists(out_json):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; log in {kept_log}", 5)
    shutil.copy(out_json, os.path.join(BUILD, f"result-{a.workload}.json"))
    with open(out_json) as f:
        return json.load(f), launch_s


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A stopped run unwinds like an error, so the JVM is killed and the
    # work directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        die(f"program sources not found under {REPO}/src; run from a full checkout")
    if not os.path.exists(os.path.join(REPO, "scripts", "check_oracle.py")):
        die("scripts/check_oracle.py (the gate's oracle check) not found")
    if not os.path.exists(os.path.join(FIXTURE, "orders.parquet")):
        die(f"gate fixture missing: {FIXTURE}")
    cores, heap_gb = machine(a.workload)
    cp = build()

    work = os.path.join(REPO, ".bench_build", "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res, launch_s = run_jvm(a, cores, heap_gb, cp, work)
        if a.workload == "gate_suite":
            names = [o["query"] for o in res["ops"]]
            verdict = oracle_check(res["totals"]["dump_dir"], names)
            for o in res["ops"]:
                ok, o["rows"] = verdict[o["query"]]
                if not ok:
                    o["ok"] = False
                    print(f"e2ebench: op {o['i']} ({o['query']}) failed its oracle check",
                          file=sys.stderr)
        # Names and units come from BENCHMARK.json; a metric that is not
        # on this workload's path prints 0.
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)
        units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            shutil.copy(spans, os.path.join(BUILD, f"spans-{a.workload}.jsonl"))
            metrics = layer_metrics(res, spans, cores)
        else:
            metrics = e2e_metrics(res, launch_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in res["ops"] if not o["ok"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
