"""Arithmetic of the benchmark's metrics: medians, span self times and
the per-layer numbers of a traced run.

Kept apart from run.py so the unit tests in tests/ can check it without
a JVM.
"""
import statistics


def median(xs):
    return statistics.median(xs)


def covered(intervals):
    """Length of the union of [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def mid(span):
    return (span["start_us"] + span["end_us"]) / 2


def resolve_parents(spans):
    """Gives every span with parent -1 the innermost non-job span of the
    same tag whose interval holds its midpoint (its op span if no layer
    span does). Job times have millisecond resolution, hence midpoints."""
    by_tag = {}
    for s in spans:
        if s["kind"] != "job":
            by_tag.setdefault(s["tag"], []).append(s)
    for s in spans:
        if s["parent"] != -1:
            continue
        m = mid(s)
        holders = [h for h in by_tag.get(s["tag"], [])
                   if h is not s and h["start_us"] <= m <= h["end_us"]]
        holders.sort(key=lambda h: h["end_us"] - h["start_us"])
        s["parent"] = holders[0]["id"] if holders else 0
    return spans


def self_times(spans):
    """Self time of each span, by id: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        kids = [clip((c["start_us"], c["end_us"]), lo, hi) for c in children.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - covered([k for k in kids if k])
    return out


def _jobs_within(jobs, spans):
    return [j for j in jobs if any(s["start_us"] <= mid(j) <= s["end_us"] for s in spans)]


def _uncovered_s(spans, jobs):
    total = 0
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        kids = [clip((j["start_us"], j["end_us"]), lo, hi) for j in jobs]
        total += (hi - lo) - covered([k for k in kids if k])
    return total / 1e6


def layer_metrics(spans, cores):
    """Per-layer numbers of each traced op, keyed by op index, from the
    span file of a traced run."""
    resolve_parents(spans)
    selfs = self_times(spans)
    by_tag = {}
    for s in spans:
        by_tag.setdefault(s["tag"], []).append(s)
    out = {}
    for tag, group in by_tag.items():
        kind, _, idx = tag.partition(":")
        i = int(idx)
        if kind == "read":
            jobs = [s for s in group if s["kind"] == "job"]
            out.setdefault(i, {})["ParquetWarehouse.read_bytes"] = sum(j["input_bytes"] for j in jobs)
            continue
        op = next(s for s in group if s["kind"] == "op")
        jobs = [s for s in group if s["kind"] == "job"]
        layers = [s for s in group if s["kind"] == "layer"]

        def named(name):
            return [s for s in layers if s["name"] == name]

        def dur(name):
            return sum(s["end_us"] - s["start_us"] for s in named(name)) / 1e6

        wall = (op["end_us"] - op["start_us"]) / 1e6
        task_s = sum(j["task_ms"] for j in jobs) / 1e3
        m = out.setdefault(i, {})
        m.update({
            "Loader.add_body_s": dur("Loader.add_body"),
            "Loader.manifest_s": dur("Loader.manifest"),
            "ParquetWarehouse.load_s": dur("ParquetWarehouse.load"),
            "ParquetWarehouse.load_jobs": len(_jobs_within(jobs, named("ParquetWarehouse.load"))),
            "ParquetWarehouse.driver_s": _uncovered_s(
                named("ParquetWarehouse.load"), _jobs_within(jobs, named("ParquetWarehouse.load"))),
            "ParquetWarehouse.bytes_read": sum(
                j["input_bytes"] for j in _jobs_within(jobs, named("ParquetWarehouse.load"))),
            "Loader.cleanup_s": dur("Loader.cleanup"),
            "SparkEntry.build_s": dur("SparkEntry.build"),
            "SparkEntry.build_jobs": len(_jobs_within(jobs, named("SparkEntry.build"))),
            "Catalyst.plan_s": dur("Catalyst.plan"),
            "SparkEntry.exec_s": dur("SparkEntry.exec"),
            "SparkEntry.exec_jobs": len(_jobs_within(jobs, named("SparkEntry.exec"))),
            "Tables.read_jobs": sum(1 for j in jobs if "Tables.scala" in j["name"]),
            "StreamingLoad.jobs": len(jobs) if named("StreamingQuery.await") else 0,
            "StreamingLoad.checkpoint_jobs": sum(
                j["checkpoint"] for j in jobs) if named("StreamingQuery.await") else 0,
            "spark.jobs": len(jobs),
            "spark.stages": sum(j["stages"] for j in jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.task_s": task_s,
            "spark.core_util": task_s / (wall * cores) if wall > 0 else 0.0,
            "spark.driver_gap_s": _uncovered_s([op], jobs),
            "spark.input_bytes": sum(j["input_bytes"] for j in jobs),
            "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs),
        })
        for s in group:
            if s["kind"] in ("op", "layer"):
                key = f"self.{s['name']}_s"
                m[key] = m.get(key, 0.0) + selfs[s["id"]] / 1e6
    return out
