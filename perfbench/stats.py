"""Turns one JVM run's raw record (passes, spans, layer counters) into the
benchmark's metrics. Pure functions, so the self-tests can check them."""
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def declared(path=os.path.join(os.path.dirname(HERE), "BENCHMARK.json")):
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} from BENCHMARK.json."""
    with open(path) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals if e > start and s < end)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in children])


def pass_seconds(p):
    return sum(e["s"] for e in p["entries"].values())


def end_to_end(record):
    passes = [p for p in record["passes"] if p["measured"]]
    steps = passes[0]["entries"].keys()
    per_step = [median([p["entries"][s]["s"] for p in passes]) for s in steps]
    geo = math.exp(sum(math.log(max(x, 1e-9) * 1e3) for x in per_step) / len(per_step))
    return {
        "pass_s": median([pass_seconds(p) for p in passes]),
        "entry_geomean_ms": geo,
        "setup_s": record["setup_s"],
        "heap_live_mb": median([p["heap_live_mb"] for p in passes]),
    }


PHASES = ("analysis", "optimization", "planning")


def per_layer(record):
    """Layer metrics from the traced passes of a traced run."""
    passes = [p for p in record["passes"] if p["measured"]]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    spans = record["spans"]
    rows = []
    for p in traced:
        n = p["pass"]
        entries = [s for s in spans if s["kind"] == "entry" and s["pass"] == n]
        jobs = [s for s in spans if s["kind"] == "job" and s["pass"] == n]
        window = next(s for s in spans if s["kind"] == "pass" and s["pass"] == n)
        gap_ms = sum(self_time(e, [j for j in jobs if j["parent"] == e["name"]]) for e in entries)
        plan_ms = sum(s["end"] - s["start"] for s in spans
                      if s["kind"] == "phase" and s["name"] in PHASES
                      and window["start"] <= s["start"] <= window["end"])
        L = p["layers"]
        jobs_n = L.get("jobs", 0.0)
        rows.append({
            "scheduler.jobs": jobs_n,
            "scheduler.stages": L.get("stages", 0.0),
            "scheduler.tasks": L.get("tasks", 0.0),
            "scheduler.driver_gap_s": gap_ms / 1e3,
            "scheduler.ms_per_job": pass_seconds(p) * 1e3 / jobs_n if jobs_n else 0.0,
            "scheduler.task_wait_s": L.get("task_wait_ms", 0.0) / 1e3,
            "catalyst.plan_s": plan_ms / 1e3,
            "codegen.compile_count": L.get("codegen.compile_count", 0.0),
            "codegen.compile_s": L.get("codegen.compile_s", 0.0),
            "executor.run_s": L.get("run_ms", 0.0) / 1e3,
            "executor.cpu_s": L.get("cpu_ns", 0.0) / 1e9,
            "executor.gc_s": L.get("gc_ms", 0.0) / 1e3,
            "shuffle.write_mb": L.get("shuffle_write_bytes", 0.0) / 1e6,
            "shuffle.read_mb": L.get("shuffle_read_bytes", 0.0) / 1e6,
            "shuffle.fetch_wait_s": L.get("fetch_wait_ms", 0.0) / 1e3,
            "spill.mb": L.get("spill_bytes", 0.0) / 1e6,
            "scan.input_mb": L.get("input_bytes", 0.0) / 1e6,
            "scan.input_rows": L.get("input_rows", 0.0),
            "staged.write_s": p["staged_s"],
            "blocks.checkpoint_mb": L.get("block_bytes", 0.0) / 1e6,
            "blocks.checkpoint_count": L.get("block_count", 0.0),
        })
    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    out["staged.disk_mb"] = record.get("staged_disk_mb", 0.0)
    steps = {s: median([p["entries"][s]["s"] for p in traced]) for s in traced[0]["entries"]} if traced else {}
    extra = record.get("extra", {})
    out["genomics.load_s"] = extra.get("genomics.load_s", 0.0)
    out["genomics.path_s"] = steps.get("path", 0.0)
    out["genomics.fold_s"] = steps.get("fold", 0.0)
    out["genomics.sink_s"] = steps.get("sink", 0.0) + steps.get("contig", 0.0)
    out["genomics.sink_mb"] = extra.get("genomics.sink_mb", 0.0)
    out["genomics.local_engine_s"] = extra.get("genomics.local_engine_s", 0.0)
    for k, v in extra.items():
        if k.startswith("kernel."):
            out[k] = v
    out["trace.overhead_s"] = (median([pass_seconds(p) for p in traced])
                               - median([pass_seconds(p) for p in plain])) if traced and plain else 0.0
    return out


def result_line(metrics, units, correct, attempted, failed):
    missing = set(units) - set(metrics)
    extra = set(metrics) - set(units)
    if missing or extra:
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {sorted(missing)}, "
                         f"undeclared {sorted(extra)}")
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}})
