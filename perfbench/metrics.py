"""Output checks and metrics over one benchmark run's observations.

The JVM side (graft.perfbench.Main) records what it did: set-up times,
the round with its wall and CPU time and Spark counters, every operation,
and in a traced run the spans. This module checks the outputs and turns
the record into the metrics named in BENCHMARK.json.
"""

import json
import math
import os
import statistics

# The operation each workload's latency percentiles describe.
PRIMARY_OP = {"oms_dir": "load", "doc_stream": "ingest"}

# Layers a span can be attributed to; `input` (landing a file) is work
# outside the program's modules.
PROGRAM_LAYERS = ("pipeline", "operators", "streaming", "storage")


def percentile(samples, p):
    """Nearest-rank p-th percentile (0 < p < 100) of a non-empty list."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail_percentile(samples, p):
    """The p-th percentile, or None unless at least ten samples lie
    beyond it: a tail figure resting on fewer is one or two samples."""
    if not samples:
        return None
    v = percentile(samples, p)
    return v if sum(1 for x in samples if x > v) >= 10 else None


def check_oms(obs, truth):
    """Marks each directory load whose written star differs from the
    generator's ground truth. Returns the list of problems found."""
    problems = []
    for op in obs["ops"]:
        if op["kind"] != "load" or not op["ok"]:
            continue
        got = star_summary(op["out"])
        got["processed"] = op["processed"]
        got["skipped"] = op["skipped"]
        bad = {k: (v, truth[k]) for k, v in got.items() if v != truth[k]}
        if bad:
            op["ok"] = False
            problems.append("oms_dir load %s: %s" % (op["out"], bad))
    return problems


def star_summary(out_dir):
    def rows(name):
        with open(os.path.join(out_dir, name + ".json"), encoding="utf-8") as f:
            return json.load(f)
    fact = rows("Statistique")
    return {"pays": len(rows("Pays")), "region": len(rows("Region")),
            "maladie": len(rows("Maladie")), "fact_rows": len(fact),
            "sum_nouveau_cas": sum(r["nouveau_cas"] or 0 for r in fact),
            "region_geo": len(rows("RegionGeo"))}


def layer_times(spans):
    """({layer: self seconds}, seconds covered by top-level spans). A
    span's self time is its duration minus its children's."""
    child_ns = {}
    for s in spans:
        if s["parent"] >= 0:
            child_ns[s["parent"]] = (child_ns.get(s["parent"], 0)
                                     + s["end_ns"] - s["start_ns"])
    layers, covered = {}, 0.0
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        layers[s["layer"]] = (layers.get(s["layer"], 0.0)
                              + (dur - child_ns.get(s["id"], 0)) / 1e9)
        if s["parent"] < 0:
            covered += dur / 1e9
    return layers, covered


def op_latency(obs):
    """Median latency of the workload's operation in the round, or None."""
    primary = [o["s"] for o in obs["ops"]
               if o["ok"] and o["kind"] == PRIMARY_OP[obs["workload"]]]
    return statistics.median(primary) if primary else None


def setup_wall_s(obs, ctx):
    return (ctx["gen_s"] + obs["session_start_s"]
            + statistics.median(obs["state_s"]))


def end_to_end(obs, ctx):
    """The bounded metrics of an untraced run, in CPU seconds of the
    benchmark's processes: on a shared host the hypervisor's steal time
    moves wall time by more than any bound allows (see README), CPU time
    much less. Set-up is input generation + JVM and session start + the
    median of the state builds."""
    setup = (ctx["gen_cpu_s"] + obs["session_cpu_s"]
             + statistics.median(obs["state_cpu_s"]))
    return {
        "setup_s": (setup, "s"),
        "run_cpu_s": (obs["round"]["cpu_s"], "s"),
        "rss_peak_mb": (obs["rss_peak_mb"], "MB"),
    }


def per_layer(obs, walls):
    """The per-layer metrics of a traced run's round. `walls` holds the
    round wall times of the workload's recorded runs as (traced, seconds)
    pairs, this run included; the tracing overhead is the median traced
    minus the median untraced of them."""
    rnd = obs["round"]
    spans = obs["spans"]
    ops = obs["ops"]
    layers, covered = layer_times(spans)

    def span_s(layer, name=None):
        return sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                   if s["layer"] == layer and name in (None, s["name"]))

    def counter(key):
        return rnd["counters"].get(key, 0)

    def extra(key):
        return rnd["extras"].get(key, 0)

    m = {}
    loads = [o for o in ops if o["kind"] == "load"]
    files = sum(o["processed"] + o["skipped"] for o in loads)
    for name in ("run_operational", "dedup_agg", "upsert", "sink"):
        m["pipeline.%s_s" % name] = (span_s("pipeline", name), "s")
    m["pipeline.jobs_per_file"] = (
        counter("jobs") / files if files else 0.0, "count")
    m["pipeline.files_processed"] = (
        sum(o["processed"] for o in loads), "count")
    m["pipeline.files_skipped"] = (sum(o["skipped"] for o in loads), "count")
    m["operators.TextOps.s"] = (layers.get("operators.TextOps", 0.0), "s")
    m["operators.TextOps.jobs"] = (extra("probe_jobs"), "count")
    landed = extra("landed_rows")
    m["streaming.ingest_s"] = (span_s("streaming", "ingest"), "s")
    m["streaming.delete_s"] = (span_s("streaming", "delete"), "s")
    m["streaming.admitted_rows"] = (extra("admitted_rows"), "count")
    m["streaming.quarantined_rows"] = (extra("quarantined_rows"), "count")
    m["streaming.admit_ratio"] = (
        extra("admitted_rows") / landed if landed else 0.0, "ratio")
    m["storage.probe_s"] = (span_s("storage", "probe"), "s")
    m["storage.bytes_written"] = (counter("output_bytes"), "B")
    m["storage.files_stored"] = (extra("stored_files"), "count")
    m["storage.live_bytes"] = (extra("stored_bytes"), "B")
    m["storage.tombstone_rows"] = (extra("tombstone_rows"), "count")
    inb = extra("input_bytes")
    m["storage.stored_bytes_per_input_byte"] = (
        extra("stored_bytes") / inb if inb else 0.0, "ratio")
    for key in ("jobs", "stages", "tasks", "single_task_stages"):
        m["spark." + key] = (counter(key), "count")
    m["spark.planning_s"] = (counter("planning_ms") / 1000.0, "s")
    m["spark.task_busy_s"] = (counter("task_busy_ms") / 1000.0, "s")
    m["spark.no_task_s"] = (rnd["no_task_s"], "s")
    m["spark.scan_bytes"] = (counter("scan_bytes"), "B")
    m["spark.shuffle_write_bytes"] = (counter("shuffle_write_bytes"), "B")
    m["spark.spill_bytes"] = (counter("spill_bytes"), "B")
    m["jvm.gc_s"] = (rnd["gc_s"], "s")
    wall = rnd["wall_s"]
    attributed = sum(v for k, v in layers.items()
                     if k.split(".")[0] in PROGRAM_LAYERS)
    traced = [s for t, s in walls if t]
    untraced = [s for t, s in walls if not t]
    m["trace.run_s"] = (wall, "s")
    m["trace.untraced_runs"] = (len(untraced), "count")
    m["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(untraced)
        if traced and untraced else 0.0, "s")
    m["trace.unattributed_s"] = (wall - covered, "s")
    m["trace.attributed_share"] = (attributed / wall if wall else 0.0,
                                   "ratio")
    return m


def assemble(obs, ctx, problems, walls=None):
    """The benchmark's result object: the last line run.py prints. A
    traced run passes the recorded round wall times (see per_layer)."""
    ops = obs["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    metrics = per_layer(obs, walls) if walls is not None else end_to_end(
        obs, ctx)
    return {
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
