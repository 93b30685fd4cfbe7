"""Per-layer metrics of a traced run, from the benchmark's own spans and
the Spark event log. Every per-layer metric is reported on every
workload; a layer the workload does not exercise reads 0."""

from __future__ import annotations

import json
import os
import statistics

from harness import EventLog, PY_ACCUMS, job_totals

PIPE_STAGES = ["decode_phash", "pip_join", "knn", "tile_pyramid", "rasterize"]
PY_STAGES = ["decode_phash", "rasterize"]
STAGE_FIELDS = {  # metric suffix -> (job_totals key, unit)
    "executor_cpu_s": ("cpu_s", "s"),
    "gc_s": ("gc_s", "s"),
    "shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spill_bytes": ("spill_bytes", "bytes"),
    "tasks": ("tasks", "count"),
}
SERVE_TOOLS = ["neighborhood", "get_stats", "list_orphans", "read_bbox"]


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def per_layer(tracer, log_dir: str, workload: str, phash_us: float,
              noise_probe_s: float, untraced_path: str, op_p50_s: float) -> dict:
    """name -> (value, unit), and prints the series behind them."""
    log = EventLog(log_dir)
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def op_of(s: dict) -> dict | None:
        p = by_id.get(s["parent"])
        while p is not None and not p["op"]:
            p = by_id.get(p["parent"])
        return p

    store_calls: dict[int, dict[str, list[float]]] = {}
    for s in spans:
        if s["name"].startswith("store."):
            op = op_of(s)
            if op is not None:
                store_calls.setdefault(op["id"], {}).setdefault(s["name"], []).append(_dur(s))

    def calls(op: dict, method: str) -> list[float]:
        return store_calls.get(op["id"], {}).get(f"store.{method}", [])

    totals = {s["id"]: job_totals(log.jobs_in(s), s) for s in spans if s["op"]}
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (tracer.durations("session.start")[0], "s"),
        "functions.phash_us_per_image": (phash_us, "us"),
    }

    for stage in PIPE_STAGES:
        runs = [s for s in spans if s["name"] == f"pipe.{stage}"]
        if stage in PY_STAGES:
            for key, _ in PY_ACCUMS.values():
                unit = "bytes" if key.endswith("_bytes") else "s"
                out[f"pipe.{stage}.{key}"] = (_median(totals[s["id"]][key] for s in runs), unit)
        out[f"pipe.{stage}.wall_s"] = (_median(_dur(s) for s in runs), "s")
        for suffix, (key, unit) in STAGE_FIELDS.items():
            out[f"pipe.{stage}.{suffix}"] = (_median(totals[s["id"]][key] for s in runs), unit)

    updates = [s for s in spans if s["name"] == "update"]
    t = [totals[s["id"]] for s in updates]
    out.update({
        "update.jobs": (_median(x["jobs"] for x in t), "count"),
        "update.tasks": (_median(x["tasks"] for x in t), "count"),
        "update.executor_run_s": (_median(x["run_s"] for x in t), "s"),
        "update.in_job_s": (_median(x["in_job_s"] for x in t), "s"),
        "update.outside_job_s": (
            _median(_dur(s) - totals[s["id"]]["in_job_s"] for s in updates), "s"),
        "store.completed_calls": (_median(len(calls(s, "completed")) for s in updates), "count"),
        "store.completed_s": (_median(sum(calls(s, "completed")) for s in updates), "s"),
        "store.lineage_bytes": (
            float(max((s["attrs"]["lineage_bytes"] for s in updates), default=0)), "bytes"),
        "store.overwrite_partitions_s": (
            _median(sum(calls(s, "overwrite_partitions")) for s in updates), "s"),
        "store.read_calls": (_median(len(calls(s, "read")) for s in updates), "count"),
        "store.manifest_calls": (_median(len(calls(s, "manifest")) for s in updates), "count"),
        "store.maintain_s": (float(sum(tracer.durations("maintain"))), "s"),
        "store.bytes_written_per_update": (
            _median(s["attrs"].get("bytes_written", 0) for s in updates), "bytes"),
        "store.files_per_update": (
            _median(s["attrs"].get("files_written", 0) for s in updates), "count"),
    })

    requests = [s for s in spans if s["name"].startswith("serve.")]
    for tool in SERVE_TOOLS:
        out[f"serve.{tool}_s"] = (_median(tracer.durations(f"serve.{tool}")), "s")
    out.update({
        "serve.jobs_per_request": (_mean(totals[s["id"]]["jobs"] for s in requests), "count"),
        "serve.store_reads_per_request": (_mean(len(calls(s, "read")) for s in requests), "count"),
        "serve.update_s": (_median(_dur(s) for s in updates), "s"),
        "host.noise_probe_s": (noise_probe_s, "s"),
    })

    ratio = 0.0
    if os.path.exists(untraced_path):
        with open(untraced_path) as fh:
            ratio = op_p50_s / json.load(fh)["op_p50_s"]
    out["trace.overhead_ratio"] = (ratio, "ratio")

    print(f"  per-layer ({workload}); 0 marks a layer this workload does not run")
    for name, (value, unit) in out.items():
        print(f"    {name:<36} {value:16.6f} {unit}")
    if not ratio:
        print("    trace.overhead_ratio: no untraced run of this workload in this checkout yet")
    if updates:
        print("    update series: lineage_bytes  completed_calls  completed_s  update_s")
        for s in updates:
            c = calls(s, "completed")
            print(f"      {s['attrs']['lineage_bytes']:>12}  {len(c):>6}  "
                  f"{sum(c):10.4f}  {_dur(s):8.3f}")
    print("    suite.* (the __spark_entry__ operator suite) is not measured: "
          "see perfbench/README.md")
    return out
