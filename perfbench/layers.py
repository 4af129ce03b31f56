"""Per-layer metrics of a traced run: spans from worker.py plus the
Spark event log.

Each layer is named after the module it times; ``spark`` is the
PySpark/JVM engine under the package.  A pass's wall time splits into
self times that add up to it exactly:

    {operators,sources,streaming}.build_s  QUERIES[key](spark, sf_dir)
    spark.plan_s                           forced executedPlan()
    spark.outside_jobs_s                   toPandas outside any job
    spark.job_s                            inside Spark jobs, wherever launched
    session.release_s                      release_blocks
    trace.measure_s                        counting temp-dir files (tracing only)
    trace.unattributed_s                   harness time between spans

Jobs are nested under the span whose interval holds their submission
time; a span's self time is its duration minus the union of its
children's intervals.  Stage and task metrics are attributed to the
pass whose interval holds their submission/launch time.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics

PACKAGES = ("operators", "sources", "streaming")
LEAF_LAYER = {"plan": "spark.plan_s", "action": "spark.outside_jobs_s",
              "measure": "trace.measure_s", "release": "session.release_s"}
SELF_LAYERS = tuple(f"{p}.build_s" for p in PACKAGES) + (
    "spark.plan_s", "spark.outside_jobs_s", "spark.job_s", "session.release_s",
    "trace.measure_s", "trace.unattributed_s")

UNITS = {
    "plans.load_all_s": "s", "session.get_spark_s": "s", "registry.first_scan_s": "s",
    **{name: "s" for name in SELF_LAYERS},
    "spark.action_s": "s", "spark.jobs_in_build": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "session.rdds_released": "count",
    "sources.files_written": "count", "sources.mb_written": "MB",
    "cold.pass_s": "s", "cold.build_s": "s", "cold.spark.plan_s": "s",
    "trace.warm_pass_s": "s",
}

_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def read_event_log(path: str) -> dict:
    """Jobs (epoch-second intervals), completed stages and finished
    tasks from one uncompressed event log."""
    jobs: dict[int, dict] = {}
    stages, tasks = [], []
    with open(path) as f:
        for line in f:
            head = line[:48]
            if not any(w in head for w in _WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description")
                jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3, "end": None,
                                     "description": desc}
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stages.append(e["Stage Info"]["Submission Time"] / 1e3)
            else:
                m = e.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "launch": e["Task Info"]["Launch Time"] / 1e3,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "read_mb": (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 1e6,
                    "write_mb": wr.get("Shuffle Bytes Written", 0) / 1e6,
                    "spill_mb": m.get("Disk Bytes Spilled", 0) / 1e6,
                })
    return {"jobs": [dict(j, id=i) for i, j in sorted(jobs.items())],
            "stages": stages, "tasks": tasks}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def nest_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Give each job the id of the innermost leaf span (build, plan,
    action, measure, release) whose interval holds its submission; a job
    outside every leaf goes to the enclosing key or pass span."""
    leaves = sorted((s for s in spans if s["name"] in ("build", *LEAF_LAYER)),
                    key=lambda s: s["start"])
    outer = sorted((s for s in spans if s["name"] in ("key", "pass")),
                   key=lambda s: (s["start"], s["name"] == "key"))
    starts = [s["start"] for s in leaves]
    for job in jobs:
        job["end"] = job["end"] if job["end"] is not None else job["start"]
        i = bisect.bisect_right(starts, job["start"]) - 1
        if i >= 0 and job["start"] <= leaves[i]["end"]:
            job["parent"] = leaves[i]["id"]
            continue
        inside = [s for s in outer if s["start"] <= job["start"] <= s["end"]]
        job["parent"] = inside[-1]["id"] if inside else None


def pass_layers(spans: list[dict], jobs: list[dict], pass_span: dict,
                events: dict) -> dict:
    """Layer values of one traced pass."""
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            by_parent.setdefault(s["parent"], []).append(s)
    jobs_of: dict[int, list[dict]] = {}
    for j in jobs:
        if j.get("parent") is not None:
            jobs_of.setdefault(j["parent"], []).append(j)

    out = {name: 0.0 for name in SELF_LAYERS}
    out.update({"spark.action_s": 0.0, "spark.jobs_in_build": 0, "spark.jobs": 0,
                "session.rdds_released": 0, "sources.files_written": 0,
                "sources.mb_written": 0.0})

    def self_time(span: dict) -> float:
        kids = [(c["start"], c["end"]) for c in by_parent.get(span["id"], [])]
        kids += [(j["start"], j["end"]) for j in jobs_of.get(span["id"], [])]
        return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])

    def job_time(span: dict) -> float:
        js = jobs_of.get(span["id"], [])
        out["spark.jobs"] += len(js)
        return covered([(j["start"], j["end"]) for j in js], span["start"], span["end"])

    # Jobs directly under a pass or key span were launched between
    # leaf spans; they still count as job time.
    out["trace.unattributed_s"] += self_time(pass_span)
    out["spark.job_s"] += job_time(pass_span)
    for key in by_parent.get(pass_span["id"], []):
        out["trace.unattributed_s"] += self_time(key)
        out["spark.job_s"] += job_time(key)
        for leaf in by_parent.get(key["id"], []):
            out["spark.job_s"] += job_time(leaf)
            if leaf["name"] == "build":
                out[f"{leaf['package']}.build_s"] += self_time(leaf)
                out["spark.jobs_in_build"] += len(jobs_of.get(leaf["id"], []))
                continue
            out[LEAF_LAYER[leaf["name"]]] += self_time(leaf)
            if leaf["name"] == "action":
                out["spark.action_s"] += leaf["end"] - leaf["start"]
            elif leaf["name"] == "release":
                out["session.rdds_released"] += leaf["rdds"]
            elif leaf["name"] == "measure":
                out["sources.files_written"] += leaf["files"]
                out["sources.mb_written"] += leaf["bytes"] / 1e6
    lo, hi = pass_span["start"], pass_span["end"]
    out["spark.stages"] = sum(lo <= t <= hi for t in events["stages"])
    tasks = [t for t in events["tasks"] if lo <= t["launch"] <= hi]
    out["spark.tasks"] = len(tasks)
    for name, field in (("spark.executor_run_s", "run_s"), ("spark.executor_cpu_s", "cpu_s"),
                        ("spark.gc_s", "gc_s"), ("spark.shuffle_read_mb", "read_mb"),
                        ("spark.shuffle_write_mb", "write_mb"), ("spark.spill_mb", "spill_mb")):
        out[name] = sum(t[field] for t in tasks)
    out["pass_wall_s"] = hi - lo
    return out


def event_log_path(eventlog_dir: str, app_id: str) -> str:
    for name in os.listdir(eventlog_dir):
        if name.startswith(app_id):
            return os.path.join(eventlog_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {eventlog_dir}")


def per_layer(record: dict, eventlog_dir: str) -> dict:
    """Per-layer metrics: set-up layers are medians over the run's
    set-ups, pass layers medians over its warm (window) passes, and
    cold.* the cold pass."""
    events = read_event_log(event_log_path(eventlog_dir, record["app_id"]))
    spans = record["spans"]
    jobs = events["jobs"]
    nest_jobs(spans, jobs)
    passes = {s["index"]: s for s in spans if s["name"] == "pass"}
    per_pass = {p["index"]: pass_layers(spans, jobs, passes[p["index"]], events)
                for p in record["passes"]}
    # Job spans join the trace after the accounting, which keeps them apart.
    spans.extend({"id": len(spans) + i, "parent": j["parent"], "name": "job", "start": j["start"],
                  "end": j["end"], "job_id": j["id"], "description": j["description"]}
                 for i, j in enumerate(jobs))
    record["pass_layers"] = per_pass
    warm = [per_pass[p["index"]] for p in record["passes"] if p["phase"] == "window"]
    cold = per_pass[record["passes"][0]["index"]]

    out = {
        "plans.load_all_s": statistics.median(s["load_all_s"] for s in record["setups"]),
        "session.get_spark_s": statistics.median(s["get_spark_s"] for s in record["setups"]),
        "registry.first_scan_s": statistics.median(s["first_scan_s"] for s in record["setups"]),
    }
    for name in UNITS:
        if name not in out and not name.startswith("cold.") and name != "trace.warm_pass_s":
            out[name] = statistics.median(p[name] for p in warm)
    out["cold.pass_s"] = cold["pass_wall_s"]
    out["cold.build_s"] = sum(cold[f"{p}.build_s"] for p in PACKAGES)
    out["cold.spark.plan_s"] = cold["spark.plan_s"]
    out["trace.warm_pass_s"] = statistics.median(p["pass_wall_s"] for p in warm)
    return out
