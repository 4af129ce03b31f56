"""One benchmark session, launched by run.py.

Sets up the package's Spark session, then (unless --setup-only) runs a
cold pass, the warm-up passes and warm passes until --seconds have been
measured.  Every call's result is checked against its DuckDB oracle
outside the timed region.  The record is written as JSON to --record.

With --trace 1 each call is split into spans at the package's public
boundaries (build, plan, action, release) and Spark jobs are tagged
with the key through setJobDescription; run.py nests the jobs from the
event log under these spans.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import procfs
from workloads import WORKLOADS, pass_order

# The window keeps going past --seconds until it holds this many passes,
# so every median has enough samples behind it.
MIN_WINDOW_PASSES = 3


class Tracer:
    """Spans kept in memory and returned with the record.  Times are
    epoch seconds so they line up with the event log's epoch ms."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def open(self, name: str, parent: int | None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": time.time(), "end": None, **attrs})
        return len(self.spans) - 1

    def close(self, sid: int, **attrs) -> None:
        self.spans[sid]["end"] = time.time()
        self.spans[sid].update(attrs)


def setup(data: str, cpus: int):
    """load_all, get_spark and the first scan; returns (spark, times)."""
    times = {}
    t = time.perf_counter()
    from climateiq_pipelines_spark import plans

    plans.load_all()
    times["load_all_s"] = time.perf_counter() - t
    from climateiq_pipelines_spark.session import get_spark

    t = time.perf_counter()
    # local[nproc] and 8 shuffle partitions: the settings bench.py uses.
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=8)
    times["get_spark_s"] = time.perf_counter() - t
    from climateiq_pipelines_spark.registry import load_table

    t = time.perf_counter()
    load_table(spark, data, "nation").groupBy("n_regionkey").count().toPandas()
    times["first_scan_s"] = time.perf_counter() - t
    return spark, times


def oracle_frames(keys: list[str], data: str) -> dict:
    """Expected result per key, from DuckDB over the same parquet files.
    Keys with an SF-parameterized builder use it (their static text is
    unrolled to a depth measured on one fixture)."""
    from climateiq_pipelines_spark import plans
    from climateiq_pipelines_spark.parity import duck_connect

    con = duck_connect(data)
    try:
        out = {}
        for key in keys:
            build = plans.ORACLE_BUILDERS.get(key)
            out[key] = con.execute(build(data) if build else plans.ORACLES[key]).fetchdf()
        return out
    finally:
        con.close()


def temp_dir_usage() -> tuple[int, int]:
    """Files and bytes under the session's registered temp dirs."""
    from climateiq_pipelines_spark.session import SESSION_TEMP_DIRS

    files = nbytes = 0
    for root in SESSION_TEMP_DIRS:
        for d, _, names in os.walk(root):
            for n in names:
                try:
                    nbytes += os.path.getsize(os.path.join(d, n))
                except OSError:
                    continue
                files += 1
    return files, nbytes


def plain_call(spark, key: str, data: str):
    from climateiq_pipelines_spark.plans import QUERIES
    from climateiq_pipelines_spark.session import release_blocks

    pdf = QUERIES[key](spark, data).toPandas()
    release_blocks(spark, keep_lazy_metadata=True)
    return pdf


def traced_call(spark, key: str, data: str, tr: Tracer, parent: int):
    from climateiq_pipelines_spark.plans import QUERIES
    from climateiq_pipelines_spark.session import release_blocks

    fn = QUERIES[key]
    # operators / sources / streaming: the package that registered the key.
    package = fn.__module__.split(".")[1]
    sc = spark.sparkContext
    k = tr.open("key", parent, key=key)
    sc.setJobDescription(f"perfbench {key}")
    try:
        s = tr.open("build", k, package=package)
        df = fn(spark, data)
        tr.close(s)
        s = tr.open("plan", k)
        df._jdf.queryExecution().executedPlan()
        tr.close(s)
        s = tr.open("action", k)
        pdf = df.toPandas()
        tr.close(s)
        s = tr.open("measure", k)
        files, nbytes = temp_dir_usage()
        tr.close(s, files=files, bytes=nbytes)
        s = tr.open("release", k)
        rdds = release_blocks(spark, keep_lazy_metadata=True)
        tr.close(s, rdds=rdds)
    finally:
        sc.setJobDescription(None)
        for span in tr.spans[k:]:  # a raise leaves the inner span open
            if span["end"] is None:
                tr.close(span["id"])
    return pdf


def check_pass(order: list[str], results: dict, errors: dict, expected: dict) -> list[dict]:
    """Failed calls of one pass: those that raised and those whose result
    differs from the oracle's.  Runs outside the timed region."""
    from climateiq_pipelines_spark.parity import compare_frames

    failed = []
    for key in order:
        if key in errors:
            failed.append({"key": key, "reason": errors[key]})
            continue
        res = compare_frames(key, results[key], expected[key])
        if not res.ok:
            failed.append({"key": key, "reason": "; ".join(res.reasons[:4])})
    return failed


def run_passes(spark, args, expected: dict, tr: Tracer | None, rec: dict) -> None:
    from climateiq_pipelines_spark.session import release_blocks

    me = os.getpid()
    window_start = None
    index = 0
    while True:
        if index == 0:
            phase = "cold"
        elif index <= WORKLOADS[args.workload].warmup_passes:
            phase = "warmup"
        else:
            phase = "window"
            if window_start is None:
                window_start = time.perf_counter()
            elif (time.perf_counter() - window_start >= args.seconds
                  and sum(p["phase"] == "window" for p in rec["passes"]) >= MIN_WINDOW_PASSES):
                break
        order = pass_order(args.workload, args.seed, index)
        results, errors = {}, {}
        ticks0, cpu0 = procfs.cpu_times(), procfs.tree_cpu_s(me)
        pid = tr.open("pass", None, index=index, phase=phase) if tr else None
        t0 = time.perf_counter()
        for key in order:
            try:
                if tr:
                    results[key] = traced_call(spark, key, args.data, tr, pid)
                else:
                    results[key] = plain_call(spark, key, args.data)
            except Exception:  # a failed call is counted, the run goes on
                errors[key] = traceback.format_exc(limit=3)
                release_blocks(spark, keep_lazy_metadata=True)
        wall = time.perf_counter() - t0
        if tr:
            tr.close(pid)
        cpu = procfs.tree_cpu_s(me) - cpu0
        steal = procfs.steal_share(ticks0, procfs.cpu_times())
        failed = check_pass(order, results, errors, expected)
        rec["attempted"] += len(order)
        rec["failed"] += len(failed)
        rec["failures"].extend(dict(f, index=index) for f in failed)
        rec["passes"].append({"index": index, "phase": phase, "wall_s": wall,
                              "cpu_s": cpu, "steal_share": steal, "order": order})
        index += 1


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it also closes the event
    log, which run.py reads next)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--spawned-at", type=float, required=True,
                    help="time.monotonic() of the parent just before launch")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    spark, times = setup(args.data, procfs.host_state()["nproc"])
    times["setup_s"] = time.monotonic() - args.spawned_at
    rec = {"setup": times, "passes": [], "attempted": 0, "failed": 0,
           "failures": [], "spans": []}
    if not args.setup_only:
        tr = Tracer() if args.trace else None
        t = time.perf_counter()
        expected = oracle_frames(WORKLOADS[args.workload].keys, args.data)
        rec["oracle_s"] = time.perf_counter() - t
        run_passes(spark, args, expected, tr, rec)
        if tr:
            rec["spans"] = tr.spans
            rec["app_id"] = spark.sparkContext.applicationId
    stop_session(spark)
    with open(args.record, "w") as f:
        json.dump(rec, f)


if __name__ == "__main__":
    sys.exit(main())
