"""Benchmark for the climateiq_pipelines_spark engine.

    python3 perfbench/run.py --workload tpch-join --seed 1 --seconds 15 --trace 0

Run from the repository root.  Each run launches fresh Python processes
(perfbench/worker.py) that set up the package's own Spark session on
local[nproc] over the sf0.01 fixtures in perfbench/data.  One client
runs the workload's keys one after another (a closed loop); the seed
permutes their order within each pass.  Every result is checked against
its DuckDB oracle.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(spans around the package's public calls plus the Spark event log).
The last stdout line is the result object; the line before it is the
run's full record (every pass, the host state, failures), which is also
written to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import procfs
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(HERE, "out")
PACKAGE = "climateiq_pipelines_spark"

# Fresh-process set-ups per run; setup_s is their median.  The main
# worker's own set-up is one of them.
SETUP_SAMPLES = 2
# A run must end within 180 s; workers are killed at this deadline.
RUN_DEADLINE_S = 165
RSS_POLL_S = 0.25
# session.get_spark's default heap (24g) is sized for sf0.1 and up; at
# sf0.01 the JVM would grow its heap by GC timing alone, which makes
# peak RSS wander run to run.
DRIVER_MEMORY = "2g"
# Driver JVM flags that make a run repeatable on a few shared cores.
# C1 only: with the C2 compiler, pass times and CPU kept falling for 15+
# passes and compile threads burned CPU at random points, so a run's
# median depended on how far it got along that curve.  C1 reaches its
# plateau within a few passes; its code cache is raised from 48 MB so a
# full cache never switches the compiler off mid-run.  Serial GC on a
# fixed-size heap: one GC thread, and no heap resizing driven by GC timing.
# Transparent huge pages for the heap (the system setting is madvise, so
# the heap gets none without the flag): warm passes ran 7-18% faster.
DRIVER_JVM_FLAGS = (f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
                    f"-XX:+UseSerialGC -XX:+UseTransparentHugePages -Xms{DRIVER_MEMORY}")

# End-to-end metrics.  The cold pass is not one: its run-to-run spread
# (IQR/median up to 0.15 over ten runs) is too wide for a bound, so the
# traced run reports it as cold.pass_s.
END_TO_END_UNITS = {"setup_s": "s", "warm_pass_s": "s", "warm_cpu_s": "s",
                    "peak_rss_mb": "MB"}


class RssSampler(threading.Thread):
    """Polls the resident memory (PSS) of a process tree; keeps the peak."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak_mb, self.pids = pid, 0.0, {pid}
        self.peak_parts: dict[str, float] = {}  # process name -> MB at the peak
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(RSS_POLL_S):
            pids = procfs.tree_pids(self.pid)
            self.pids.update(pids)
            sizes = [(procfs.comm(p), procfs.pss_mb(p)) for p in pids]
            total = sum(mb for _, mb in sizes)
            if total > self.peak_mb:
                self.peak_mb, self.peak_parts = total, {}
                for name, mb in sizes:
                    self.peak_parts[name] = self.peak_parts.get(name, 0.0) + mb

    def stop(self) -> None:
        self._done.set()
        self.join()


def worker_env(root: str, trace: bool) -> dict:
    """Keep every file Spark, the JVM and the operators write inside
    perfbench/out; turn the event log on for traced runs only."""
    tmp = os.path.join(OUT, "tmp")
    local = os.path.join(OUT, "spark-local")
    events = os.path.join(OUT, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", f"{jvm_opts} {DRIVER_JVM_FLAGS}"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })
    return env


def launch(args, env: dict, name: str, setup_only: bool, deadline: float) -> dict:
    """Run one worker to completion and return its record, with the
    peak memory of its process tree added."""
    record = os.path.join(OUT, f"{name}.json")
    if os.path.exists(record):
        os.remove(record)
    workdir = os.path.join(OUT, "work")
    os.makedirs(workdir, exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA, "--record", record,
           "--spawned-at", repr(time.monotonic())]
    if setup_only:
        cmd.append("--setup-only")
    log = open(os.path.join(OUT, f"{name}.log"), "w")
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        sampler.stop()
        log.close()
        reap(proc.pid, sampler.pids)
    if rc != 0:
        raise RuntimeError(f"{name} worker failed (exit {rc}); see {log.name}")
    with open(record) as f:
        rec = json.load(f)
    rec.update(peak_rss_mb=sampler.peak_mb, peak_by_process_mb=sampler.peak_parts)
    return rec


def reap(pgid: int, pids: set[int]) -> None:
    """Kill whatever the worker left behind and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.05)
    raise RuntimeError(f"worker processes did not exit: {sorted(pids)}")


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def summarize(record: dict) -> dict:
    """End-to-end metrics from a run's raw record (the benchmark's test
    recomputes them from the same fields)."""
    warm = [p for p in record["passes"] if p["phase"] == "window"]
    return {
        "setup_s": statistics.median(s["setup_s"] for s in record["setups"]),
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "warm_cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "peak_rss_mb": record["peak_rss_mb"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # A SIGTERM unwinds through launch(), which kills and reaps the worker.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    shutil.rmtree(os.path.join(OUT, "eventlog"), ignore_errors=True)
    env = worker_env(root, bool(args.trace))

    deadline = time.monotonic() + RUN_DEADLINE_S
    host = {"before": procfs.host_state()}
    ticks0 = procfs.cpu_times()
    setups = []
    for i in range(SETUP_SAMPLES - 1):
        setups.append(launch(args, env, f"setup{i}", True, deadline)["setup"])
    record = launch(args, env, "main", False, deadline)
    host["after"] = procfs.host_state()
    host["steal_share"] = procfs.steal_share(ticks0, procfs.cpu_times())
    setups.append(record["setup"])
    record.update(setups=setups, host=host, workload=args.workload,
                  seed=args.seed, seconds=args.seconds, trace=args.trace,
                  jvm_flags=DRIVER_JVM_FLAGS,
                  warmup_passes=sum(p["phase"] == "warmup" for p in record["passes"]))

    if args.trace:
        import layers

        metrics = layers.per_layer(record, os.path.join(OUT, "eventlog"))
        units = layers.UNITS
    else:
        metrics = summarize(record)
        units = END_TO_END_UNITS
    record["metrics"] = metrics
    spans = record.pop("spans")
    with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(dict(record, spans=spans), f)
    print(json.dumps(record))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
