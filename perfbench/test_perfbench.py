"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

RECORDS = sorted(glob.glob(os.path.join(HERE, "records", "*.json")))


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


@pytest.mark.parametrize("path", [p for p in RECORDS if p.endswith("-trace0.json")])
def test_summary_is_recomputed_from_the_raw_record(path):
    rec = load(path)
    assert rec["warmup_passes"] == WORKLOADS[rec["workload"]].warmup_passes
    phases = [p["phase"] for p in rec["passes"]]
    assert phases == (["cold"] + ["warmup"] * rec["warmup_passes"]
                      + ["window"] * (len(phases) - 1 - rec["warmup_passes"]))
    assert phases.count("window") >= worker.MIN_WINDOW_PASSES
    assert run.summarize(rec) == rec["metrics"]
    warm = [p for p in rec["passes"] if p["phase"] == "window"]
    assert rec["metrics"]["warm_pass_s"] == statistics.median(p["wall_s"] for p in warm)
    assert rec["attempted"] == len(rec["passes"]) * len(WORKLOADS[rec["workload"]].keys)
    assert rec["failed"] == len(rec["failures"]) == 0
    for p in rec["passes"]:
        assert p["order"] == pass_order(rec["workload"], rec["seed"], p["index"])
    assert set(rec["host"]) == {"before", "after", "steal_share"}


@pytest.mark.parametrize("path", [p for p in RECORDS if p.endswith("-trace1.json")])
def test_traced_layers_are_recomputed_from_the_spans(path):
    rec = load(path)
    assert set(rec["metrics"]) == set(layers.UNITS)
    spans = [s for s in rec["spans"] if s["name"] != "job"]
    jobs = [{k: s[k] for k in ("start", "end", "description")} for s in rec["spans"]
            if s["name"] == "job"]
    layers.nest_jobs(spans, jobs)
    no_tasks = {"stages": [], "tasks": []}
    for p in rec["passes"]:
        stored = rec["pass_layers"][str(p["index"])]
        pass_span = next(s for s in spans if s["name"] == "pass" and s["index"] == p["index"])
        again = layers.pass_layers(spans, jobs, pass_span, no_tasks)
        for name in (*layers.SELF_LAYERS, "spark.action_s", "spark.jobs", "spark.jobs_in_build",
                     "session.rdds_released", "sources.files_written"):
            assert again[name] == pytest.approx(stored[name], abs=1e-9), name
        # The self times add up to the traced pass wall.
        total = sum(stored[name] for name in layers.SELF_LAYERS)
        assert total == pytest.approx(stored["pass_wall_s"], abs=1e-6)
        assert min(stored[name] for name in layers.SELF_LAYERS) >= -1e-6
    warm = [rec["pass_layers"][str(p["index"])] for p in rec["passes"] if p["phase"] == "window"]
    for name in ("spark.job_s", "spark.tasks", "session.release_s"):
        assert rec["metrics"][name] == statistics.median(w[name] for w in warm)
    assert rec["metrics"]["trace.warm_pass_s"] == statistics.median(w["pass_wall_s"] for w in warm)


def test_layers_split_a_synthetic_pass():
    spans = [
        {"id": 0, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "key", "start": 0.5, "end": 9.5},
        {"id": 2, "parent": 1, "name": "build", "start": 0.5, "end": 3.0, "package": "sources"},
        {"id": 3, "parent": 1, "name": "plan", "start": 3.0, "end": 3.5},
        {"id": 4, "parent": 1, "name": "action", "start": 3.5, "end": 8.0},
        {"id": 5, "parent": 1, "name": "measure", "start": 8.0, "end": 8.1, "files": 3,
         "bytes": 2e6},
        {"id": 6, "parent": 1, "name": "release", "start": 8.1, "end": 9.0, "rdds": 2},
    ]
    jobs = [  # one job in the build, two overlapping ones in the action
        {"id": 0, "start": 1.0, "end": 2.0, "description": None},
        {"id": 1, "start": 4.0, "end": 6.0, "description": None},
        {"id": 2, "start": 5.0, "end": 7.0, "description": None},
    ]
    events = {"stages": [1.0, 4.0, 5.0, 11.0],
              "tasks": [{"launch": 1.0, "run_s": 0.5, "cpu_s": 0.4, "gc_s": 0.0,
                         "read_mb": 0.0, "write_mb": 1.0, "spill_mb": 0.0},
                        {"launch": 12.0, "run_s": 9.0, "cpu_s": 9.0, "gc_s": 9.0,
                         "read_mb": 9.0, "write_mb": 9.0, "spill_mb": 9.0}]}
    layers.nest_jobs(spans, jobs)
    assert [j["parent"] for j in jobs] == [2, 4, 4]
    out = layers.pass_layers(spans, jobs, spans[0], events)
    assert out["sources.build_s"] == pytest.approx(1.5)
    assert out["spark.job_s"] == pytest.approx(4.0)
    assert out["spark.outside_jobs_s"] == pytest.approx(1.5)
    assert out["spark.action_s"] == pytest.approx(4.5)
    assert out["spark.plan_s"] == pytest.approx(0.5)
    assert out["session.release_s"] == pytest.approx(0.9)
    assert out["trace.unattributed_s"] == pytest.approx(1.5)  # 0.5 + 0.5 + 0.5
    assert sum(out[n] for n in layers.SELF_LAYERS) == pytest.approx(10.0)
    assert (out["spark.jobs"], out["spark.jobs_in_build"], out["spark.stages"],
            out["spark.tasks"]) == (3, 1, 3, 1)
    assert (out["session.rdds_released"], out["sources.files_written"]) == (2, 3)
    assert out["sources.mb_written"] == pytest.approx(2.0)
    assert out["spark.shuffle_write_mb"] == pytest.approx(1.0)


def test_a_corrupted_expected_result_is_a_failed_call():
    from climateiq_pipelines_spark import plans

    plans.load_all()
    keys = [wl.keys[0] for wl in WORKLOADS.values()]
    expected = worker.oracle_frames(keys, run.DATA)  # DuckDB only, no Spark
    results = {k: df.copy() for k, df in expected.items()}
    assert worker.check_pass(keys, results, {}, expected) == []

    corrupted = {k: df.copy() for k, df in expected.items()}
    corrupted[keys[0]].iloc[0, 0] = None
    failures = worker.check_pass(keys, results, {keys[1]: "Traceback: boom"}, corrupted)
    assert [f["key"] for f in failures] == keys
    assert failures[0]["reason"]


def test_the_seed_permutes_key_order_within_each_pass():
    for name, wl in WORKLOADS.items():
        orders = [pass_order(name, 7, i) for i in range(20)]
        assert all(sorted(o) == sorted(wl.keys) for o in orders)
        assert orders == [pass_order(name, 7, i) for i in range(20)]
        assert len({tuple(o) for o in orders}) > 1
        assert orders != [pass_order(name, 8, i) for i in range(20)]


def test_steal_share_reads_the_steal_column():
    before = [100, 0, 50, 800, 10, 0, 5, 35, 0, 0]
    after = [200, 0, 100, 1600, 20, 0, 10, 70, 0, 0]
    assert run.procfs.steal_share(before, after) == pytest.approx(35 / 1000)
