"""bench.py's console contract: the driver keeps only the last ~2,000
characters of the merged stdout/stderr, so the bench session prints no
progress bars and no checkpoint-lineage WARN lines, and stdout is the
one JSON suite line."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_prints_one_json_line_and_no_console_noise(tmp_path):
    # llm_ngram_jaccard checkpoints, so the between-key release
    # unpersists a locally checkpointed RDD (the WARN source).
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMALL,
        SPARK_DRIVER_MEMORY="1g",
        BENCH_DETAIL_PATH=str(tmp_path / "detail.json"),
    )
    out = subprocess.run(
        [sys.executable, "bench.py", "llm_ngram_jaccard"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    merged = out.stdout + out.stderr
    assert "[Stage " not in merged
    assert "locally checkpointed" not in merged
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout
    assert json.loads(lines[0])["n_queries"] == 1
    detail = json.loads((tmp_path / "detail.json").read_text())
    # per-run codegen compilation counts go to the detail file only
    compiles = detail["compiles"]
    assert list(compiles) == ["llm_ngram_jaccard"], compiles
    runs = compiles["llm_ngram_jaccard"]
    assert len(runs) == 2 and all(type(c) is int and c >= 0 for c in runs), runs
    # so does the second run's build layer: seconds and py4j commands
    build = detail["build"]
    assert list(build) == ["llm_ngram_jaccard"], build
    build_s, commands = build["llm_ngram_jaccard"]
    assert type(build_s) is float and build_s > 0, build
    assert type(commands) is int and commands > 0, build


def test_driver_session_turns_console_progress_off():
    """driver_sim and determinism_probe print one stderr line per key;
    a console progress bar would glue "\\r[Stage N:...]" to their
    front.  Built in its own process: driver_session sets the session
    time zone, which must not leak into the shared test session."""
    code = (
        "from tools.driver_sim import driver_session\n"
        "spark, _ = driver_session()\n"
        "print(spark.sparkContext.getConf()"
        ".get('spark.ui.showConsoleProgress'))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, DRIVER_SIM_MASTER="local[1]")
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-1] == "false"
