"""Shuffle-layout determinism probe.

Re-runs tests/test_determinism.py's PROBE_KEYS under
``spark.sql.shuffle.partitions`` ∈ {2, 32, 200} (runtime conf — AQE
picks it up at plan time) and reports STABLE only when all three
canonical frames (parity.canon_frame) are bit-identical.

A plain double SUM fails this probe; the engine's fixed-point
accumulators, rounded-before-rank orderings, and layout-free iterative
loops are what make it pass — at 100 TB the shuffle layout is chosen by
AQE per run, so any layout-sensitive value is a nondeterministic answer.

The session is driver_sim's driver-like session (same DRIVER_SIM_TZ /
DRIVER_SIM_MASTER / DRIVER_SIM_EXTRA_CONF axes, recorded in the
evidence line) with its best-effort release between runs.

Usage: python tools/determinism_probe.py [sf_dir]   (default sf0.1)
Exit 0 iff every key is stable across all three layouts.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PARTITIONS = (2, 32, 200)


def main() -> int:
    t0 = time.monotonic()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from climateiq_pipelines_spark.parity import canon_frame
    from climateiq_pipelines_spark.plans import QUERIES, load_all
    from tests.test_determinism import PROBE_KEYS
    from tools.driver_sim import driver_session, release
    from tools.evidence import evidence_line

    load_all()
    spark, applied = driver_session()

    unstable = []
    for key in PROBE_KEYS:
        baseline = None
        verdict = "STABLE"
        for n in PARTITIONS:
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            canon = canon_frame(QUERIES[key](spark, sf_dir).toPandas())
            release(spark, key)
            if baseline is None:
                baseline = (n, canon)
            elif canon != baseline[1]:
                verdict = f"UNSTABLE (n={n} differs from n={baseline[0]})"
                unstable.append(key)
                break
        print(f"{key}: {verdict}", flush=True)

    print(
        evidence_line(
            "determinism_probe",
            sf_dir=sf_dir,
            partitions=list(PARTITIONS),
            n_keys=len(PROBE_KEYS),
            wall_sec=round(time.monotonic() - t0, 1),
            **applied,
        )
    )
    if unstable:
        print(f"{len(unstable)} UNSTABLE KEYS: {sorted(unstable)}")
        return 1
    print(f"ALL {len(PROBE_KEYS)} KEYS STABLE x{len(PARTITIONS)} LAYOUTS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
