"""The benchmark's workloads: which registered keys one pass runs.

A pass runs every key of its workload once, one after another, in an
order the seed permutes.  The two workloads put their time in different
layers (README.md has the layer table).
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    # Passes after the cold one that are run but not summarised: JVM JIT
    # and codegen caches are still filling and pass times still falling.
    # Read off the pass-time curves in README.md.
    warmup_passes: int


WORKLOADS: dict[str, Workload] = {
    # The read side: TPC-H joins and aggregates, a filtered parquet
    # projection and a windowed aggregate.  Spark planning, scheduling
    # and execution; every Python build is a thin DSL.
    "tpch-join": Workload(
        keys=("q3_shipping_priority", "join_multikey", "agg_pricing_summary",
              "scan_parquet_project", "stream_tumbling_window"),
        warmup_passes=5,
    ),
    # The write side: eager file writes inside the builders (temp dirs
    # registered with the session): a CSV round trip, an exactly-once
    # streaming foreachBatch sink and a bucketed saveAsTable round trip.
    "etl-write": Workload(
        keys=("scan_csv_roundtrip", "stream_txn_exactly_once",
              "join_bucketed_colocated"),
        warmup_passes=2,
    ),
}

# Both workloads hold keys registered by each of the three packages
# (operators, sources, streaming), so every per-package build layer is
# measured on both.


def pass_order(workload: str, seed: int, index: int) -> list[str]:
    """Key order of pass ``index``: a permutation fixed by (seed, index)."""
    keys = list(WORKLOADS[workload].keys)
    random.Random(f"{seed}:{index}").shuffle(keys)
    return keys
