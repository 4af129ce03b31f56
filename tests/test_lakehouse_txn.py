"""Protocol pins for the round-7 transaction log
(sources/lakehouse_txn.py): atomic-exclusive publish, snapshot
isolation under concurrent commits, time-travel stability, orphan-file
tolerance, and replay correctness. These exercise the PROTOCOL
primitives directly (no Spark needed for most), complementing the two
registered keys' oracle parity.
"""

from __future__ import annotations

import json
import os

from climateiq_pipelines_spark.sources.lakehouse_txn import (
    _active_files,
    _latest_version,
    _log_path,
    _mk_table,
    _read_log,
    _snapshot,
    _try_commit,
    _write_data,
)

from tests.conftest import SF_SMALL


def test_publish_is_atomic_exclusive():
    """Two prepared commits racing for one version: exactly one wins,
    and the loser's record is never visible — not even partially."""
    root = _mk_table("t")
    a = {"version": 1, "add": ["a/f1.parquet"], "read_version": 0, "domain": "*"}
    b = {"version": 1, "add": ["b/f1.parquet"], "read_version": 0, "domain": "*"}
    assert _try_commit(root, 1, a) is True
    assert _try_commit(root, 1, b) is False
    recs = _read_log(root)
    assert recs == [a]
    # no tmp garbage is visible as a commit
    logdir = os.path.join(root, "_log")
    assert sorted(os.listdir(logdir)) == ["00000001.json"]


def test_replay_adds_and_removes():
    root = _mk_table("t")
    assert _try_commit(root, 1, {"version": 1, "add": ["c1/a", "c1/b"],
                                 "read_version": 0, "domain": "*"})
    assert _try_commit(root, 2, {"version": 2, "add": ["c2/c"],
                                 "read_version": 1, "domain": "*"})
    assert _try_commit(root, 3, {"version": 3, "add": ["c3/d"],
                                 "remove": ["c1/a", "c1/b"],
                                 "read_version": 2, "domain": "*"})
    assert _active_files(root, 1) == ["c1/a", "c1/b"]
    assert _active_files(root, 2) == ["c1/a", "c1/b", "c2/c"]
    assert _active_files(root) == ["c2/c", "c3/d"]
    assert _latest_version(root) == 3


def test_snapshot_isolation_and_time_travel(spark):
    """A reader pinned at version 1 sees the identical rows before and
    after a later commit REWRITES the table — immutable files + log
    replay give repeatable reads with zero coordination."""
    from climateiq_pipelines_spark.registry import load_table
    from pyspark.sql import functions as F

    root = _mk_table("t")
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    f1 = _write_data(orders, root, "c1")
    assert _try_commit(root, 1, {"version": 1, "add": f1,
                                 "read_version": 0, "domain": "*"})
    before = _snapshot(spark, root, orders.schema, 1).count()
    # v2 rewrites to half the table
    f2 = _write_data(
        orders.filter(F.col("o_orderkey") % 2 == 0), root, "c2"
    )
    assert _try_commit(root, 2, {"version": 2, "add": f2, "remove": f1,
                                 "read_version": 1, "domain": "*"})
    after_latest = _snapshot(spark, root, orders.schema).count()
    after_pinned = _snapshot(spark, root, orders.schema, 1).count()
    assert after_pinned == before
    assert after_latest < before


def test_orphan_files_are_invisible(spark):
    """Files written but never committed (a crashed writer) must not
    appear in any snapshot — visibility is the log's alone."""
    from climateiq_pipelines_spark.registry import load_table

    root = _mk_table("t")
    orders = load_table(spark, SF_SMALL, "orders").select("o_orderkey")
    f1 = _write_data(orders, root, "committed")
    _write_data(orders, root, "orphan")  # written, never committed
    assert _try_commit(root, 1, {"version": 1, "add": f1,
                                 "read_version": 0, "domain": "*"})
    assert _active_files(root) == f1
    assert _snapshot(spark, root, orders.schema).count() == orders.count()


def test_stream_txn_exactly_once_audit(spark):
    """The exactly-once sink key: exactly one commit despite the
    deliberate replay, counts equal the batch aggregation (no double
    counting — the lost-update/duplicate anomaly the idempotent commit
    prevents)."""
    from climateiq_pipelines_spark.plans import QUERIES
    from climateiq_pipelines_spark.registry import load_table
    import pyspark.sql.functions as F

    pdf = QUERIES["stream_txn_exactly_once"](spark, SF_SMALL).toPandas()
    assert (pdf["n_commits"] == 1).all()
    assert (pdf["n_replays_skipped"] == 1).all()
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .count()
    )
    assert pdf["n_events"].sum() == load_table(spark, SF_SMALL, "events").count()
    assert len(pdf) == batch.count()


def test_checkpoint_read_equals_full_replay():
    """Checkpoint + tail must reconstruct exactly the full-replay
    active set, duplicates are no-ops, and the reader replays only the
    post-checkpoint tail."""
    from climateiq_pipelines_spark.sources.lakehouse_txn import (
        _read_via_checkpoint,
        _write_checkpoint,
    )

    root = _mk_table("t")
    assert _try_commit(root, 1, {"version": 1, "add": ["a/1", "a/2"],
                                 "read_version": 0, "domain": "*"})
    assert _try_commit(root, 2, {"version": 2, "add": ["b/1"],
                                 "read_version": 1, "domain": "*"})
    _write_checkpoint(root, 2)
    _write_checkpoint(root, 2)  # duplicate: harmless
    assert _try_commit(root, 3, {"version": 3, "add": ["c/1"],
                                 "remove": ["a/1"],
                                 "read_version": 2, "domain": "*"})
    active, cp_ver, tail = _read_via_checkpoint(root)
    assert cp_ver == 2 and tail == 1
    assert active == _active_files(root) == ["a/2", "b/1", "c/1"]


def test_log_records_are_durable_json():
    """Each committed record round-trips through the file it published
    (what a recovering writer/reader actually replays)."""
    root = _mk_table("t")
    rec = {"version": 1, "add": ["x/y"], "read_version": 0,
           "domain": "2-HIGH", "remove": []}
    assert _try_commit(root, 1, rec)
    on_disk = json.load(open(_log_path(root, 1)))
    assert on_disk == rec


def test_protocol_checks_survive_python_O():
    """Round-12 review: every commit publish used to run as a side
    effect inside an ``assert`` — ``python -O`` strips asserts, so the
    whole transaction history silently vanished under PYTHONOPTIMIZE.
    Pin (a) functionally: the must-win/must-lose helpers raise on
    protocol violation through a plain ``if``; (b) statically: no
    side-effectful ``assert _try_commit`` pattern survives anywhere in
    the txn modules."""
    import inspect

    import pytest

    import climateiq_pipelines_spark.sources.lakehouse_txn as LT
    import climateiq_pipelines_spark.streaming.txn_sink as TS

    root = _mk_table("t")
    rec = {"version": 1, "add": ["x"], "read_version": 0, "domain": "*"}
    LT._commit_must_win(root, 1, rec)            # free slot: succeeds
    with pytest.raises(RuntimeError, match="unexpectedly lost"):
        LT._commit_must_win(root, 1, rec)        # taken slot: raises
    LT._commit_must_lose(root, 1, rec)           # taken slot: succeeds
    with pytest.raises(RuntimeError, match="unexpectedly WON"):
        LT._commit_must_lose(root, 2, rec)       # free slot: raises
    # ADVICE r12: the raising probe RETRACTS the record it just linked
    # — previously the stale commit stayed in _log, so a later
    # _read_log/_snapshot on the abandoned root replayed the bogus
    # version as committed history.  The root is abandoned AND clean.
    assert not os.path.exists(LT._log_path(root, 2))
    assert [r["version"] for r in LT._read_log(root)] == [1]

    for mod in (LT, TS):
        src = inspect.getsource(mod)
        assert "assert _try_commit" not in src, mod.__name__
        assert "assert not _try_commit" not in src, mod.__name__


def test_checkpoint_and_commit_share_one_publish_recipe():
    """Round-12 review: _write_checkpoint carried a hand-rolled twin of
    the tmp+json+atomic-link sequence; a durability fix would have had
    to land twice. Both paths must route through _publish_atomic."""
    import inspect

    import climateiq_pipelines_spark.sources.lakehouse_txn as LT

    assert "_publish_atomic(" in inspect.getsource(LT._write_checkpoint)
    assert "_publish_atomic(" in inspect.getsource(LT._try_commit)
    # the helper is the ONLY place the link recipe lives (AST count —
    # the module docstring also mentions os.link in prose)
    import ast

    tree = ast.parse(inspect.getsource(LT))
    links = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call) and ast.unparse(n.func) == "os.link"
    ]
    assert len(links) == 1


def test_commit_idempotent_four_outcomes():
    """The idempotent-commit recipe is lakehouse_txn's PUBLIC seam.  Pin
    all four outcomes: fresh commit writes and claims; an empty batch
    (the write callable returns no files) claims nothing; a replayed
    delivery (same batch_id) skips WITHOUT invoking the write callable;
    a foreign holder of the version raises (plain raise — survives
    python -O)."""
    import pytest

    import climateiq_pipelines_spark.sources.lakehouse_txn as LT

    root = _mk_table("idem")
    calls = []

    def write():
        calls.append(1)
        return ["batch_7/part-0.parquet"]

    # an empty batch: no log record, no data directory, version free
    assert LT.commit_idempotent(root, 6, lambda: []) == "empty"
    assert LT._read_log(root) == []
    assert os.listdir(os.path.join(root, "data")) == []

    assert LT.commit_idempotent(root, 7, write) == "committed"
    assert calls == [1]
    # replay of the same batch: no second write, no duplicate commit
    assert LT.commit_idempotent(root, 7, write) == "replay_skipped"
    assert calls == [1]
    assert [r["version"] for r in LT._read_log(root)] == [8]
    # a foreign batch holding the version is an invariant break
    LT._commit_must_win(
        root, 9, {"version": 9, "add": [], "read_version": 8,
                  "domain": "*", "batch_id": 999},
    )
    with pytest.raises(RuntimeError, match="different batch"):
        LT.commit_idempotent(root, 8, write)
    assert calls == [1]  # the foreign-holder path never writes


def test_txn_sink_commits_nothing_for_an_empty_batch(spark):
    """The exactly-once sink fed an empty micro-batch writes, sees the
    write's observed row count of 0, deletes the group and commits
    nothing: no log record, no data group, audit counts 0/0."""
    from collections import Counter

    from climateiq_pipelines_spark.streaming.txn_sink import exactly_once_sink

    root = _mk_table("empty")
    audit = Counter()
    sink = exactly_once_sink(root, audit)
    empty = spark.createDataFrame(
        [], "win_start timestamp, event_type string, n_events bigint"
    )
    sink(empty, 0)
    assert (audit["committed"], audit["replay_skipped"]) == (0, 0)
    assert audit["empty"] == 1
    assert _read_log(root) == []
    assert os.listdir(os.path.join(root, "data")) == []
