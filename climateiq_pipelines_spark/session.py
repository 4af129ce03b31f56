"""SparkSession factory and the session scope.

Single shared session per process: BASELINE.md shows session startup
(~4.3 s) dominates per-query time (~0.5 s warm) at bench scale, so every
surface (tests, bench, driver entry points) must reuse one session.

Scale notes (100 TB target, local[N] test harness):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion replace hand-tuned partition counts
  when the same plans run on a 1000-executor cluster.
- shuffle.partitions is a *local* default; on a real cluster it is set to
  ~2-3x total cores and AQE coalesces down. Nothing in the engine assumes
  a fixed partition count.
- Arrow enabled so the few Pandas-UDF operators (SURVEY §2.11) move
  columnar batches, not pickled rows.

The session scope
-----------------
This module is the only owner of state the engine keeps between calls
on one session: memoized values (``memo``), the record that checkpoint
blocks exist (``checkpoint``), temp dirs (``new_temp_dir``), catalog
tables (``register_temp_table``) and memory-sink views
(``register_temp_view``).  ``release_blocks`` frees them.  Its rules:

1. Release only after the result is consumed.  Operators return lazy
   frames that read checkpoint blocks and temp dirs, so a frame built
   before a release and acted on after it fails.  Harnesses release
   after ``toPandas``/``collect``, never between build and action.
2. ``release_blocks(spark, keep_lazy_metadata=True)`` keeps the
   ``lazy=True`` memos and nothing else.  A lazy memo holds a plan or a
   scalar that pins no blocks and reads no temp dir (resolved table
   relations, footer probes); its build may not call ``checkpoint``,
   so no memo that survives a release can hold a frame whose blocks
   that release unpersisted (the CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
   class).  Eager memos, tables, views and temp dirs are all freed.
3. The JVM sweep (unpersist every persistent RDD, clear the cache
   manager) runs on every full release.  A keep-metadata release runs
   it only when ``checkpoint`` was called since the last release, and
   one on an empty scope makes no py4j call.
4. The scope resets when the active SparkContext changes, compared with
   ``is`` (no JVM call): memos, tables, views and the checkpoint record
   of a stopped context are dropped.  Temp dirs are files, not context
   state: they stay in ``SESSION_TEMP_DIRS`` until the next release or
   process exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "climateiq-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # No \r progress bars in captured logs: harnesses time and
        # report per key themselves.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def py4j_commands() -> Iterator[list[str]]:
    """Collect the py4j commands the calling thread sends inside the
    block, memory commands (``m``) left out: py4j's finalizer thread and
    Python's GC send those whenever they run, so they are no cost of
    the block and would make one build's count vary run to run."""
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    thread = threading.get_ident()
    sent: list[str] = []
    saved = {cls: cls.send_command for cls in (ClientServerConnection, GatewayConnection)}
    for cls, send in saved.items():
        def counting(self, command, *args, _send=send, **kwargs):
            if threading.get_ident() == thread and not command.startswith("m\n"):
                sent.append(command)
            return _send(self, command, *args, **kwargs)

        cls.send_command = counting
    try:
        yield sent
    finally:
        for cls, send in saved.items():
            cls.send_command = send


class _Scope:
    """Per-SparkContext state; see the module docstring for its rules."""

    def __init__(self) -> None:
        self.reset(None)

    def reset(self, sc: SparkContext | None) -> None:
        self.sc = sc
        # name -> {key: value}.  An eager memo keeps only its latest key,
        # so a sweep over several sf_dirs pins one value per name.
        self.memos: dict[str, dict[Any, Any]] = {}
        self.lazy_memos: dict[str, dict[Any, Any]] = {}
        self.checkpoints = 0  # checkpoint() calls since the last sweep
        self.tables: list[str] = []
        self.views: list[str] = []


_SCOPE = _Scope()

# Temp roots of every context; perfbench reads this list live.
SESSION_TEMP_DIRS: list[str] = []


def _scope(sc: SparkContext | None = None) -> _Scope:
    if sc is None:
        sc = SparkContext._active_spark_context
    if sc is not _SCOPE.sc:
        _SCOPE.reset(sc)
    return _SCOPE


def memo(name: str, key: Any, build: Callable[[], Any], *, lazy: bool = False) -> Any:
    """``build()``'s value, computed once per (name, key) in this scope.
    An eager memo holds one key per name and is freed by every release;
    a ``lazy=True`` memo holds every key and survives a keep-metadata
    release, so its build must not checkpoint."""
    s = _scope()
    entries = (s.lazy_memos if lazy else s.memos).setdefault(name, {})
    if key in entries:
        return entries[key]
    n = s.checkpoints
    value = build()
    if lazy and s.checkpoints != n:
        raise RuntimeError(f"lazy memo {name!r} built a checkpoint; use lazy=False")
    if not lazy:
        entries.clear()
    entries[key] = value
    return value


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, recorded so the next release
    unpersists its blocks.  The blocks live until that release, so the
    returned frame may be part of the operator's result."""
    _scope(df.sparkSession.sparkContext).checkpoints += 1
    return df.localCheckpoint(eager)


def new_temp_dir(tag: str) -> str:
    """Create a scratch dir the next release deletes: operators that
    materialize files return lazy frames reading them, so only the
    harness knows when the dir is dead.  The prefix is always
    ``cps_{tag}_`` so every root can be attributed."""
    path = tempfile.mkdtemp(prefix=f"cps_{tag}_")
    SESSION_TEMP_DIRS.append(path)
    return path


def register_temp_table(name: str) -> str:
    """Register a saveAsTable name the next release drops; its files
    live in a temp dir, so a kept entry would point at a deleted path.
    Returns the name unchanged."""
    _scope().tables.append(name)
    return name


def register_temp_view(name: str) -> str:
    """Register a memory-sink temp view the next release drops; the
    view holds its result rows in driver memory.  Returns the name
    unchanged."""
    _scope().views.append(name)
    return name


def purge_temp_dirs() -> int:
    """Remove every registered temp root; returns how many were
    purged.  Only safe once no live frame reads them (rule 1)."""
    n = 0
    while SESSION_TEMP_DIRS:
        shutil.rmtree(SESSION_TEMP_DIRS.pop(), ignore_errors=True)
        n += 1
    return n


# Sessions that never release (the external driver) still leave no dirs.
atexit.register(purge_temp_dirs)


def _drop_each(names: list[str], drop: Callable[[str], Any]) -> None:
    """Drop every name; one whose drop raised stays for the next release,
    and the rest of the release still runs."""
    failed = []
    while names:
        name = names.pop()
        try:
            drop(name)
        except Exception:  # noqa: BLE001 — dead JVM; retry next release
            failed.append(name)
    names.extend(failed)


def release_blocks(spark: SparkSession, *, keep_lazy_metadata: bool = False) -> int:
    """Free what the scope holds; returns how many persistent RDDs were
    unpersisted.  Call only after the unit's result is consumed.

    A full release also clears the lazy memos and always runs the JVM
    sweep, so it reclaims blocks persisted outside ``checkpoint`` too.
    ``keep_lazy_metadata=True`` is the between-key release: it keeps the
    lazy memos and sweeps only if ``checkpoint`` ran since the last
    release.  Deterministic reclaim keeps a long session's per-key
    timing independent of key order: blocks left to the ContextCleaner
    made one key 13.4 s in one sweep order and 40.5 s in another.
    """
    s = _scope(spark.sparkContext)
    # Memos first: no handle to a checkpoint survives its blocks.
    s.memos.clear()
    if not keep_lazy_metadata:
        s.lazy_memos.clear()
    released = 0
    if s.checkpoints or not keep_lazy_metadata:
        # Snapshot the java.util.Map before unpersisting mutates it.
        # blocking=False: a blocking unpersist waits for every removal
        # ack (~0.2 s per release); nothing reads these blocks again.
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
            released += 1
        spark.catalog.clearCache()
        s.checkpoints = 0
    # Tables before dirs: a table's files live in a registered temp dir.
    _drop_each(s.tables, lambda name: spark.sql(f"DROP TABLE IF EXISTS `{name}`"))
    _drop_each(s.views, lambda name: spark.catalog.dropTempView(name))
    purge_temp_dirs()
    return released
