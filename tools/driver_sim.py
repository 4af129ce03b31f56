"""Driver simulation and full-surface parity sweep — the verification
gate.

Builds a driver-like session (NOT the engine's factory, non-UTC timezone
to catch timestamp_ntz leaks), runs the t1 smoke, then checks every
queries() key against its DuckDB oracle with parity.check_key and the
strict local comparator.  The oracle text comes from parity.oracle_text:
a key with an SF-parameterized builder (plans.ORACLE_BUILDERS) gets its
oracle built for the target sf_dir, every other key uses its static
oracle_sql() text, so the same sweep is a full value check at ANY scale
factor.

Usage: python tools/driver_sim.py [--window] [--fast] [sf_dir]
(default sf_dir /root/testdata/sf0.01, the driver's certification scale)

--window restricts the sweep to the first 50 registration-order keys —
exactly the slice the external driver certifies (plans.ROTATION_WINDOW)
— for fast validation right after a rotation edit, before the full
232-key run.

--fast is for large scale factors: the DIGEST_FAST_KEYS compare a
2-value digest computed inside each engine
(parity_digest.check_key_digest) instead of the strict per-cell
comparator, whose Python canonicalization dominates their wall at sf0.1.
The substitution is named on the key's progress line.  Every key runs
its registered plan.

Environment axes, each recorded in the evidence header: DRIVER_SIM_TZ
(session timezone), DRIVER_SIM_MASTER (local parallelism level) and
DRIVER_SIM_EXTRA_CONF ("k=v[,k=v]" engine confs; a malformed pair
aborts).

Output: one flushed stderr line per key ("[i/n] key: verdict (secs)");
stdout holds the JSON evidence header first, then "ALL n KEYS OK" or
"FAILURES:" with one entry per failed key.  Exit 1 on any failure.
A key that raises and leaves the driver JVM dead (say, a heap
OutOfMemoryError) stops the sweep: one line names that key, and the
keys left unrun are listed instead of each failing on a refused
connection.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "usage: driver_sim.py [--window] [--fast] [sf_dir]"

# Full-projection keys whose strict-comparator cost dominates their
# sweep wall while the engine plan is sub-second.  Membership is a
# deliberate act — a key here loses its per-cell check in FAST sweeps
# only, so it must be covered by the digest mutation pin in
# tests/test_parity_digest.py.
DIGEST_FAST_KEYS = {"fn_math", "proj_computed_columns", "fn_date"}


def evidence_header(
    tz: str,
    sf_dir: str,
    window_only: bool,
    n_keys: int,
    wall_sec: float,
    extra_conf: str = "",
    master: str = "local[8]",
    fast: bool = False,
) -> str:
    """One JSON line embedding the run's own configuration — the first
    stdout line of every sweep, so archived evidence logs are unique and
    self-describing.  ``extra_conf`` is the string the session builder
    PARSED AND APPLIED, passed in rather than re-read from the
    environment at print time, so the header reports the configuration
    that actually ran."""
    from tools.evidence import evidence_line

    return evidence_line(
        "driver_sim",
        tz=tz,
        extra_conf=extra_conf,
        master=master,
        sf_dir=sf_dir,
        window_only=window_only,
        fast=fast,
        n_keys=n_keys,
        wall_sec=round(wall_sec, 1),
    )


def driver_session():
    """(spark, applied) — a session built the way the external driver
    builds one, plus the {tz, master, extra_conf} it was built with.
    Non-UTC by default to catch timestamp_ntz leaks; DRIVER_SIM_MASTER
    varies the local parallelism (and hence partition counts and
    per-partition accumulation order), the local-mode proxy for
    cluster-size independence."""
    from pyspark.sql import SparkSession

    tz = os.environ.get("DRIVER_SIM_TZ", "America/New_York")
    master = os.environ.get("DRIVER_SIM_MASTER", "local[8]")
    builder = (
        SparkSession.builder.master(master)
        .config("spark.sql.session.timeZone", tz)
        .config("spark.ui.enabled", "false")
    )
    # Comma-separated k=v pairs (values must not contain commas).  A
    # malformed pair ABORTS: a typo that silently ran the default
    # config would commit a robustness log evidencing a property that
    # was never tested.
    extra_conf = os.environ.get("DRIVER_SIM_EXTRA_CONF", "")
    for kv in filter(None, extra_conf.split(",")):
        k, eq, v = kv.partition("=")
        if not eq or not k.strip() or not v.strip():
            sys.exit(f"DRIVER_SIM_EXTRA_CONF: malformed pair {kv!r} "
                     "(expected key=value[,key=value...])")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"tz": tz, "master": master, "extra_conf": extra_conf}


def release(spark, after: str) -> None:
    """Best-effort full release_blocks between keys, so per-key timing
    is not order-dependent.  If the JVM just died (a key OOMed) the
    release raises too; swallow it so the run still reaches its
    report."""
    from climateiq_pipelines_spark.session import release_blocks

    try:
        release_blocks(spark)
    except Exception as exc:  # noqa: BLE001
        print(f"# release_blocks failed after {after}: {exc}",
              file=sys.stderr, flush=True)


def jvm_alive(spark) -> bool:
    """True while the driver JVM answers and its SparkContext runs."""
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — a dead gateway raises anything
        return False


def sweep(spark, keys: list[str], sf_dir: str, con,
          fast: bool) -> tuple[list[str], list[str]]:
    """Check ``keys`` in order: (failure lines, keys left unrun).  Keys
    are left unrun only when one raises and the JVM is gone after it."""
    from climateiq_pipelines_spark.parity import check_key
    from climateiq_pipelines_spark.parity_digest import check_key_digest

    bad: list[str] = []
    for i, key in enumerate(keys, 1):
        t_key = time.monotonic()
        digest = fast and key in DIGEST_FAST_KEYS
        try:
            res = (check_key_digest if digest else check_key)(
                key, spark, sf_dir, con)
            if not res.ok:
                verdict = "FAIL"
                bad.append(str(res))
            elif res.oracle_rows < 0:
                verdict = f"rows-only ({res.spark_rows} rows)"
            else:
                verdict = "OK" + (" (digest twin)" if digest else "")
        except Exception as exc:  # noqa: BLE001 — report, don't abort the sweep
            verdict = f"EXC {type(exc).__name__}"
            bad.append(f"[FAIL] {key}: raised {exc}")
            if not jvm_alive(spark):
                print(f"[{i}/{len(keys)}] {key}: {verdict}; the driver JVM "
                      f"is gone, {len(keys) - i} keys not run",
                      file=sys.stderr, flush=True)
                return bad, keys[i:]
        release(spark, key)
        print(f"[{i}/{len(keys)}] {key}: {verdict}"
              f" ({time.monotonic() - t_key:.1f}s)", file=sys.stderr,
              flush=True)
    return bad, []


def parse_args(argv: list[str]) -> tuple[bool, bool, str]:
    """(window_only, fast, sf_dir); exits on anything else, before any
    Spark work — a typo like --Fast must not become the sf_dir."""
    flags = [a for a in argv if a.startswith("-")]
    pos = [a for a in argv if not a.startswith("-")]
    unknown = [a for a in flags if a not in ("--window", "--fast")]
    if unknown or len(pos) > 1:
        sys.exit(f"unknown argument(s) {unknown or pos[1:]}; {USAGE}")
    sf_dir = pos[0] if pos else "/root/testdata/sf0.01"
    return "--window" in flags, "--fast" in flags, sf_dir


def main() -> int:
    t0 = time.monotonic()
    window_only, fast, sf_dir = parse_args(sys.argv[1:])
    spark, applied = driver_session()

    import __spark_entry__ as E
    from climateiq_pipelines_spark.parity import duck_connect

    assert len(E.entry(spark).collect()) > 0, "t1 smoke failed"
    con = duck_connect(sf_dir)
    keys = list(E.queries())
    if window_only:
        # Registration order IS certification priority
        # (plans._apply_rotation_window): slice before sorting.
        keys = keys[:50]
    keys.sort()
    bad, unrun = sweep(spark, keys, sf_dir, con, fast)
    print(evidence_header(sf_dir=sf_dir, window_only=window_only,
                          n_keys=len(keys), wall_sec=time.monotonic() - t0,
                          fast=fast, **applied))
    print("FAILURES:" if bad else f"ALL {len(keys)} KEYS OK")
    for b in bad:
        print(b)
    if unrun:
        print(f"NOT RUN ({len(unrun)}, the driver JVM died): "
              + " ".join(unrun))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
