"""Adversarial edge-case fixture builder (SURVEY §5.2 #2).

Writes all ten tables to a temp dir with the EXACT physical parquet
types of the driver fixtures (int32 dims, float32 embedding lists,
TIMESTAMP(MICROS) events — via pyarrow),
but with values the friendly fixtures never contain:

- events: inactivity gaps exactly at the 30-min session boundary and
  1 µs past it; out-of-order arrival (event_id vs ts) for watermark and
  dedup keys; value exactly 10 (the > 10 filter boundary)
- orders: tied o_totalprice inside a segment (argmax tie-break), same
  orderdate per customer (running-sum tie), prices straddling CASE
  bucket edges
- lineitem: quantity at the BETWEEN bounds, discount exactly 0.05
  (strict > boundary), equal revenue rows (top-k tie-break)
- documents: exact duplicates, a token-set permutation pair, a
  single-token doc, text shorter than the 64-byte frame width
- embeddings: bit-identical duplicate vectors (cosine ties), negative
  components, a vector equal to another scaled (normalize parity)

tests/test_edges.py runs the full oracle-parity comparator over this
dir, so both engines must agree on every boundary.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

_T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev_us(minutes: float = 0.0, micros: int = 0) -> int:
    t = _T0 + dt.timedelta(minutes=minutes, microseconds=micros)
    return int(t.timestamp() * 1_000_000)


def _ts_us(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(1996, 1, day, hour, 0, 0)


def build_edge_fixture(out_dir: str) -> str:
    """Write the ten tables into out_dir; returns out_dir."""

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, f"{out_dir}/{name}.parquet")

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    write(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array([0, 1, 2, 3, 4], i32),
                "r_name": pa.array(
                    ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s
                ),
            }
        ),
    )
    write(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(list(range(5)), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(5)], s),
                "n_regionkey": pa.array([0, 1, 2, 2, 4], i32),
            }
        ),
    )
    write(
        "customer",
        pa.table(
            {
                "c_custkey": pa.array([0, 1, 2, 3], i64),
                "c_name": pa.array([f"cust{i}" for i in range(4)], s),
                "c_nationkey": pa.array([0, 1, 2, 2], i32),
                # negative balance + a tie at 5000 (the union filter edge)
                "c_acctbal": pa.array([-10.5, 5000.0, 5000.5, 9999.99], f64),
                "c_mktsegment": pa.array(
                    ["MACHINERY", "BUILDING", "MACHINERY", "BUILDING"], s
                ),
            }
        ),
    )
    write(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array([0, 1, 2], i64),
                "s_name": pa.array(["sa", "sb", "sc"], s),
                "s_nationkey": pa.array([0, 0, 2], i32),
                # exact acctbal tie inside nation 0 → rank/ntile ties
                "s_acctbal": pa.array([100.0, 100.0, 50.0], f64),
            }
        ),
    )
    write(
        "part",
        pa.table(
            {
                "p_partkey": pa.array([0, 1], i64),
                "p_name": pa.array(["alpha beta", "gamma"], s),
                "p_brand": pa.array(["Brand#1", "Brand#25"], s),
                "p_type": pa.array(["ECONOMY BRASS", "PROMO STEEL"], s),
                "p_size": pa.array([1, 50], i32),
                "p_retailprice": pa.array([1.5, 2.5], f64),
            }
        ),
    )
    ts_us = pa.timestamp("us")
    write(
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array([0, 1, 2, 3, 4], i64),
                # custkey 3 has NO orders (left/anti edges)
                "o_custkey": pa.array([0, 0, 1, 1, 2], i64),
                "o_orderstatus": pa.array(["O", "F", "O", "F", "P"], s),
                # exact tie 150000.0 for custkey 0 AND across segment;
                # 50000.0 sits exactly on a CASE bucket edge
                "o_totalprice": pa.array(
                    [150000.0, 150000.0, 50000.0, 300000.0, 150000.0], f64
                ),
                # same orderdate for custkey 0 → running-sum tie-break on key
                "o_orderdate": pa.array(
                    [_ts_us(10), _ts_us(10), _ts_us(11), _ts_us(12), _ts_us(13)],
                    ts_us,
                ),
                "o_orderpriority": pa.array(
                    ["1-URGENT", "1-URGENT", "2-HIGH", "5-LOW", "2-HIGH"], s
                ),
            }
        ),
    )
    write(
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array([0, 0, 1, 2, 3], i64),
                "l_partkey": pa.array([0, 1, 0, 1, 0], i64),
                "l_suppkey": pa.array([0, 1, 2, 0, 1], i64),
                "l_linenumber": pa.array([1, 2, 1, 1, 1], i32),
                # quantity at BETWEEN 10 AND 20 bounds
                "l_quantity": pa.array([10.0, 20.0, 15.0, 21.0, 9.0], f64),
                "l_extendedprice": pa.array(
                    [1000.0, 2000.0, 1000.0, 500.0, 800.0], f64
                ),
                # discount exactly 0.05 (strict > excludes it); equal
                # revenue rows 0 and 2 (top-k tie)
                "l_discount": pa.array([0.05, 0.06, 0.05, 0.0, 0.1], f64),
                "l_tax": pa.array([0.0, 0.08, 0.04, 0.02, 0.01], f64),
                "l_returnflag": pa.array(["A", "N", "R", "N", "R"], s),
                "l_linestatus": pa.array(["O", "F", "O", "F", "O"], s),
                "l_shipdate": pa.array(
                    [_ts_us(2), _ts_us(3), _ts_us(4), _ts_us(5), _ts_us(6)],
                    ts_us,
                ),
            }
        ),
    )

    # events: arrival order (event_id) deliberately != time order.
    #   user 0: gap of exactly 30:00 (same session), then 30:00.000001
    #   (new session); value exactly 10 at the > 10 boundary.
    #   event 4 arrives late (event_id 4, ts far in the past) → watermark
    #   drop; duplicate (user, type) pairs where the FIRST ARRIVAL has
    #   the LATER timestamp (dedup must keep arrival order, not ts).
    ev_ts = [
        _ev_us(0),                # id 0 u0 click
        _ev_us(30),               # id 1 u0 click: gap == 30:00 → same session
        _ev_us(60, 1),            # id 2 u0 click: gap 30:00.000001 → new
        _ev_us(90),               # id 3 u1 view (watermark anchor)
        _ev_us(25),               # id 4 u1 view: LATE (> 1h before max) → drop
        _ev_us(91),               # id 5 u1 purchase
        _ev_us(95),               # id 6 u1 view duplicate (first arrival later ts than id 4!)
        _ev_us(100),              # id 7 u0 purchase
    ]
    write(
        "events",
        pa.table(
            {
                "event_id": pa.array(list(range(8)), i64),
                "ts": pa.array(ev_ts, pa.timestamp("us")),
                "user_id": pa.array([0, 0, 0, 1, 1, 1, 1, 0], i64),
                "event_type": pa.array(
                    [
                        "click", "click", "click", "view", "view",
                        "purchase", "view", "purchase",
                    ],
                    s,
                ),
                "value": pa.array(
                    [10.0, 10.5, -1.25, 3.0, 2.0, 40.0, 10.0, 0.0], f64
                ),
                "props": pa.array(
                    ['{"k": 0}', '{"k": -3}', '{"k": 7}', '{"k": 1}',
                     '{"k": 2}', '{"k": 99}', '{"k": 4}', '{"k": 5}'],
                    s,
                ),
            }
        ),
    )

    texts = [
        "spark query engine fast",      # 0
        "spark query engine fast",      # 1: exact duplicate of 0
        "fast engine query spark",      # 2: permutation of 0 (near-dup)
        "row",                          # 3: single token, shorter than frame
        "the quick table scan join group sort window filter merge hash "
        "batch stream column vector value key part line order big small "
        "slow data dup agg customer",   # 4: long, > 64 chars
        "scan scan scan scan scan",     # 5: repeated token (tf edge)
    ]
    write(
        "documents",
        pa.table(
            {
                "doc_id": pa.array(list(range(6)), i64),
                "text": pa.array(texts, s),
                "lang": pa.array(["en", "en", "de", "en", "en", "zh"], s),
                "source": pa.array(
                    ["src0", "src0", "src1", "src2", "src0", "src1"], s
                ),
                "n_chars": pa.array([len(t) for t in texts], i64),
            }
        ),
    )

    import math

    def unit(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = unit([1.0] * 32 + [-1.0] * 32)
    other = unit([float(i % 7) - 3.0 for i in range(64)])
    third = unit([0.25] * 64)
    vecs = [base, base, other, third, unit([-x for x in base])]
    write(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(list(range(5)), i64),
                "embedding": pa.array(
                    [[float(x) for x in v] for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0, 0, 1, 1, 2], i32),
            }
        ),
    )
    return out_dir
