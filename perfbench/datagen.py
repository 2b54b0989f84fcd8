"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten parquet tables the query registry reads
(TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``) with the column names, types and value domains the
registry's queries and their DuckDB twins expect: order dates span
1995-2001, ``events.ts`` spans January 2024, region names are the real
five, ``p_brand`` is ``Brand#N`` and document languages are
``en/de/fr/es/zh``.  ``ingest_batches`` makes the micro-batches of the
upsert workload.  The same seed always gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

DAY_US = 86_400_000_000
ORDER_START = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENTS_START = np.datetime64("2024-01-01", "us")
EVENTS_SPAN_US = 30 * DAY_US

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
# the same schema in Spark DDL, for the file-stream reader
EVENT_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _event_columns(
    rng: np.random.Generator, ids: np.ndarray, ts: np.ndarray, users: int
) -> dict[str, pa.Array]:
    n = len(ids)
    return {
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table at scale factor ``sf`` (lineitem ~= 6M * sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_days = rng.integers(0, ORDER_DAYS + 1, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(ORDER_START + order_days * DAY_US, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(float)
    ship_days = rng.integers(1, ORDER_DAYS + 96, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ORDER_START + ship_days * DAY_US, pa.timestamp("us")),
        }
    )
    ev_ts = EVENTS_START + np.sort(rng.choice(EVENTS_SPAN_US, n_ev, replace=False))
    t["events"] = pa.table(
        _event_columns(rng, np.arange(n_ev), ev_ts, max(15, int(15_000 * sf))),
        schema=EVENT_SCHEMA,
    )
    t["documents"] = _documents(rng, n_doc)
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def ingest_batches(
    seed: int, n_batches: int, rows: int, first_id: int, users: int
) -> list[pa.Table]:
    """Events-shaped micro-batches whose ``event_id``s repeat within and
    across batches (keys drawn from a space of ``2 * rows`` ids), with
    ``ts`` strictly increasing over the whole sequence so the latest row
    per key is unique."""
    rng = np.random.default_rng(seed + 1_000_003)
    start = EVENTS_START + EVENTS_SPAN_US  # after every offline event
    span = 60_000_000  # one minute of event time per batch
    out = []
    for b in range(n_batches):
        ids = first_id + rng.integers(0, 2 * rows, rows)
        offs = np.sort(rng.choice(span, rows, replace=False))
        ts = start + b * span + offs
        out.append(pa.table(_event_columns(rng, ids, ts, users), schema=EVENT_SCHEMA))
    return out
