"""Seeded fixture generator for the benchmark.

Writes the tables the package's loaders expect (``<dir>/<table>.parquet``,
one row group each) with the shapes of the test fixtures described in
FIXTURES.md: TPC-H-like ``orders``/``lineitem``/``part``/``supplier``, a
30-day ``events`` fact (ts stored as parquet TIMESTAMP(NANOS), like the
fixture), ``documents`` over a 31-word vocabulary and unit-norm 64-d
``embeddings``. Row counts scale linearly with ``sf`` (sf0.1 = 600k
lineitem rows, 100k events, 5k documents, 2k embeddings).

The same ``(seed, sf)`` always gives byte-identical inputs: every column
comes from one ``numpy.random.Generator`` seeded per table. A benchmark
run writes its tables (and the lake's base and daily files) from the
fixed ``DATA_SEED``; its ``--seed`` only orders a round's ops and picks
the lake's correction keys and values, so every run works on the same
data.

The lake helpers build the ``lake_cdc`` inputs: the base table, one day
of new events per cycle and a correction batch (updates plus
tombstones) per cycle, from a seed and the cycle index. The correction
batch's shape is an assumption, not a measured trace: see
``lake_corrections``.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join batch sort value hash filter big data dup spark line "
    "small fast group customer"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

DATA_SEED = 20240101  # the tables every run reads

EVENTS_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
EVENTS_DAYS = 30
_US_PER_DAY = 86_400_000_000
_EPOCH_US = int(EVENTS_START.timestamp()) * 1_000_000
_ORDERS_START = datetime(1995, 1, 1)
_ORDERS_DAYS = 2404  # through 2001-08-01

# Table sets per workload: only what the workload's ops read is written.
TABLES = {
    "report_reads": ("orders", "lineitem", "part", "supplier", "events"),
    "lake_cdc": ("events",),
    "llm_curation": ("documents", "embeddings"),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, *stream.encode()])


def _write(out_dir: str, name: str, table: pa.Table) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    # version 2.6 keeps TIMESTAMP(NANOS) as nanos, the fixture's encoding
    pq.write_table(table, path, compression="snappy", version="2.6")
    return path


def _ms_dates(rng: np.random.Generator, n: int, start: datetime, days: int) -> pa.Array:
    base = np.datetime64(start.replace(tzinfo=None), "ms")
    d = rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(base + d, pa.timestamp("ms"))


def events_table(seed: int, sf: float, first_id: int = 0, day0: int = 0,
                 days: int = EVENTS_DAYS, n: int | None = None) -> pa.Table:
    """``n`` events (default 1M × sf) spread uniformly over ``days`` days
    from ``EVENTS_START + day0``; ids ascend with ts, like the fixture."""
    rng = _rng(seed, f"events/{day0}")
    n = n if n is not None else lake_base_rows(sf)
    n_users = max(150, int(15_000 * sf))
    us = np.sort(rng.integers(0, days * _US_PER_DAY, n)) + _EPOCH_US + day0 * _US_PER_DAY
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def orders_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = _rng(seed, "orders")
    n_orders = max(1500, int(1_500_000 * sf))
    n_lines = 4 * n_orders
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
        "o_orderdate": _ms_dates(rng, n_orders, _ORDERS_START, _ORDERS_DAYS),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(flags),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lines)]),
        "l_shipdate": _ms_dates(rng, n_lines, _ORDERS_START + timedelta(days=1), _ORDERS_DAYS + 95),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    return {"orders": orders, "lineitem": lineitem, "part": part, "supplier": supplier}


def documents_table(seed: int, sf: float) -> pa.Table:
    rng = _rng(seed, "documents")
    n = max(500, int(50_000 * sf))
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    # a few exact duplicates, as in the fixture (8 of 5,000)
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[(i + 1) % n]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, sf: float, dim: int = 64) -> pa.Table:
    rng = _rng(seed, "embeddings")
    n = max(500, int(20_000 * sf))
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> dict[str, str]:
    """Write ``tables`` under ``out_dir``; returns table → path."""
    os.makedirs(out_dir, exist_ok=True)
    built: dict[str, pa.Table] = {}
    if {"orders", "lineitem", "part", "supplier"} & set(tables):
        built.update(orders_tables(seed, sf))
    if "events" in tables:
        built["events"] = events_table(seed, sf)
    if "documents" in tables:
        built["documents"] = documents_table(seed, sf)
    if "embeddings" in tables:
        built["embeddings"] = embeddings_table(seed, sf)
    return {t: _write(out_dir, t, built[t]) for t in tables}


# --- lake_cdc inputs -------------------------------------------------------

LAKE_COLS = ("event_id", "ts", "user_id", "event_type", "value")
DELETE_COL = "_deleted"  # incremental.DELETE_COL, kept here so gen stays Spark-free


_LAKE_TS = pa.timestamp("us", tz="UTC")  # UTC-adjusted: Spark reads it as TIMESTAMP


def _us_ts(t: pa.Table) -> pa.Table:
    return t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(_LAKE_TS))


def lake_base_rows(sf: float) -> int:
    return max(1000, int(1_000_000 * sf))


def lake_base(seed: int, sf: float) -> pa.Table:
    return _us_ts(events_table(seed, sf).select(list(LAKE_COLS)))


def lake_day(seed: int, sf: float, cycle: int, first_id: int) -> pa.Table:
    """Cycle ``cycle``'s new events: one day after the base month."""
    n = max(40, int(1_000_000 * sf) // EVENTS_DAYS)
    t = events_table(seed, sf, first_id=first_id, day0=EVENTS_DAYS + cycle, days=1, n=n)
    return _us_ts(t.select(list(LAKE_COLS)))


def lake_corrections(seed: int, sf: float, cycle: int, max_id: int) -> pa.Table:
    """Cycle ``cycle``'s correction batch: updates and tombstones over
    random existing keys, stamped after every earlier row so recency is
    unambiguous (updates at +1 h, tombstones at +2 h past the cycle's
    day).

    The shape is assumed; no trace of real daily corrections backs it:
    1% of the base rows per batch (a third of a day's new events, so
    corrections stay smaller than the day they follow), a quarter of
    them tombstones (so deletes are a visible share of the change), keys
    uniform over every id so far (no recency skew is assumed).
    With ~1,000 uniform keys over 8 hash buckets every batch touches
    every bucket, so the lake's hardlink carry-over of untouched
    buckets cannot occur at this shape."""
    rng = _rng(seed, f"corr/{cycle}")
    n = max(20, int(1_000_000 * sf) // 100)
    keys = rng.choice(max_id, n, replace=False).astype(np.int64)
    n_del = n // 4
    day_us = _EPOCH_US + (EVENTS_DAYS + cycle + 1) * _US_PER_DAY
    ts = np.where(np.arange(n) < n_del, day_us + 7_200_000_000, day_us + 3_600_000_000)
    n_users = max(150, int(15_000 * sf))
    return pa.table({
        "event_id": pa.array(keys),
        "ts": pa.array(ts, _LAKE_TS),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        DELETE_COL: pa.array(np.arange(n) < n_del),
    })


def write_parquet(path: str, table: pa.Table) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path
