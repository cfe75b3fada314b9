"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the engine's catalog expects (``region`` …
``embeddings``, one single-row-group parquet file each) with the
column names, types, key ranges and value domains of the project's
reference test data, so every headline query filters the way it does
there. ``events.ts`` is parquet TIMESTAMP(NANOS), the type the catalog
documents for the reference ``events`` (``catalog.load_tables`` casts it
to microseconds); its values are whole microseconds. Row counts scale
with ``sf`` (lineitem = 6M × sf), and so do the file sizes, on which the
catalog's scan-spread and AQE advisory decisions depend: see
perfbench/README.md for the decisions that differ from sf 0.1. The same
``seed`` and ``sf`` always give byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "new", "green", "old"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "rod", "plate", "gear", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# Tables whose sf 0.1 files are above the catalog's scan-spread floor
# (256 KiB) but whose sf 0.02 files would fall below it. They are never
# made smaller than at these scales, where their files are 20% or more
# above the floor, so that their scans, and the dedup, similarity and
# text operators over them, run as wide as at sf 0.1.
MIN_SF = {"customer": 0.1, "documents": 0.05, "embeddings": 0.05}
DUP_SHARE = 0.05  # documents that copy an earlier text + " dup"
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    # near-duplicate corpus structure: a share of documents repeats the
    # text of another document with a marker word appended
    dup_ids = np.flatnonzero(rng.random(n) < DUP_SHARE)
    originals = np.setdiff1d(np.arange(n), dup_ids)
    for i, src in zip(dup_ids, rng.choice(originals, len(dup_ids))):
        texts[i] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def orders_table(rng, n: int, n_cust: int, first_key: int = 0) -> pa.Table:
    """``orders`` rows with keys ``first_key .. first_key + n - 1``."""
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), pa.string()),
            "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0), pa.float64()),
            "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n), pa.string()),
        }
    )


def row_counts(sf: float) -> dict[str, int]:
    return {t: max(int(r * max(sf, MIN_SF.get(t, 0.0))), 10) for t, r in ROWS_PER_SF.items()}


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (no I/O)."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    tabs: dict[str, pa.Table] = {}
    tabs["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    tabs["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tabs["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array(_names("Customer", nc), pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
        }
    )
    ns = n["supplier"]
    tabs["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array(_names("Supplier", ns), pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99), pa.float64()),
        }
    )
    npart = n["part"]
    adj = rng.choice(PART_ADJ, npart)
    noun = rng.choice(PART_NOUN, npart)
    tabs["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(
                900.0 + (np.arange(npart) % 1000) / 10.0, pa.float64()
            ),
        }
    )
    no = n["orders"]
    tabs["orders"] = orders_table(rng, no, nc)
    nl = n["lineitem"]
    tabs["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
            "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
        }
    )
    ne = n["events"]
    ts0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = np.sort(rng.integers(ts0, ts0 + 30 * _DAY_US, ne)).astype("datetime64[us]")
    ts = ts.astype("datetime64[ns]")
    tabs["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
            ),
        }
    )
    tabs["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    v = rng.standard_normal((nv, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tabs["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return tabs


def write(tabs: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(
            tab,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=max(tab.num_rows, 1),
        )
