"""Seeded generator for the read workloads' tables.

Writes the ten tables the catalog registers (``catalog.TESTDATA_TABLES``)
as single Parquet files, with the column names, Arrow types and value
distributions of the TPC-H-like star schema plus the ``events``,
``documents`` and ``embeddings`` tables the query registry reads. The same
``(seed, sf)`` always gives byte-identical inputs; a different seed gives
the same sizes and distributions with different values.

``sf=0.1`` gives 600,000 lineitem rows, 5,000 documents and 2,000
embeddings; every table scales linearly except ``region`` and ``nation``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts at sf=0.1
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _rows(sf: float, table: str) -> int:
    return max(1, int(round(BASE_ROWS[table] * sf / 0.1)))


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D")
    hi = np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for ln in lengths:
        texts.append(" ".join(WORDS[w] for w in word_ids[pos : pos + ln]))
        pos += ln
    # 5% near-duplicates (an earlier document plus one tail token) and a
    # handful of exact duplicates, so the dedup families find clusters
    near = rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False)
    for i in sorted(near):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    exact = rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False)
    for i in sorted(exact):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    n_users = max(1, n * 15 // 1000)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)``, in memory."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = {t: _rows(sf, t) for t in BASE_ROWS}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
                ],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("O", "P", "F"), no), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(("O", "F"), nl), pa.string()),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    out["events"] = _events(rng, n["events"])
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(seed: int, sf: float, out_dir: str) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    # small row groups for the per-row-heavy tables, so their scans split
    # into several tasks (the layout tools/gen_scale_fixture.py uses)
    row_group = {"documents": 2048, "embeddings": 1024}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(
            tbl,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=row_group.get(name),
            compression="snappy",
        )
