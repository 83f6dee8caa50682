"""Seeded input generator for the benchmark.

Writes the engine's ten fixture tables (the TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) with the same column names
and parquet types as the fixture tables the tests read, so every
registered query and its DuckDB oracle run on them unchanged. The same seed and
scale always give byte-identical row values.

Row counts follow the fixture's ratios: ``orders = 1.5M * sf``,
``lineitem`` about four lines per order, ``customer = 150k * sf`` and so
on. Unlike the fixture, ``(l_orderkey, l_linenumber)`` is unique, so the
validator's row-sample layer can be given that key.

Large tables are written as ``<name>.parquet/part-NNNNN.parquet`` with
``LARGE_TABLE_FILES`` files of ``ROW_GROUPS`` row groups each, so a scan
splits into several tasks; small tables are one file.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LARGE_TABLES = ("orders", "lineitem", "events")
LARGE_TABLE_FILES = 8
ROW_GROUPS = 2
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gizmo", "ring", "rod", "widget", "gear", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2498
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (lineitem is derived)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(epoch: dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _codes(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts; one in twenty is a near-duplicate of an earlier
    document (same words plus a ``dup`` token) so the dedup keys find pairs."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for i, k in enumerate(lengths):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _codes(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten cluster centres; ``label`` is the centre."""
    centres = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _codes(rng, SEGMENTS, nc),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": _codes(rng, names, np_),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)]),
            "p_type": _codes(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _codes(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(ORDER_EPOCH, rng.integers(0, ORDER_DAYS + 1, no)),
            "o_orderpriority": _codes(rng, PRIORITIES, no),
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    orderkey = np.repeat(np.arange(no), lines)
    linenumber = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _codes(rng, ["A", "N", "R"], nl),
            "l_linestatus": _codes(rng, ["F", "O"], nl),
            "l_shipdate": _days(ORDER_EPOCH + dt.timedelta(days=1), rng.integers(0, SHIP_DAYS, nl)),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(np.datetime64(EVENT_EPOCH, "us") + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
            "event_type": _codes(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(40.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(tables: dict[str, pa.Table], directory: str) -> dict[str, str]:
    """Write each table under ``directory``; return ``{name: path}``."""
    os.makedirs(directory, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        path = os.path.join(directory, f"{name}.parquet")
        if name in LARGE_TABLES:
            os.makedirs(path)
            step = -(-t.num_rows // LARGE_TABLE_FILES)
            for i in range(LARGE_TABLE_FILES):
                part = t.slice(i * step, step)
                pq.write_table(
                    part,
                    os.path.join(path, f"part-{i:05d}.parquet"),
                    row_group_size=max(1, -(-part.num_rows // ROW_GROUPS)),
                )
        else:
            pq.write_table(t, path)
        paths[name] = path
    return paths


def scan_glob(path: str) -> str:
    """The glob DuckDB needs for a path written by :func:`write_tables`."""
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path
