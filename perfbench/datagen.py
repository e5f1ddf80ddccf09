"""Seeded generators for every benchmark input.

The same ``(seed, sf)`` always yields byte-identical tables: each table draws
from its own ``numpy`` stream keyed on the seed and the table name, so changing
the size of one table never shifts another's values. The shapes follow the
repository's parquet testdata (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), at ``sf`` scale: ``lineitem`` has
``6,000,000 * sf`` rows, ``events`` ``1,000,000 * sf``.

Values that the registry oracles compare after rounding are themselves
rounded to cents, so a sum never lands on a rounding boundary that Spark
(half-up) and DuckDB (half-even) would resolve differently. Near-duplicate
documents differ from their original by one appended word and every document
has at least 20 words, so every similar pair has Jaccard above 0.94 and
MinHash-LSH recall is exact in practice.
"""

from __future__ import annotations

import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "red", "hot", "cold", "small", "large", "green", "dark")
PART_NOUN = ("ring", "gear", "rod", "plate", "bolt", "pipe", "valve", "cog")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
ORDER_DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
US_PER_DAY = 86_400 * 1_000_000


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, purpose)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
    }


def _dims(seed: int, sf: float) -> dict[str, pa.Table]:
    n = _counts(sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = rng(seed, "customer")
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _cents(r.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)],
    })
    r = rng(seed, "supplier")
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _cents(r.uniform(-999.99, 9999.99, ns)),
    })
    r = rng(seed, "part")
    np_ = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": names[r.integers(0, len(names), np_)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, np_)],
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), np_)],
        "p_size": r.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": 900.0 + r.integers(0, 1000, np_) / 10.0,
    })
    return out


def _order_days(seed: int, sf: float) -> np.ndarray:
    """Order date of each order, in days after ``ORDER_DAY0`` (shared by
    ``orders`` and the ship dates of ``lineitem``)."""
    return rng(seed, "orderdate").integers(0, ORDER_DAYS + 1, _counts(sf)["orders"])


def orders(seed: int, sf: float) -> pa.Table:
    n = _counts(sf)
    r = rng(seed, "orders")
    no = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], no),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
        "o_totalprice": _cents(r.uniform(1000.0, 500_000.0, no)),
        "o_orderdate": ORDER_DAY0 + _order_days(seed, sf) * US_PER_DAY,
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)],
    })


def lineitem(seed: int, sf: float) -> pa.Table:
    """``lineitem`` in generation order; ``(l_orderkey, l_linenumber)`` is NOT
    unique, as in the testdata."""
    n = _counts(sf)
    r = rng(seed, "lineitem")
    nl, no = n["lineitem"], n["orders"]
    orderkey = r.integers(0, no, nl)
    ship = _order_days(seed, sf)[orderkey] + r.integers(1, 122, nl)
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": r.integers(0, n["part"], nl),
        "l_suppkey": r.integers(0, n["supplier"], nl),
        "l_linenumber": r.integers(1, 8, nl).astype(np.int32),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(r.uniform(900.0, 105_000.0, nl)),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
        "l_shipdate": ORDER_DAY0 + ship * US_PER_DAY,
    })


def events(seed: int, sf: float) -> pa.Table:
    """Event stream ordered by ``ts``; ``event_id`` follows that order."""
    n = _counts(sf)["events"]
    r = rng(seed, "events")
    users = max(1, int(15_000 * sf))
    ts = np.sort(r.integers(0, EVENT_SPAN_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENT_T0 + ts,
        "user_id": r.integers(0, users, n),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": _cents(560.0 * r.random(n) ** 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def documents(seed: int, sf: float) -> pa.Table:
    n = _counts(sf)["documents"]
    r = rng(seed, "documents")
    words = np.array(WORDS)
    lengths = r.integers(20, 101, n)
    kind = r.random(n)  # < 0.002 exact copy, < 0.05 near copy, else fresh
    texts: list[str] = []
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            src = texts[int(r.integers(0, i))]
            texts.append(src if kind[i] < 0.002 else f"{src} {words[r.integers(0, len(words))]}")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), lengths[i])]))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, sf: float) -> pa.Table:
    n = _counts(sf)["embeddings"]
    r = rng(seed, "embeddings")
    labels = r.integers(0, 10, n)
    centers = r.normal(size=(10, 64))
    v = centers[labels] + 0.8 * r.normal(size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def all_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    out = _dims(seed, sf)
    out["orders"] = orders(seed, sf)
    out["lineitem"] = lineitem(seed, sf)
    out["events"] = events(seed, sf)
    out["documents"] = documents(seed, sf)
    out["embeddings"] = embeddings(seed, sf)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> Path:
    """One ``<name>.parquet`` per table, the layout ``io.load_table`` reads."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, out_dir / f"{name}.parquet")
    return out_dir


def lineitem_with_rid(seed: int, sf: float) -> pa.Table:
    """``lineitem`` sorted by ``l_orderkey`` with a unique ``rid`` key in that
    order, so a ``rid`` range maps to a contiguous run of clustered files.
    The synthetic key is needed because ``(l_orderkey, l_linenumber)``
    repeats, which makes MERGE on it ambiguous."""
    t = lineitem(seed, sf)
    order = np.lexsort((t["l_linenumber"].to_numpy(), t["l_orderkey"].to_numpy()))
    t = t.take(order)
    return t.append_column("rid", pa.array(np.arange(t.num_rows, dtype=np.int64)))

