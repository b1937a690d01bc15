"""Seeded query inputs: the ten testdata tables the query registry reads.

The tables mirror the schema and value domains of the engine's testdata
layout (TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``, one single-row-group parquet file per table) at about
the sf0.01 row counts. Every value is drawn from ``numpy`` generators
seeded by the benchmark seed, so one seed always yields the same bytes
and different seeds give different data for the same queries.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table (the sf0.01 layout's counts).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector"
).split()

_US = 1_000_000
#: Every 20th document is a near-duplicate of an earlier original, so
#: the dedup queries see the same number of duplicate pairs every seed.
NEAR_DUP_EVERY = 20


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * _US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, n: int, lo: tuple, hi: tuple) -> np.ndarray:
    lo_d, hi_d = _epoch_us(*lo) // (86400 * _US), _epoch_us(*hi) // (86400 * _US)
    return rng.integers(lo_d, hi_d + 1, n) * 86400 * _US


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, items: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(items, dtype=object)[rng.choice(len(items), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i % NEAR_DUP_EVERY == NEAR_DUP_EVERY - 1:
            # near-duplicate of an original document: one word swapped
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            originals.append(i)
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] * 0.6 + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype="int32")),
        pa.array(vecs.reshape(-1), type=pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": emb,
            "label": pa.array(labels),
        }
    )


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for one seed (deterministic)."""
    rng = np.random.default_rng(seed)
    r = ROWS
    ids = {k: np.arange(v, dtype="int64") for k, v in r.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype="int32")), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        }
    )
    n = r["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": ids["customer"],
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = r["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": ids["supplier"],
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    n = r["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": ids["part"],
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype("int32")),
            "p_retailprice": np.round(900.0 + (ids["part"] % 1000) / 10.0, 1),
        }
    )
    n = r["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": ids["orders"],
            "o_custkey": rng.integers(0, r["customer"], n).astype("int64"),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _ts(_days(rng, n, (1995, 1, 1), (2001, 8, 1))),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )
    n = r["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, r["orders"], n).astype("int64"),
            "l_partkey": rng.integers(0, r["part"], n).astype("int64"),
            "l_suppkey": rng.integers(0, r["supplier"], n).astype("int64"),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype("int32")),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(_days(rng, n, (1995, 1, 2), (2001, 11, 4))),
        }
    )
    n = r["events"]
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * 86400 * _US, n))
    out["events"] = pa.table(
        {
            "event_id": ids["events"],
            "ts": _ts(ts),
            "user_id": rng.integers(0, 150, n).astype("int64"),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    out["documents"] = _documents(rng, r["documents"])
    out["embeddings"] = _embeddings(rng, r["embeddings"])
    return out


def write_tables(out_dir: str | Path, seed: int) -> Path:
    """Write every table as ``OUT_DIR/<name>.parquet`` (one row group)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, out / f"{name}.parquet", row_group_size=1 << 30)
    return out

