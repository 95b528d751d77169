"""Star-schema tables for the registry queries of the batch workload.

The tables those queries read, with the columns and types of the
engine's star-schema test data (region, nation, customer, supplier,
orders, lineitem, documents, embeddings; one parquet file each) and
uniform keys and values. The content is fixed and ``--seed`` permutes the rows of every
table, so each seed costs the queries the same work. ``scale=1.0`` gives
60,000 lineitem rows.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10
CONTENT_SEED = 42

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int) -> list[str]:
    return [choices[i] for i in rng.integers(0, len(choices), n)]


def build(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(1500 * scale), max(int(100 * scale), 10)
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_line = int(60000 * scale)
    n_doc = n_vec = max(int(500 * scale), 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, 2500, n_line) * DAY_US),
    })
    texts = [
        " ".join(_pick(rng, DOC_WORDS, int(k)))
        for k in rng.integers(10, 100, n_doc)
    ]
    for i in range(1, n_doc, 20):  # near-duplicates of an earlier document
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def make_tables(seed: int, root: Path, scale: float) -> Path:
    """Write the tables, rows permuted by ``seed``, once per (seed, scale)
    under ``root``."""
    if (root / "_SUCCESS").exists():
        return root
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    for name, table in build(CONTENT_SEED, scale).items():
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, root / f"{name}.parquet")
    (root / "_SUCCESS").touch()
    return root


def sizes(root: Path) -> tuple[int, int]:
    """Bytes and rows of the tables under ``root``."""
    files = sorted(root.glob("*.parquet"))
    return (sum(f.stat().st_size for f in files),
            sum(pq.ParquetFile(f).metadata.num_rows for f in files))
