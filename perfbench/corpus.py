"""Seeded synthetic corpus for the benchmark.

The benchmark runs from a bare checkout, so it cannot rely on a corpus that
lives elsewhere. This module writes one parquet file per table with the
schema the registry expects (``data_service_spark.io.TABLES``): a small
TPC-H-style star schema, an ``events`` stream table, and the ``documents``
and ``embeddings`` tables. Every column is drawn independently from simple
distributions (uniform keys and dates, exponential event gaps and values),
each table is written as a single row group, and the same seed and scale
factor always give byte-identical tables.

    python3 perfbench/corpus.py --sf 0.01     # prints the corpus directory
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
# Part of the corpus directory name: a cached corpus is reused only if it
# was written by this very generator with the same numpy and pyarrow.
_VERSION = hashlib.sha256(
    open(__file__, "rb").read() + f"{np.__version__} {pa.__version__}".encode()
).hexdigest()[:12]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    gaps_us = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n)]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def ensure(root: str, sf: float, seed: int = CORPUS_SEED) -> str:
    """Return the directory of the ``(sf, seed)`` corpus of this generator
    version under ``root``, writing it first if it is not there. The write goes to a sibling
    directory that is renamed into place, so an interrupted write never
    leaves a half corpus behind."""
    out = os.path.join(root, f"sf{sf:g}-seed{seed}-{_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.partial-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    os.rename(tmp, out)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=CORPUS_SEED)
    ap.add_argument("--root", default=".perfbench_data")
    args = ap.parse_args()
    print(ensure(args.root, args.sf, args.seed))


if __name__ == "__main__":
    main()
