"""Regenerate the frozen op lists under ``perfbench/ops/`` from a list seed.

    python3 perfbench/oplists.py --seed 2026

The lists are stored so that a growing registry can never change a workload
silently: a run reads only the stored files, and a listed key that the
registry no longer has counts as a failed op. Regenerating is an explicit,
reviewable change of the files.

- ``sql.json``: SQL texts for ``POST /sql``, made from fixed templates whose
  constants (dates, segment, region, keys) the seed picks. One text binds
  ``:nk`` through ``args``; the run seed picks its value from ``args_choices``.
- ``keys.json``: registry keys for ``POST /query``: ``N_MEMO`` keys that
  read a session memo, then one key per query module, modules in seeded
  order, up to ``N_KEYS``.
  Only keys with a DuckDB oracle that took under ``FLOOR_S`` at sf0.1 in
  the repo's ``bench_full.json`` are eligible. Left out: the hive key (it
  spawns a child Derby JVM) and keys that run a structured stream (their
  time is trigger timing). The two writing keys named in ``ALWAYS_KEYS``
  (a parquet file write and a catalog table write) are always in the list.
- ``batch.json``: slow-tail keys materialized on sf0.1, fixed by name: a
  range window frame and iterative graph rounds. See README.md for the
  slow-tail keys left out and why.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import random
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
OPS_DIR = os.path.join(HERE, "ops")

ALWAYS_KEYS = ["a_sink_parquet_roundtrip", "a_sink_table"]
EXCLUDED = {"a_sink_hive_table": "spawns a child Derby JVM per session"}
BATCH_KEYS = ["e_win_range_frame", "k_graph_pagerank"]
N_KEYS = 6
N_MEMO = 2
# The per-request floor: keys that took under this many seconds at sf0.1 in
# the repo's last full bench (bench_full.json); slower keys are the tail.
FLOOR_S = 1.0
_STREAM_MARKERS = ("readStream", "read_event_stream", "writeStream")


def _source(fn) -> str:
    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):
        return ""


def _names(code: types.CodeType):
    yield from code.co_names
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _names(const)


def memo_refs(fn, depth: int = 3, seen: set | None = None) -> set[str]:
    """Session memos a builder reaches: ``corpus_memo`` functions (they
    carry ``_cache``) and ``*_CACHE`` dicts, followed through helper
    functions of the package up to ``depth`` calls deep."""
    seen = set() if seen is None else seen
    code = getattr(fn, "__code__", None)
    if code is None or depth < 0 or id(fn) in seen:
        return set()
    seen.add(id(fn))
    found = {"self"} if hasattr(fn, "_cache") else set()
    for name in set(_names(code)):
        obj = fn.__globals__.get(name)
        if hasattr(obj, "_cache") or (name.endswith("_CACHE") and isinstance(obj, dict)):
            found.add(name)
        elif isinstance(obj, types.FunctionType) and obj.__module__.startswith(
            "data_service_spark"
        ):
            found |= memo_refs(obj, depth - 1, seen)
    return found


def classify(fn) -> dict:
    """Facts about one key read from its code: its module, whether it reads
    a session memo, and whether it runs a stream."""
    src = _source(fn)
    return {
        "module": fn.__module__.rsplit(".", 1)[-1],
        "memo": bool(memo_refs(fn)),
        "stream": any(m in src for m in _STREAM_MARKERS),
    }


def _sql_texts(rng: random.Random) -> list[dict]:
    day = lambda lo, hi: f"{rng.randint(lo, hi)}-{rng.randint(1, 12):02d}-01"  # noqa: E731
    seg = rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    region = rng.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
    d1, d3, d5, d7 = (day(1996, 2000) for _ in range(4))
    okey = rng.randrange(15000)
    etype = rng.choice(["click", "error", "purchase", "signup", "view"])
    return [
        {"name": "tpch_q1_pricing", "sql": f"""
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       round(avg(l_discount), 6) AS avg_disc, count(*) AS n
FROM lineitem WHERE l_shipdate <= DATE '{d1}'
GROUP BY l_returnflag, l_linestatus"""},
        {"name": "tpch_q3_top_orders", "sql": f"""
SELECT o_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d3}'
  AND l_shipdate > DATE '{d3}'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey LIMIT 10"""},
        {"name": "tpch_q5_region", "sql": f"""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region JOIN nation ON n_regionkey = r_regionkey
     JOIN customer ON c_nationkey = n_nationkey
     JOIN orders ON o_custkey = c_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
     JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = n_nationkey
WHERE r_name = '{region}' AND o_orderdate >= DATE '{d5}'
GROUP BY n_name"""},
        {"name": "point_order", "sql": f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders WHERE o_orderkey = {okey}"""},
        {"name": "bound_nation", "sql": """
SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS acctbal
FROM customer WHERE c_nationkey = :nk
GROUP BY c_mktsegment""", "args_choices": [{"nk": k} for k in range(25)]},
        {"name": "rows_1000_lineitem", "sql": f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
FROM lineitem WHERE l_shipdate >= DATE '{d7}'"""},
        {"name": "rows_1000_ordered", "sql": """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1000"""},
        {"name": "events_by_user", "sql": f"""
SELECT user_id, count(*) AS n, round(sum(value), 2) AS total,
       max(ts) AS last_ts
FROM events WHERE event_type = '{etype}'
GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20"""},
    ]


def generate(seed: int) -> dict[str, dict]:
    sys.path.insert(0, os.path.dirname(HERE))
    from data_service_spark.registry import ORACLES, QUERIES, load_all

    load_all()
    rng = random.Random(seed)
    facts = {k: classify(fn) for k, fn in QUERIES.items()}
    with open(os.path.join(os.path.dirname(HERE), "bench_full.json")) as f:
        bench_s = json.load(f)["queries"]
    eligible = sorted(
        k for k, f in facts.items()
        if k in ORACLES and k not in EXCLUDED and not f["stream"]
        and bench_s.get(k, FLOOR_S) < FLOOR_S
    )
    by_module: dict[str, list[str]] = {}
    for k in eligible:
        by_module.setdefault(facts[k]["module"], []).append(k)
    memo_pool = [k for k in eligible if facts[k]["memo"]]
    picked = list(ALWAYS_KEYS) + rng.sample(memo_pool, N_MEMO)
    modules = sorted(by_module)
    rng.shuffle(modules)
    for mod in modules:
        if len(picked) >= N_KEYS:
            break
        pool = [k for k in by_module[mod] if k not in picked and not facts[k]["memo"]]
        picked += rng.sample(pool, min(1, len(pool)))
    key_rows = [{"key": k, **facts[k]} for k in picked]
    common = {"list_seed": seed, "registry_keys": len(QUERIES)}
    return {
        "sql": {**common, "corpus": "sf0.01", "ops": _sql_texts(rng)},
        "keys": {
            **common,
            "corpus": "sf0.01",
            "eligible": len(eligible),
            "eligible_memo": len(memo_pool),
            "excluded": {
                **EXCLUDED,
                **{k: "runs a structured stream" for k, f in sorted(facts.items())
                   if f["stream"]},
            },
            "ops": key_rows,
        },
        "batch": {
            **common,
            "corpus": "sf0.1",
            "ops": [{"key": k, **facts[k]} if k in facts else {"key": k}
                    for k in BATCH_KEYS],
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="regenerate perfbench/ops/*.json")
    ap.add_argument("--seed", type=int, default=2026)
    args = ap.parse_args()
    os.makedirs(OPS_DIR, exist_ok=True)
    for name, body in generate(args.seed).items():
        path = os.path.join(OPS_DIR, f"{name}.json")
        with open(path, "w") as f:
            json.dump(body, f, indent=1)
            f.write("\n")
        print(f"wrote {path}: {len(body['ops'])} ops")


if __name__ == "__main__":
    main()
