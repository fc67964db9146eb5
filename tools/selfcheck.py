"""Local replica of the driver's DuckDB oracle check (SURVEY.md §5.1).

Runs every registered query at a scale factor and compares against its
DuckDB oracle on row-count + column names + order-insensitive canonical
value multiset. Run BEFORE the driver does:

    python tools/selfcheck.py                 # all keys at sf0.01
    python tools/selfcheck.py b_distinct ...  # subset
    python tools/selfcheck.py --plain         # DRIVER-FAITHFUL bare session
    python tools/selfcheck.py --shuffle[=N]   # randomized key order
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python tools/selfcheck.py

--plain runs on a bare SparkSession (no session.py confs) — exactly what
the driver's verify uses; run it before relying on any conf set in
data_service_spark.session (queries must set what they need themselves).

At sf0.1 the DuckDB oracles of k_graph_components and k_label_noise_knn
run out of memory under a 3 GB DuckDB memory limit, and k_graph_kcore
under 1 GB; all three pass at 7 GB. On a small machine a failure on those
keys is an oracle out-of-memory error, not a parity failure.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from data_service_spark.io import TABLES  # noqa: E402
from data_service_spark.registry import ORACLES, QUERIES, load_all  # noqa: E402
from data_service_spark.session import get_spark  # noqa: E402


class DecimalOutputError(ValueError):
    """A query emitted a Decimal-typed cell — a driver value-hash risk."""


class NonAtomicOutputError(ValueError):
    """A query emitted an Array/Map/Struct-typed column.

    The driver's pandas canonicalizer sorts rows with ``sort_values``,
    which crashes on list/dict cells (CORRECTNESS_r09 ``d_agg_freq_items``:
    ``TypeError: unhashable type: 'list'``) — even for rows-only keys,
    where the crash happens BEFORE the weaker check runs. Flatten nested
    output (``array_join(sort_array(...), ',')`` / ``to_json``) instead.
    """


def canon_cell(v) -> str:
    """Canonical string for a cell so Spark/DuckDB values can be compared."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"  # pandas NaN stands in for SQL NULL in float cols
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, Decimal):
        # The driver's value-hash distinguishes Decimal('x.0328000') from
        # the float x.0328 even when numerically equal (the one r03 driver
        # failure, q_tpch_q09). Collapsing Decimal -> float here would hide
        # that bug class, so fail loudly: oracled queries must CAST decimal
        # outputs to DOUBLE/BIGINT on both sides.
        raise DecimalOutputError(
            f"Decimal cell {v!r} — driver-hash risk; CAST the column to "
            "DOUBLE (or BIGINT) in both the Spark query and the oracle SQL"
        )
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat() + "T00:00:00"
    return str(v)


def canon_rows(df) -> list[tuple]:
    """pandas DataFrame -> sorted list of canonical row tuples, columns
    sorted by name (mirrors the driver's order-insensitive hash)."""
    cols = sorted(df.columns)
    sub = df[cols]
    rows = [tuple(canon_cell(v) for v in row) for row in sub.itertuples(index=False)]
    rows.sort()
    return rows


def run_one(spark, con, key: str, sf_dir: str) -> tuple[bool, str]:
    fn = QUERIES[key]
    t0 = time.time()
    result = fn(spark, sf_dir)
    nested = [
        f"{f.name}:{f.dataType.typeName()}"
        for f in result.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    if nested:
        raise NonAtomicOutputError(
            f"non-atomic output column(s) {nested} — the driver's pandas "
            "canonicalizer crashes on nested cells; flatten with "
            "array_join/to_json in the query"
        )
    sdf = result.toPandas()
    t_spark = time.time() - t0
    if key not in ORACLES:
        return True, f"rows-only: {len(sdf)} rows ({t_spark:.1f}s)"
    odf = con.execute(ORACLES[key]).df()
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"COLUMN MISMATCH spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return False, f"ROWCOUNT MISMATCH spark={len(sdf)} oracle={len(odf)}"
    s_rows, o_rows = canon_rows(sdf), canon_rows(odf)
    if s_rows != o_rows:
        diff = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
        return False, f"VALUE MISMATCH first-diffs={diff}"
    return True, f"ok: {len(sdf)} rows ({t_spark:.1f}s)"


def main() -> int:
    load_all()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args = sys.argv[1:]
    plain = "--plain" in args
    shuffle_args = [a for a in args if a.startswith("--shuffle")]
    keys = [a for a in args if not a.startswith("--")] or sorted(QUERIES)
    if shuffle_args:
        # Randomized execution order: proves no key depends on a sibling
        # having populated a session memo first (the materialize-once
        # family makes results SHARE session state; insertion-order runs
        # would mask a key that only works after its memo's usual first
        # consumer). --shuffle=SEED reproduces a specific order.
        import random

        arg = shuffle_args[0]
        seed = int(arg.split("=", 1)[1]) if "=" in arg else int(time.time())
        print(f"shuffled order, seed={seed} (reproduce with --shuffle={seed})")
        random.Random(seed).shuffle(keys)
    if plain:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failed = []
    for key in keys:
        if key not in QUERIES:
            print(f"  ?? {key}: not registered")
            failed.append(key)
            continue
        try:
            ok, msg = run_one(spark, con, key, sf_dir)
        except Exception as exc:  # noqa: BLE001 — report and continue
            ok, msg = False, f"EXCEPTION {type(exc).__name__}: {exc}"
        print(f"  {'ok' if ok else 'FAIL'} {key}: {msg}")
        if not ok:
            failed.append(key)
    print(f"\n{len(keys) - len(failed)}/{len(keys)} passed at {sf_dir}")
    if failed:
        print("failed:", " ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
