"""Output checks: every result is compared with DuckDB's answer over the same
parquet files, as an order-insensitive multiset of rows.

A served result carries at most ``limit`` rows. When DuckDB's answer has
more, the served rows must be a sub-multiset of it and number exactly
``limit``; otherwise the two multisets must be equal. Numbers compare with
a relative tolerance of ``REL_TOL``, so two engines that sum in a different
order agree while a changed row or a lost cent on a sum of 1e9 still fails.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import re
from collections import Counter
from decimal import Decimal
from typing import Any

REL_TOL = 1e-12
ABS_TOL = 1e-9

# The corpus tables, as in data_service_spark.io.TABLES. Importing that
# module loads pyspark, which a run must do inside its setup clock, not
# before it.
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v: Any) -> str:
    """Canonical text of one cell, equal for the JSON-decoded service value,
    the Python value Spark collects and the Python value DuckDB fetches.
    Floats keep nine significant digits, so the digests of two runs of the
    same plan agree even if Spark sums in another order; integral floats
    print as integers. ``compare`` uses it for cells that are not numbers
    (nested values included)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return canon(v.asDict())
    return str(v)


def canon_rows(columns: list[str], rows) -> tuple[tuple[str, ...], Counter]:
    """Columns sorted by name, and the multiset of rows re-ordered to match."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = tuple(columns[i] for i in order)
    return names, Counter(tuple(canon(row[i]) for i in order) for row in rows)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive content digest of a result."""
    names, bag = canon_rows(columns, rows)
    h = hashlib.sha256(repr(names).encode())
    for row in sorted(bag.elements()):
        h.update(repr(row).encode())
    return h.hexdigest()


def _cell(v: Any) -> tuple:
    """Sort and compare form of one cell: (rank, value). Numbers stay
    numbers, everything else is its canonical text."""
    if isinstance(v, Decimal):
        v = float(v)
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return (0, 0)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, v)
    return (2, canon(v))


def _same(a: tuple, b: tuple) -> bool:
    for (ra, x), (rb, y) in zip(a, b):
        if ra != rb:
            return False
        if ra != 1 or (isinstance(x, int) and isinstance(y, int)):
            if x != y:
                return False
        elif not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL):
            return False
    return True


def _sorted_rows(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name, and the rows re-ordered to match, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = tuple(columns[i] for i in order)
    return names, sorted(tuple(_cell(row[i]) for i in order) for row in rows)


def compare(columns, rows, o_columns, o_rows, limit: int | None) -> str | None:
    """``None`` when the result matches the oracle, else the reason."""
    names, got = _sorted_rows(list(columns), rows)
    o_names, want = _sorted_rows(list(o_columns), o_rows)
    if names != o_names:
        return f"columns {names} != oracle {o_names}"
    if limit is not None and len(want) > limit:
        if len(got) != limit:
            return f"{len(got)} rows under limit {limit}; oracle has {len(want)}"
        # Both lists are sorted: walk the oracle's rows once, skipping the
        # ones the served result left out.
        j = 0
        for row in got:
            while j < len(want) and not _same(row, want[j]) and want[j] < row:
                j += 1
            if j == len(want) or not _same(row, want[j]):
                return f"row not in oracle: {row}"
            j += 1
        return None
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for row, o_row in zip(got, want):
        if not _same(row, o_row):
            return f"row {row} != oracle {o_row}"
    return None


_MARKER = re.compile(r"(?<![:\w]):([A-Za-z_]\w*)")


class Oracle:
    """A DuckDB connection with one view per corpus table."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect(config={"threads": 1, "memory_limit": "2GB"})
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def run(self, sql: str, args: dict[str, Any] | None = None):
        """Columns and rows of ``sql``; Spark's ``:name`` markers become
        DuckDB's ``$name`` so the same text binds the same values."""
        if args:
            cur = self.con.execute(_MARKER.sub(r"$\1", sql), args)
        else:
            cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def close(self) -> None:
        self.con.close()
