"""The selfcheck harness's output-shape guards, pytest-pinned.

tools/selfcheck.py is the local replica of the driver's correctness
harness; its two guards exist because the DRIVER's canonicalizer has
failure modes the replica would otherwise silently accept:

- ``DecimalOutputError``: the driver's value-hash distinguishes
  Decimal('1.50') from 1.5 (the r03 q_tpch_q09 failure) — oracled
  queries must CAST decimals away on both sides.
- ``NonAtomicOutputError``: the driver's pandas ``sort_values``
  canonicalizer crashes on list/dict cells (the r09 ``d_agg_freq_items``
  ERR — the only red driver row in nine rounds), even for rows-only
  keys, where the crash fires BEFORE the weaker check runs.

These tests pin the guards so a refactor of the selfcheck tool cannot
silently drop either class — the replica must stay STRICTER than the
driver, never looser.
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.selfcheck import (  # noqa: E402
    DecimalOutputError,
    NonAtomicOutputError,
    canon_cell,
    run_one,
)

SF = "/root/testdata/sf0.001"


def test_decimal_cell_raises():
    with pytest.raises(DecimalOutputError):
        canon_cell(Decimal("1.50"))


def test_atomic_cells_canonicalize():
    assert canon_cell(None) == "NULL"
    assert canon_cell(float("nan")) == "NULL"
    assert canon_cell(3) == "3"
    assert canon_cell(True) == "True"


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT array(1, 2) AS a",
        "SELECT map('k', 1) AS m",
        "SELECT named_struct('f', 1) AS s",
    ],
)
def test_nested_output_column_raises(spark, sql, monkeypatch):
    import tools.selfcheck as sc

    monkeypatch.setitem(sc.QUERIES, "_guard_probe", lambda sp, sf: sp.sql(sql))
    with pytest.raises(NonAtomicOutputError):
        run_one(spark, None, "_guard_probe", SF)


def test_flat_rows_only_key_passes(spark, monkeypatch):
    import tools.selfcheck as sc

    monkeypatch.setitem(
        sc.QUERIES,
        "_guard_probe_flat",
        lambda sp, sf: sp.sql("SELECT 1 AS a, 'x' AS b"),
    )
    ok, msg = run_one(spark, None, "_guard_probe_flat", SF)
    assert ok and msg.startswith("rows-only")


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """Spark's Python workers must import ``data_service_spark`` when the
    session's process runs outside the repo with PYTHONPATH unset: the
    Python data-source writer (``a_sink_avro``) and the pandas UDF of
    ``k_outlier_lof`` unpickle package code in those workers."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_SF_DIR=SF, SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "selfcheck.py"),
         "a_sink_avro", "k_outlier_lof"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert "2/2 passed" in out.stdout
