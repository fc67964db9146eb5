"""io.load's per-session schema cache and the corpus fingerprint that keys
it and the session memos."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from data_service_spark.io import (
    _NANOS_CONF,
    MEMOS,
    SCHEMA_COUNTS,
    corpus_fingerprint,
    corpus_memo,
    load,
)
from pyspark.sql.types import TimestampType


def _write_region(path, n: int, priority: bool) -> None:
    cols = {
        "r_regionkey": pa.array(range(n), pa.int32()),
        "r_name": pa.array([f"R{i}" for i in range(n)]),
    }
    if priority:
        cols["r_priority"] = pa.array([10 * i for i in range(n)], pa.int64())
    pq.write_table(pa.table(cols), path)


def test_fingerprint_covers_directory_entries(tmp_path):
    table = tmp_path / "lineitem.parquet"
    table.mkdir()
    (table / "part-0.parquet").write_bytes(b"a" * 10)
    before = corpus_fingerprint(str(table))
    assert corpus_fingerprint(str(table)) == before
    (table / "part-1.parquet").write_bytes(b"b" * 10)
    added = corpus_fingerprint(str(table))
    assert added != before
    # A part file rewritten in place under the same name.
    (table / "part-0.parquet").write_bytes(b"a" * 11)
    assert corpus_fingerprint(str(table)) != added
    # The corpus dir's fingerprint reaches into its table dirs.
    corpus = corpus_fingerprint(str(tmp_path))
    (table / "part-1.parquet").write_bytes(b"b" * 12)
    assert corpus_fingerprint(str(tmp_path)) != corpus
    assert corpus_fingerprint(str(tmp_path / "missing")) is None
    assert corpus_fingerprint("s3a://bucket/corpus/lineitem.parquet") is None


def test_in_place_rewrite_reaches_load_and_memos(spark, tmp_path):
    """A table rewritten under the same path: ``load`` re-infers and returns
    the new schema and rows, and a memo over the corpus rebuilds."""
    corpus = str(tmp_path)
    path = tmp_path / "region.parquet"
    _write_region(path, 3, priority=False)

    @corpus_memo
    def _region_count(spark, sf_dir):
        return load(spark, sf_dir, "region").groupBy().count()

    try:
        assert load(spark, corpus, "region").columns == ["r_regionkey", "r_name"]
        hits = SCHEMA_COUNTS["hits"]
        assert load(spark, corpus, "region").count() == 3
        assert SCHEMA_COUNTS["hits"] == hits + 1
        assert _region_count(spark, corpus).collect()[0][0] == 3
        assert _region_count(spark, corpus).collect()[0][0] == 3
        assert (_region_count.misses, _region_count.hits) == (1, 1)

        _write_region(path, 5, priority=True)
        misses = SCHEMA_COUNTS["misses"]
        df = load(spark, corpus, "region")
        assert SCHEMA_COUNTS["misses"] == misses + 1
        assert df.columns == ["r_regionkey", "r_name", "r_priority"]
        assert sorted(r.r_priority for r in df.collect()) == [0, 10, 20, 30, 40]
        assert _region_count(spark, corpus).collect()[0][0] == 5
        assert (_region_count.misses, _region_count.hits) == (2, 1)
        assert len(_region_count._cache) == 1
    finally:
        MEMOS.remove(_region_count)


def test_unstatable_path_is_read_uncached(spark, tmp_path):
    _write_region(tmp_path / "region.parquet", 2, priority=False)
    uri = f"file://{tmp_path}"
    hits, misses = SCHEMA_COUNTS["hits"], SCHEMA_COUNTS["misses"]
    for _ in range(2):
        assert load(spark, uri, "region").count() == 2
    assert SCHEMA_COUNTS["hits"] == hits
    assert SCHEMA_COUNTS["misses"] == misses + 2


def test_self_join_of_two_loads_is_unambiguous(spark, sf_dir):
    a = load(spark, sf_dir, "nation")
    b = load(spark, sf_dir, "nation")
    assert a is not b
    regions = [r.n_regionkey for r in a.select("n_regionkey").collect()]
    expected = sum(regions.count(k) for k in regions)
    pairs = a.join(b, a.n_regionkey == b.n_regionkey)
    assert pairs.count() == expected
    # Each side's columns still resolve to their own relation.
    assert pairs.filter(a.n_nationkey != b.n_nationkey).count() == expected - len(regions)


def test_nanos_events_read_as_timestamp_on_miss_and_hit(spark, tmp_path):
    """A pyarrow-written TIMESTAMP(NANOS) ``events`` file needs the legacy
    nanos-as-long conf to infer its schema. A hit reads with the cached
    long ``ts`` field, which needs no conf, and both paths rebuild ``ts``
    as a µs TimestampType."""
    ns = [1_700_000_000_123_456_789, 1_700_000_060_000_000_999]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet", version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    expected = [n // 1000 for n in ns]

    def read() -> list[int]:
        df = load(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        return [r.us for r in df.orderBy("event_id").selectExpr("unix_micros(ts) AS us").collect()]

    prior = spark.conf.get(_NANOS_CONF, None)
    spark.conf.unset(_NANOS_CONF)
    try:
        misses = SCHEMA_COUNTS["misses"]
        assert read() == expected
        assert SCHEMA_COUNTS["misses"] == misses + 1
        spark.conf.unset(_NANOS_CONF)  # the hit must not need it
        hits = SCHEMA_COUNTS["hits"]
        assert read() == expected
        assert SCHEMA_COUNTS["hits"] == hits + 1
    finally:
        if prior is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, prior)



def test_concurrent_loads_lose_no_count(spark, sf_dir):
    """Threaded ``/query`` requests share the schema cache: every call is
    counted once and every call returns its own table's columns."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    tables = ["region", "nation", "supplier"]
    expected = {t: load(spark, sf_dir, t).columns for t in tables}
    calls = 48
    before = SCHEMA_COUNTS["hits"] + SCHEMA_COUNTS["misses"]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            cols = list(
                pool.map(
                    lambda i: load(spark, sf_dir, tables[i % 3]).columns,
                    range(calls),
                    timeout=120,
                )
            )
    finally:
        sys.setswitchinterval(interval)
    assert SCHEMA_COUNTS["hits"] + SCHEMA_COUNTS["misses"] == before + calls
    assert cols == [expected[tables[i % 3]] for i in range(calls)]
