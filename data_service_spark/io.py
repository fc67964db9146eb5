"""Source/sink helpers over the test corpus.

The corpus (TESTDATA.md) is one parquet file per table under a scale-factor
directory. ``load`` resolves each table's schema from its parquet footers
once per session and per ``corpus_fingerprint`` of the table path, then
builds every call's relation with ``spark.read.schema(s).parquet(path)``:
a fresh relation per call (pushdown and pruning intact, distinct attribute
ids for self-joins) without a schema-inference job per call. At cluster
scale the same call reads a multi-file partitioned dataset; a path that
cannot be stat'ed locally is read with inference every time.
"""

from __future__ import annotations

import os
import re
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def session_key(spark: SparkSession) -> str:
    """Cache key for per-(session, corpus) memos: the SparkContext
    applicationId — a restarted context gets a fresh id, unlike
    id(spark), which CPython can hand to a NEW session after the old
    one is garbage-collected (a colliding key would then serve
    localCheckpointed DataFrames bound to a stopped context)."""
    return spark.sparkContext.applicationId


def corpus_fingerprint(path: str):
    """Change detector for a table path or a whole corpus dir:
    ``(st_size, st_mtime_ns)`` from ``os.stat`` for a file; for a
    directory, the same pair plus every entry's fingerprint by name, so a
    part file added, removed or rewritten in place under the same path
    changes it. ``None`` when the path cannot be stat'ed (a non-local URI
    at cluster scale)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        with os.scandir(path) as entries:
            inner = sorted((e.name, corpus_fingerprint(e.path)) for e in entries)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns, tuple(inner))


# Every ``corpus_memo`` function in the package, in import order: the
# warm-up list of bench.py and the memo counters of the service's
# ``/metrics`` are read from here, never kept by hand.
MEMOS: list = []


def corpus_memo(build):
    """Decorator: memoize a ``(spark, sf_dir) -> DataFrame`` builder per
    (session applicationId, corpus dir, ``corpus_fingerprint(sf_dir)``),
    pinning the built frame with ``localCheckpoint`` — the
    materialize-once pattern every shared corpus-sized reduce in this repo
    uses (SCALING.md round-7 lessons).
    It is the package's only session memo: a builder that needs another
    key argument or returns several frames is split into one memo per
    frame. The builder body returns the un-checkpointed DAG; plan tests
    can pin the builder's shape by calling it through its ``__wrapped__``
    attribute or a separately exposed ``*_frame`` helper.

    A table rewritten in place under the same path changes the
    fingerprint, so the next call rebuilds instead of serving the stale
    checkpoint; the rebuilt entry replaces the old one (at most one entry
    per session and corpus dir). On a miss the cache first evicts every
    entry keyed by a DIFFERENT applicationId — those belong to stopped
    sessions and would otherwise pin unreachable checkpointed-DataFrame
    handles for the life of a session-restarting process; at most one
    session's entries survive per memo. Lookup, eviction, build and
    counting run under one lock per memo, so concurrent callers of a cold
    key (threaded ``/query`` requests) build it once. Each memo registers
    in ``MEMOS`` and counts its ``hits``, ``misses`` and ``build_s``
    (seconds spent building and checkpointing; a memo built inside another
    memo's build is counted in both)."""
    import functools
    import time

    # (applicationId, sf_dir) -> (fingerprint, checkpointed frame)
    cache: dict[tuple[str, str], tuple[object, DataFrame]] = {}
    lock = threading.Lock()

    @functools.wraps(build)
    def memoized(spark: SparkSession, sf_dir: str) -> DataFrame:
        ck = (session_key(spark), sf_dir)
        fp = corpus_fingerprint(sf_dir)
        with lock:
            entry = cache.get(ck)
            if entry is not None and entry[0] == fp:
                memoized.hits += 1
                return entry[1]
            for stale in [k for k in cache if k[0] != ck[0]]:
                del cache[stale]
            t0 = time.perf_counter()
            hit = build(spark, sf_dir).localCheckpoint()
            memoized.build_s += time.perf_counter() - t0
            memoized.misses += 1
            cache[ck] = (fp, hit)
            return hit

    memoized._cache = cache
    memoized.hits = memoized.misses = 0
    memoized.build_s = 0.0
    MEMOS.append(memoized)
    return memoized


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
# (applicationId, table path) -> (fingerprint, schema, events nanos-as-long)
_SCHEMAS: dict[tuple[str, str], tuple[object, StructType, bool]] = {}
_SCHEMAS_LOCK = threading.Lock()
# ``load``'s schema-cache counters for the service's ``/metrics``: a miss
# is a read that inferred the schema from the footers.
SCHEMA_COUNTS = {"hits": 0, "misses": 0}


def _infer(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Read ``path`` and infer its schema from the parquet footers."""
    if name != "events":
        return spark.read.parquet(path)
    try:
        return spark.read.parquet(path)
    except Exception:
        # NANOS corpus with the legacy flag off: enable and retry.
        spark.conf.set(_NANOS_CONF, "true")
        return spark.read.parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. ``name`` must be in TABLES.

    The first read of a table in a session infers its schema from the
    parquet footers (a Spark job per call: ~100 ms warm at sf0.01 on 3
    cores, against ~17 ms for a read with a given schema) and caches it
    per (session applicationId, table path) together with the table's
    ``corpus_fingerprint``. Later calls build a FRESH relation with
    ``spark.read.schema(cached).parquet(path)`` — never a shared DataFrame
    object, so two loads of one table keep distinct attribute ids and a
    self-join ``a.join(b, a.x == b.x)`` stays unambiguous. A table
    rewritten in place changes its fingerprint and is re-inferred; a
    miss evicts other sessions' entries; a path that cannot be stat'ed is
    inferred on every call.

    ``events.ts`` has shipped as both parquet TIMESTAMP(MICROS) and
    TIMESTAMP(NANOS) across corpus generations. Spark 4.x rejects NANOS
    outright (PARQUET_TYPE_ILLEGAL) unless the legacy ``nanosAsLong`` conf
    is on, in which case the column arrives as raw int64 nanos. Rather than
    pinning one corpus shape, adapt to what the footer actually says: read,
    and if the read fails on the nanos type, enable the conf for this
    session and retry; if ``ts`` then arrives as a long, rebuild a
    TimestampType column at µs precision — the same truncation DuckDB
    applies, so oracle parity holds. That decision is cached with the
    schema; a read given the cached long ``ts`` field needs no conf.

    The conf is only turned on when the corpus actually needs it, so a
    µs-precision corpus never observes the legacy flag (a nanos source in
    the same session would otherwise silently come back as raw longs).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    ck, fp = (session_key(spark), path), corpus_fingerprint(path)
    with _SCHEMAS_LOCK:
        entry = _SCHEMAS.get(ck)
        hit = fp is not None and entry is not None and entry[0] == fp
        SCHEMA_COUNTS["hits" if hit else "misses"] += 1
    if hit:
        _, schema, nanos = entry
        df = spark.read.schema(schema).parquet(path)
    else:
        df = _infer(spark, path, name)
        schema = df.schema
        nanos = name == "events" and isinstance(schema["ts"].dataType, LongType)
        if fp is not None:
            with _SCHEMAS_LOCK:
                for stale in [k for k in _SCHEMAS if k[0] != ck[0]]:
                    del _SCHEMAS[stale]
                _SCHEMAS[ck] = (fp, schema, nanos)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_parallel(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """``load`` + hash-repartition on ``key`` for fan-out pipelines.

    The corpus ships one parquet file per table with a single row group, so
    a scan yields ONE partition no matter how many cores exist —
    ``maxPartitionBytes`` can't split inside a row group. Any operator that
    fans each row out (shingling, per-token explode, per-vector hashing)
    would then run its whole map side on one core. One small shuffle of the
    pre-fan-out rows buys full parallelism for everything downstream. At
    cluster scale a real multi-file table already arrives parallel and this
    repartition is a no-op-sized pass that also co-locates by ``key``.

    The partition count is EXPLICIT: AQE coalesces a bare
    ``repartition(col)`` back to one partition when the bytes are small —
    exactly wrong here, where per-row downstream CPU (hashing, shingling),
    not input bytes, is the cost. An explicit count pins the exchange.
    """
    n = spark.sparkContext.defaultParallelism
    return load(spark, sf_dir, name).repartition(n, F.col(key))


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose all corpus tables as temp views for ``spark.sql`` entry
    points. Each ``load`` here also fills the schema cache, so a service
    that registers the views at start serves its first request warm."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


# Per-key batches of uuid-suffixed managed-table names created by builders
# that write the session catalog (see registry.EFFECTFUL). Keeping the last
# few batches alive (instead of dropping the previous batch eagerly) leaves
# a window for concurrent invocations of the same key that are still
# consuming their result before the names age out of the GC ring.
_TABLE_GC: dict[str, list[list[str]]] = {}
_TABLE_GC_KEEP = 4
_TABLE_GC_LOCK = threading.Lock()
_TABLE_GC_ATEXIT = False
# Orphan sweep: names generated by fresh_tables, exactly — a dss_ prefix,
# then the 12-hex uuid suffix. Nothing else is ever touched.
_ORPHAN_RE = re.compile(r"^dss_\w+_[0-9a-f]{12}$")
# A concurrent process's LIVE uuid tables are created, consumed, and GC'd
# within one request/bench iteration, and every fresh_tables call in that
# process re-touches its ring-resident dirs (below) — so an hour-old
# UNTOUCHED directory belongs to an exited process. Residual hazard: a
# process idle for over an hour that then RE-EXECUTES a held DataFrame
# over its old ring tables could lose the race; documented, accepted.
_ORPHAN_MIN_AGE_S = 3600.0
_ORPHAN_SWEPT = False


def _warehouse_root(spark: SparkSession) -> str:
    return spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")


def _drop_gc_tables_at_exit() -> None:
    """Drop every uuid table this process created that the ring-GC hasn't
    already dropped — without this, each exiting process strands its last
    ``_TABLE_GC_KEEP`` batches on disk forever (a fresh session's catalog
    has no record of the old names, so no later DROP can reach them).
    Per-table failures (another process's sweep already removed a
    directory, a transient metastore error) skip to the next table rather
    than abandoning the remaining drops. getActiveSession is THREAD-LOCAL
    and atexit runs on the main thread — if the session was only ever
    active on service worker threads it returns None here, so fall back
    to the process-wide instantiated session before giving up."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        spark = getattr(SparkSession, "_instantiatedSession", None)
    if spark is None:
        return
    with _TABLE_GC_LOCK:
        for batches in _TABLE_GC.values():
            for names in batches:
                for tbl in names:
                    try:
                        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
                    except Exception:  # noqa: BLE001 — JVM may be gone
                        continue
        _TABLE_GC.clear()


def _touch_ring_dirs(spark: SparkSession) -> None:
    """Refresh the mtime of every ring-resident table directory so a
    concurrently-starting process's age-gated orphan sweep sees them as
    live (an actively-used effectful key re-touches its retained batches
    on every fresh_tables call). The ring is snapshotted under the lock
    first: a concurrent fresh_tables call for a DIFFERENT key inserts new
    dict keys under the lock, and iterating the live dict here would race
    that insert ('dictionary changed size during iteration')."""
    root = _warehouse_root(spark)
    if not root:
        return
    with _TABLE_GC_LOCK:
        tables = [
            tbl
            for batches in _TABLE_GC.values()
            for names in batches
            for tbl in names
        ]
    for tbl in tables:
        try:
            os.utime(os.path.join(root, tbl))
        except OSError:
            continue


def _sweep_orphan_tables(spark: SparkSession) -> None:
    """Remove uuid-suffixed managed-table directories stranded by CRASHED
    processes (the atexit drop covers clean exits). Guard rails, because
    this is the one rmtree near a config-derived path: only direct
    children of the session's warehouse dir, only names matching the
    exact generated pattern (``dss_*_<12hex>``), only when untouched for
    an hour (live tables are re-touched by their owner, see
    ``_touch_ring_dirs``), and never a name present in this session's
    catalog."""
    import shutil
    import time

    root = _warehouse_root(spark)
    if not os.path.isdir(root):
        return
    now = time.time()
    for d in os.listdir(root):
        if not _ORPHAN_RE.match(d):
            continue
        full = os.path.join(root, d)
        try:
            if now - os.path.getmtime(full) < _ORPHAN_MIN_AGE_S:
                continue
            if spark.catalog.tableExists(d):
                continue
            shutil.rmtree(full)
        except Exception:  # noqa: BLE001 — sweep must never sink a query
            continue


def sweep_orphans_once(spark: SparkSession) -> None:
    """Once-per-process crash-leftover sweep, callable by ANY effectful
    builder that creates ``dss_*_<12hex>`` catalog objects — not only the
    fresh_tables path (q_tpch_refresh manages its own uuid names, and a
    refresh-only workload must still reclaim a predecessor's crash
    leftovers)."""
    global _ORPHAN_SWEPT
    if _ORPHAN_SWEPT:
        return
    _ORPHAN_SWEPT = True
    _sweep_orphan_tables(spark)


def fresh_tables(spark: SparkSession, key: str, *basenames: str) -> list[str]:
    """Per-invocation uuid-suffixed catalog table names for effectful
    builders — two concurrent invocations (service /query threads, the
    bench re-time loop) can never race on a shared table name the way the
    fixed ``dss_*`` names could. Older batches beyond the last
    ``_TABLE_GC_KEEP`` are dropped here (self-GC, ring mutation under a
    lock so threaded /query requests cannot double-pop) and the remainder
    at process exit, so repeated calls do not leak warehouse space; DROP
    TABLE on a managed table removes its directory. Directories stranded
    by crashed processes are swept once per process, age-gated (see
    ``_sweep_orphan_tables``). KEEP bounds same-key concurrency: more
    than ``_TABLE_GC_KEEP`` simultaneous in-flight invocations of ONE key
    would age the oldest's tables out while still consumed — the service
    caps below that in practice; raise KEEP if a deployment does not."""
    import atexit
    import uuid

    global _TABLE_GC_ATEXIT
    if not _TABLE_GC_ATEXIT:
        atexit.register(_drop_gc_tables_at_exit)
        _TABLE_GC_ATEXIT = True
    sweep_orphans_once(spark)

    names = [f"{b}_{uuid.uuid4().hex[:12]}" for b in basenames]
    with _TABLE_GC_LOCK:
        batches = _TABLE_GC.setdefault(key, [])
        batches.append(names)
        expired = []
        while len(batches) > _TABLE_GC_KEEP:
            expired.extend(batches.pop(0))
    for tbl in expired:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        except Exception:  # noqa: BLE001 — GC must never sink a query
            pass
    _touch_ring_dirs(spark)
    return names
