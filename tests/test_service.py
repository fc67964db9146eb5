"""SQL-over-HTTP service tests: real socket, real Catalyst path."""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import urllib.error
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_service_spark.io import TABLES, register_temp_views
from data_service_spark.queries.scans import _tmpdir
from data_service_spark.service import SqlEngine, SqlService
from data_service_spark.sources import build_reader, jdbc_config, kafka_config


@pytest.fixture(scope="module")
def service(spark, sf_dir):
    svc = SqlService(SqlEngine(spark, sf_dir))
    svc.start()
    yield svc
    svc.stop()


def call(svc: SqlService, path: str, payload: dict | None = None) -> dict:
    url = f"http://127.0.0.1:{svc.port}{path}"
    if payload is None:
        req = urllib.request.Request(url)
    else:
        req = urllib.request.Request(
            url, json.dumps(payload).encode(), {"Content-Type": "application/json"}
        )
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read())


def test_health_and_tables(service):
    assert call(service, "/health") == {"status": "ok"}
    assert "lineitem" in call(service, "/tables")["tables"]


def test_sql_roundtrip(service):
    out = call(service, "/sql", {"sql": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"})
    assert out["columns"] == ["r_regionkey", "r_name"]
    assert out["row_count"] == 5
    assert out["rows"][0][1] == "AFRICA"


def test_sql_join_agg(service):
    out = call(service, "/sql", {
        "sql": """SELECT n_name, count(*) AS n FROM customer
                  JOIN nation ON c_nationkey = n_nationkey
                  GROUP BY n_name ORDER BY n DESC, n_name""",
        "limit": 3,
    })
    assert out["row_count"] == 3
    assert all(len(r) == 2 for r in out["rows"])


def test_sql_limit_enforced_in_plan(service):
    out = call(service, "/sql", {"sql": "SELECT * FROM lineitem", "limit": 7})
    assert out["row_count"] == 7 and out["truncated_at"] == 7


def test_sql_timestamp_and_array_serialization(service):
    out = call(service, "/sql", {
        "sql": "SELECT ts, event_type FROM events ORDER BY event_id LIMIT 1"})
    assert "T" in out["rows"][0][0]  # ISO-8601 timestamp
    out = call(service, "/sql", {
        "sql": "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1"})
    assert isinstance(out["rows"][0][1], list) and len(out["rows"][0][1]) == 64


def test_bad_sql_is_400_not_500(service):
    with pytest.raises(urllib.error.HTTPError) as ei:
        call(service, "/sql", {"sql": "SELECT FROM nowhere"})
    assert ei.value.code == 400
    body = json.loads(ei.value.read())
    assert "error" in body


def test_missing_sql_field_is_400(service):
    with pytest.raises(urllib.error.HTTPError) as ei:
        call(service, "/sql", {})
    assert ei.value.code == 400


def test_connector_configs_build_lazily(spark):
    # No JDBC/Kafka endpoints exist in the sandbox: the reader must still
    # CONSTRUCT (lazy), proving the config plumbing; connecting is the only
    # part that needs a live service.
    jdbc = jdbc_config("jdbc:postgresql://db:5432/x", "t", "id", 0, 1000)
    assert build_reader(spark, jdbc) is not None
    kafka = kafka_config("broker:9092", "events", min_partitions=64)
    assert build_reader(spark, kafka) is not None
    assert kafka["options"]["minPartitions"] == 64


def test_explain_endpoint_shows_pushdown(service):
    out = call(service, "/explain", {
        "sql": "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45"})
    assert "PushedFilters" in out["plan"] and "Physical Plan" in out["plan"]


def test_query_registry_endpoints(service):
    keys = call(service, "/queries")["queries"]
    assert "d_agg_groupby" in keys and len(keys) > 150
    out = call(service, "/query", {"key": "k_split_train_test", "limit": 10})
    assert out["columns"] == ["doc_id", "lang", "split"]
    assert out["row_count"] == 10


def test_unknown_query_key_is_400(service):
    with pytest.raises(urllib.error.HTTPError) as ei:
        call(service, "/query", {"key": "no_such_key"})
    assert ei.value.code == 400


def test_streaming_as_a_service(service, spark, sf_dir, tmp_path_factory):
    # POST /stream/start runs a windowed rollup into a memory sink that
    # /sql can immediately query — the live-dashboard loop.
    import time

    from data_service_spark.io import load

    d = str(tmp_path_factory.mktemp("svc_stream"))
    load(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").parquet(d)
    out = call(service, "/stream/start", {"name": "svc_rollup", "path": d})
    assert out["name"] == "svc_rollup"
    # availableNow drains the backlog then deactivates; poll briefly.
    for _ in range(120):
        st = {s["name"]: s["active"] for s in call(service, "/streams")["streams"]}
        if not st["svc_rollup"]:
            break
        time.sleep(0.5)
    rows = call(service, "/sql", {
        "sql": "SELECT count(*) AS n, sum(n) AS total FROM "
               "(SELECT n FROM svc_rollup)"})
    from data_service_spark.queries.streaming_batch import tumbling_agg

    expected = tumbling_agg(load(spark, sf_dir, "events"))
    exp_rows = expected.count()
    exp_total = expected.agg({"n": "sum"}).collect()[0][0]
    assert rows["rows"][0] == [exp_rows, exp_total]
    stopped = call(service, "/stream/stop", {"name": "svc_rollup"})
    assert stopped["active"] is False


def test_schema_endpoint(service):
    out = call(service, "/schema/nation")
    assert out["table"] == "nation"
    cols = {c["name"]: c["type"] for c in out["columns"]}
    # key width depends on the fixture's source format; both are integral
    assert cols["n_nationkey"] in ("int", "bigint")
    assert cols["n_name"] == "string"
    # unknown table -> 404, not a server error
    import urllib.error

    try:
        call(service, "/schema/nope")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_sql_named_parameters_bind_as_values(service):
    """/sql with `args` binds :markers as values — same result as the
    inline literal, and a malicious value stays a VALUE (no injection)."""
    out = call(
        service,
        "/sql",
        {
            "sql": "SELECT count(*) AS n FROM orders"
            " WHERE o_orderstatus = :status AND o_totalprice > :floor",
            "args": {"status": "F", "floor": 100000},
        },
    )
    inline = call(
        service,
        "/sql",
        {
            "sql": "SELECT count(*) AS n FROM orders"
            " WHERE o_orderstatus = 'F' AND o_totalprice > 100000"
        },
    )
    assert out["rows"] == inline["rows"]
    # injection attempt arrives as a value: matches nothing, parses fine
    evil = call(
        service,
        "/sql",
        {
            "sql": "SELECT count(*) AS n FROM orders WHERE o_orderstatus = :status",
            "args": {"status": "F' OR '1'='1"},
        },
    )
    assert evil["rows"][0][0] == 0


def test_sql_bad_args_type_is_400(service):
    with pytest.raises(urllib.error.HTTPError) as ei:
        call(
            service,
            "/sql",
            {"sql": "SELECT 1 AS x", "args": ["not", "a", "dict"]},
        )
    assert ei.value.code == 400


def test_metrics_endpoint(service):
    body = call(service, "/metrics")
    assert body["spark_version"].startswith("4.")
    assert body["default_parallelism"] >= 1
    assert body["n_query_keys"] >= 343
    assert body["n_tables"] >= 10
    assert isinstance(body["active_job_ids"], list)
    # Memo counters: k_cluster_assign is itself a session memo. Each of
    # two /query calls of it either calls the memo or is answered by the
    # held plan, which calls no builder.
    before, plans = body["memos"]["k_cluster_assign"], body["plans"]
    for _ in range(2):
        call(service, "/query", {"key": "k_cluster_assign", "limit": 5})
    body = call(service, "/metrics")
    after = body["memos"]["k_cluster_assign"]
    memo_calls = after["hits"] + after["misses"] - before["hits"] - before["misses"]
    assert after["hits"] >= before["hits"] + 1
    assert memo_calls >= 1
    assert memo_calls + body["plans"]["hits"] - plans["hits"] == 2
    assert after["build_s"] >= before["build_s"]
    # Schema-cache counters: the engine's view registration resolved every
    # table, so h_cond_funcs' io.load calls hit the cache.
    before = call(service, "/metrics")["schemas"]
    for _ in range(2):
        call(service, "/query", {"key": "h_cond_funcs", "limit": 5})
    after = call(service, "/metrics")["schemas"]
    assert after["hits"] >= before["hits"] + 1


def test_concurrent_sql_requests(service):
    """Two simultaneous POST /sql must both succeed with correct results:
    ThreadingHTTPServer handles each request on its own thread and Spark
    actions are thread-safe on a shared session (scheduler pools multiplex
    jobs). r04 verdict optional close-out."""
    import threading

    results: dict[str, dict | Exception] = {}

    def run(name: str, sql: str) -> None:
        try:
            results[name] = call(service, "/sql", {"sql": sql})
        except Exception as exc:  # surface in main thread
            results[name] = exc

    t1 = threading.Thread(
        target=run,
        args=("agg", "SELECT count(*) AS n, sum(l_quantity) AS q FROM lineitem"),
    )
    t2 = threading.Thread(
        target=run,
        args=(
            "join",
            "SELECT n_name, count(*) AS n FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            "GROUP BY n_name ORDER BY n DESC, n_name LIMIT 5",
        ),
    )
    t1.start(); t2.start(); t1.join(timeout=120); t2.join(timeout=120)
    assert not isinstance(results.get("agg"), Exception), results.get("agg")
    assert not isinstance(results.get("join"), Exception), results.get("join")
    assert results["agg"]["row_count"] == 1
    assert results["agg"]["rows"][0][0] > 0
    assert results["join"]["row_count"] == 5


def test_explain_streaming_query_roundtrip(service):
    """/explain on a registered STREAMING batch-twin key returns a plan
    string mentioning the aggregate shape (r04 verdict optional
    close-out: the streaming lifecycle is explainable over HTTP)."""
    out = call(service, "/explain", {"query": "i_tumbling"})
    plan = out.get("plan", "")
    assert plan, out
    assert "Aggregate" in plan or "HashAggregate" in plan


def test_explain_refuses_catalog_mutating_keys(service):
    """/explain {"query": k} must never mutate shared state: keys whose
    BUILDER writes the catalog (q_tpch_refresh's CTAS/INSERT,
    a_sink_table's saveAsTable, ...) are registered with ``effects`` and
    refused with 403 (ADVICE r05 medium: a plan request must not DROP /
    CREATE warehouse tables)."""
    import urllib.error

    from data_service_spark.registry import EFFECTFUL, load_all

    load_all()
    assert "q_tpch_refresh" in EFFECTFUL
    assert "a_sink_table" in EFFECTFUL
    for key in ("q_tpch_refresh", "a_sink_table"):
        try:
            call(service, "/explain", {"query": key})
            raise AssertionError(f"/explain accepted effectful key {key}")
        except urllib.error.HTTPError as exc:
            assert exc.code == 403
            body = json.loads(exc.read())
            assert "mutates" in body["error"]
    # side-effect-free keys still explain fine
    out = call(service, "/explain", {"query": "b_filter_simple"})
    assert "Physical Plan" in out.get("plan", "") or out.get("plan")


def test_concurrent_effectful_query_requests(service):
    """Two catalog-writing keys running simultaneously over /query must
    both succeed — the uuid-suffixed per-invocation table names mean
    neither can DROP or overwrite the other's tables mid-flight (the
    race the old fixed dss_* names allowed)."""
    import threading

    results: dict[str, object] = {}

    def run(name: str, key: str) -> None:
        try:
            results[name] = call(service, "/query", {"key": key})
        except Exception as exc:  # noqa: BLE001 — assert below
            results[name] = exc

    threads = [
        threading.Thread(target=run, args=(f"{key}-{i}", key))
        for i, key in enumerate(
            ("q_ctas_insert", "a_sink_table", "q_ctas_insert")
        )
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    for name, out in results.items():
        assert not isinstance(out, Exception), (name, out)
    assert results["q_ctas_insert-0"]["row_count"] == 5
    assert results["a_sink_table-1"]["row_count"] == 25
    assert results["q_ctas_insert-2"]["row_count"] == 5


@pytest.fixture
def corpus_copy(spark, sf_dir, tmp_path):
    """A copy of the corpus that a test may rewrite. An engine over it
    registers the session's temp views there, so they are pointed back at
    the shared corpus afterwards."""
    for t in TABLES:
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    yield tmp_path
    register_temp_views(spark, sf_dir)


def test_repeated_query_is_answered_by_the_held_plan(service):
    """A key whose build starts no job is held: the second request calls
    no builder and returns the same body."""
    key = {"key": "d_agg_collect", "limit": 50}
    before = call(service, "/metrics")["plans"]
    first = call(service, "/query", key)
    mid = call(service, "/metrics")["plans"]
    second = call(service, "/query", key)
    after = call(service, "/metrics")["plans"]
    assert mid["builds"] == before["builds"] + 1 and mid["hits"] == before["hits"]
    assert after["hits"] == mid["hits"] + 1 and after["builds"] == mid["builds"]
    assert after["held"] >= 1
    assert second == first


def test_memo_reader_is_held_from_its_second_call(spark, corpus_copy):
    """On a fresh corpus dir the first build of a memo reader builds the
    memo (Spark jobs), so it is not held; the second build starts no job
    and is held; the third request is answered by the held plan."""
    engine = SqlEngine(spark, str(corpus_copy))
    outs, counts = [], []
    for _ in range(3):
        outs.append(engine.run_query("k_fdr_by", 100))
        counts.append(engine.metrics()["plans"])
    assert counts == [
        {"held": 0, "hits": 0, "builds": 1},
        {"held": 1, "hits": 0, "builds": 2},
        {"held": 1, "hits": 1, "builds": 2},
    ]
    assert outs[0] == outs[1] == outs[2]


def test_sinks_and_python_written_inputs_are_never_held(spark, sf_dir):
    """A catalog writer, a parquet sink, a JDBC sink that reads back over
    JDBC (no input files) and a builder that writes its input file from
    Python run their builder on every request: the sink dir and the CSV
    file are rewritten each time."""
    engine = SqlEngine(spark, sf_dir)
    written = {
        "a_sink_table": None,
        "a_source_jdbc": None,
        "a_sink_parquet_roundtrip": _tmpdir("region_parquet"),
        "a_source_csv_malformed": os.path.join(
            _tmpdir(f"csv_malformed_{os.getpid()}"), "rows.csv"
        ),
    }
    for key, path in written.items():
        mtimes = []
        for _ in range(2):
            assert engine.run_query(key, 50)["row_count"] > 0
            if path is not None:
                mtimes.append(os.stat(path).st_mtime_ns)
        assert path is None or mtimes[0] != mtimes[1], key
    assert engine.metrics()["plans"] == {"held": 0, "hits": 0, "builds": 8}


def test_concurrent_requests_of_one_held_key(service):
    """8 threads on one held key, under a short switch interval, all get
    the rows the building request got."""
    key = {"key": "g_union_byname", "limit": 100}
    expected = call(service, "/query", key)
    call(service, "/query", key)
    hits = call(service, "/metrics")["plans"]["hits"]
    results: list[object] = []

    def run() -> None:
        try:
            results.append(call(service, "/query", key))
        except Exception as exc:  # noqa: BLE001 — asserted below
            results.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert results == [expected] * 8
    assert call(service, "/metrics")["plans"]["hits"] == hits + 8


def test_in_place_rewrite_reaches_sql_views_and_held_plans(spark, corpus_copy):
    """``region`` rewritten in place with 500 more rows under the same path:
    ``/sql`` (views registered at engine start) and a held ``/query`` plan
    over ``region`` both return the new rows, and the plans held for the
    old corpus are dropped. A relation that kept the old file listing
    reads the grown file short (0 rows for the view)."""
    engine = SqlEngine(spark, str(corpus_copy))
    count = "SELECT count(*) AS n FROM region"
    assert engine.sql(count)["rows"] == [[5]]
    for _ in range(2):
        before = engine.run_query("g_union_byname", 10_000)
        engine.run_query("d_agg_collect", 10)
    assert engine.metrics()["plans"]["held"] == 2
    path = corpus_copy / "region.parquet"
    region = pq.read_table(path)
    extra = pa.table({
        "r_regionkey": pa.array(range(5, 505), region.schema.field("r_regionkey").type),
        "r_name": pa.array([f"NEW{k}" for k in range(500)]),
    })
    path.unlink()
    pq.write_table(pa.concat_tables([region, extra]), path)
    assert engine.sql(count)["rows"] == [[505]]
    after = engine.run_query("g_union_byname", 10_000)
    assert after["row_count"] == before["row_count"] + 500
    assert {f"NEW{k}" for k in range(500)} <= {row[1] for row in after["rows"]}
    # The rebuild dropped d_agg_collect's plan of the old corpus.
    assert engine.metrics()["plans"]["held"] == 1
