"""SQL-over-HTTP service tests: real socket, real Catalyst path."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

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
    # Memo counters: k_cluster_assign is itself a session memo, so two
    # /query calls of it are at least one hit (the first may build it).
    before = body["memos"]["k_cluster_assign"]
    for _ in range(2):
        call(service, "/query", {"key": "k_cluster_assign", "limit": 5})
    after = call(service, "/metrics")["memos"]["k_cluster_assign"]
    assert after["hits"] >= before["hits"] + 1
    assert after["hits"] + after["misses"] == before["hits"] + before["misses"] + 2
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
