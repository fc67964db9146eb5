"""SQL-over-HTTP service layer — reference parity (SURVEY.md §7.6).

The reference's defining surface beyond Spark SQL itself is a REST-fronted
multi-source SQL service. The PySpark-native equivalent is one long-lived
SparkSession behind a thin HTTP app:

    POST /sql     {"sql": "...", "limit": 1000}  → {"columns": [...], "rows": [[...]]}
    POST /explain {"sql": "..."} | {"query": "<registry key>"}
                                                 → {"plan": "..."}  (formatted physical plan)
    GET  /tables                                 → {"tables": [...]}
    GET  /health                                 → {"status": "ok"}

Stdlib-only (ThreadingHTTPServer) so the service runs in any environment
that has PySpark — no web-framework dependency. Row limits are enforced
with ``df.limit(n)`` BEFORE collect, so the driver never materializes an
unbounded result; at cluster scale the session is the gateway's and
executors do all heavy lifting.

Source registration mirrors the reference's multi-source model: any
DataSource V2 format (parquet/csv/json/orc/jdbc/kafka) declared as a dict
config becomes a temp view. Connector recipes that need external services
(JDBC/Kafka/Hive) are config-only here — see ``sources.py``.

Held plans. ``/query`` keeps the DataFrame a registry key's builder
returned, per engine (so per session) and per ``io.corpus_fingerprint`` of
the corpus dir, and answers a repeated request with
``held.limit(n).collect()``: no builder call, no ``io.load``, no Python
``Column`` construction. A built frame is held only when the build itself
shows that it is a pure function of the corpus: the key is not in
``registry.EFFECTFUL``; the build started no Spark job, counted under a
job tag local to the request's thread (every write is a job, so every sink
is excluded, and a memo reader is held only from the build after the one
that filled its memo); and every file in its ``inputFiles()`` lies under
the corpus dir (a builder that writes a file from Python and reads it back
is excluded). Nothing is configured or listed by hand, and a corpus that
cannot be fingerprinted holds nothing. A new fingerprint rebuilds the
entry and drops every entry of the old one, and the memos rebuild on the
same fingerprint, so a held plan never reads a stale checkpoint. No result is cached: ``.limit`` makes a new Dataset with its
own QueryExecution, so every request is optimized, planned and executed
afresh. The held Dataset itself is never collected, because its executed
plan would keep materialized AQE stages and broadcast results.

The ``/sql`` views are registered at start with the corpus fingerprint of
that moment; a request that sees a different fingerprint re-registers them
first, because a temp view keeps the file listing it resolved and would
read a table rewritten in place as stale or empty.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from datetime import date, datetime
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from data_service_spark.io import (
    MEMOS,
    SCHEMA_COUNTS,
    TABLES,
    corpus_fingerprint,
    register_temp_views,
)

MAX_ROWS = 10_000  # hard cap per request; pagination is the client's job


def _json_cell(v: Any) -> Any:
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if hasattr(v, "asDict"):  # Row / struct
        return {k: _json_cell(x) for k, x in v.asDict().items()}
    return v


class SqlEngine:
    """Owns the SparkSession and executes SQL texts against registered views.

    ``spark.sql`` runs the full Catalyst path (parse → analyze → optimize →
    plan → AQE execute); results are truncated with ``limit`` inside the
    plan, not after collect.
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self._streams: dict[str, Any] = {}
        # key -> (corpus fingerprint, built frame): see run_query.
        self._plans: dict[str, tuple[object, DataFrame]] = {}
        self._plan_counts = {"hits": 0, "builds": 0}
        self._plans_lock = threading.Lock()
        self._views_lock = threading.Lock()
        self._views_fp = None
        if sf_dir is not None:
            self._views_fp = corpus_fingerprint(sf_dir)
            register_temp_views(spark, sf_dir)

    def _refresh_views(self) -> None:
        """Re-register the corpus views when the corpus fingerprint moved
        since they were registered: a temp view keeps the file listing it
        resolved, so a table rewritten in place would read stale rows."""
        if self.sf_dir is None:
            return
        fp = corpus_fingerprint(self.sf_dir)
        if fp == self._views_fp:
            return
        with self._views_lock:
            if fp != self._views_fp:
                register_temp_views(self.spark, self.sf_dir)
                self._views_fp = fp

    # ------------------------------------------------ streaming lifecycle --

    def start_stream(self, name: str, path: str) -> dict[str, Any]:
        """Start a named streaming aggregation over an events directory into
        an in-memory sink table — streaming-as-a-service: the sink table is
        immediately queryable through /sql (`SELECT * FROM <name>`), which
        is how a dashboard polls a live rollup. availableNow processes the
        backlog and terminates; a production config would drop the trigger
        and run continuously — same plan, same sink."""
        if not name.isidentifier():
            raise PermissionError(f"stream name {name!r} must be an identifier")
        if name in self._streams and self._streams[name].isActive:
            raise PermissionError(f"stream {name!r} already active")
        from data_service_spark.queries.streaming_batch import tumbling_agg
        from data_service_spark.streaming import read_event_stream

        q = (
            tumbling_agg(read_event_stream(self.spark, path))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        self._streams[name] = q
        return {"name": name, "id": str(q.id), "active": q.isActive}

    def metrics(self) -> dict[str, Any]:
        """Engine observability snapshot: the numbers an operator dashboard
        scrapes — engine version, parallelism, catalog/stream/registry
        sizes, the JVM's executor-side job counters from the status
        tracker, each session memo's hit/miss/build-second counters
        (``io.MEMOS``), ``io.load``'s schema-cache hits and misses, and
        the held ``/query`` plans: how many are held, how many requests
        a held plan answered (``hits``) and how many called the builder
        (``builds``). Cheap (driver-side metadata only, no jobs run)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        return {
            "spark_version": self.spark.version,
            "default_parallelism": sc.defaultParallelism,
            "n_tables": len(self.tables()),
            "n_streams": len(self._streams),
            "n_query_keys": len(self.query_keys()),
            "active_job_ids": list(tracker.getActiveJobsIds()),
            "active_stage_ids": list(tracker.getActiveStageIds()),
            "memos": {
                m.__name__: {
                    "hits": m.hits,
                    "misses": m.misses,
                    "build_s": round(m.build_s, 3),
                }
                for m in MEMOS
            },
            "schemas": dict(SCHEMA_COUNTS),
            "plans": {"held": len(self._plans), **self._plan_counts},
        }

    def streams(self) -> list[dict[str, Any]]:
        return [
            {"name": n, "active": q.isActive}
            for n, q in self._streams.items()
        ]

    def stop_stream(self, name: str) -> dict[str, Any]:
        q = self._streams[name]
        q.stop()
        return {"name": name, "active": q.isActive}

    def register_source(self, name: str, fmt: str, path: str | None = None,
                        options: dict[str, str] | None = None) -> None:
        reader = self.spark.read.format(fmt)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        df = reader.load(path) if path else reader.load()
        df.createOrReplaceTempView(name)

    def tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    def table_schema(self, name: str) -> dict[str, Any]:
        """Column metadata for one registered view/table — the catalog
        introspection a client runs before writing SQL. Served from the
        analyzer (no scan, no action)."""
        if name not in self.tables():
            raise KeyError(name)
        df = self.spark.table(name)
        return {
            "table": name,
            "columns": [
                {"name": f.name, "type": f.dataType.simpleString(),
                 "nullable": f.nullable}
                for f in df.schema.fields
            ],
        }

    def query_keys(self) -> list[str]:
        from data_service_spark.registry import QUERIES, load_all

        load_all()
        return sorted(QUERIES)

    def run_query(self, key: str, limit: int = 1000) -> dict[str, Any]:
        """Execute a registered operator (SURVEY.md §2 key) against the
        service's corpus dir — the named-pipeline counterpart of raw /sql,
        so clients get every curated operator without shipping SQL.
        A held key runs ``held.limit(limit)`` with no builder call (see
        "Held plans" in the module docstring)."""
        from data_service_spark.registry import QUERIES, load_all

        load_all()
        if self.sf_dir is None:
            raise PermissionError("service started without a corpus dir")
        if key not in QUERIES:
            raise KeyError(key)
        limit = max(1, min(int(limit), MAX_ROWS))
        df = self._plan(key).limit(limit)
        rows = df.collect()
        return {
            "key": key,
            "columns": df.columns,
            "rows": [[_json_cell(v) for v in row] for row in rows],
            "row_count": len(rows),
            "truncated_at": limit,
        }

    def _plan(self, key: str) -> DataFrame:
        """The held frame of ``key`` at the current corpus fingerprint, else
        a fresh build, held by the rule of the module docstring."""
        from data_service_spark.registry import EFFECTFUL, QUERIES

        fp = corpus_fingerprint(self.sf_dir)
        with self._plans_lock:
            held = self._plans.get(key)
            if held is not None and held[0] == fp:
                self._plan_counts["hits"] += 1
                return held[1]
            self._plan_counts["builds"] += 1
            # Entries of an older corpus would pin its checkpoints.
            self._plans = {k: v for k, v in self._plans.items() if v[0] == fp}
        sc = self.spark.sparkContext
        tag = f"dss-build-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            df = QUERIES[key](self.spark, self.sf_dir)
        finally:
            sc.removeJobTag(tag)
        hold = (
            fp is not None
            and key not in EFFECTFUL
            and not self._started_jobs(tag)
            and self._reads_only_corpus(df)
        )
        with self._plans_lock:
            if hold:
                self._plans[key] = (fp, df)
            else:
                self._plans.pop(key, None)
        return df

    def _started_jobs(self, tag: str) -> bool:
        """Did any job carry ``tag``? The status store is filled from the
        listener bus, so drain it first; a drain that times out counts as
        a job (the frame is then rebuilt next time, never served stale)."""
        jsc = self.spark.sparkContext._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JJavaError:
            return True
        return len(jsc.statusTracker().getJobIdsForTag(tag)) > 0

    def _reads_only_corpus(self, df: DataFrame) -> bool:
        """Every ``inputFiles()`` entry (``file://`` URIs) is a path under
        the corpus dir."""
        root = os.path.realpath(self.sf_dir)
        for uri in df.inputFiles():
            u = urlparse(uri)
            if u.scheme != "file":
                return False
            path = os.path.realpath(unquote(u.path))
            if os.path.commonpath([root, path]) != root:
                return False
        return True

    def explain(self, sql_text: str) -> dict[str, Any]:
        """Formatted physical plan without executing — the ops surface for
        checking pushdown/broadcast/shuffle shape before running at scale."""
        return self._explain_df(self.spark.sql(sql_text))

    def explain_query(self, key: str) -> dict[str, Any]:
        """Formatted physical plan of a REGISTERED query key (including the
        streaming batch twins) — `/explain {"query": k}`; plan-before-run
        for the whole curated surface, not just raw SQL.

        Building a key's DataFrame runs its builder body, so plan
        extraction may execute that key's SETUP work (localCheckpoint,
        stream twins, temp writes). What it must never do is mutate shared
        catalog/warehouse state: keys registered with ``effects`` (DROP/
        CREATE TABLE, saveAsTable, INSERT — e.g. ``q_tpch_refresh``) are
        refused here and must be run via /query instead."""
        from data_service_spark.registry import EFFECTFUL, QUERIES, load_all

        load_all()
        if self.sf_dir is None:
            raise PermissionError("service started without a corpus dir")
        if key not in QUERIES:
            raise KeyError(key)
        if key in EFFECTFUL:
            raise PermissionError(
                f"refusing to explain {key!r}: building its plan mutates "
                f"shared state ({EFFECTFUL[key]}); run it via /query"
            )
        return {"key": key, **self._explain_df(QUERIES[key](self.spark, self.sf_dir))}

    @staticmethod
    def _explain_df(df: DataFrame) -> dict[str, Any]:
        import contextlib
        import io as _io

        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return {"plan": buf.getvalue()}

    # First keyword of statements the /sql endpoint will run. Everything
    # else (DDL/DML/SET/...) is rejected: the endpoint is a QUERY surface,
    # not an admin console — DROP TABLE on the managed tables or SET on
    # session confs must not be reachable over HTTP.
    _QUERY_KEYWORDS = frozenset(
        {"select", "with", "values", "table", "show", "describe", "desc"}
    )

    @classmethod
    def _first_keyword(cls, sql_text: str) -> str:
        """Leading keyword after stripping whitespace, line comments and
        bracketed comments — cheap lexing, no execution."""
        s = sql_text
        while True:
            s = s.lstrip(" \t\r\n;")
            if s.startswith("--"):
                nl = s.find("\n")
                s = "" if nl < 0 else s[nl + 1:]
                continue
            if s.startswith("/*"):
                end = s.find("*/")
                s = "" if end < 0 else s[end + 2:]
                continue
            break
        word = ""
        for ch in s:
            if ch.isalpha():
                word += ch
            else:
                break
        return word.lower()

    def sql(
        self,
        sql_text: str,
        limit: int = 1000,
        args: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Run a read query; ``args`` binds Spark named parameter markers
        (``:name``) so client-supplied values enter as VALUES, never by
        string-splicing into the statement (the q_param_sql surface at the
        service boundary)."""
        kw = self._first_keyword(sql_text)
        if kw not in self._QUERY_KEYWORDS:
            raise PermissionError(
                f"statement kind {kw or '<empty>'!r} is not allowed on /sql; "
                f"only read queries ({', '.join(sorted(self._QUERY_KEYWORDS))})"
            )
        limit = max(1, min(int(limit), MAX_ROWS))
        if args is not None and not isinstance(args, dict):
            raise ValueError("args must be an object of name → value")
        self._refresh_views()
        df = self.spark.sql(sql_text, args=args) if args else self.spark.sql(sql_text)
        df = df.limit(limit)
        rows = df.collect()
        return {
            "columns": df.columns,
            "rows": [[_json_cell(v) for v in row] for row in rows],
            "row_count": len(rows),
            "truncated_at": limit,
        }


def make_handler(engine: SqlEngine) -> type[BaseHTTPRequestHandler]:
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *_args) -> None:  # quiet test runs
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:
            if self.path == "/health":
                self._send(200, {"status": "ok"})
            elif self.path == "/tables":
                self._send(200, {"tables": engine.tables()})
            elif self.path == "/queries":
                self._send(200, {"queries": engine.query_keys()})
            elif self.path == "/streams":
                self._send(200, {"streams": engine.streams()})
            elif self.path == "/metrics":
                self._send(200, engine.metrics())
            elif self.path.startswith("/schema/"):
                name = self.path[len("/schema/"):]
                try:
                    self._send(200, engine.table_schema(name))
                except KeyError:
                    self._send(404, {"error": f"unknown table {name!r}"})
            else:
                self._send(404, {"error": f"no route {self.path}"})

        def do_POST(self) -> None:
            routes = ("/sql", "/explain", "/query", "/stream/start", "/stream/stop")
            if self.path not in routes:
                self._send(404, {"error": f"no route {self.path}"})
                return
            try:
                n = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(n) or b"{}")
                if self.path == "/explain":
                    if "query" in req:
                        result = engine.explain_query(req["query"])
                    else:
                        result = engine.explain(req["sql"])
                elif self.path == "/query":
                    result = engine.run_query(req["key"], req.get("limit", 1000))
                elif self.path == "/stream/start":
                    result = engine.start_stream(req["name"], req["path"])
                elif self.path == "/stream/stop":
                    result = engine.stop_stream(req["name"])
                else:
                    result = engine.sql(
                        req["sql"], req.get("limit", 1000), req.get("args")
                    )
                self._send(200, result)
            except KeyError as exc:
                self._send(400, {"error": f"missing/unknown field or key: {exc}"})
            except PermissionError as exc:
                self._send(403, {"error": str(exc)})
            except Exception as exc:  # analysis/parse errors → client fault
                self._send(400, {"error": f"{type(exc).__name__}: {exc}"})

    return Handler


class SqlService:
    """Threaded HTTP server wrapper; ``start()`` returns the bound port."""

    def __init__(self, engine: SqlEngine, host: str = "127.0.0.1", port: int = 0):
        self._server = ThreadingHTTPServer((host, port), make_handler(engine))
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> int:
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def main() -> None:
    """Entry point: serve the corpus at $SPARK_GRAFT_SF_DIR on :8080."""
    import os

    from data_service_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    engine = SqlEngine(get_spark("sql-service"), sf_dir)
    service = SqlService(engine, port=int(os.environ.get("PORT", "8080")))
    port = service.start()
    print(f"serving {len(TABLES)} tables on :{port}")
    threading.Event().wait()


if __name__ == "__main__":
    main()
