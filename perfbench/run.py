"""Closed-loop benchmark of the data service: one process, one client thread.

    python3 perfbench/run.py --workload sql --seed 1 --seconds 18 --trace 0

Workloads (op lists frozen in ``perfbench/ops/``, see ``oplists.py``):

- ``sql``: ``POST /sql`` of fixed SQL texts over the sf0.01 views;
- ``keys``: ``POST /query`` of a fixed sample of registry keys on sf0.01;
- ``batch``: in-process, slow-tail keys on sf0.1 through the noop sink.

A run sets the program up (the ``setup_s`` clock), runs one verify pass whose
every result is checked against DuckDB, a fixed number of warm-up passes, and
then whole timed passes until ``--seconds`` have passed. After
the timed phase each response is checked against its verified digest. The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).
"""

from __future__ import annotations

import argparse
import http.client
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import corpus  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("sql", "keys", "batch")
CPUS = 3
DRIVER_MEM = "3g"
LIMIT = 1000
# Untimed passes after the verify pass. Pass time keeps falling for over a
# minute of passes (JIT), longer than a run can wait, so every run warms up
# by the same fixed work and times the same stretch of that curve.
WARM_PASSES = {"sql": 8, "keys": 4, "batch": 1}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(workload: str) -> str:
    """Give this run its own scratch tree inside the checkout: warehouse,
    metastore and Derby log (via the working directory), Spark local dirs,
    Python and JVM temp dirs. Pin the core count."""
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "local"))
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(min(CPUS, ncpu)),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    os.chdir(run_dir)
    return run_dir


def post(port: int, path: str, payload: dict) -> tuple[int, bytes]:
    """One request on a fresh connection (the service speaks HTTP/1.0)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, json.dumps(payload).encode(),
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Workload:
    """The op list of one workload and how to run and check one op."""

    def __init__(self, name: str, seed: int, trace):
        self.name, self.trace = name, trace
        with open(os.path.join(HERE, "ops", f"{name}.json")) as f:
            spec = json.load(f)
        self.sf = float(spec["corpus"].removeprefix("sf"))
        # The op order is fixed: with the order rotated by seed, keys'
        # op_ms_gm read 450-640 ms by rotation alone (an op's latency
        # depends on the op before it).
        self.ops = spec["ops"]
        for op in self.ops:
            op["kind"] = op.get("name") or op["key"]
            if "args_choices" in op:
                op["args"] = op["args_choices"][seed % len(op["args_choices"])]
        self.verified: dict[str, str] = {}
        self.wrong: dict[str, str] = {}
        self.errors: dict[str, str] = {}

    # -------------------------------------------------------------- setup --

    def setup(self, sf_dir: str) -> None:
        from data_service_spark import registry, session

        if self.trace:
            self.trace.install_early()

        registry.load_all()
        if self.trace:
            self.trace.install()
        self.queries, self.oracles = registry.QUERIES, registry.ORACLES
        self.spark = session.get_spark("perfbench")
        self.sf_dir = sf_dir
        self.service = None
        if self.name in ("sql", "keys"):
            from data_service_spark.service import SqlEngine, SqlService

            self.service = SqlService(SqlEngine(self.spark, sf_dir))
            self.port = self.service.start()

    def teardown(self) -> None:
        from pyspark import SparkContext

        if self.service is not None:
            self.service.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()

    # ---------------------------------------------------------------- ops --

    def run_op(self, op: dict, collect: bool = False) -> tuple[float, int, object]:
        """Run one op; (latency s, status, body). A batch op materializes
        through the noop sink, or with ``collect`` returns its rows (through
        Arrow) for the verify pass. Status 0 means the op raised, 404 an
        unknown key."""
        kind = op["kind"]
        t0 = time.perf_counter()
        if self.name == "batch":
            fn = self.queries.get(kind)
            if fn is None:
                return time.perf_counter() - t0, 404, None
            try:
                df = fn(self.spark, self.sf_dir)
                if collect:
                    pdf = df.toPandas()
                    body = (list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
                else:
                    df.write.format("noop").mode("overwrite").save()
                    body = None
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                self.errors.setdefault(kind, f"{type(exc).__name__}: {exc}"[:300])
                return time.perf_counter() - t0, 0, None
            return time.perf_counter() - t0, 200, body
        if self.name == "sql":
            payload = {"sql": op["sql"], "limit": LIMIT}
            if "args" in op:
                payload["args"] = op["args"]
            path = "/sql"
        else:
            payload, path = {"key": kind, "limit": LIMIT}, "/query"
        span = self.trace.begin("service.http") if self.trace and self.trace.on else None
        try:
            status, body = post(self.port, path, payload)
        finally:
            if span is not None:
                self.trace.end(span)
        return time.perf_counter() - t0, status, body

    def verify(self, op: dict, status: int, body: bytes | None, oracle) -> None:
        """Check one verify-pass result against DuckDB; remember its digest."""
        kind = op["kind"]
        if status != 200:
            self.errors.setdefault(kind, f"status {status}: {str(body)[:300]}")
            return
        if self.name == "batch":
            (cols, rows), limit = body, None
        else:
            doc = json.loads(body)
            cols, rows, limit = doc["columns"], doc["rows"], LIMIT
        if self.name == "sql":
            o_cols, o_rows = oracle.run(op["sql"], op.get("args"))
        elif kind in self.oracles:
            o_cols, o_rows = oracle.run(self.oracles[kind])
        else:
            self.errors.setdefault(kind, "no DuckDB oracle for this key")
            return
        why = check.compare(cols, rows, o_cols, o_rows, limit)
        if why:
            self.wrong.setdefault(kind, why)
        elif self.name != "batch":
            self.verified[kind] = check.digest(cols, rows)
        else:
            self.verified[kind] = "checked"

    def ok(self, op: dict, status: int, body: bytes | None) -> bool:
        """Outside the timed interval: is this timed result the verified one?"""
        kind = op["kind"]
        if status != 200 or kind not in self.verified:
            return False
        if self.name == "batch":
            return True
        doc = json.loads(body)
        if check.digest(doc["columns"], doc["rows"]) != self.verified[kind]:
            self.wrong.setdefault(kind, "timed response differs from verified one")
            return False
        return True


def run_pass(w: Workload, op_counter: list[int], traced=None, verify: bool = False):
    """One pass over the op list; (pass seconds, [(op id, op, lat, status,
    body, cost)]). ``traced(i)`` says whether the pass's i-th op is traced
    (spans and Spark counters); ``cost`` is the op's wall time including
    that bookkeeping."""
    out = []
    t0 = time.perf_counter()
    tr = w.trace
    for i, op in enumerate(w.ops):
        op_id = op_counter[0]
        op_counter[0] += 1
        t_op = time.perf_counter()
        if tr is not None:
            tr.on = traced is None or traced(i)
        if tr is not None and tr.on:
            tr.op = op_id
            if traced is not None:
                tr.mark_jobs(w.spark)
            span = tr.begin("op")
            lat, status, body = w.run_op(op, verify)
            tr.end(span)
            if traced is not None:
                tr.read_jobs(w.spark, op_id)
            tr.op = None
        else:
            lat, status, body = w.run_op(op, verify)
        out.append((op_id, op, lat, status, body, time.perf_counter() - t_op))
    if tr is not None:
        tr.on = True
    return time.perf_counter() - t0, out


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(math.ceil(q * len(s))) - 1)]


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench run")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "data_service_spark")):
        log(f"no data_service_spark package under {ROOT}; nothing to benchmark")
        return 2

    sf_dir_root = os.path.join(ROOT, ".perfbench_data")
    tracer = spans.Tracer() if args.trace else None
    w = Workload(args.workload, args.seed, tracer)
    sf_dir = corpus.ensure(sf_dir_root, w.sf)
    run_dir = isolate(args.workload)
    oracle = check.Oracle(sf_dir)
    try:
        t_setup = time.perf_counter()
        w.setup(sf_dir)
        setup_s = time.perf_counter() - t_setup
        w.spark.sparkContext.setLogLevel("ERROR")
        op_counter = [0]

        # Verify pass: the first pass after ready, every result checked.
        cold_s, results = run_pass(w, op_counter, verify=True)
        warm_ops = {r[0] for r in results}
        for _, op, _, status, body, _ in results:
            w.verify(op, status, body, oracle)

        warm_times: list[float] = []
        for _ in range(WARM_PASSES[args.workload]):
            dt, results = run_pass(w, op_counter)
            warm_ops |= {r[0] for r in results}
            warm_times.append(dt)

        # Timed phase: whole passes until --seconds have passed. A traced
        # run traces every other op, the other half in the next pass, so
        # each op kind is timed both ways.
        timed: list[tuple] = []
        pass_times: list[float] = []
        t_timed = time.perf_counter()
        min_passes = 2 if tracer else 1
        while True:
            parity = len(pass_times) % 2
            traced = (lambda i, p=parity: (i + p) % 2 == 0) if tracer else None
            dt, results = run_pass(w, op_counter, traced)
            pass_times.append(dt)
            timed += [(r, bool(traced and traced(i))) for i, r in enumerate(results)]
            if (len(pass_times) >= min_passes
                    and time.perf_counter() - t_timed >= args.seconds):
                break
        timed_s = time.perf_counter() - t_timed

        # Outside the timed interval: check every timed result.
        by_kind: dict[str, list[float]] = {}
        failed = 0
        lat_all: list[float] = []
        for (op_id, op, lat, status, body, _), _ in timed:
            if w.ok(op, status, body):
                by_kind.setdefault(op["kind"], []).append(lat * 1e3)
                lat_all.append(lat * 1e3)
            else:
                failed += 1
        attempted = len(timed)
        medians = [statistics.median(v) for v in by_kind.values()]
        gm = math.exp(sum(map(math.log, medians)) / len(medians)) if medians else 0.0
        ops_per_s = (attempted - failed) / timed_s
        for kind, why in sorted(w.wrong.items()):
            log(f"WRONG {kind}: {why}")
        for kind, why in sorted(w.errors.items()):
            log(f"ERROR {kind}: {why}")
        p50 = quantile(lat_all, 0.5) if lat_all else 0.0
        p90 = quantile(lat_all, 0.9) if lat_all else 0.0
        print(
            f"workload={args.workload} seed={args.seed} setup_s={setup_s:.3f} "
            f"cold_pass_s={cold_s:.3f} warm_passes={[round(x, 3) for x in warm_times]} "
            f"timed_passes={[round(dt, 3) for dt in pass_times]} ops={attempted} "
            f"failed={failed} p50_ms={p50:.1f} p90_ms={p90:.1f} (n={len(lat_all)})",
            flush=True,
        )
        print("kind_median_ms " + json.dumps(
            {k: round(statistics.median(v), 1) for k, v in sorted(by_kind.items())}),
            flush=True)
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (ops_per_s, "1/s"),
                "op_ms_gm": (gm, "ms"),
            }
        else:
            metrics = layer_metrics(w, tracer, timed, warm_ops, cold_s)
        result = {
            "correct": not w.wrong,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        oracle.close()
        if hasattr(w, "spark"):
            w.teardown()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


UNITS = {
    "session.start_s": "s", "session.rss_mb": "MB",
    "queries.load_all_s": "s", "queries.build_ms": "ms", "queries.build_share": "%",
    "queries.cold_pass_s": "s",
    "io.register_views_s": "s", "io.load_calls_per_op": "count", "io.load_ms": "ms",
    "io.load_share": "%", "io.checkpoints_per_op": "count", "io.memo_build_s": "s",
    "io.memo_mb": "MB",
    "service.engine_ms": "ms", "service.http_ms": "ms", "service.encode_ms": "ms",
    "service.response_kb": "KB",
    "spark.analyze_ms": "ms", "spark.execute_ms": "ms", "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.shuffle_write_mb_per_op": "MB", "spark.shuffle_read_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB", "spark.input_rows_per_op": "count",
    "spark.executor_run_ms_per_op": "ms", "spark.executor_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms", "spark.failed_tasks": "count",
    "trace.op_ms": "ms", "trace.overhead_pct": "%",
}


def layer_metrics(w, tracer, timed, warm_ops, cold_s):
    traced_ops = {r[0] for r, traced in timed if traced}
    m = tracer.layer_metrics(traced_ops, warm_ops)
    sizes = [len(r[4]) / 1024 for r, traced in timed
             if traced and isinstance(r[4], bytes)]
    # Tracing overhead: wall time per op (bookkeeping included), traced
    # against untraced, summed over the op kinds timed both ways.
    cost: dict[tuple[str, bool], list[float]] = {}
    for r, traced in timed:
        cost.setdefault((r[1]["kind"], traced), []).append(r[5])
    kinds = {k for k, t in cost if (k, not t) in cost}
    on = sum(statistics.median(cost[(k, True)]) for k in kinds)
    off = sum(statistics.median(cost[(k, False)]) for k in kinds)
    m.update({
        "session.start_s": tracer.first("session.get_spark"),
        "session.rss_mb": spans.tree_rss_mb(),
        "queries.load_all_s": tracer.first("queries.load_all"),
        "queries.cold_pass_s": cold_s,
        "io.register_views_s": tracer.first("io.register_views"),
        "io.memo_mb": spans.memo_mb(w.spark),
        "service.response_kb": statistics.median(sizes) if sizes else 0.0,
        "trace.overhead_pct": 100.0 * (on / off - 1) if off else 0.0,
    })
    return {k: (m[k], UNITS[k]) for k in UNITS}


if __name__ == "__main__":
    sys.exit(main())
