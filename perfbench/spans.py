"""Traced mode: spans around the calls into each layer, kept in memory.

Nothing in the program changes. ``install`` wraps, from outside:

- ``service``: ``SqlEngine.sql`` and ``SqlEngine.run_query``;
- ``queries``: ``registry.load_all`` and every ``QUERIES[key]`` builder;
- ``io``: ``load`` (on ``data_service_spark.io`` and on every module that
  bound it by name at import), ``register_temp_views`` (same) and
  ``DataFrame.localCheckpoint``;
- ``session``: ``get_spark``;
- ``spark``: ``SparkSession.sql``, ``DataFrame.collect`` and
  ``DataFrameWriter.save``.

The runner adds a span per op and one around each HTTP round-trip. A span is
``(name, start, end, parent, op)``. Ops run one at a time, so one stack of
open spans serves the client thread and the server's handler thread alike.
Spark's own counters for an op are read from the status store after the op:
its jobs are the ids above the newest job seen before it.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
from collections import defaultdict

_EXECUTE = ("spark.collect", "spark.save")


class Tracer:
    def __init__(self) -> None:
        self.on = True
        self.spans: list[list] = []  # [name, t0, t1, parent_index, op]
        self._stack: list[int] = []
        self.op: int | None = None
        self.spark_ops: dict[int, dict[str, float]] = {}
        self._last_job = -1

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        if self._stack and self._stack[-1] == idx:
            self._stack.pop()
        elif idx in self._stack:
            self._stack.remove(idx)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    # ------------------------------------------------------------ install --

    def install_early(self) -> None:
        """Wrap what setup calls first: ``load_all`` and ``get_spark``."""
        from data_service_spark import registry, session

        registry.load_all = self.wrap("queries.load_all", registry.load_all)
        session.get_spark = self.wrap("session.get_spark", session.get_spark)

    def install(self) -> None:
        """Wrap every layer boundary; call after ``load_all`` imported the
        query modules, so their by-name bindings of ``load`` exist."""
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from data_service_spark import io
        from data_service_spark.registry import QUERIES
        from data_service_spark.service import SqlEngine

        for attr, name in (("load", "io.load"),
                           ("register_temp_views", "io.register_views")):
            original = getattr(io, attr)
            wrapped = self.wrap(name, original)
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith("data_service_spark") and (
                    getattr(mod, attr, None) is original
                ):
                    setattr(mod, attr, wrapped)
        for key, fn in list(QUERIES.items()):
            QUERIES[key] = self.wrap("queries.build", fn)
        SqlEngine.sql = self.wrap("service.engine", SqlEngine.sql)
        SqlEngine.run_query = self.wrap("service.engine", SqlEngine.run_query)
        SparkSession.sql = self.wrap("spark.sql", SparkSession.sql)
        DataFrame.collect = self.wrap("spark.collect", DataFrame.collect)
        DataFrame.localCheckpoint = self.wrap("io.checkpoint", DataFrame.localCheckpoint)
        DataFrameWriter.save = self.wrap("spark.save", DataFrameWriter.save)

    # ------------------------------------------------------ spark counters --

    def mark_jobs(self, spark) -> None:
        """Remember the newest job id, so the next op's jobs are those above."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        if jobs.length():
            self._last_job = max(self._last_job, jobs.apply(0).jobId())

    def read_jobs(self, spark, op: int) -> None:
        """Sum the status-store counters of the jobs ``op`` started."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        c: dict[str, float] = defaultdict(float)
        newest = self._last_job
        for i in range(jobs.length()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            newest = max(newest, job.jobId())
            c["jobs"] += 1
            sids = job.stageIds()
            for j in range(sids.length()):
                st = store.lastStageAttempt(sids.apply(j))
                if str(st.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                c["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                c["input_rows"] += st.inputRecords()
                c["executor_run_ms"] += st.executorRunTime()
                c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                c["gc_ms"] += st.jvmGcTime()
        self._last_job = newest
        self.spark_ops[op] = dict(c)

    # ------------------------------------------------------------- metrics --

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[3] >= 0:
                kids[s[3]].append(i)
        return kids

    def self_ms(self, idx: int, kids: dict[int, list[int]]) -> float:
        """Duration minus the part of it covered by child spans."""
        name, t0, t1, _, _ = self.spans[idx]
        covered, cursor = 0.0, t0
        for k in sorted(kids.get(idx, []), key=lambda k: self.spans[k][1]):
            a, b = max(self.spans[k][1], cursor), min(self.spans[k][2] or t1, t1)
            if b > a:
                covered += b - a
                cursor = b
        return (t1 - t0 - covered) * 1e3

    def _under(self, idx: int, name: str) -> bool:
        p = self.spans[idx][3]
        while p >= 0:
            if self.spans[p][0] == name:
                return True
            p = self.spans[p][3]
        return False

    def first(self, name: str) -> float:
        """Seconds of the first span called ``name`` (0 if none)."""
        for s in self.spans:
            if s[0] == name and s[2] is not None:
                return s[2] - s[1]
        return 0.0

    def total_s(self, name: str, ops: set[int]) -> float:
        return sum(s[2] - s[1] for s in self.spans
                   if s[0] == name and s[4] in ops and s[2] is not None)

    def layer_metrics(self, timed_ops: set[int], warm_ops: set[int]) -> dict[str, float]:
        """Per-layer figures over the traced timed ops (medians per op, or
        per call where the name says so)."""
        kids = self._children()
        per_op: dict[int, dict[str, float]] = {
            op: defaultdict(float) for op in timed_ops
        }
        load_ms: list[float] = []
        for i, (name, t0, t1, _, op) in enumerate(self.spans):
            if op not in per_op or t1 is None:
                continue
            d, ms = per_op[op], (t1 - t0) * 1e3
            if name == "op":
                d["op"] += ms
            elif name == "io.load":
                d["loads"] += 1
                d["load_ms"] += ms
                load_ms.append(ms)
            elif name == "io.checkpoint":
                d["checkpoints"] += 1
            elif name == "queries.build" and not self._under(i, "queries.build"):
                d["build"] += ms
            elif name == "service.engine":
                d["engine"] += ms
                d["encode"] += self.self_ms(i, kids)
            elif name == "service.http":
                d["http"] += self.self_ms(i, kids)
            elif name == "spark.sql":
                d["analyze"] += ms
            elif name in _EXECUTE and not self._under(i, "queries.build"):
                d["execute"] += ms
        ops = list(per_op.values())
        n = max(1, len(ops))

        def med(field: str) -> float:
            return statistics.median([d[field] for d in ops]) if ops else 0.0

        def share(field: str) -> float:
            base = sum(d["op"] for d in ops)
            return 100.0 * sum(d[field] for d in ops) / base if base else 0.0

        counters = [self.spark_ops.get(op, {}) for op in per_op]

        def per(field: str) -> float:
            return sum(c.get(field, 0.0) for c in counters) / n

        return {
            "queries.build_ms": med("build"),
            "queries.build_share": share("build"),
            "io.load_calls_per_op": sum(d["loads"] for d in ops) / n,
            "io.load_ms": statistics.median(load_ms) if load_ms else 0.0,
            "io.load_share": share("load_ms"),
            "io.checkpoints_per_op": sum(d["checkpoints"] for d in ops) / n,
            "io.memo_build_s": self.total_s("io.checkpoint", warm_ops),
            "service.engine_ms": med("engine"),
            "service.http_ms": med("http"),
            "service.encode_ms": med("encode"),
            "spark.analyze_ms": med("analyze"),
            "spark.execute_ms": med("execute"),
            "spark.jobs_per_op": per("jobs"),
            "spark.stages_per_op": per("stages"),
            "spark.tasks_per_op": per("tasks"),
            "spark.shuffle_write_mb_per_op": per("shuffle_write_mb"),
            "spark.shuffle_read_mb_per_op": per("shuffle_read_mb"),
            "spark.spill_mb_per_op": per("spill_mb"),
            "spark.input_rows_per_op": per("input_rows"),
            "spark.executor_run_ms_per_op": per("executor_run_ms"),
            "spark.executor_cpu_ms_per_op": per("executor_cpu_ms"),
            "spark.gc_ms_per_op": per("gc_ms"),
            "spark.failed_tasks": sum(c.get("failed_tasks", 0.0) for c in counters),
            "trace.op_ms": med("op"),
        }


def _tree() -> list[int]:
    """This process and all its descendants (the JVM and the Python workers
    it forks), from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.append(c)
                frontier.append(c)
    return tree


def tree_rss_mb() -> float:
    """Resident memory of the process tree."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def memo_mb(spark) -> float:
    """Megabytes of persisted blocks (localCheckpoint memos) held now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / 1e6
