"""Per-key optimization harness: plans, a plan census, and warm timings.

    python tools/opt_r14.py plan <suffix> key [key ...]   # plans/r14/<key>_<suffix>.txt
    python tools/opt_r14.py census [key ...]              # multi-scan joins to review
    python tools/opt_r14.py time <reps> key [key ...]     # noop-timed, warm session

Timing mirrors bench.py methodology (shared warm session, noop sink) so
numbers are comparable with bench_full.json; reports every rep and the
min. ``reps`` must be 2 or more: session memos are not pre-warmed, so a
key's first rep may pay its memo builds, and the min over 2+ reps is the
memo-read cost bench.py reports. Keeping the warm-up free of memo names
lets tools/retime_movers.py run this file inside older checkouts. Plans
are captured at sf0.1 (the bench SF) via explain('formatted').
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_service_spark.registry import QUERIES, load_all  # noqa: E402
from data_service_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _warm(spark):
    """bench.py's JIT warms: the first scan and the shuffle/join/window
    codegen paths are paid once, outside the timed reps."""
    QUERIES["a_scan_prune"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.window import Window  # noqa: PLC0415

    warm = spark.range(10000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    warm_w = Window.partitionBy("k").orderBy("v")
    warm_r = Window.partitionBy("k").orderBy("v").rangeBetween(-5, 5)
    (
        warm.groupBy("k").agg(F.sum("v").alias("s")).join(warm, "k")
        .select("k", "v", "s", F.row_number().over(warm_w).alias("rn"),
                F.sum("v").over(warm_r).alias("rsum"))
        .orderBy("k", "rn").limit(100)
    ).write.format("noop").mode("overwrite").save()


def main() -> None:
    mode = sys.argv[1]
    load_all()
    spark = get_spark("opt_r14")
    spark.sparkContext.setLogLevel("ERROR")

    if mode == "plan":
        suffix = sys.argv[2]
        keys = sys.argv[3:]
        os.makedirs("plans/r14", exist_ok=True)
        for key in keys:
            df = QUERIES[key](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(f"plans/r14/{key}_{suffix}.txt", "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote plans/r14/{key}_{suffix}.txt")
        return

    if mode == "census":
        # VERDICT r13 #6: second-pass sweep for PK join-backs — keys whose
        # Spark plan scans the SAME parquet table more than once AND carries
        # a join. The r13 scorer-spine family was exactly this shape (scorer
        # projection joined back to documents USING (doc_id)); this flags
        # every remaining candidate for manual adjudication (exchange reuse
        # makes raw scan counts an overcount — each hit needs a human look).
        keys = sys.argv[2:] or sorted(QUERIES)
        for key in keys:
            try:
                df = QUERIES[key](spark, SF_DIR)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
            except Exception as exc:
                print(f"{key}: ERROR {type(exc).__name__}")
                continue
            import re as _re
            scans: dict[str, int] = {}
            for m in _re.finditer(r"Scan parquet \[?[\w.]*\]? ?.*?/(\w+)\.parquet", plan):
                scans[m.group(1)] = scans.get(m.group(1), 0) + 1
            if not scans:
                for m in _re.finditer(r"file:[^\s\]]*/(\w+)\.parquet", plan):
                    scans[m.group(1)] = scans.get(m.group(1), 0) + 1
            joins = len(_re.findall(r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", plan))
            multi = {t: c for t, c in scans.items() if c >= 2}
            if multi and joins:
                print(f"{key}: multi-scans={multi} joins={joins}")
        return

    if mode == "time":
        reps = int(sys.argv[2])
        if reps < 2:
            raise SystemExit("time: reps must be 2 or more (see module docstring)")
        keys = sys.argv[3:]
        _warm(spark)
        for key in keys:
            runs = []
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"opt_r14:{key}")
                t0 = time.perf_counter()
                QUERIES[key](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            print(f"{key}: min={min(runs)} runs={runs}")
        return

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
