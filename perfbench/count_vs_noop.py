"""Time every benchmark op with a count() action and with the noop sink.

``count()`` lets Catalyst prune every column the count does not need, so
it can skip most of an op's work; the benchmark's action is the noop
sink, which consumes every output column. This script measures the gap
once per op, so bench.py's count()-based history can be read against the
benchmark.

Usage (from the repository root): ``python3 perfbench/count_vs_noop.py``.
Prints a markdown table: for each action, the best of two warm
repetitions of build plus action, that repetition's action time, and the
jobs the op issued.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    run.pin_environment()
    sys.path.insert(0, run.ROOT)
    from accident_prediction_montreal_spark import cachereg
    from accident_prediction_montreal_spark.plans import REGISTRY
    from accident_prediction_montreal_spark.session import get_session

    spark = get_session("perfbench-count-vs-noop")
    sc = spark.sparkContext
    actions = {
        "count": lambda df: df.count(),
        "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
    }
    rows = []
    cursor = 0
    sf_dir = run.input_dir()
    REGISTRY[run.WARMUP_QUERY].fn(spark, sf_dir).count()
    for workload in WORKLOADS.values():
        for name in workload.ops:
            cells = []
            for action in actions.values():
                reps = []
                for _ in range(3):
                    spark.catalog.clearCache()
                    cachereg.release_all()
                    run.remove_op_scratch()
                    tracing.drain_listener_bus(sc)
                    cursor = tracing.next_job_id(sc, cursor)
                    t0 = time.perf_counter()
                    df = REGISTRY[name].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    action(df)
                    t2 = time.perf_counter()
                    tracing.drain_listener_bus(sc)
                    first, cursor = cursor, tracing.next_job_id(sc, cursor)
                    reps.append((t2 - t0, t2 - t1, cursor - first))
                cells.append(min(reps[1:]))  # the first repetition warms up
            rows.append((workload.name, name, cells))
            print(f"{name}: count {cells[0]}, noop {cells[1]}", file=sys.stderr)
    run.stop_spark(spark)
    print("| workload | op | count() s | action s | jobs | noop s | action s | jobs |")
    print("|---|---|---|---|---|---|---|---|")
    for workload, name, ((c, ca, cj), (n, na, nj)) in rows:
        print(f"| {workload} | {name} | {c:.2f} | {ca:.2f} | {cj} | {n:.2f} | {na:.2f} | {nj} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
