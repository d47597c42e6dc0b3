"""Share of a DQ call's time that scales with its input rows.

    python3 procbench/scaling.py --seed 1

Generates the benchmark's ``orders`` table at its full size N and at
N / 10, then times ``run_table_dq`` on the table and
``ingestion_code_generator`` (file DQ discovery + code generation) on
its csv export at both sizes, warm (median of the repeats after a
first, discarded call). With time = fixed + per_row * rows, the
per-row share at N is (t(N) - t(N/10)) / (0.9 * t(N)). README.md,
"Input sizes", reports the result the benchmark's sizes rest on.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gen
import run

REPEATS = 4


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    pkg = run.import_package()
    others = run.other_spark_jvms()
    if others:
        run.fail(3, f"another Spark JVM is running (pids {others}); refusing to measure")
    work = os.path.join(run.BENCH, ".work", "scaling")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.pin_environment(work)
    os.chdir(work)

    orders = gen.make_tables(np.random.default_rng([args.seed, 0]))["orders"]
    n = orders.num_rows
    cols = [c for _, t, c, _, fmt in gen.EXPORTS if fmt == "csv"][0]
    for rows in (n, n // 10):
        pq.write_table(orders.slice(0, rows), f"orders_{rows}.parquet")
        pacsv.write_csv(orders.slice(0, rows).select(cols), f"orders_{rows}.csv")

    spark = pkg.session.get_spark()
    try:
        calls = {
            "run_table_dq": lambda rows: pkg.operators.dq.run_table_dq(
                spark.read.parquet(f"orders_{rows}.parquet"), "ORDERS", now="2026-01-01"),
            "ingestion_code_generator": lambda rows: (
                pkg.pipelines.ingestion.ingestion_code_generator(
                    spark, "Build an SCD1 pipeline for this file", f"orders_{rows}.csv")),
        }
        for name, call in calls.items():
            t = {}
            for rows in (n, n // 10):
                times = []
                for _ in range(REPEATS):
                    t0 = time.perf_counter()
                    call(rows)
                    times.append(time.perf_counter() - t0)
                t[rows] = statistics.median(times[1:])
            share = (t[n] - t[n // 10]) / (0.9 * t[n])
            print(f"{name:26s} t({n})={t[n]:.3f}s t({n // 10})={t[n // 10]:.3f}s "
                  f"per_row_share={share:.2f}")
    finally:
        run.stop_spark(spark)
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
