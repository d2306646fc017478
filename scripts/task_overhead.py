#!/usr/bin/env python
"""Fixed cost of a Python task: a 16-partition no-op ``mapInArrow``, run twice.

Usage (from the repo root, so the workers can import the package):
  make task-overhead
  PYTHONPATH=. python scripts/task_overhead.py

Runs on ``local[nproc]``. The no-op imports the package, as every build task
does, so the workers run with its zip importer cache installed. The first
run starts the Python workers; the second is the steady-state cost of 16
Python tasks on warm workers. Divide it by 16 / nproc waves to compare
boxes.
"""

from __future__ import annotations

import os
import time

PARTITIONS = 16


def noop(batches):
    import bloomfilter_multithread_spark  # noqa: F401

    for batch in batches:
        yield batch.slice(0, 0)


def main() -> None:
    from bloomfilter_multithread_spark.sources.io import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app="task-overhead", master=f"local[{cores}]",
                      shuffle_partitions=PARTITIONS, driver_memory="1g",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = spark.range(PARTITIONS, numPartitions=PARTITIONS)
        for run in ("first (cold workers)", "second (warm workers)"):
            t0 = time.perf_counter()
            df.mapInArrow(noop, "id long").collect()
            print(f"local[{cores}] {PARTITIONS}-partition no-op mapInArrow, {run}: "
                  f"{time.perf_counter() - t0:.3f} s", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
