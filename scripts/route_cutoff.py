#!/usr/bin/env python
"""Where routing a blocked build starts to pay: routed against unrouted
``build_and_persist`` + ``load_sketches`` over a range of filter sizes.

Usage (from the repo root, so the workers can import the package):
  make route-cutoff
  PYTHONPATH=. python scripts/route_cutoff.py [--kind cbf] [--pairs 6]

Runs on ``local[nproc]``. The build is perfbench's 5-spec set (blocked
filter with 16 blocks, HLL, CMS, KLL, t-digest) over synthetic transcripts
of 100k rows and of 1M rows, one parquet file per core. For every filter
size, both sides run once untimed, then ``--pairs`` alternating pairs are
timed. The routed side lowers ``ROUTE_MIN_BYTES`` to 0, so its filter is
routed whatever its size; the unrouted side passes no ``route_for``. Every
pair's Bloom/CBF/HLL/CMS blobs must match between the sides.

Prints, per rows and size: the filter's ``wire_bytes_bound``, the median
seconds of each side and in how many pairs the unrouted side was faster.
``ROUTE_MIN_BYTES`` should sit between the last size the unrouted side
wins and the first it loses.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import statistics
import tempfile
import time

ROWS = (100_000, 1_000_000)
LOG2_SIZES = {"bloom": range(20, 28), "cbf": range(18, 25)}


def specs(kind: str, log2_m: int):
    from bloomfilter_multithread_spark.operators.build import SketchSpec

    m = 1 << log2_m
    filt = (SketchSpec("filter", "bloom", "text", {"m_bits": m, "k": 7, "block_bits": m >> 4})
            if kind == "bloom" else
            SketchSpec("filter", "cbf", "text", {"m_slots": m, "k": 7, "block_slots": m >> 4}))
    return [
        filt,
        SketchSpec("hll_conv", "hll", "conv_id", {"p": 14}),
        SketchSpec("cms_tool", "cms", "tool", {"width": 1 << 14, "depth": 5}),
        SketchSpec("kll_len", "kll", "length(text)", {"k": 200}),
        SketchSpec("td_len", "tdigest", "length(text)", {"delta": 200.0}),
    ]


def write_input(spark, rows: int, cores: int, path: str) -> None:
    """The first ``rows`` turns of seed 1's transcripts, one file per core."""
    from bloomfilter_multithread_spark.sources.transcripts import synth_transcripts

    df = synth_transcripts(spark, n_convs=rows // 4, seed=1, max_turns=200)
    df.orderBy("conv_id", "turn_idx").limit(rows).repartition(cores).write.parquet(path)


@contextlib.contextmanager
def route_min_bytes(value: int):
    from bloomfilter_multithread_spark.operators import build

    saved, build.ROUTE_MIN_BYTES = build.ROUTE_MIN_BYTES, value
    try:
        yield
    finally:
        build.ROUTE_MIN_BYTES = saved


def timed_op(spark, path: str, sk: list, state: str, routed: bool) -> tuple[float, dict]:
    from bloomfilter_multithread_spark.operators.build import build_and_persist, load_sketches

    t0 = time.perf_counter()
    with route_min_bytes(0):
        build_and_persist(spark.read.parquet(path), sk, state,
                          route_for="filter" if routed else None)
    out = load_sketches(spark, state)
    return time.perf_counter() - t0, {n: out[n].to_bytes() for n in ("filter", "hll_conv",
                                                                       "cms_tool")}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--kind", choices=sorted(LOG2_SIZES), default="bloom")
    ap.add_argument("--pairs", type=int, default=6)
    args = ap.parse_args()

    from bloomfilter_multithread_spark.sketches import sketch_class
    from bloomfilter_multithread_spark.sources.io import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app="route-cutoff", master=f"local[{cores}]",
                      shuffle_partitions=cores, driver_memory="4g",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="route-cutoff-")
    print(f"local[{cores}] {args.kind}, {args.pairs} alternating pairs per size", flush=True)
    print(f"{'rows':>9} {'log2 m':>6} {'wire MiB':>8} {'routed s':>8} {'unrouted s':>10} "
          f"{'unrouted faster':>15}", flush=True)
    try:
        for rows in ROWS:
            path = os.path.join(work, f"input-{rows}")
            write_input(spark, rows, cores, path)
            for log2_m in LOG2_SIZES[args.kind]:
                sk = specs(args.kind, log2_m)
                state = os.path.join(work, "state")
                for routed in (True, False):  # untimed: JIT and worker warm-up
                    timed_op(spark, path, sk, state, routed)
                times: dict[bool, list[float]] = {True: [], False: []}
                wins = 0
                for pair in range(args.pairs):
                    blobs = {}
                    for routed in ((True, False) if pair % 2 == 0 else (False, True)):
                        seconds, blobs[routed] = timed_op(spark, path, sk, state, routed)
                        times[routed].append(seconds)
                    if blobs[True] != blobs[False]:
                        raise AssertionError(f"routed blobs differ at 2^{log2_m}, {rows} rows")
                    wins += times[False][-1] < times[True][-1]
                wire = sketch_class(sk[0].kind).wire_bytes_bound(**sk[0].params)
                print(f"{rows:>9} {log2_m:>6} {wire / 2 ** 20:>8.2f} "
                      f"{statistics.median(times[True]):>8.3f} "
                      f"{statistics.median(times[False]):>10.3f} "
                      f"{wins:>13}/{args.pairs}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
