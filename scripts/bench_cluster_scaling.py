#!/usr/bin/env python
"""Supplementary scaling evidence at REAL EXECUTOR COUNTS (north rule:
"N and 4N executors"): the same fixed-decomposition shingle-Bloom job
as bench.py's local[N] protocol, measured on local-cluster[1,2,2048]
(one executor JVM, 2 cores) vs local-cluster[4,2,2048] (four executor
JVMs, 8 cores). Separate from the per-round bench.py run so the
driver's bench wall-time is unchanged; run it manually:

    SPARK_GRAFT_SCALE_CONVS=50000 python scripts/bench_cluster_scaling.py

Epoch-interleaved like bench.py (fresh subprocess JVM per epoch,
pooled-median efficiency). Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_PY = os.path.join(REPO, "bench.py")


def main() -> None:
    sys.path.insert(0, REPO)
    # materialize the bench input with a full-width local session first —
    # generating it inside a 2-core cluster would dominate the measurement
    import bench as benchmod

    spark = benchmod._session(benchmod.CPUS)
    benchmod.ensure_bench_input(spark)
    spark.stop()

    levels = (1, 4)
    by_level: dict[int, list[float]] = {n: [] for n in levels}
    meta: dict[int, dict] = {}
    for epoch in range(benchmod.SCALE_EPOCHS):
        for n in levels:  # epoch-interleaved across levels (see bench.py)
            out = subprocess.run(
                [sys.executable, BENCH_PY, "--scale-worker-execs", str(n)],
                capture_output=True, text=True, timeout=3600, cwd=REPO,
                env=dict(os.environ),
            )
            line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
            assert line, out.stdout[-2000:] + out.stderr[-2000:]
            rec = json.loads(line[-1])
            by_level[n].extend(rec["times"])
            meta[n] = rec
    med = {n: statistics.median(by_level[n]) for n in levels}
    turns = meta[levels[0]]["turns"]
    tps = {n: turns / med[n] for n in levels}
    eff = (tps[4] / tps[1]) / 4
    best = {n: min(by_level[n]) for n in levels}
    eff_best = ((turns / best[4]) / (turns / best[1])) / 4
    print(json.dumps({
        "protocol": "local-cluster[N,2,2048] — N real executor JVMs, 2 cores each",
        "job": "shingle_bloom_build",
        "turns": turns,
        "shingles_sized_for": meta[levels[0]]["shingles"],
        "execs_small": 1, "execs_big": 4,
        "times_small": sorted(round(t, 3) for t in by_level[1]),
        "times_big": sorted(round(t, 3) for t in by_level[4]),
        "sec_small": round(med[1], 3), "sec_big": round(med[4], 3),
        "tps_small": round(tps[1], 1), "tps_big": round(tps[4], 1),
        "efficiency": round(eff, 3), "efficiency_best": round(eff_best, 3),
        "epochs": benchmod.SCALE_EPOCHS,
    }))


if __name__ == "__main__":
    main()
