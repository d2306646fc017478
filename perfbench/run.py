"""Sketch-engine benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload transcript_build --seed 1 --seconds 16 --trace 0

Runs on ``local[<cores>]`` from this single driver process. Input is
generated from ``--seed`` by the package's own synthetic transcript
generator and cached, with the exact answers the gate needs, under
``.perfbench_work/`` at the checkout root (git-ignored; the cache key
is the seed and a hash of the package and workload sources).

A run, after the untimed preparation:

1. set-up, three times: start (then restart) the Spark session, check
   the input cache, start the Python workers with the package imported.
   ``setup_s`` is the median; the first set-up also launches the JVM
   and, on a cache miss, generates the input.
2. three untimed warm-up ops, then timed ops until ``--seconds`` have
   passed (at least three). Every op's output, warm-up ops included,
   goes through the correctness gate (``gate.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` splits
``--seconds`` between untraced ops and ops in a session with Spark's
event log on, each half in a fresh session after one warm-up op (the
difference of their medians is ``trace.overhead_s``), then forces each
layer on its own, times the sketch kernels, and prints the
per-layer metrics. ``--selftest`` corrupts the first timed op's output
and exits 0 only if the gate caught it.

The last line of stdout is the JSON result; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "bloomfilter_multithread_spark"

SETUPS = 3
# the first timed op after two warm-up ops still ran 5-10% slower than
# the rest, on both workloads
WARM_OPS = 3
MIN_OPS = 3
TRACE_MIN_OPS = 2  # per half of a traced run
KEEP_CACHED_SEEDS = 24
# a fixed, pre-touched heap: the JVM's RSS then does not depend on how
# far earlier work (such as filling the input cache) grew its heap
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "op_s_p50": "s", "state_bytes": "bytes",
    "peak_rss_mb": "MB", "success_rate": "ratio", "bloom_fpr_vs_bound": "ratio",
}
LAYER_UNITS = {
    "sources.scan_s": "s", "sources.bytes_read": "bytes",
    "build.partials_s": "s", "build.exchange_bytes": "bytes", "build.exchange_write_s": "s",
    "build.arrow_bytes_to_python": "bytes", "build.python_run_s": "s",
    "build.partial_bytes": "bytes", "build.python_init_s": "s",
    "merge.tree_s": "s", "merge.shuffle_bytes": "bytes",
    "state.persist_s": "s", "state.load_s": "s",
    "grouped.map_python_run_s": "s", "grouped.partial_rows": "rows",
    "grouped.reduce_python_run_s": "s", "grouped.shuffle_bytes": "bytes",
    "probe.load_s": "s", "probe.python_run_s": "s", "probe.arrow_bytes_to_python": "bytes",
    "probe.broadcast_bytes": "bytes",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def source_hash() -> str:
    """Hash of everything that shapes the cached inputs: the package and
    the workload definitions."""
    h = hashlib.sha1()
    files = [os.path.join(HERE, "workloads.py")]
    for root, dirs, names in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


class Harness:
    """Owns the Spark session and the run's directories."""

    def __init__(self, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.spark = None
        key = f"seed{seed}-{source_hash()}"
        self.cache_dir = os.path.join(WORK, "cache", key)
        self.run_dir = os.path.join(WORK, "runs", str(os.getpid()))
        os.makedirs(self.cache_dir, exist_ok=True)
        os.makedirs(self.run_path("tmp"), exist_ok=True)
        _evict_old_caches(keep=self.cache_dir)
        # temporary files of the driver, the JVMs (Spark's launcher too) and
        # the workers stay in the checkout
        os.environ["TMPDIR"] = self.run_path("tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.run_path('tmp')}"
        tempfile.tempdir = None

    def cache_path(self, name: str) -> str:
        return os.path.join(self.cache_dir, name)

    def run_path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def start(self, event_log: str | None = None) -> None:
        from bloomfilter_multithread_spark.sources.io import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.run_path("spark-local"),
            "spark.sql.warehouse.dir": self.run_path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Dderby.system.home={self.run_path('derby')} "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.dir": "file://" + event_log,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(app="perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, driver_memory=DRIVER_MEMORY,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def restart(self, event_log: str | None = None) -> None:
        self.spark.stop()
        self.start(event_log)

    @contextlib.contextmanager
    def tagged(self, tag: str):
        sc = self.spark.sparkContext
        sc.setJobDescription(tag)
        try:
            yield
        finally:
            sc.setJobDescription(None)

    @contextlib.contextmanager
    def span(self, tag: str, into: dict, key: str):
        with self.tagged(tag):
            t0 = time.perf_counter()
            yield
            into[key] = time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark, end the JVM (and with it its Python workers) and
        wait for it; then drop the run's own directories."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.run_dir, ignore_errors=True)


def _evict_old_caches(keep: str) -> None:
    """Bound the cache's disk use to the most recently used seeds."""
    root = os.path.dirname(keep)
    os.utime(keep)
    entries = sorted((os.path.join(root, d) for d in os.listdir(root)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_CACHED_SEEDS:]:
        shutil.rmtree(old, ignore_errors=True)


class Gate:
    """Counts every op's verdict."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0
        self.fprs: list[float] = []
        self.state_bytes: list[int] = []

    def __call__(self, out, timed: bool = False) -> None:
        self.attempted += 1
        fails, fpr = self.wl.check(out)
        if fails:
            self.failed += 1
            log(f"gate FAILED ({len(fails)}): " + "; ".join(fails[:5]))
        if timed:
            self.fprs.append(fpr)
            self.state_bytes.append(self.wl.state_bytes(out))


def timed_ops(wl, gate: Gate, seconds: float, min_ops: int,
              selftest: bool = False) -> tuple[list[float], list[dict]]:
    times, spans = [], []
    t_end = time.perf_counter() + seconds
    while len(times) < min_ops or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        out = wl.op()
        times.append(time.perf_counter() - t0)
        spans.append(dict(wl.spans))
        if selftest and len(times) == 1:
            log("selftest: corrupting the first timed op's output")
            out = wl.tamper(out)
        gate(out, timed=True)
    return times, spans


def _import_package(batches):
    import pyarrow as pa

    import bloomfilter_multithread_spark.operators.build  # noqa: F401
    import bloomfilter_multithread_spark.operators.grouped  # noqa: F401
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"n": [0]})


def start_workers(h: Harness) -> None:
    """Start the Python workers, with the package imported, on every core."""
    n = h.cores
    h.spark.range(n, numPartitions=n).mapInArrow(_import_package, "n long").collect()


def run_e2e(h: Harness, wl, seconds: float, selftest: bool) -> tuple[Gate, dict]:
    from proctree import PeakRSS

    gate = Gate(wl)
    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if i == 0:
            h.start()  # the first set-up also launches the JVM and fills the cache
        else:
            h.restart()
        wl.prepare()
        start_workers(h)
        setups.append(time.perf_counter() - t0)
        log(f"set-up {i + 1}/{SETUPS}: {setups[-1]:.2f}s ({wl.rows} rows)")
    with PeakRSS() as rss:
        for _ in range(WARM_OPS):
            gate(wl.op())
        times, _ = timed_ops(wl, gate, seconds, MIN_OPS, selftest)
    log(f"{len(times)} timed ops: " + " ".join(f"{t:.3f}" for t in times))
    metrics = {
        "setup_s": statistics.median(setups),
        "rows_per_s": wl.rows / statistics.median(times),
        "op_s_p50": statistics.median(times),
        "state_bytes": statistics.median(gate.state_bytes),
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "success_rate": (gate.attempted - gate.failed) / gate.attempted,
        "bloom_fpr_vs_bound": statistics.median(gate.fprs),
    }
    return gate, {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}


def run_trace(h: Harness, wl, seconds: float) -> tuple[Gate, dict]:
    import kernels
    from eventlog import EventLog

    gate = Gate(wl)
    h.start()
    wl.prepare()
    for _ in range(WARM_OPS):  # warms the JVM
        gate(wl.op())
    # both halves run in a fresh session after the same warm-up op, so
    # that their difference is the event log's cost alone
    h.restart()
    gate(wl.op())
    plain, _ = timed_ops(wl, gate, seconds / 2, TRACE_MIN_OPS)

    log_dir = h.run_path("eventlog")
    h.restart(event_log=log_dir)
    with h.tagged("warm"):
        gate(wl.op())
    with h.tagged("op"):
        traced, spans = timed_ops(wl, gate, seconds / 2, TRACE_MIN_OPS)
    log(f"ops untraced {statistics.median(plain):.3f}s, traced {statistics.median(traced):.3f}s")
    ops = len(traced)

    metrics: dict = dict.fromkeys(LAYER_UNITS, 0.0)
    metrics.update(dict.fromkeys(kernels.metric_units(), 0.0))
    metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    if "load" in spans[0]:
        metrics["state.load_s"] = statistics.median(s["load"] for s in spans)
    metrics["build.python_init_s"] = lambda lg: (
        lg.sql("op", "", "time to start Python workers")
        + lg.sql("op", "", "time to initialize Python workers")) / 1e3 / ops
    metrics["spark.gc_s"] = lambda lg: lg.task("op", "gc_ms") / 1e3 / ops
    metrics["spark.spill_bytes"] = lambda lg: lg.task("op", "spill_bytes") / ops
    metrics.update(wl.layers(ops))

    with h.tagged("kernels"):
        inputs = wl.kernel_inputs()
    for kind, params, values, is_value in inputs:
        metrics.update(kernels.measure(kind, params, values, is_value))

    h.spark.stop()  # flushes the event log; close() ends the JVM
    events = EventLog(log_dir)
    resolved = {k: float(v(events) if callable(v) else v) for k, v in metrics.items()}
    units = {**LAYER_UNITS, **kernels.metric_units()}
    return gate, {k: {"value": v, "unit": units[k]} for k, v in resolved.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="corrupt the first timed op's output; exit 0 iff the gate catches it")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    # the JVM's Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    h = Harness(args.seed, cores)
    log(f"{args.workload} seed {args.seed} on local[{cores}]")
    try:
        wl = WORKLOADS[args.workload](h)
        if args.trace:
            gate, metrics = run_trace(h, wl, args.seconds)
        else:
            gate, metrics = run_e2e(h, wl, args.seconds, args.selftest)
    finally:
        h.close()
    print(json.dumps({"correct": gate.failed == 0, "attempted": gate.attempted,
                      "failed": gate.failed, "metrics": metrics}))
    if args.selftest:
        return 0 if gate.failed else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
