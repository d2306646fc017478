"""The workloads: input preparation, one op, its gate, its layers.

Both read one synthetic transcript corpus per seed
(``sources.synth_transcripts``), generated once and cached with the
exact answers the gates need. Exact answers come from one Spark
projection of the input (hashes, lengths, keys) reduced with numpy;
distinct texts are counted as distinct 64-bit ``xxhash64`` values, which
at this size collide with probability ~1e-10.

- ``transcript_build``: ``build_and_persist`` of the headline 5-sketch
  spec with the routed blocked Bloom, then ``load_sketches``. Its traced
  run also forces the probe path (``with_might_contain`` +
  ``with_cms_estimate`` over a ``synth_query_set``) against the state
  the build wrote.
- ``grouped_build``: ``build_sketches_grouped`` over the same corpus,
  keyed by the day of ``ts`` (30 groups of ~3.3k turns).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F

from bloomfilter_multithread_spark.operators.build import (
    SketchSpec,
    build_and_persist,
    build_partials,
    load_sketches,
    merge_partials_local,
    tree_merge,
    with_cms_estimate,
    with_might_contain,
)
from bloomfilter_multithread_spark.operators.grouped import build_sketches_grouped
from bloomfilter_multithread_spark.sketches import MergeableSketch
from bloomfilter_multithread_spark.sketches.bloom import optimal_params
from bloomfilter_multithread_spark.sources.transcripts import synth_query_set, synth_transcripts

import gate

# Every input has an exact row count, so that sizes (and with them the
# Bloom fill and FPR) do not drift with the seed: the first rows, by
# (conv_id, turn_idx), of a corpus generated slightly larger. Capping a
# conversation at 200 turns (the generator's default is 2000) keeps one
# seed's few huge conversations from dominating a group.
CORPUS_CONVS = 25_000        # ~4.5 turns each at this cap: ~112k turns
MAX_TURNS = 200
CORPUS_ROWS = 100_000
# grouped_build's key is the day of ts: 30 groups over the corpus's 30
# days (hour keys would give 720). With 120 groups (hour keys over a
# 15k-turn slice, or 6-hour keys) the op was mostly per-group Python work
# in the one-task reduce, whose time varied from op to op on a shared host
# enough to make run medians too noisy to compare.
QUERY_ABSENT_CONVS = 5_000   # traced probe: half the corpus plus ~22k absent turns
ABSENT_HASHES = 1_000_000
KERNEL_SLICE = 100_000


def _cached(path: str, make) -> str:
    """Build ``path`` with ``make(path)`` unless a completed copy exists."""
    marker = path + ".ok"
    if not os.path.exists(marker):
        if os.path.isdir(path):
            shutil.rmtree(path)
        t0 = time.perf_counter()
        make(path)
        open(marker, "w").close()
        print(f"[perfbench] cached {os.path.basename(path)} in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr, flush=True)
    return path


def _load_npz(path: str) -> dict[str, np.ndarray]:
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _, names in os.walk(path) for n in names if not n.startswith("."))


def _random_hashes(seed: int, n: int) -> np.ndarray:
    """Keys absent from the input: uniform 64-bit values, like xxhash64 output."""
    info = np.iinfo(np.int64)
    return np.random.default_rng(seed).integers(info.min, info.max, n, dtype=np.int64)


def _split_by_key(keys: np.ndarray, *cols: np.ndarray) -> dict[str, tuple[np.ndarray, ...]]:
    """Rows sorted by key -> {key: (col slices)}."""
    uniq, start = np.unique(keys, return_index=True)
    end = np.append(start[1:], keys.size)
    return {str(k): tuple(c[lo:hi] for c in cols) for k, lo, hi in zip(uniq, start, end)}


def _write_first_rows(df, n: int, cores: int, path: str) -> None:
    """The first ``n`` rows by (conv_id, turn_idx), in one file per core
    (so that each scan runs as one wave of tasks)."""
    first = df.orderBy("conv_id", "turn_idx").limit(n).repartition(cores)
    first.write.parquet(path)
    got = first.sparkSession.read.parquet(path).count()
    if got != n:
        raise RuntimeError(f"input has {got} rows, expected {n}: generate more conversations")


class Workload:
    name = ""

    def __init__(self, h):
        self.h = h
        self.spans: dict[str, float] = {}

    def _corpus(self) -> str:
        h = self.h

        def make(path):
            df = synth_transcripts(h.spark, n_convs=CORPUS_CONVS, seed=h.seed, max_turns=MAX_TURNS)
            _write_first_rows(df, CORPUS_ROWS, h.cores, path)
        return _cached(h.cache_path("corpus"), make)

    def _scan_layer(self, path: str, cols: list[str], out: dict) -> None:
        """``sources.*``: the input scan alone, as a no-op write."""
        h = self.h
        with h.span("layer.scan", out, "sources.scan_s"):
            h.spark.read.parquet(path).select(*cols).write.format("noop").mode("overwrite").save()
        out["sources.bytes_read"] = lambda lg: lg.sql("layer.scan", "Scan", "size of files read")

    # -- interface ----------------------------------------------------------
    def prepare(self) -> None:
        """Make or find the cached input and exact answers; set ``rows``."""
        raise NotImplementedError

    def op(self):
        raise NotImplementedError

    def check(self, out) -> tuple[list[str], float]:
        """(failures, observed Bloom FPR over its (1-e^{-kn/m})^k bound)."""
        raise NotImplementedError

    def state_bytes(self, out) -> int:
        raise NotImplementedError

    def tamper(self, out):
        """A corrupted copy of ``out`` for the gate self-test."""
        raise NotImplementedError

    def layers(self, ops: int) -> dict:
        """Per-layer metrics after ``ops`` traced ops (tag ``op``): floats,
        or functions of the parsed event log."""
        raise NotImplementedError

    def kernel_inputs(self) -> list[tuple[str, dict, np.ndarray, bool]]:
        """(kind, params, values, is_value) per sketch kind the workload uses."""
        raise NotImplementedError


class TranscriptBuild(Workload):
    name = "transcript_build"

    def __init__(self, h):
        super().__init__(h)
        # bench.py's headline spec, sized for the input's rows at a 1e-2
        # target FPR so that the absent keys see enough false positives
        # for a steady bloom_fpr_vs_bound; 16 blocks keep every routed
        # partition busy
        m, k = optimal_params(CORPUS_ROWS, 1e-2)
        self.specs = [
            SketchSpec("bloom_text", "bloom", "text", {"m_bits": m, "k": k, "block_bits": m >> 4}),
            SketchSpec("hll_conv", "hll", "conv_id", {"p": 14}),
            SketchSpec("cms_tool", "cms", "tool", {"width": 1 << 14, "depth": 5}),
            SketchSpec("kll_len", "kll", "length(text)", {"k": 200}),
            SketchSpec("td_len", "tdigest", "length(text)", {"delta": 200.0}),
        ]
        self._bloom_verdicts: dict[bytes, tuple[list[str], int]] = {}

    def prepare(self) -> None:
        h = self.h
        self.corpus = corpus = self._corpus()

        def make(path):
            t = h.spark.read.parquet(corpus).select(
                "conv_id", "tool", F.xxhash64("tool").alias("tool_h"),
                F.length("text").alias("len"), F.xxhash64("text").alias("text_h")).toArrow()
            tools = pc.value_counts(t.filter(pc.is_valid(t["tool"]))["tool_h"])
            lens, len_counts = np.unique(t["len"].to_numpy(), return_counts=True)
            np.savez(path, n_rows=t.num_rows,
                     n_conv=pc.count_distinct(t["conv_id"]).as_py(),
                     tool_hash=tools.field("values").to_numpy(),
                     tool_count=tools.field("counts").to_numpy(),
                     len_values=lens.astype(np.float64), len_counts=len_counts,
                     text_hashes=np.unique(t["text_h"].to_numpy()))
        self.exact = _load_npz(_cached(h.cache_path("corpus_exact.npz"), make))
        self.rows = int(self.exact["n_rows"])
        self.state = h.run_path("state")
        self.absent = _random_hashes(h.seed, ABSENT_HASHES)

    def op(self):
        spark = self.h.spark
        df = spark.read.parquet(self.corpus)
        build_and_persist(df, self.specs, self.state, route_for="bloom_text")
        t0 = time.perf_counter()
        sketches = load_sketches(spark, self.state)
        self.spans = {"load": time.perf_counter() - t0}
        return {"sketches": sketches, "state_bytes": _dir_bytes(self.state)}

    def check(self, out):
        sk, ex = out["sketches"], self.exact
        expected = {s.name for s in self.specs}
        if set(sk) != expected:
            return [f"specs {sorted(sk)} != {sorted(expected)}"], 1.0
        # the merged Bloom is deterministic: identical bytes share a verdict
        digest = hashlib.sha1(sk["bloom_text"].to_bytes()).digest()
        if digest not in self._bloom_verdicts:
            self._bloom_verdicts[digest] = gate.bloom(
                "bloom_text", sk["bloom_text"], ex["text_hashes"], self.absent)
        fails, fp = self._bloom_verdicts[digest]
        fails = fails + gate.hll("hll_conv", sk["hll_conv"].estimate(), int(ex["n_conv"]),
                                 sk["hll_conv"].p)
        cms = sk["cms_tool"]
        for est, exact in zip(cms.estimate_hashes(ex["tool_hash"]), ex["tool_count"]):
            fails += gate.cms("cms_tool", int(est), int(exact), cms.error_bound())
        kll, td = sk["kll_len"], sk["td_len"]
        fails += gate.median_rank("kll_len", kll.quantile(0.5), ex["len_values"],
                                  ex["len_counts"], gate.kll_eps(kll))
        fails += gate.median_rank("td_len", td.quantile(0.5), ex["len_values"],
                                  ex["len_counts"], gate.tdigest_eps(td))
        bound = sk["bloom_text"].fpr_bound(ex["text_hashes"].size)
        return fails, fp / self.absent.size / bound

    def state_bytes(self, out) -> int:
        return out["state_bytes"]

    def tamper(self, out):
        # the same build with partition 0's partials dropped before the merge
        df = self.h.spark.read.parquet(self.corpus)
        rows = build_partials(df, self.specs, route_for="bloom_text") \
            .where(F.col("partition_id") != 0).collect()
        return {**out, "sketches": merge_partials_local(rows)}

    def layers(self, ops: int) -> dict:
        h = self.h
        out: dict = {}
        self._scan_layer(self.corpus, ["text", "conv_id", "tool"], out)

        df = h.spark.read.parquet(self.corpus)
        with h.span("layer.partials", out, "build.partials_s"):
            build_partials(df, self.specs, route_for="bloom_text") \
                .write.format("noop").mode("overwrite").save()
        # a cached copy, so that the merge is timed on its own
        partials = build_partials(df, self.specs, route_for="bloom_text").cache()
        with h.tagged("layer.partial_bytes"):
            out["build.partial_bytes"] = float(partials.agg(F.sum(F.length("sketch"))).first()[0])
        with h.span("layer.merge", out, "merge.tree_s"):
            tree_merge(partials)
        partials.unpersist()
        self._probe_layer(out)

        write = "Execute InsertIntoHadoopFsRelationCommand"
        out.update({
            "build.exchange_bytes": lambda lg: lg.sql("layer.partials", "Exchange", "shuffle bytes written"),
            "build.exchange_write_s": lambda lg: lg.sql("layer.partials", "Exchange", "shuffle write time") / 1e9,
            "build.arrow_bytes_to_python": lambda lg: lg.sql("layer.partials", "MapInArrow", "data sent to Python workers"),
            "build.python_run_s": lambda lg: lg.sql("layer.partials", "MapInArrow", "time to run Python workers") / 1e3,
            "merge.shuffle_bytes": lambda lg: lg.sql("layer.merge", "Exchange", "shuffle bytes written"),
            # the state write's own cost inside the op: its task and job commits
            "state.persist_s": lambda lg: (lg.sql("op", write, "task commit time")
                                           + lg.sql("op", write, "job commit time")) / 1e3 / ops,
            "probe.python_run_s": lambda lg: lg.sql("layer.probe", "ArrowEvalPython", "time to run Python workers") / 1e3,
            "probe.arrow_bytes_to_python": lambda lg: lg.sql("layer.probe", "ArrowEvalPython", "data sent to Python workers"),
        })
        return out

    def _probe_layer(self, out: dict) -> None:
        """The read path, against the state the traced ops wrote: load the
        Bloom and the count-min, then probe a query set of present and
        absent turns."""
        h = self.h
        corpus = self.corpus

        def make(path):
            synth_query_set(h.spark, h.spark.read.parquet(corpus), present_frac=0.5,
                            absent_convs=QUERY_ABSENT_CONVS, seed=h.seed + 1) \
                .repartition(h.cores).write.parquet(path)
        queries = _cached(h.cache_path("queries"), make)
        with h.span("layer.probe_load", out, "probe.load_s"):
            sk = load_sketches(h.spark, self.state, ["bloom_text", "cms_tool"])
        out["probe.broadcast_bytes"] = float(len(sk["bloom_text"].to_bytes())
                                             + len(sk["cms_tool"].to_bytes()))
        with h.tagged("layer.probe"):
            q = with_might_contain(h.spark.read.parquet(queries), "text", sk["bloom_text"])
            q = with_cms_estimate(q, "tool", sk["cms_tool"])
            fn = q.where(F.col("expected_present") & ~F.col("might_contain")).count()
        if fn:
            print(f"[perfbench] traced probe: {fn} false negatives", file=sys.stderr, flush=True)

    def kernel_inputs(self):
        t = self.h.spark.read.parquet(self.corpus).select(
            F.xxhash64("text").alias("text"), F.xxhash64("conv_id").alias("conv"),
            F.xxhash64("tool").alias("tool"), F.length("text").cast("double").alias("len"),
        ).limit(KERNEL_SLICE).toArrow()
        p = {s.name: s.params for s in self.specs}
        return [
            ("bloom", p["bloom_text"], t["text"].to_numpy(), False),
            ("hll", p["hll_conv"], t["conv"].to_numpy(), False),
            ("cms", p["cms_tool"], t["tool"].to_numpy(), False),
            ("kll", p["kll_len"], t["len"].to_numpy(), True),
            ("tdigest", p["td_len"], t["len"].to_numpy(), True),
        ]


class GroupedBuild(Workload):
    name = "grouped_build"

    # one small Bloom per day (~3.3k texts each, a ~2% FPR bound):
    # membership by day
    specs = [
        SketchSpec("hll_text", "hll", "text", {"p": 12}),
        SketchSpec("kll_len", "kll", "length(text)", {"k": 200}),
        SketchSpec("bloom_text", "bloom", "text", {"m_bits": 1 << 15, "k": 3}),
    ]
    ABSENT_PER_GROUP = 8_000

    def prepare(self) -> None:
        h = self.h
        self.input = self._corpus()

        def make(path):
            t = h.spark.read.parquet(self.input).select(
                F.date_trunc("day", "ts").cast("string").alias("g"),
                F.length("text").alias("len"), F.xxhash64("text").alias("h")).toArrow()
            g, ln, hs = (t[c].to_numpy(zero_copy_only=False) for c in ("g", "len", "h"))
            order = np.lexsort((hs, g))
            np.savez(path, g=g[order].astype(str), len=ln[order].astype(np.float64), h=hs[order])
        ex = _load_npz(_cached(h.cache_path("grouped_exact.npz"), make))
        self.rows = int(ex["g"].size)
        # per group: rows, distinct lengths with their counts, distinct text hashes
        self.groups = {}
        for key, (lens, hashes) in _split_by_key(ex["g"], ex["len"], ex["h"]).items():
            values, counts = np.unique(lens, return_counts=True)
            self.groups[key] = (lens.size, values, counts, np.unique(hashes))
        self.absent = _random_hashes(h.seed, self.ABSENT_PER_GROUP)

    def op(self):
        df = self.h.spark.read.parquet(self.input).withColumn("day", F.date_trunc("day", "ts"))
        return {"rows": build_sketches_grouped(df, "day", self.specs).collect()}

    def check(self, out):
        fails: list[str] = []
        by_spec: dict[str, dict[str, tuple[int, bytes]]] = {s.name: {} for s in self.specs}
        for r in out["rows"]:
            by_spec.setdefault(r["spec_name"], {})[r["group_key"]] = (r["n_rows"], bytes(r["sketch"]))
        fp = probes = 0
        bounds = []
        for name, groups in by_spec.items():
            total = sum(n for n, _ in groups.values())
            if total != self.rows:
                fails.append(f"{name}: n_rows sums to {total}, input has {self.rows}")
            if groups.keys() != self.groups.keys():
                fails.append(f"{name}: {len(groups)} groups, expected {len(self.groups)}")
            for key, (n, blob) in groups.items():
                if key not in self.groups:
                    continue
                n_exact, values, counts, hashes = self.groups[key]
                if n != n_exact:
                    fails.append(f"{name}[{key}]: n_rows {n} != {n_exact}")
                sk = MergeableSketch.from_bytes(blob)
                if name == "hll_text":
                    # one comparison per group: a 4-sigma allowance keeps
                    # the chance of any false alarm per seed small
                    fails += gate.hll(f"{name}[{key}]", sk.estimate(), hashes.size, sk.p, z=4)
                elif name == "kll_len":
                    fails += gate.median_rank(f"{name}[{key}]", sk.quantile(0.5), values, counts,
                                              gate.kll_eps(sk))
                else:
                    fn = hashes.size - gate.probe_all(sk, hashes)
                    if fn:
                        fails.append(f"{name}[{key}]: {fn} false negatives")
                    fp += gate.probe_all(sk, self.absent)
                    probes += self.absent.size
                    bounds.append(sk.fpr_bound(hashes.size))
        bound = float(np.mean(bounds)) if bounds else 0.0
        if probes and fp > gate.fp_limit(bound, probes):
            fails.append(f"bloom_text: FPR {fp / probes:.3g} above mean bound {bound:.3g}")
        return fails, (fp / probes / bound if probes else 0.0)

    def state_bytes(self, out) -> int:
        return sum(len(r["sketch"]) for r in out["rows"])

    def tamper(self, out):
        # one (group, spec) result lost
        return {"rows": out["rows"][1:]}

    def layers(self, ops: int) -> dict:
        out: dict = {}
        self._scan_layer(self.input, ["ts", "text"], out)
        out.update({
            "grouped.map_python_run_s": lambda lg: lg.sql("op", "MapInArrow", "time to run Python workers") / 1e3 / ops,
            "grouped.partial_rows": lambda lg: lg.sql("op", "MapInArrow", "number of output rows") / ops,
            "grouped.reduce_python_run_s": lambda lg: lg.sql("op", "FlatMapGroupsInPandas", "time to run Python workers") / 1e3 / ops,
            "grouped.shuffle_bytes": lambda lg: lg.sql("op", "Exchange", "shuffle bytes written") / ops,
        })
        return out

    def kernel_inputs(self):
        t = self.h.spark.read.parquet(self.input).select(
            F.xxhash64("text").alias("text"), F.length("text").cast("double").alias("len"),
        ).limit(KERNEL_SLICE).toArrow()
        p = {s.name: s.params for s in self.specs}
        return [
            ("bloom", p["bloom_text"], t["text"].to_numpy(), False),
            ("hll", p["hll_text"], t["text"].to_numpy(), False),
            ("kll", p["kll_len"], t["len"].to_numpy(), True),
        ]


WORKLOADS = {w.name: w for w in (TranscriptBuild, GroupedBuild)}
