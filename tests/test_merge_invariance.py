"""Merge-shape invariance: one test over all ten sketch kinds and every
way the engine folds a build's partials.

A kind whose class sets ``merge_exact`` must give the same bytes as a
one-partition build. The others (KLL, t-digest, Misra-Gries) must stay
within the bound their class states, checked against exact answers:
the accuracy-under-merge method of *An Experimental Analysis of Quantile
Sketches over Data Streams* (EDBT 2023), with KLL's normalized rank
bound as in *KLL±* (VLDB 2021).
"""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomfilter_multithread_spark.operators import build
from bloomfilter_multithread_spark.operators.build import (
    SketchSpec,
    _partition_count,
    _plan_for,
    build_and_persist,
    build_partials,
    build_sketches,
    load_sketches,
    tree_merge,
)
from bloomfilter_multithread_spark.operators.grouped import (
    build_sketches_grouped,
    collect_grouped,
)
from bloomfilter_multithread_spark.plans.checkpoint import SketchCheckpoint
from bloomfilter_multithread_spark.sketches import sketch_class
from bloomfilter_multithread_spark.sketches.base import _REGISTRY
from bloomfilter_multithread_spark.streaming.sketch_stream import StreamingSketchBuilder

# one spec per kind, sized so that KMV and Misra-Gries saturate (1,500
# conversations); the Bloom comes blocked (so that it can be routed on)
# and flat (sparse partials, dense merge)
SPECS = [
    SketchSpec("bloom", "bloom", "text", {"m_bits": 1 << 16, "k": 3, "block_bits": 1 << 12}),
    SketchSpec("bloom_flat", "bloom", "conv_id", {"m_bits": 1 << 18, "k": 4}),
    SketchSpec("cbf", "cbf", "conv_id", {"m_slots": 1 << 12, "k": 3}),
    SketchSpec("hll", "hll", "conv_id", {"p": 10}),
    SketchSpec("kmv", "kmv", "text", {"k": 64}),
    SketchSpec("cms", "cms", "role", {"width": 1 << 8, "depth": 3}),
    SketchSpec("mg", "mg", "conv_id", {"k": 31}),
    SketchSpec("ams", "ams", "conv_id", {"reps": 64, "groups": 4}),
    SketchSpec("kll", "kll", "length(text)", {"k": 64}),
    SketchSpec("tdigest", "tdigest", "length(text)", {"delta": 100.0}),
    SketchSpec("hdr", "hdr", "length(text)", {}),
]
QUANTILES = (0.05, 0.25, 0.5, 0.75, 0.95)


def _driver_fold(df, tmp):
    assert _plan_for(build_partials(df, SPECS)) == "driver"
    return build_sketches(df, SPECS)


def _executor_merge(df, tmp):
    partials = build_partials(df, SPECS)
    assert _plan_for(partials) == "executors"
    return tree_merge(partials)


def _routed(df, tmp):
    partials = build_partials(df, SPECS, route_for="bloom", route_partitions=5)
    assert _partition_count(partials) == 5  # the exchange on the block id
    return tree_merge(partials)


def _persist(df, tmp):
    build_and_persist(df, SPECS, str(tmp / "state"))
    return load_sketches(df.sparkSession, str(tmp / "state"))


def _persist_executors(df, tmp):
    assert _plan_for(build_partials(df, SPECS)) == "executors"
    return _persist(df, tmp)


def _grouped_one_group(df, tmp):
    merged = build_sketches_grouped(df.withColumn("_g", F.lit("all")), "_g", SPECS)
    return {name: sk for (_, name), sk in collect_grouped(merged).items()}


def _checkpoint_resume(df, tmp):
    ck = SketchCheckpoint(str(tmp / "ck"))
    ck.build_resumable(df, SPECS, n_chunks=4, chunk_key="conv_id")
    for chunk in (1, 2):  # a crash lost two committed chunks
        shutil.rmtree(ck.chunk_path(chunk))
    return ck.build_resumable(df, SPECS, n_chunks=4, chunk_key="conv_id")


def _stream_foreach_batch(df, tmp):
    builder = StreamingSketchBuilder(SPECS, str(tmp / "stream"))
    for epoch, batch in enumerate(df.randomSplit([1.0, 1.0, 1.0], seed=3)):
        builder.foreach_batch(batch, epoch)
    return builder.load_state()[1]


SHAPES = {
    "driver_fold": _driver_fold,
    "executor_merge": _executor_merge,
    "route_for": _routed,
    "salt_partitions": lambda df, tmp: build_sketches(df, SPECS, salt_partitions=16),
    "partitions_32": lambda df, tmp: build_sketches(df.repartition(32), SPECS),
    "persist": _persist,
    "persist_executors": _persist_executors,
    "grouped_one_group": _grouped_one_group,
    "checkpoint_resume": _checkpoint_resume,
    "stream_foreach_batch": _stream_foreach_batch,
    "checkpoint_executors": _checkpoint_resume,
    "stream_executors": _stream_foreach_batch,
}
# shapes run with the executor merge forced: no partials fit the driver fold
ON_EXECUTORS = {"executor_merge", "persist_executors", "checkpoint_executors",
                "stream_executors"}
# shapes run with routing forced: every blocked spec outgrows the cache
ROUTED = {"route_for"}


@pytest.fixture(scope="module")
def one_partition(corpus):
    return build_sketches(corpus.coalesce(1), SPECS)


@pytest.fixture(scope="module")
def exact(corpus):
    """Exact answers: the sorted value column, and each conversation's
    key hash with its row count."""
    lens = np.sort(np.array([r[0] for r in corpus.select(F.length("text")).collect()],
                            dtype=np.float64))
    counts = corpus.groupBy(F.xxhash64("conv_id").alias("h")).count().collect()
    return {"values": lens,
            "keys": np.array([r["h"] for r in counts], dtype=np.int64),
            "counts": np.array([r["count"] for r in counts], dtype=np.int64)}


def _within_rank_bound(sk, values: np.ndarray, eps: float) -> list[str]:
    """Each estimated quantile's rank interval (ties) within eps of q."""
    bad = []
    for q in QUANTILES:
        est = sk.quantile(q)
        lo = np.searchsorted(values, est, side="left") / values.size
        hi = np.searchsorted(values, est, side="right") / values.size
        if not lo - eps <= q <= hi + eps:
            bad.append(f"q={q}: {est} has rank [{lo:.4f}, {hi:.4f}], bound {eps:.4f}")
    return bad


def _failures(spec: SketchSpec, got, ref, exact) -> list[str]:
    if sketch_class(spec.kind).merge_exact:
        return [] if got.to_bytes() == ref.to_bytes() else ["bytes differ from one partition"]
    if spec.kind == "mg":
        under = exact["counts"] - got.estimate_hashes(exact["keys"])
        bad = [] if got.n_total == exact["counts"].sum() else [f"n_total {got.n_total}"]
        if under.min() < 0 or under.max() > got.error_bound():
            bad.append(f"undercount in [{under.min()}, {under.max()}], "
                       f"bound {got.error_bound():.1f}")
        return bad
    bad = [] if got.n == exact["values"].size else [f"n {got.n}"]
    return bad + _within_rank_bound(got, exact["values"], got.rank_error_bound())


def test_specs_cover_every_kind():
    assert {s.kind for s in SPECS} == {cls.NAME for cls in _REGISTRY.values()}
    assert {s.kind for s in SPECS if not sketch_class(s.kind).merge_exact} == \
        {"kll", "tdigest", "mg"}


@pytest.mark.parametrize("shape", list(SHAPES))
def test_merge_shape_invariance(spark, corpus, one_partition, exact, tmp_path, monkeypatch,
                                shape):
    if shape in ON_EXECUTORS:
        monkeypatch.setattr(build, "DRIVER_FOLD_MAX_BYTES", -1)
    if shape in ROUTED:
        monkeypatch.setattr(build, "ROUTE_MIN_BYTES", 0)
    got = SHAPES[shape](corpus, tmp_path)
    assert set(got) == {s.name for s in SPECS}
    failures = {s.name: f for s in SPECS
                if (f := _failures(s, got[s.name], one_partition[s.name], exact))}
    assert not failures, failures
