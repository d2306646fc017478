"""The merge plan (driver fold or executor merge), the wire-bytes bounds
and the partition count it is chosen from, and the misuse that must fail
before any job runs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import bench
from bloomfilter_multithread_spark.operators import build
from bloomfilter_multithread_spark.operators.build import (
    DRIVER_FOLD_MAX_BYTES,
    ROUTE_MIN_BYTES,
    SketchSpec,
    _partition_count,
    _plan_for,
    build_partials,
    build_sketches,
    merge_plan,
    partial_wire_bytes,
)
from bloomfilter_multithread_spark.sketches import sketch_class
from bloomfilter_multithread_spark.sketches.bloom import optimal_params

# ------------------------------------------------------------ plan (no Spark)


def _perfbench_specs():
    """perfbench's transcript_build spec (100k turns at a 1e-2 target)."""
    m, k = optimal_params(100_000, 1e-2)
    return [
        SketchSpec("bloom_text", "bloom", "text", {"m_bits": m, "k": k, "block_bits": m >> 4}),
        SketchSpec("hll_conv", "hll", "conv_id", {"p": 14}),
        SketchSpec("cms_tool", "cms", "tool", {"width": 1 << 14, "depth": 5}),
        SketchSpec("kll_len", "kll", "length(text)", {"k": 200}),
        SketchSpec("td_len", "tdigest", "length(text)", {"delta": 200.0}),
    ]


def _shingle_specs():
    """bench.py's scaling build: one routed Bloom over ~60 shingles a turn
    of ~5.6 turns per conversation."""
    m, k = optimal_params(int(bench.N_SCALE_CONVS * 5.6) * 60, 1e-2)
    return [SketchSpec("bloom_shingle", "bloom", "shingle_hash",
                       {"m_bits": m, "k": k, "block_bits": 1 << 21}, pre_hashed=True)]


def _total(specs, partitions: int, route_for: str) -> int:
    per_partition, once = partial_wire_bytes(specs, route_for)
    return once + partitions * per_partition


@pytest.mark.parametrize("partitions", [4, 32])
def test_perfbench_build_folds_on_the_driver(partitions):
    wire = _total(_perfbench_specs(), partitions, "bloom_text")
    assert wire <= DRIVER_FOLD_MAX_BYTES
    assert merge_plan(wire) == "driver"


@pytest.mark.parametrize("partitions", [4, 32])
def test_bench_headline_build_takes_the_executor_merge(partitions):
    assert merge_plan(_total(bench._specs(), partitions, "bloom_text")) == "executors"


def test_bench_scaling_build_takes_the_executor_merge():
    wire = _total(_shingle_specs(), bench.SCALE_PARTITIONS, "bloom_shingle")
    assert merge_plan(wire) == "executors"


def test_driver_fold_needs_a_known_bound_within_the_cut_off():
    assert merge_plan(None) == "executors"
    assert merge_plan(DRIVER_FOLD_MAX_BYTES) == "driver"
    assert merge_plan(DRIVER_FOLD_MAX_BYTES + 1) == "executors"


def test_routed_spec_counts_once():
    specs = _perfbench_specs()
    per_spec = {s.name: sketch_class(s.kind).wire_bytes_bound(**s.params) for s in specs}
    routed = per_spec["bloom_text"]
    assert partial_wire_bytes(specs, "bloom_text") == (sum(per_spec.values()) - routed, routed)
    assert partial_wire_bytes(specs) == (sum(per_spec.values()), 0)


# ------------------------------------------------------- wire-bytes bounds


def _hashes(n: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(-(2 ** 63), 2 ** 63 - 1, n, dtype=np.int64)


def _values(n: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).lognormal(3.0, 2.0, n)


# kind, params, is_value: each filled far past its sizing
OVERFILLED = [
    ("bloom", {"m_bits": 1 << 12, "k": 3}, False),
    ("bloom", {"m_bits": 1 << 12, "k": 3, "block_bits": 1 << 6}, False),
    ("cbf", {"m_slots": 1 << 10, "k": 3}, False),
    ("cbf", {"m_slots": 1 << 10, "k": 3, "block_slots": 1 << 6}, False),
    ("hll", {"p": 8}, False),
    ("kmv", {"k": 64}, False),
    ("cms", {"width": 1 << 8, "depth": 3}, False),
    ("mg", {"k": 16}, False),
    ("ams", {"reps": 64, "groups": 4}, False),
    ("kll", {"k": 32}, True),
    ("tdigest", {"delta": 20.0}, True),
    ("hdr", {"sub_bits": 3, "max_bits": 30}, True),
]


@pytest.mark.parametrize("kind,params,is_value", OVERFILLED,
                         ids=[f"{k}-{'-'.join(map(str, p.values()))}" for k, p, _ in OVERFILLED])
def test_overfilled_partial_within_wire_bound(kind, params, is_value):
    """Fed in batches and merged with other partials, as a partition and
    the merge do, a sketch never serializes past its class's bound."""
    cls = sketch_class(kind)
    bound = cls.wire_bytes_bound(**params)
    merged = cls.create(**params)
    for seed in range(4):
        part = cls.create(**params)
        for batch in range(5):
            if is_value:
                part.update_values(_values(50_000, 10 * seed + batch))
            else:
                part.update_hashes(_hashes(20_000, 10 * seed + batch))
        assert len(part.to_bytes()) <= bound
        merged.merge(cls.from_bytes(part.to_bytes()))
        assert len(merged.to_bytes()) <= bound
    assert len(cls.create(**params).to_bytes()) <= bound


def test_every_kind_states_a_bound():
    kinds = {"bloom", "cbf", "hll", "kmv", "cms", "mg", "ams", "kll", "tdigest", "hdr"}
    assert {k for k, _, _ in OVERFILLED} == kinds
    for kind in kinds:
        assert sketch_class(kind).wire_bytes_bound() > 0


# ------------------------------------------- partition count (Spark plan)

HLL = [SketchSpec("h", "hll", "conv_id", {"p": 10})]


def _rdd_frame(spark, partitions: int):
    rows = [(f"conv-{i}", f"w{i}", f"t{i % 3}") for i in range(40)]
    return spark.sparkContext.parallelize(rows, partitions).toDF(["conv_id", "text", "tool"])


def test_partition_count_of_a_routed_exchange(spark, corpus, monkeypatch):
    monkeypatch.setattr(build, "ROUTE_MIN_BYTES", 0)
    specs = HLL + [SketchSpec("b", "bloom", "text",
                              {"m_bits": 1 << 16, "k": 3, "block_bits": 1 << 10})]
    partials = build_partials(corpus, specs, route_for="b", route_partitions=7)
    assert _partition_count(partials) == 7


# ------------------------------------- routing sized to the filter (plan only)


def test_perfbench_build_plans_no_exchange(spark):
    """perfbench's m = 2^20 Bloom fits in cache: its ``route_for`` build is
    the unrouted build, as many partitions as its input."""
    specs = _perfbench_specs()
    assert sketch_class("bloom").wire_bytes_bound(**specs[0].params) < ROUTE_MIN_BYTES
    partials = build_partials(_rdd_frame(spark, 3), specs, route_for="bloom_text",
                              route_partitions=7)
    assert _partition_count(partials) == 3


def test_bench_headline_build_plans_the_exchange(spark):
    specs = bench._specs()
    assert specs[0].params["m_bits"] == 1 << 29
    partials = build_partials(_rdd_frame(spark, 3), specs, route_for="bloom_text",
                              route_partitions=7)
    assert _partition_count(partials) == 7


def test_bench_scaling_build_plans_the_exchange(spark):
    df = _rdd_frame(spark, 3).select(F.xxhash64("text").alias("shingle_hash"))
    partials = build_partials(df, _shingle_specs(), route_for="bloom_shingle",
                              route_partitions=bench.SCALE_PARTITIONS)
    assert _partition_count(partials) == bench.SCALE_PARTITIONS


def test_skipped_route_counts_its_spec_per_partition(spark):
    """A blocked Bloom below the cut-off, named by ``route_for``, is built
    unrouted, so each of the 32 partitions may carry the whole filter:
    2 MiB each at m = 2^24, past the driver fold's cut-off in total."""
    specs = HLL + [SketchSpec("b", "bloom", "text",
                              {"m_bits": 1 << 24, "k": 7, "block_bits": 1 << 20})]
    partials = build_partials(_rdd_frame(spark, 32), specs, route_for="b", route_partitions=7)
    assert _partition_count(partials) == 32
    meta = partials.schema["sketch"].metadata
    assert (meta["wire_bytes_per_partition"], meta["wire_bytes_once"]) == partial_wire_bytes(specs)
    assert 32 * meta["wire_bytes_per_partition"] > DRIVER_FOLD_MAX_BYTES
    assert _plan_for(partials) == "executors"


def test_partition_count_of_a_parquet_scan(spark, tmp_path):
    _rdd_frame(spark, 3).write.parquet(str(tmp_path / "pq"))
    df = spark.read.parquet(str(tmp_path / "pq"))
    splits = df.rdd.getNumPartitions()
    assert splits > 1
    assert _partition_count(build_partials(df, HLL)) == splits


def test_partition_count_of_a_cache_once_filled(spark):
    df = _rdd_frame(spark, 3).cache()
    try:
        assert _partition_count(build_partials(df, HLL)) is None
        df.count()
        assert _partition_count(build_partials(df, HLL)) == 3
    finally:
        df.unpersist()


def test_partition_count_of_a_union_is_the_sum(spark):
    df = _rdd_frame(spark, 3).union(_rdd_frame(spark, 2))
    assert _partition_count(build_partials(df, HLL)) == 5


def test_unknown_leaf_takes_the_executor_merge(spark):
    df = spark.sql("SELECT * FROM VALUES ('c1', 'a'), ('c2', 'b') AS t(conv_id, text)")
    partials = build_partials(df, HLL)
    assert _partition_count(partials) is None
    assert _plan_for(partials) == "executors"


# ------------------------------------------------------------------ misuse


def test_duplicate_spec_names_raise(spark, corpus):
    specs = [SketchSpec("x", "hll", "conv_id", {"p": 12}),
             SketchSpec("x", "kll", "length(text)", {"k": 200})]
    with pytest.raises(ValueError, match="duplicate spec names"):
        build_partials(corpus, specs)


def test_route_for_naming_no_spec_raises(spark, corpus):
    specs = [SketchSpec("b", "bloom", "text", {"m_bits": 1 << 16, "k": 3, "block_bits": 1 << 10})]
    with pytest.raises(ValueError, match="route_for"):
        build_sketches(corpus, specs, route_for="bloom_text")
