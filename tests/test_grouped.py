"""Grouped sketch aggregation: per-group counts, estimate accuracy per
group, partition-count invariance of the CONTRACT (bounds), HLL-per-group
exactness at small cardinality, and blob hygiene."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bloomfilter_multithread_spark.operators.build import SketchSpec
from bloomfilter_multithread_spark.operators.grouped import (
    build_sketches_grouped,
    collect_grouped,
)


@pytest.fixture(scope="module")
def synth(spark):
    rng = np.random.default_rng(21)
    rows = []
    for g, mu, n in [("a", 10.0, 4000), ("b", 50.0, 2500), ("c", 200.0, 800)]:
        vals = rng.normal(mu, mu / 5, n)
        ids = rng.integers(0, n // 3, n)
        rows += [(g, float(v), int(i)) for v, i in zip(vals, ids)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "grp string, value double, uid long").cache()


def test_per_group_tdigest_quantiles_within_bound(spark, synth):
    merged = build_sketches_grouped(
        synth, "grp", [SketchSpec("t", "tdigest", "value", {"delta": 200.0})]
    )
    sk = collect_grouped(merged)
    assert set(sk) == {("a", "t"), ("b", "t"), ("c", "t")}
    pdf = synth.toPandas()
    for g in "abc":
        vals = np.sort(pdf[pdf.grp == g].value.values)
        for q in (0.1, 0.5, 0.9):
            est = sk[(g, "t")].quantile(q)
            rank = np.searchsorted(vals, est) / len(vals)
            assert abs(rank - q) <= 0.02, (g, q, rank)


def test_partition_invariance_of_bounds_and_counts(spark, synth):
    for nparts in (1, 7):
        merged = build_sketches_grouped(
            synth.repartition(nparts), "grp",
            [SketchSpec("t", "tdigest", "value", {"delta": 200.0}),
             SketchSpec("h", "hll", "uid", {"p": 14})],
        )
        rows = {(r["group_key"], r["spec_name"]): r["n_rows"] for r in merged.collect()}
        assert rows[("a", "t")] == 4000 and rows[("b", "t")] == 2500
        assert rows[("c", "h")] == 800
        # exactly one row per (group, spec)
        assert len(rows) == 6


def test_hll_per_group_matches_exact_distinct(spark, synth):
    merged = build_sketches_grouped(synth, "grp", [SketchSpec("h", "hll", "uid", {"p": 14})])
    sk = collect_grouped(merged)
    pdf = synth.toPandas()
    for g in "abc":
        exact = pdf[pdf.grp == g].uid.nunique()
        est = sk[(g, "h")].estimate()
        assert abs(est - exact) / exact < 0.05, (g, est, exact)


def test_null_groups_are_dropped(spark):
    df = spark.createDataFrame(
        [(None, 1.0), ("x", 2.0), ("x", 3.0)], "grp string, value double"
    )
    merged = build_sketches_grouped(df, "grp", [SketchSpec("t", "tdigest", "value", {})])
    rows = merged.collect()
    assert [r["group_key"] for r in rows] == ["x"]
    assert rows[0]["n_rows"] == 2


def test_grouped_mg_candidates_are_superset_above_bound(spark, synth):
    """Per-group Misra–Gries (round 4): even with a deliberately small
    k (heavy eviction), every (group, uid) whose true count exceeds
    that group's merged error bound must be present in the candidate
    set — the zero-FN-above-bound theorem, per group, across the
    map-side-partial merge."""
    from pyspark.sql import functions as F

    merged = build_sketches_grouped(
        synth, "grp", [SketchSpec("m", "mg", "uid", {"k": 63})]
    )
    sk = collect_grouped(merged)
    exact = {
        (r["grp"], r["uid"]): r["c"]
        for r in synth.groupBy("grp", "uid").agg(F.count("*").alias("c")).collect()
    }
    hashes = {
        r["uid"]: r["h"]
        for r in synth.select("uid").distinct()
        .withColumn("h", F.xxhash64("uid")).collect()
    }
    for (g, _name), s in sk.items():
        bound = s.error_bound()
        stored = set(int(h) for h in s.item_hashes())
        for (gg, uid), c in exact.items():
            if gg == g and c > bound:
                assert hashes[uid] in stored, (g, uid, c, bound)
        # undercount contract on everything stored
        hs = s.item_hashes()
        est = dict(zip((int(h) for h in hs), s.estimate_hashes(hs)))
        for (gg, uid), c in exact.items():
            if gg == g and hashes[uid] in est:
                assert 0 <= c - est[hashes[uid]] <= bound, (g, uid)


def test_grouped_mg_confirm_output_partition_invariant(spark, synth):
    """The candidates+exact-confirm composition (the contract query's
    shape) returns the same exact rows under different partitionings,
    even though individual MG estimates are merge-order dependent."""
    from pyspark.sql import functions as F

    def run(df):
        merged = build_sketches_grouped(
            df, "grp", [SketchSpec("m", "mg", "uid", {"k": 511})]
        )
        rows = []
        for (g, _n), s in sorted(collect_grouped(merged).items()):
            hs = s.item_hashes()
            rows += [(g, int(h)) for h in hs]
        cand = spark.createDataFrame(rows, "grp string, _h long")
        return sorted(
            (r["grp"], r["uid"], r["c"])
            for r in df.select("grp", "uid", F.xxhash64("uid").alias("_h"))
            .join(F.broadcast(cand), ["grp", "_h"])
            .groupBy("grp", "uid").agg(F.count("*").alias("c"))
            .where(F.col("c") >= 8).collect()
        )

    a = run(synth.repartition(3))
    b = run(synth.repartition(17))
    assert a == b


def test_grouped_shared_column_identity(spark, synth):
    """kll + t-digest over the same expression ride ONE projected column
    (build._dedup_projection, shared with the ungrouped path) — per-group
    results identical to independent single-spec grouped builds (same
    input partitioning, so even the merge-order-sensitive quantile
    sketches must agree bit-for-bit)."""
    k_spec = SketchSpec("k", "kll", "value", {"k": 200})
    t_spec = SketchSpec("t", "tdigest", "value", {"delta": 200.0})
    shared = collect_grouped(build_sketches_grouped(synth, "grp", [k_spec, t_spec]))
    solo_k = collect_grouped(build_sketches_grouped(synth, "grp", [k_spec]))
    solo_t = collect_grouped(build_sketches_grouped(synth, "grp", [t_spec]))
    for g in ("a", "b", "c"):
        for q in (0.1, 0.5, 0.9):
            assert shared[(g, "k")].quantile(q) == solo_k[(g, "k")].quantile(q)
            assert shared[(g, "t")].quantile(q) == pytest.approx(
                solo_t[(g, "t")].quantile(q))



def test_grouped_blobs_match_independent_builds(spark):
    """About 2,000 groups plus null group keys over four partitions, each
    partition holding most groups: every group's Bloom, HLL and CMS blob
    equals the same sketch built over that group's rows alone. Those
    blobs do not depend on insert or merge order, so the reference is
    built locally from the group's key hashes, and pinned to
    ``build_sketches(df.where(grp == g))`` for a few groups."""
    from pyspark.sql import functions as F

    from bloomfilter_multithread_spark.operators.build import build_sketches

    specs = [
        SketchSpec("b", "bloom", "key", {"m_bits": 1 << 10, "k": 3}),
        SketchSpec("h", "hll", "uid", {"p": 8}),
        SketchSpec("c", "cms", "key", {"width": 64, "depth": 3}),
    ]
    rng = np.random.default_rng(4)
    n_groups, n_rows = 2000, 20_000
    grp = rng.integers(0, n_groups + 1, n_rows)  # n_groups -> null key
    rows = [(None if g == n_groups else f"g{g}", f"k{k}", int(u))
            for g, k, u in zip(grp, rng.integers(0, 500, n_rows), rng.integers(0, 50, n_rows))]
    df = spark.createDataFrame(rows, "grp string, key string, uid long").repartition(4).cache()

    got = {(r["group_key"], r["spec_name"]): (r["n_rows"], bytes(r["sketch"]))
           for r in build_sketches_grouped(df, "grp", specs).collect()}
    hashed = df.where(F.col("grp").isNotNull()).select(
        "grp", F.xxhash64("key").alias("key"), F.xxhash64("uid").alias("uid")).toPandas()
    groups = hashed.groupby("grp")
    assert len(got) == len(specs) * groups.ngroups > 3 * 1900
    for g, rows in groups:
        for s in specs:
            sk = s.make()
            sk.update_hashes(rows[s.column].to_numpy(dtype=np.int64))
            assert got[(g, s.name)] == (len(rows), sk.to_bytes()), (g, s.name)
    for g in ("g0", "g999", "g1999"):
        solo = build_sketches(df.where(F.col("grp") == g), specs)
        for s in specs:
            assert got[(g, s.name)][1] == solo[s.name].to_bytes(), (g, s.name)
