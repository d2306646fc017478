"""Structured Streaming tests: incremental sketch maintenance equals the
batch build bit-for-bit (Bloom/HLL/CMS), restart/resume converges, the
custom stateful per-key HLL operator tracks exact distincts within bound,
and watermarked windowed aggregation runs end-to-end."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bloomfilter_multithread_spark.operators.build import (
    SketchSpec,
    build_sketches,
    load_sketches,
)
from bloomfilter_multithread_spark.sources.transcripts import synth_transcripts
from bloomfilter_multithread_spark.streaming.sketch_stream import (
    StreamingSketchBuilder,
    read_parquet_stream,
    running_distinct_per_key,
    windowed_counts,
)


def _specs():
    return [
        SketchSpec("bloom_text", "bloom", "text", {"m_bits": 1 << 18, "k": 5}),
        SketchSpec("hll_conv", "hll", "conv_id", {"p": 12}),
        SketchSpec("cms_role", "cms", "role", {"width": 1 << 12, "depth": 5}),
    ]


@pytest.fixture()
def stream_input(spark, tmp_path):
    """Two parquet 'arrival' files of transcript turns + the full batch df."""
    df = synth_transcripts(spark, n_convs=300, seed=11)
    in_dir = str(tmp_path / "in")
    a = df.where("conv_id < 'conv-00000150'")
    b = df.where("conv_id >= 'conv-00000150'")
    a.coalesce(1).write.mode("append").parquet(in_dir)
    first_files = set(os.listdir(in_dir))
    return df, a, b, in_dir, first_files


def test_stream_build_equals_batch(spark, tmp_path, stream_input):
    df, a, b, in_dir, _ = stream_input
    b.coalesce(1).write.mode("append").parquet(in_dir)
    builder = StreamingSketchBuilder(_specs(), str(tmp_path / "state"))
    stream = read_parquet_stream(spark, in_dir, df.schema, max_files_per_trigger=1)
    got = builder.build_available(stream, str(tmp_path / "ckpt"))
    want = build_sketches(spark.read.parquet(in_dir), _specs())
    for name in want:
        assert got[name].to_bytes() == want[name].to_bytes(), name


def test_stream_resume_appends(spark, tmp_path, stream_input):
    df, a, b, in_dir, _ = stream_input
    builder = StreamingSketchBuilder(_specs(), str(tmp_path / "state"))
    stream = read_parquet_stream(spark, in_dir, df.schema)
    got1 = builder.build_available(stream, str(tmp_path / "ckpt"))
    est1 = got1["hll_conv"].estimate()

    # more data arrives; restart the query against the same checkpoint+state
    b.coalesce(1).write.mode("append").parquet(in_dir)
    stream2 = read_parquet_stream(spark, in_dir, df.schema)
    got2 = builder.build_available(stream2, str(tmp_path / "ckpt"))
    want = build_sketches(spark.read.parquet(in_dir), _specs())
    assert got2["hll_conv"].estimate() > est1
    for name in want:
        assert got2[name].to_bytes() == want[name].to_bytes(), name


def test_stream_epoch_replay_is_idempotent(spark, tmp_path, stream_input):
    df, a, *_ = stream_input
    builder = StreamingSketchBuilder(_specs(), str(tmp_path / "state"))
    builder.foreach_batch(a, epoch_id=0)
    _, state_once = builder.load_state()
    builder.foreach_batch(a, epoch_id=0)  # crash-replay of the same epoch
    _, state_twice = builder.load_state()
    # CMS merge is additive — replay must NOT double-count
    assert state_once["cms_role"].to_bytes() == state_twice["cms_role"].to_bytes()


def test_state_dir_reuse_with_new_checkpoint_raises(spark, tmp_path, stream_input):
    """Reusing a state_dir under a DIFFERENT checkpoint restarts epoch
    ids at 0; the identity guard must fail loudly instead of silently
    treating every batch as a replay (ADVICE round 1)."""
    df, a, b, in_dir, _ = stream_input
    builder = StreamingSketchBuilder(_specs(), str(tmp_path / "state"))
    stream = read_parquet_stream(spark, in_dir, df.schema)
    builder.build_available(stream, str(tmp_path / "ckpt"))

    builder2 = StreamingSketchBuilder(_specs(), str(tmp_path / "state"))
    stream2 = read_parquet_stream(spark, in_dir, df.schema)
    # the append is setup, not the assertion target — keep it outside
    # pytest.raises so an unrelated write failure can't satisfy the raise
    # (ADVICE round 2)
    b.coalesce(1).write.mode("append").parquet(in_dir)
    with pytest.raises(Exception) as exc_info:
        builder2.build_available(stream2, str(tmp_path / "ckpt-DIFFERENT"))
        # foreachBatch errors surface via the streaming query
    assert "checkpoint" in str(exc_info.value)


def test_stream_spec_change_raises(spark, tmp_path, stream_input):
    """A spec added mid-stream would cover only the later epochs."""
    df, a, b, *_ = stream_input
    StreamingSketchBuilder(_specs(), str(tmp_path / "state")).foreach_batch(a, epoch_id=0)
    grown = _specs() + [SketchSpec("kll_len", "kll", "length(text)", {"k": 64})]
    with pytest.raises(ValueError, match="differ"):
        StreamingSketchBuilder(grown, str(tmp_path / "state")).foreach_batch(b, epoch_id=1)


def test_old_hex_state_raises_rebuild(tmp_path):
    state_dir = tmp_path / "state"
    state_dir.mkdir()
    (state_dir / "state.json").write_text(json.dumps({"epoch": 0, "sketches": {}}))
    with pytest.raises(ValueError, match="rebuild"):
        StreamingSketchBuilder(_specs(), str(state_dir)).load_state()


def test_load_sketches_reads_the_stream_state(spark, tmp_path, stream_input):
    df, a, b, *_ = stream_input
    builder = StreamingSketchBuilder(_specs(), str(tmp_path / "state"))
    builder.foreach_batch(a, epoch_id=0)
    builder.foreach_batch(b, epoch_id=1)
    epoch, want = builder.load_state()
    got = load_sketches(spark, builder.state_path)
    assert epoch == 1
    assert set(got) == set(want) == {s.name for s in _specs()}
    for name in want:
        assert got[name].to_bytes() == want[name].to_bytes(), name
    assert set(load_sketches(spark, builder.state_path, ["hll_conv"])) == {"hll_conv"}


def test_running_distinct_per_key(spark, tmp_path):
    df = synth_transcripts(spark, n_convs=60, seed=7)
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)
    stream = read_parquet_stream(spark, in_dir, df.schema)
    out = running_distinct_per_key(stream, key_col="role", value_col="text", p=12)
    q = (
        out.writeStream.format("memory")
        .queryName("running_distinct")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["key"]: r for r in spark.sql("select * from running_distinct").collect()}
    exact_d = {
        r["role"]: r["d"]
        for r in df.selectExpr("role", "text").distinct().groupBy("role").count()
        .withColumnRenamed("count", "d").collect()
    }
    for role, row in got.items():
        bound = 4 * 1.04 / (2**12) ** 0.5
        assert abs(row["est_distinct"] - exact_d[role]) / exact_d[role] <= max(bound, 0.05), role


def test_running_distinct_per_key_kmv(spark, tmp_path):
    """Same stateful operator with a KMV envelope in GroupState instead
    of HLL registers: distinct texts per role stay below k, so the
    running estimate must be EXACT (the KMV exact mode) — a stronger
    check than the HLL bound."""
    df = synth_transcripts(spark, n_convs=60, seed=7)
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)
    stream = read_parquet_stream(spark, in_dir, df.schema)
    out = running_distinct_per_key(stream, key_col="role", value_col="text",
                                   kind="kmv", params={"k": 1 << 15})
    q = (
        out.writeStream.format("memory")
        .queryName("running_distinct_kmv")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["key"]: r for r in spark.sql("select * from running_distinct_kmv").collect()}
    exact_d = {
        r["role"]: r["d"]
        for r in df.selectExpr("role", "text").distinct().groupBy("role").count()
        .withColumnRenamed("count", "d").collect()
    }
    assert set(got) == set(exact_d)
    for role, row in got.items():
        assert row["est_distinct"] == exact_d[role], role


def test_windowed_counts_runs(spark, tmp_path):
    df = synth_transcripts(spark, n_convs=50, seed=3)
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)
    stream = read_parquet_stream(spark, in_dir, df.schema)
    out = windowed_counts(stream, ts_col="ts", window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from wincounts").collect()
    # append mode emits only watermark-closed windows; total counted rows
    # must never exceed the input and windows must be disjoint hours
    assert sum(r["n_rows"] for r in rows) <= df.count()
    starts = [r["win"]["start"] for r in rows]
    assert len(starts) == len(set(starts))


def test_running_quantiles_per_key(spark, tmp_path):
    """Value-sketch GroupState twin: per-key running t-digest quantiles
    from a stream must match a batch t-digest built on the same rows
    (same fold, same digest params) and rank-check against exact
    per-key percentiles."""
    import numpy as np

    from bloomfilter_multithread_spark.streaming.sketch_stream import (
        running_quantiles_per_key,
    )

    from pyspark.sql import functions as F

    df = synth_transcripts(spark, n_convs=60, seed=13).withColumn(
        "latency", F.length("text").cast("double")
    )
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)
    stream = read_parquet_stream(spark, in_dir, df.schema)
    out = running_quantiles_per_key(stream, key_col="role", value_col="latency")
    q = (
        out.writeStream.format("memory")
        .queryName("running_q")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["key"]: r for r in spark.sql("select * from running_q").collect()}
    pdf = df.select("role", "latency").toPandas()
    assert set(got) == set(pdf["role"].unique())
    for role, row in got.items():
        vals = pdf[pdf["role"] == role]["latency"].to_numpy(dtype=np.float64)
        assert row["n_turns"] == len(vals)
        # stream-built digest == batch-built digest on the same fold order
        # is not guaranteed (arrival order differs), so check RANKS: each
        # reported quantile's exact rank must sit near its target (0.05
        # absolute slack — generous vs t-digest delta=200 interior error,
        # tight enough to catch a wrong percentile)
        for qq, col in ((0.5, "p50_milli"), (0.9, "p90_milli"), (0.99, "p99_milli")):
            est = row[col] / 1000.0
            # tie-aware: under duplicated values a correct quantile has
            # rank INTERVAL [P(v<est), P(v<=est)] straddling q
            lo, hi = (vals < est).mean(), (vals <= est).mean()
            assert lo - 0.05 <= qq <= hi + 0.05, (role, qq, lo, hi)


def test_stream_mg_epoch_merge_keeps_heavy_hitter_guarantee(spark, tmp_path):
    """MG built across several micro-batch epochs (mergeability theorem:
    the merged undercount bound D=(N-S)/(k+1) matches a one-shot build)
    must still store every item whose true count exceeds D — the
    guarantee stream_heavy_hitters' exact-confirm relies on."""
    import pandas as pd
    from pyspark.sql import functions as F

    # skewed stream: user 7 is heavy (120 rows), the rest are noise
    rows = [(7,)] * 120 + [(i % 40 + 100,) for i in range(400)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["user_id"]))
    in_dir = str(tmp_path / "in")
    df.repartition(5).write.parquet(in_dir)  # 5 files -> several epochs

    spec = [SketchSpec("m", "mg", "user_id", {"k": 63})]
    builder = StreamingSketchBuilder(spec, str(tmp_path / "state"))
    stream = read_parquet_stream(spark, in_dir, "user_id bigint",
                                 max_files_per_trigger=1)
    mg = builder.build_available(stream, str(tmp_path / "ckpt"))["m"]
    epoch, _ = builder.load_state()
    assert epoch >= 2  # the state genuinely crossed epoch boundaries

    heavy_hash = df.where("user_id = 7").select(
        F.xxhash64("user_id")
    ).first()[0]
    assert mg.error_bound() < 120
    assert heavy_hash in set(int(h) for h in mg.item_hashes())
    # undercount contract: 0 <= exact - est <= D
    est = int(mg.estimate_hashes([heavy_hash])[0])
    assert 0 <= 120 - est <= mg.error_bound()
