"""Resumable-build tests (SURVEY.md §5.2.6): kill/restart mid-build from
checkpointed partial sketches yields the identical final sketch, with
per-partition lineage + metrics recorded; executor-side persisted state
round-trips."""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bloomfilter_multithread_spark.operators.build import (
    SketchSpec,
    build_and_persist,
    build_sketches,
    load_sketches,
)
from bloomfilter_multithread_spark.plans.checkpoint import SketchCheckpoint


def _specs():
    return [
        SketchSpec("b", "bloom", "text", {"m_bits": 1 << 18, "k": 5}),
        SketchSpec("h", "hll", "conv_id", {"p": 12}),
        SketchSpec("c", "cms", "role", {"width": 1 << 12, "depth": 5}),
    ]


def test_resume_after_partial_failure_is_identical(spark, corpus, tmp_path):
    full = SketchCheckpoint(str(tmp_path / "full"))
    want = full.build_resumable(corpus, _specs(), n_chunks=6, chunk_key="conv_id")

    # simulate a crash: a completed run loses 3 of its 6 committed chunks
    crashed_dir = str(tmp_path / "crashed")
    shutil.copytree(str(tmp_path / "full"), crashed_dir)
    ck = SketchCheckpoint(crashed_dir)
    for chunk in (1, 3, 4):
        shutil.rmtree(ck.chunk_path(chunk))
    assert ck.completed_chunks(spark) == {0, 2, 5}

    got = ck.build_resumable(corpus, _specs(), n_chunks=6, chunk_key="conv_id")
    assert ck.completed_chunks(spark) == set(range(6))
    for name in want:
        assert got[name].to_bytes() == want[name].to_bytes(), name


def test_checkpoint_equals_direct_build(spark, corpus, tmp_path):
    ck = SketchCheckpoint(str(tmp_path / "ck"))
    got = ck.build_resumable(corpus, _specs(), n_chunks=4, chunk_key="conv_id")
    want = build_sketches(corpus, _specs())
    for name in want:
        assert got[name].to_bytes() == want[name].to_bytes(), name


def test_lineage_has_metrics(spark, corpus, tmp_path):
    ck = SketchCheckpoint(str(tmp_path / "ck"))
    ck.build_resumable(corpus, _specs(), n_chunks=3, chunk_key="conv_id")
    rows = ck.lineage(spark).collect()
    assert rows
    cols = set(rows[0].asDict())
    assert {"chunk", "spec_name", "partition_id", "n_rows", "sketch_bytes",
            "written_at"} <= cols
    assert sum(r["n_rows"] for r in rows if r["spec_name"] == "b") == corpus.count()


def test_build_and_persist_roundtrip(spark, corpus, tmp_path):
    path = str(tmp_path / "state")
    build_and_persist(corpus, _specs(), path)
    got = load_sketches(spark, path)
    want = build_sketches(corpus, _specs())
    for name in want:
        assert got[name].to_bytes() == want[name].to_bytes(), name
    only_h = load_sketches(spark, path, ["h"])
    assert set(only_h) == {"h"}
    assert only_h["h"].estimate() > 0


def test_load_sketches_reads_a_state_without_group_key(spark, corpus, tmp_path):
    path, old = str(tmp_path / "state"), str(tmp_path / "old_state")
    build_and_persist(corpus, _specs(), path)
    spark.read.parquet(path).drop("group_key").write.parquet(old)
    assert spark.read.parquet(old).columns == ["spec_name", "partition_id", "n_rows", "sketch"]
    got, want = load_sketches(spark, old), load_sketches(spark, path)
    assert set(got) == set(want) == {s.name for s in _specs()}
    for name in want:
        assert got[name].to_bytes() == want[name].to_bytes(), name
