"""Resumable-build tests (SURVEY.md §5.2.6): kill/restart mid-build from
checkpointed partial sketches yields the identical final sketch, with
per-partition lineage + metrics recorded; executor-side persisted state
round-trips."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bloomfilter_multithread_spark.operators import build
from bloomfilter_multithread_spark.operators.build import (
    PARTIAL_DDL,
    SketchSpec,
    build_and_persist,
    build_partials,
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


def test_resume_with_other_specs_raises(spark, corpus, tmp_path):
    """A spec added on resume would be built from the missing chunks only."""
    ck = SketchCheckpoint(str(tmp_path / "ck"))
    ck.build_resumable(corpus, _specs(), n_chunks=3, chunk_key="conv_id")
    shutil.rmtree(ck.chunk_path(1))
    grown = _specs() + [SketchSpec("k", "kll", "length(text)", {"k": 64})]
    with pytest.raises(ValueError, match="differ"):
        ck.build_resumable(corpus, grown, n_chunks=3, chunk_key="conv_id")


def test_load_sketches_of_a_path_without_state_raises(spark, tmp_path):
    missing = str(tmp_path / "never_written")
    with pytest.raises(FileNotFoundError, match="never_written"):
        load_sketches(spark, missing)
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="empty"):
        load_sketches(spark, str(empty))


def test_load_sketches_of_a_missing_name_raises(spark, corpus, tmp_path):
    path = str(tmp_path / "state")
    build_and_persist(corpus, _specs(), path)
    with pytest.raises(ValueError, match=r"\['nope'\].*\['b', 'c', 'h'\]"):
        load_sketches(spark, path, ["h", "nope"])


@pytest.fixture(scope="module")
def parquet_corpus(spark, corpus, tmp_path_factory):
    """The corpus read back from parquet: a frame whose partition count
    the plan knows, so its small build takes the driver plan."""
    path = str(tmp_path_factory.mktemp("corpus") / "corpus")
    corpus.write.parquet(path)
    return spark.read.parquet(path)


def _jobs(spark, group: str, run):
    """(the number of Spark jobs ``run()`` launched, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_driver_plan_state_io_runs_no_job_of_its_own(spark, parquet_corpus, tmp_path):
    path = str(tmp_path / "state")
    assert build._plan_for(build_partials(parquet_corpus, _specs())) == "driver"
    collect, _ = _jobs(spark, "partials", lambda: build_partials(parquet_corpus, _specs())
                       .toArrow())
    persist, _ = _jobs(spark, "persist", lambda: build_and_persist(parquet_corpus, _specs(), path))
    load, got = _jobs(spark, "load", lambda: load_sketches(spark, path))
    assert persist == collect == 1
    assert load == 0
    want = build_sketches(parquet_corpus, _specs())
    for name in want:
        assert got[name].to_bytes() == want[name].to_bytes(), name


def _data_files(path: str) -> list[str]:
    return [n for n in os.listdir(path) if not n.startswith((".", "_"))]


def test_driver_write_overwrites_an_executor_state(spark, parquet_corpus, tmp_path, monkeypatch):
    path = str(tmp_path / "state")
    with monkeypatch.context() as m:
        m.setattr(build, "DRIVER_FOLD_MAX_BYTES", 0)
        coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
        was = spark.conf.get(coalesce)
        spark.conf.set(coalesce, "false")  # one part file per spec's shuffle partition
        try:
            build_and_persist(parquet_corpus, _specs(), path)
        finally:
            spark.conf.set(coalesce, was)
    assert len(_data_files(path)) > 1
    executor = load_sketches(spark, path)

    build_and_persist(parquet_corpus, _specs(), path)
    assert len(_data_files(path)) == 1
    assert "_SUCCESS" in os.listdir(path)
    rows = spark.read.schema(PARTIAL_DDL).parquet(path).toArrow()
    assert sorted(rows["spec_name"].to_pylist()) == ["b", "c", "h"]
    folded = build._fold_by_spec(rows.to_batches())
    driver = load_sketches(spark, path)
    assert set(folded) == set(driver) == set(executor)
    for name in driver:
        assert folded[name].to_bytes() == driver[name].to_bytes() \
            == executor[name].to_bytes(), name


def test_state_io_leaves_no_temp_files(spark, parquet_corpus, tmp_path, monkeypatch):
    temp_root = tmp_path / "tmp"
    temp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp_root))
    path = str(tmp_path / "state")
    build_and_persist(parquet_corpus, _specs(), path)
    load_sketches(spark, path, ["h"])
    assert os.listdir(temp_root) == []
