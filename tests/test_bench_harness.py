"""bench.py's protocol and output, without Spark or a worker JVM: the
N -> 4N pairs it derives from the core count, the bounded stdout line,
where the full detail goes, and how a failed worker is recorded."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("cores, pairs", [
    (32, [(2, 8), (8, 32)]),
    (8, [(2, 8)]),
    (4, [(1, 4)]),
    (2, []),
])
def test_scale_pairs_follow_the_core_count(cores, pairs):
    assert bench.scale_pairs(cores) == pairs


def test_scaling_protocol_constants():
    # the numbers BENCH_r04.json was measured with
    assert (bench.SCALE_TRIALS, bench.SCALE_EPOCHS, bench.SCALE_PARTITIONS) == (2, 2, 64)
    assert bench.BUILD_EPOCHS == 2


def _level(turns: int, times: list[float]) -> dict:
    return bench._pooled_level([
        {"turns": turns, "shingles": turns * 60, "times": times[:2]},
        {"turns": turns, "shingles": turns * 60, "times": times[2:]},
    ])


def _detail(n_queries: int, phase: str = "done") -> dict:
    queries = {f"query_with_a_long_name_{i:03d}": 1.0 + i / 7 for i in range(n_queries)}
    levels = {c: _level(854_204, [300.0 / c + d for d in (0.1, 0.2, 0.3, 0.4)])
              for c in (2, 8, 32)}
    pairs = [bench._scaling_pair(s, b, levels[s], levels[b]) for s, b in bench.scale_pairs(32)]
    return {
        "metric": "headline_queries_plus_build_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "phase": phase,
        "sf": 0.1,
        "queries": queries,
        "throughput": {"lineitem_rows_per_sec": 392816.6,
                       "transcript_turns_per_sec": 1468976.6,
                       "transcript_turns": 21939165,
                       "transcript_build_epoch_secs": [15.331, {"error": 1}]},
        "scaling": {"job": "shingle_bloom_build", "turns": 854_204,
                    "pairs": pairs, **pairs[0]},
    }


@pytest.mark.parametrize("phase", ["queries", "done"])
def test_compact_line_is_bounded_and_parses(phase):
    line = bench.compact_line(_detail(119, phase))
    assert len(line.encode()) < 2048
    parsed = json.loads(line)
    assert parsed["phase"] == phase
    assert parsed["n_queries"] == 119
    assert len(parsed["queries"]) == 10
    assert [(p["cores_small"], p["cores_big"]) for p in parsed["scaling"]["pairs"]] == [
        (2, 8), (8, 32)]
    assert "times_small" not in parsed["scaling"]


def test_full_detail_is_written_outside_the_repo():
    assert not os.path.abspath(bench.FULL_DETAIL).startswith(REPO + os.sep)


@pytest.mark.parametrize("rc, stdout", [
    (1, "Traceback (most recent call last):\n"),
    (0, "WARN no JSON here\n"),
    (137, '{"turns": 1, "sec": 1.0}\n'),
])
def test_a_failed_worker_is_recorded_not_raised(monkeypatch, rc, stdout):
    def fake_run(args, **kwargs):
        return subprocess.CompletedProcess(args, rc, stdout=stdout, stderr="")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    assert bench._run_worker("--build-worker", "4") == {"error": rc}


def test_a_timed_out_worker_is_recorded_not_raised(monkeypatch):
    def fake_run(args, **kwargs):
        raise subprocess.TimeoutExpired(args, kwargs["timeout"])

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    assert bench._run_worker("--scale-worker", "1") == {"error": "timeout"}


def test_a_failed_scaling_level_keeps_the_line(monkeypatch):
    good = {"turns": 1000, "shingles": 60000, "times": [2.0, 2.2]}
    outcomes = {"1": [{"error": 1}, {"error": 1}], "4": [good, good]}
    monkeypatch.setattr(bench, "_run_worker", lambda mode, cores: outcomes[cores].pop(0))
    scaling = bench._scaling([(1, 4)])
    assert scaling["pairs"] == [{"cores_small": 1, "cores_big": 4,
                                 "error": {"small": [1, 1], "big": None}}]
    assert scaling["turns"] == 1000
    detail = _detail(3)
    detail["scaling"] = scaling
    assert json.loads(bench.compact_line(detail))["scaling"]["error"] == {
        "small": [1, 1], "big": None}


def test_a_failed_epoch_is_kept_beside_the_pooled_median():
    level = bench._pooled_level([{"error": 1}, {"turns": 10, "shingles": 600,
                                                "times": [1.0, 3.0]}])
    assert level["sec"] == 2.0
    assert level["epoch_times"] == [{"error": 1}, [1.0, 3.0]]


class _StubProc:
    def __init__(self, hangs: bool = False):
        self.calls: list[str] = []
        self.hangs = hangs
        self.stdin = self

    def close(self):
        self.calls.append("stdin.close")

    def wait(self, timeout=None):
        self.calls.append("wait")
        if self.hangs and "kill" not in self.calls:
            raise subprocess.TimeoutExpired("java", timeout)
        return 0

    def kill(self):
        self.calls.append("kill")


class _StubGateway:
    def __init__(self, proc: _StubProc):
        self.proc = proc

    def shutdown(self):
        self.proc.calls.append("shutdown")


class _StubSession:
    def __init__(self, proc: _StubProc):
        self.proc = proc

    def stop(self):
        self.proc.calls.append("stop")


@pytest.mark.parametrize("hangs, calls", [
    (False, ["stop", "shutdown", "stdin.close", "wait"]),
    (True, ["stop", "shutdown", "stdin.close", "wait", "kill", "wait"]),
])
def test_query_phase_jvm_is_ended_and_waited_for(monkeypatch, hangs, calls):
    """The query phase's JVM does not stay resident through the build and
    scaling phases: the session stops, the gateway shuts down, and the JVM
    process is waited for (killed if it does not exit)."""
    from pyspark import SparkContext

    proc = _StubProc(hangs)
    monkeypatch.setattr(SparkContext, "_gateway", _StubGateway(proc))
    monkeypatch.setattr(SparkContext, "_jvm", object())
    bench._stop_jvm(_StubSession(proc))
    assert proc.calls == calls
    assert SparkContext._gateway is None and SparkContext._jvm is None
