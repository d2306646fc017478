"""Driver-side cost of each sketch kernel, through the public sketch API.

Each kind is timed on a fixed slice of the workload's own projected
input (64-bit hashes for key sketches, doubles for value sketches), in
the style of the EDBT 2023 experimental analysis of quantile sketches:
update cost per value, merge cost of two half-slice sketches, decode
cost and wire size of the serialized sketch.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from bloomfilter_multithread_spark.sketches import MergeableSketch, sketch_class

KINDS = ("bloom", "hll", "cms", "kll", "tdigest")
FIELDS = ("update_ns_per_value", "merge_us", "from_bytes_us", "wire_bytes")
REPEATS = 5


def metric_units() -> dict[str, str]:
    units = {"update_ns_per_value": "ns/value", "merge_us": "us",
             "from_bytes_us": "us", "wire_bytes": "bytes"}
    out = {f"sketches.{k}.{f}": units[f] for k in KINDS for f in FIELDS}
    out["sketches.bloom.probe_ns_per_value"] = "ns/value"
    return out


def _median_s(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _update(sk: MergeableSketch, values: np.ndarray, is_value: bool) -> MergeableSketch:
    return sk.update_values(values) if is_value else sk.update_hashes(values)


def _built(kind: str, params: dict, values: np.ndarray, is_value: bool) -> MergeableSketch:
    sk = _update(sketch_class(kind).create(**params), values, is_value)
    sk.to_bytes()  # forces deferred inserts (Bloom) before any timing
    return sk


def measure(kind: str, params: dict, values: np.ndarray, is_value: bool) -> dict[str, float]:
    """Every ``sketches.<kind>.*`` metric for one kind on one slice."""
    cls = sketch_class(kind)
    n = values.size
    # to_bytes is part of an update's cost: it applies the Bloom's deferred scatter
    update_s = _median_s(lambda: _update(cls.create(**params), values, is_value).to_bytes())
    blob = _built(kind, params, values, is_value).to_bytes()
    half_a = _built(kind, params, values[: n // 2], is_value).to_bytes()
    half_b = _built(kind, params, values[n // 2:], is_value).to_bytes()

    merge_times = []
    for _ in range(REPEATS):
        a, b = MergeableSketch.from_bytes(half_a), MergeableSketch.from_bytes(half_b)
        t0 = time.perf_counter()
        a.merge(b)
        merge_times.append(time.perf_counter() - t0)

    out = {
        f"sketches.{kind}.update_ns_per_value": update_s / n * 1e9,
        f"sketches.{kind}.merge_us": statistics.median(merge_times) * 1e6,
        f"sketches.{kind}.from_bytes_us": _median_s(lambda: MergeableSketch.from_bytes(blob)) * 1e6,
        f"sketches.{kind}.wire_bytes": float(len(blob)),
    }
    if kind == "bloom":
        sk = MergeableSketch.from_bytes(blob)
        sk.probe_hashes(values[:1])  # materialize the probe form once, untimed
        out["sketches.bloom.probe_ns_per_value"] = _median_s(lambda: sk.probe_hashes(values)) / n * 1e9
    return out
