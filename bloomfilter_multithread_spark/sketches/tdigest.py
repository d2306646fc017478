"""t-digest (Dunning & Ertl) — merging variant with the k1 scale function.

Centroids (mean, weight) kept sorted by mean; incoming values / merged
digests are buffered and folded with one deterministic sorted-merge pass
bounded by the k1 scale function k(q) = (delta / 2pi) * asin(2q - 1),
which concentrates resolution at the tails.  Merge = concatenate centroid
lists + re-merge: associative, bound-preserving (rank error O(1/delta)
at the median, tighter at tails), deterministic for a fixed operand
order; property tests assert quantile-bound preservation under operand
reordering, not byte equality (SURVEY.md §7f).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)


def _k1(q: float, delta: float) -> float:
    q = min(1.0, max(0.0, q))
    return delta / (2.0 * math.pi) * math.asin(2.0 * q - 1.0)


@register(5)
class TDigestSketch(MergeableSketch):
    NAME = "tdigest"
    # re-clustering depends on the merge order; rank_error_bound() is the
    # tolerance every merge order is held to
    merge_exact = False

    def __init__(self, delta: float = 200.0, means=None, weights=None, n: int = 0,
                 vmin: float = math.inf, vmax: float = -math.inf):
        self.delta = float(delta)
        self.means = np.empty(0) if means is None else np.asarray(means, dtype=np.float64)
        self.weights = np.empty(0) if weights is None else np.asarray(weights, dtype=np.float64)
        self.n = int(n)
        self.vmin = float(vmin)
        self.vmax = float(vmax)
        # raw-value buffer: batches accumulate here and fold ONCE at the
        # next read (a fold per Arrow batch re-sorts all centroids each
        # time; deferring is ~#batches x cheaper and bound-identical)
        self._pending: list[np.ndarray] = []
        self._pending_n = 0
        self._PENDING_FLUSH = 4_000_000

    def _flush(self) -> None:
        if not self._pending:
            return
        pending, self._pending, self._pending_n = self._pending, [], 0
        v = np.concatenate(pending)
        self._fold(
            np.concatenate([self.means, v]),
            np.concatenate([self.weights, np.ones(v.size)]),
        )

    @classmethod
    def create(cls, delta: float = 200.0) -> "TDigestSketch":
        return cls(delta=delta)

    @classmethod
    def wire_bytes_bound(cls, delta: float = 200.0) -> int:
        """``_fold`` leaves at most one centroid per unit of k1 scale,
        about delta/2 of them (one more for float rounding at q = 1),
        each a float64 mean and weight."""
        centroids = math.ceil(delta / 2) + 1
        return ENVELOPE_BYTES + 32 + 2 * ARRAY_PREFIX_BYTES + 16 * centroids

    def _fold(self, means: np.ndarray, weights: np.ndarray) -> None:
        """One deterministic, fully-vectorized merge pass: sorted points are
        bucketed by fixed k-space boundaries (the q's where k1 crosses each
        integer), so every output centroid spans <= 1 unit of k — the
        merging-digest size/error invariant — and per-bucket weighted means
        come from two ``np.bincount`` calls. (The original greedy per-item
        Python loop was the measured hot spot at ~5.5M items/partition.)"""
        if means.size == 0:
            return
        order = np.argsort(means, kind="stable")
        m, w = means[order], weights[order]
        total = w.sum()
        cum = np.cumsum(w)
        q_mid = (cum - w / 2.0) / total
        k0 = _k1(0.0, self.delta)
        nb = int(math.ceil(_k1(1.0, self.delta) - k0))  # = delta/2 buckets
        j = np.arange(1, max(nb, 1))
        qb = (np.sin((k0 + j) * (2.0 * math.pi / self.delta)) + 1.0) / 2.0
        cluster = np.searchsorted(qb, q_mid, side="right")
        wsum = np.bincount(cluster, weights=w)
        msum = np.bincount(cluster, weights=w * m)
        nz = wsum > 0
        self.weights = wsum[nz]
        self.means = msum[nz] / wsum[nz]

    def update_values(self, values) -> "TDigestSketch":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        self.n += int(v.size)
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self._pending.append(v)
        self._pending_n += int(v.size)
        if self._pending_n >= self._PENDING_FLUSH:
            self._flush()
        return self

    def merge(self, other: "TDigestSketch") -> "TDigestSketch":
        self._require_same_kind(other)
        if self.delta != other.delta:
            raise ValueError("tdigest delta mismatch")
        self._flush()
        other._flush()
        self.n += other.n
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        self._fold(
            np.concatenate([self.means, other.means]),
            np.concatenate([self.weights, other.weights]),
        )
        return self

    def quantile(self, q: float) -> float:
        self._flush()
        if self.means.size == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        total = self.weights.sum()
        target = q * total
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if target <= cum[0]:
            return self.vmin if math.isfinite(self.vmin) else float(self.means[0])
        if target >= cum[-1]:
            return self.vmax if math.isfinite(self.vmax) else float(self.means[-1])
        i = int(np.searchsorted(cum, target) - 1)
        frac = (target - cum[i]) / (cum[i + 1] - cum[i])
        return float(self.means[i] + frac * (self.means[i + 1] - self.means[i]))

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def rank_error_bound(self) -> float:
        """Normalized rank error allowed for a merged digest: 6/delta,
        about twice the q-width pi/delta of one k1 centroid at the median
        (the tails are tighter). t-digest has no proven worst-case bound;
        this is the tolerance its merged-digest tests hold it to."""
        return 6.0 / self.delta

    def _payload_bytes(self) -> bytes:
        self._flush()
        head = struct.pack("<dqdd", self.delta, self.n, self.vmin, self.vmax)
        return head + np_tobytes(self.means, self.weights)

    @classmethod
    def _from_payload(cls, payload: bytes) -> "TDigestSketch":
        delta, n, vmin, vmax = struct.unpack_from("<dqdd", payload, 0)
        means, weights = np_frombytes(payload[32:], [(np.float64, None), (np.float64, None)])
        return cls(delta=delta, means=means.copy(), weights=weights.copy(), n=n,
                   vmin=vmin, vmax=vmax)
