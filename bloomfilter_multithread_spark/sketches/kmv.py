"""KMV / theta sketch — distinct counting WITH proper set algebra.

K-Minimum-Values (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 unbiased
estimator) generalized to the theta-sketch framework (Dasgupta, Lang,
Rhodes, Thompson — the Apache DataSketches theta paper): keep the k
smallest distinct 64-bit hash values; the k-th smallest, normalized to
(0, 1], is the sampling threshold ``theta``, and every retained value
below theta is a uniform theta-sample of the underlying distinct set.

Why this sketch exists alongside HLL (SURVEY.md §2.3 companion surface):
HLL's intersection is inclusion–exclusion on three estimates, so its
error is ADDITIVE in |A ∪ B| (documented caveat on
``HLLSketch.estimate_intersection``), and HLL cannot express A \\ B at
all.  The theta framework does both directly on the retained samples:

    intersect:  S = retained(A) ∩ retained(B) below min(θ_A, θ_B)
    difference: D = {v ∈ retained(A), v < θ, v ∉ retained(B)}
    estimate  = |S| / θ        (RSE ≈ sqrt((1-θ)/|S|))

so the error concentrates on the RESULT's sample count, not the union.
Membership checks below θ = min(θ_A, θ_B) are exact: a KMV retains ALL
of its distinct hashes below its own theta, and θ ≤ θ_B, so ``v ∈ B``
iff ``v ∈ retained(B)`` for every candidate v.

Everything is deterministic given the (JVM-side xxhash64) hash — two
engines computing the same hashes produce bit-identical sketches, which
is what lets the contract oracle pin the exact counts while the bounds
booleans carry the estimator guarantee.

Merge = "k smallest of the union of retained sets" — associative,
commutative, idempotent (it is min-wise set union), so the built sketch
is partition-count and partition-order invariant like every sketch here
(``base.py`` contract).  Reference context: the reference engine keeps
only disjoint per-thread Bloom filters (/root/reference/src/main.cpp:
119-127) and has no distinct-count or set-expression surface at all;
this sketch is part of the companion surface the Spark engine adds.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)
from .hashing import to_u64

_TWO64 = float(1 << 64)


@register(6)
class KMVSketch(MergeableSketch):
    NAME = "kmv"

    def __init__(self, k: int = 1024, values: np.ndarray | None = None):
        if k < 16:
            raise ValueError("k >= 16 (estimator needs (k-1)/U_(k) headroom)")
        self.k = int(k)
        # sorted distinct uint64 hash values, at most k of them
        self.values = (
            np.empty(0, dtype=np.uint64)
            if values is None
            else np.asarray(values, dtype=np.uint64)
        )

    @classmethod
    def create(cls, k: int = 1024) -> "KMVSketch":
        return cls(k=k)

    @classmethod
    def wire_bytes_bound(cls, k: int = 1024) -> int:
        """At most k retained uint64 hashes."""
        return ENVELOPE_BYTES + 4 + ARRAY_PREFIX_BYTES + 8 * k

    # -- build ---------------------------------------------------------
    def update_hashes(self, h) -> "KMVSketch":
        u = to_u64(h)
        if u.size == 0:
            return self
        merged = np.union1d(self.values, u)  # sorted distinct
        self.values = merged[: self.k]
        return self

    def merge(self, other: "KMVSketch") -> "KMVSketch":
        self._require_same_kind(other)
        if self.k != other.k:
            raise ValueError("kmv k mismatch")
        merged = np.union1d(self.values, other.values)
        self.values = merged[: self.k]
        return self

    # -- theta framework ----------------------------------------------
    @property
    def saturated(self) -> bool:
        return self.values.size >= self.k

    @property
    def theta(self) -> float:
        """Sampling threshold in (0, 1]. Unsaturated → 1.0 (the sketch
        holds EVERY distinct hash and estimates are exact); saturated →
        U_(k), the k-th smallest normalized hash (exclusive bound: the
        retained sample is the k-1 values strictly below it)."""
        if not self.saturated:
            return 1.0
        return float(self.values[self.k - 1]) / _TWO64

    def _sample(self) -> np.ndarray:
        """Retained values strictly below theta (all of them when
        unsaturated — estimate = |sample| / theta in both modes, which
        is Beyer et al.'s unbiased (k-1)/U_(k) when saturated)."""
        return self.values[: self.k - 1] if self.saturated else self.values

    def estimate(self) -> float:
        return self._sample().size / self.theta

    def rel_error_bound(self) -> float:
        """One-sigma relative error of the distinct estimate."""
        return 1.0 / math.sqrt(self.k - 1)

    def copy(self) -> "KMVSketch":
        return KMVSketch(k=self.k, values=self.values.copy())

    # -- set algebra ---------------------------------------------------
    def estimate_union(self, other: "KMVSketch") -> float:
        return self.copy().merge(other).estimate()

    @property
    def _theta_cut(self):
        """Raw uint64 exclusive sampling threshold: the k-th smallest
        retained hash when saturated, else None (threshold 2^64 — every
        distinct hash retained). Kept in integer space: reconstructing
        the cut from float64 ``theta`` rounds at 53 bits and can land an
        ulp ABOVE the true threshold, re-admitting the k-th value itself
        and breaking the strictly-below-theta membership invariant."""
        return self.values[self.k - 1] if self.saturated else None

    def _common_theta_samples(self, other: "KMVSketch"):
        cuts = [c for c in (self._theta_cut, other._theta_cut) if c is not None]
        if not cuts:
            return 1.0, self._sample()
        cut = min(cuts)
        # float theta is used ONLY for the final |sample|/theta division
        # (relative-ulp error on the estimate, not on membership)
        return float(cut) / _TWO64, self.values[self.values < cut]

    def estimate_intersection(self, other: "KMVSketch") -> float:
        """|A ∩ B| from the theta-samples directly (NOT inclusion–
        exclusion): error ~ sqrt(|sample ∩|)/theta, independent of how
        large the union is."""
        theta, a = self._common_theta_samples(other)
        s = np.intersect1d(a, other.values, assume_unique=True)
        return s.size / theta

    def estimate_difference(self, other: "KMVSketch") -> float:
        """|A \\ B| — the expression HLL algebra cannot form."""
        theta, a = self._common_theta_samples(other)
        d = np.setdiff1d(a, other.values, assume_unique=True)
        return d.size / theta

    def setop_error_bound(self, other: "KMVSketch", estimate: float) -> float:
        """One-sigma ABSOLUTE error for an intersect/difference estimate
        of value ``estimate``: the sample count is Binomial(N, theta), so
        std(|S|/theta) = sqrt(N * (1-theta) / theta) ≈
        sqrt(estimate * (1-theta) / theta)."""
        theta = min(self.theta, other.theta)
        if theta >= 1.0:
            return 0.0
        return math.sqrt(max(estimate, 1.0) * (1.0 - theta) / theta)

    # -- serde ---------------------------------------------------------
    def _payload_bytes(self) -> bytes:
        return struct.pack("<I", self.k) + np_tobytes(self.values)

    @classmethod
    def _from_payload(cls, payload: bytes) -> "KMVSketch":
        (k,) = struct.unpack_from("<I", payload, 0)
        (vals,) = np_frombytes(payload[4:], [(np.uint64, None)])
        return cls(k=k, values=vals.copy())
