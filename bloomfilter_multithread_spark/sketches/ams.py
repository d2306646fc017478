"""AMS "tug-of-war" sketch — unbiased F2 / inner-product estimation
(Alon–Matias–Szegedy, STOC 1996).

Complements the count-min inner product (``cms.py``,
Cormode–Muthukrishnan §4.2): CMS is OVERcount-only with an ε·N_A·N_B
bound; AMS is UNBIASED with two-sided error ~ sqrt(2/m)·sqrt(F2_A·F2_B)
per mean-group — the right tool when the join size is small relative to
the stream sizes (where CMS's additive bound is vacuous).

State: r counters S_i = Σ_x f(x)·s_i(x), with s_i(x) ∈ {±1} from bit i
of splitmix64(h ⊕ C_⌊i/64⌋) — 64 sign bits per splitmix call, unpacked
vectorized. Updates are a chunked int8 (r × n) @ (n,) matmul; merge is
counter addition (linear sketch ⇒ associative + commutative + exactly
partition-invariant). Estimates use MEDIAN-OF-MEANS over ``groups``
groups of m = r/groups counters: each group mean is unbiased with
relative std ≤ sqrt(2/m); the median over groups makes the bound hold
with probability 1 − 2^(−Ω(groups)).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)
from .hashing import splitmix64, to_u64

_U64 = np.uint64
# fixed word-mixing constants (any distinct odd constants work; these are
# splitmix64 outputs of 1..8, precomputed for determinism across runs)
_WORD_SALTS = [int(splitmix64(np.uint64(j + 1))) for j in range(8)]
_CHUNK = 65536


@register(9)
class AMSSketch(MergeableSketch):
    NAME = "ams"

    def __init__(self, reps: int = 256, groups: int = 8,
                 counters: np.ndarray | None = None, total: int = 0):
        if reps % 64 or reps // 64 > len(_WORD_SALTS):
            raise ValueError("reps must be a multiple of 64, at most 512")
        if reps % groups:
            raise ValueError("groups must divide reps")
        self.reps = int(reps)
        self.groups = int(groups)
        self.counters = (
            np.zeros(reps, dtype=np.int64) if counters is None
            else counters.astype(np.int64, copy=False)
        )
        self.total = int(total)

    @classmethod
    def create(cls, reps: int = 256, groups: int = 8) -> "AMSSketch":
        return cls(reps=reps, groups=groups)

    @classmethod
    def wire_bytes_bound(cls, reps: int = 256, groups: int = 8) -> int:
        """One int64 counter per repetition."""
        return ENVELOPE_BYTES + 16 + ARRAY_PREFIX_BYTES + 8 * reps

    def _signs(self, u: np.ndarray) -> np.ndarray:
        """(reps, n) int8 ±1 sign matrix: bit i of the ⌊i/64⌋-th mixed
        word of each key hash."""
        words = [
            splitmix64(u ^ _U64(_WORD_SALTS[j])) for j in range(self.reps // 64)
        ]
        # (n, words*8) bytes -> bits, little-endian within the uint64
        by = np.concatenate(
            [w.astype("<u8").view(np.uint8).reshape(u.size, 8) for w in words],
            axis=1,
        )
        bits = np.unpackbits(by, axis=1, bitorder="little")  # (n, reps)
        return (1 - 2 * bits.astype(np.int8)).T  # (reps, n), entries ±1

    def update_hashes(self, h, counts=None) -> "AMSSketch":
        u = to_u64(h)
        if u.size == 0:
            return self
        c = (np.ones(u.size, dtype=np.int64) if counts is None
             else np.asarray(counts, dtype=np.int64))
        for lo in range(0, u.size, _CHUNK):
            sl = slice(lo, lo + _CHUNK)
            self.counters += self._signs(u[sl]) @ c[sl]
        self.total += int(c.sum())
        return self

    def merge(self, other: "AMSSketch") -> "AMSSketch":
        self._require_same_kind(other)
        if (self.reps, self.groups) != (other.reps, other.groups):
            raise ValueError("ams param mismatch")
        self.counters += other.counters
        self.total += other.total
        return self

    # -- estimators -----------------------------------------------------
    def _group_means(self, prods: np.ndarray) -> np.ndarray:
        return prods.reshape(self.groups, -1).mean(axis=1)

    def estimate_f2(self) -> float:
        """Second frequency moment Σ f(x)² (self-join size)."""
        return float(np.median(self._group_means(
            self.counters.astype(np.float64) ** 2)))

    def estimate_inner_product(self, other: "AMSSketch") -> float:
        """Unbiased equi-join size Σ f_A(x)·f_B(x). Requires identical
        (reps, groups) — the sign family is deterministic from the key
        hash, so two independently built sketches are compatible."""
        if (self.reps, self.groups) != (other.reps, other.groups):
            raise ValueError("ams param mismatch")
        prods = self.counters.astype(np.float64) * other.counters.astype(np.float64)
        return float(np.median(self._group_means(prods)))

    def error_bound(self) -> float:
        """Per-group-mean std bound for F2: sqrt(2/m)·F2 (use a 4-5x
        multiplier for a test bound; median-of-means concentrates)."""
        m = self.reps // self.groups
        return math.sqrt(2.0 / m) * self.estimate_f2()

    def inner_product_bound(self, other: "AMSSketch") -> float:
        """std bound sqrt(2/m)·sqrt(F2_A·F2_B) for the inner product."""
        m = self.reps // self.groups
        return math.sqrt(2.0 / m) * math.sqrt(
            max(self.estimate_f2(), 0.0) * max(other.estimate_f2(), 0.0)
        )

    def copy(self) -> "AMSSketch":
        return AMSSketch(self.reps, self.groups, self.counters.copy(), self.total)

    def _payload_bytes(self) -> bytes:
        return struct.pack("<IIq", self.reps, self.groups, self.total) + np_tobytes(
            self.counters
        )

    @classmethod
    def _from_payload(cls, payload: bytes) -> "AMSSketch":
        reps, groups, total = struct.unpack_from("<IIq", payload, 0)
        (counters,) = np_frombytes(payload[16:], [(np.int64, None)])
        return cls(reps=reps, groups=groups, counters=counters.copy(), total=total)
