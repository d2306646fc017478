"""Misra–Gries frequent-items sketch (batch/decrement form) — the
deterministic-guarantee counterpart to CMS's probabilistic heavy hitters.

The reference engine answers membership only (Bloom,
``src/SkmerSplitter.cpp:130-137``); frequency questions over its streams
need a summary with an error CONTRACT. CMS (``cms.py``) overcounts with a
probabilistic bound; Misra–Gries undercounts with a deterministic one:

    for every item x:  true(x) - k*(N - S) / (k+1)... precisely
    0 <= true(x) - est(x) <= D,   D = (N - S) / (k + 1)

where N is the total inserted mass, S the surviving stored mass, and k
the counter capacity — so every item with true count > D is GUARANTEED
present in the sketch (zero false negatives above the bound), which makes
"MG candidates + exact confirm" ≡ GROUP BY HAVING, the same lossless
pattern the Bloom/CMS queries use.

Batch update/merge follow the mergeable-summaries formulation (Agarwal,
Cormode, Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS'12 §3.1):
sum counter sets, and if more than k survive, subtract the (k+1)-th
largest count from every counter and drop the non-positive — at least
k+1 counters shed that amount, so each merge/overflow charges every item
at most 1/(k+1) of the discarded mass, preserving the bound under
arbitrary merge trees (hence partition-count/order invariance in Spark).

Items are identified by their 64-bit key hash (JVM ``xxhash64`` upstream,
like Bloom/HLL/CMS here); the exact-confirm join re-hashes keys JVM-side,
so raw keys never enter Python.
"""

from __future__ import annotations

import numpy as np

from .base import ENVELOPE_BYTES, MergeableSketch, register


@register(7)
class MGSketch(MergeableSketch):
    NAME = "mg"
    VERSION = 1
    # the decrement rule makes the survivors depend on the merge order;
    # every order keeps 0 <= true - estimate <= error_bound()
    merge_exact = False

    def __init__(self, k: int, keys: np.ndarray | None = None,
                 counts: np.ndarray | None = None, n_total: int = 0):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = int(k)
        self.keys = keys if keys is not None else np.empty(0, dtype=np.int64)
        self.counts = counts if counts is not None else np.empty(0, dtype=np.int64)
        self.n_total = int(n_total)

    @classmethod
    def create(cls, k: int = 4096) -> "MGSketch":
        return cls(k=k)

    @classmethod
    def wire_bytes_bound(cls, k: int = 4096) -> int:
        """At most k (int64 key, int64 count) survivors."""
        return ENVELOPE_BYTES + 24 + 16 * k

    # -- core ----------------------------------------------------------

    def _combine(self, keys: np.ndarray, counts: np.ndarray) -> None:
        """Add (keys, counts) into the stored counters, then shrink to at
        most k survivors by the (k+1)-th-largest decrement rule."""
        allk = np.concatenate([self.keys, keys])
        allc = np.concatenate([self.counts, counts])
        # sum duplicate keys
        uk, inv = np.unique(allk, return_inverse=True)
        uc = np.zeros(len(uk), dtype=np.int64)
        np.add.at(uc, inv, allc)
        if len(uk) > self.k:
            # d = (k+1)-th largest count; subtracting it zeroes at least
            # len-k counters and charges every item <= d
            d = np.partition(uc, len(uc) - (self.k + 1))[len(uc) - (self.k + 1)]
            uc = uc - d
            keep = uc > 0
            uk, uc = uk[keep], uc[keep]
        self.keys, self.counts = uk, uc

    def update_hashes(self, h: np.ndarray, counts: np.ndarray | None = None) -> "MGSketch":
        h = np.asarray(h, dtype=np.int64)
        if counts is None:
            uk, uc = np.unique(h, return_counts=True)
            uc = uc.astype(np.int64)
        else:
            uk, uc = h, np.asarray(counts, dtype=np.int64)
        self.n_total += int(uc.sum())
        self._combine(uk, uc)
        return self

    def merge(self, other: "MGSketch") -> "MGSketch":
        self._require_same_kind(other)
        if other.k != self.k:
            raise ValueError(f"cannot merge MG(k={other.k}) into MG(k={self.k})")
        self.n_total += other.n_total
        self._combine(other.keys, other.counts)
        return self

    # -- queries -------------------------------------------------------

    def estimate_hashes(self, h: np.ndarray) -> np.ndarray:
        """Lower-bound count per hash (0 if untracked); undercount <= error_bound()."""
        h = np.asarray(h, dtype=np.int64)
        order = np.argsort(self.keys)
        sk, sc = self.keys[order], self.counts[order]
        pos = np.searchsorted(sk, h)
        pos = np.clip(pos, 0, len(sk) - 1) if len(sk) else np.zeros(len(h), dtype=int)
        out = np.zeros(len(h), dtype=np.int64)
        if len(sk):
            hit = sk[pos] == h
            out[hit] = sc[pos[hit]]
        return out

    def error_bound(self) -> float:
        """Max undercount D = (N - S)/(k+1); every item with true count
        > D is guaranteed stored."""
        return (self.n_total - int(self.counts.sum())) / (self.k + 1)

    def item_hashes(self) -> np.ndarray:
        """The tracked key hashes (candidate heavy hitters)."""
        return self.keys.copy()

    # -- envelope ------------------------------------------------------

    def _payload_bytes(self) -> bytes:
        head = np.array([self.k, self.n_total, len(self.keys)], dtype=np.int64)
        return head.tobytes() + self.keys.tobytes() + self.counts.tobytes()

    @classmethod
    def _from_payload(cls, payload: bytes) -> "MGSketch":
        k, n_total, m = np.frombuffer(payload[:24], dtype=np.int64)
        keys = np.frombuffer(payload[24 : 24 + 8 * m], dtype=np.int64).copy()
        counts = np.frombuffer(payload[24 + 8 * m : 24 + 16 * m], dtype=np.int64).copy()
        return cls(k=int(k), keys=keys, counts=counts, n_total=int(n_total))
