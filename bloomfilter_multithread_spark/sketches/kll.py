"""KLL quantile sketch (Karnin–Lang–Liberty 2016) — deterministic variant.

Compactor hierarchy: level i holds items of weight 2^i; when a level
overflows its capacity it is sorted and every other item is promoted to
level i+1.  The published algorithm picks the keep-offset at random; we
alternate it per level via a compaction counter — fully deterministic,
same O(1/eps * sqrt(log 1/delta)) space, and the rank-error bound holds
with the alternating rule (it is the classic deterministic GK-style
compaction used by several production implementations).

Merge = concatenate compactors level-wise, then re-compact.  Associative
and bound-preserving; NOT bit-exact under operand reordering (documented
in SURVEY.md §7 hard part f) — property tests assert rank-error bounds,
not byte equality.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_tobytes, register

_C = 2.0 / 3.0


@register(4)
class KLLSketch(MergeableSketch):
    NAME = "kll"
    # compaction depends on the merge order; rank_error_bound() is the
    # tolerance every merge order is held to
    merge_exact = False

    def __init__(self, k: int = 200, compactors=None, offsets=None, n: int = 0):
        self.k = int(k)
        self.compactors: list[np.ndarray] = (
            [np.empty(0, dtype=np.float64)] if compactors is None else list(compactors)
        )
        # per-level alternating keep-offset counters (determinism)
        self.offsets: list[int] = [0] if offsets is None else list(offsets)
        self.n = int(n)

    @classmethod
    def create(cls, k: int = 200) -> "KLLSketch":
        return cls(k=k)

    @classmethod
    def wire_bytes_bound(cls, k: int = 200) -> int:
        """After ``_compress`` a sketch of height H holds fewer than its
        capacity, sum of max(2, ceil(k (2/3)^j)) <= 3k + 2H items; with
        n < 2^63 values the height stays under 64 levels, each also
        carrying a 4-byte offset and an 8-byte length prefix."""
        h = 64
        return ENVELOPE_BYTES + 16 + h * (4 + ARRAY_PREFIX_BYTES) + 8 * (3 * k + 2 * h)

    # -- internals -------------------------------------------------------
    def _capacity(self, level: int) -> int:
        height = len(self.compactors)
        return max(2, int(math.ceil(self.k * (_C ** (height - 1 - level)))))

    def _grow(self) -> None:
        self.compactors.append(np.empty(0, dtype=np.float64))
        self.offsets.append(0)

    def _size(self) -> int:
        return sum(c.size for c in self.compactors)

    def _max_size(self) -> int:
        return sum(self._capacity(i) for i in range(len(self.compactors)))

    def _compress(self) -> None:
        while self._size() >= self._max_size():
            for level in range(len(self.compactors)):
                if self.compactors[level].size >= self._capacity(level):
                    if level + 1 == len(self.compactors):
                        self._grow()
                    buf = np.sort(self.compactors[level])
                    keep = buf[self.offsets[level] :: 2]
                    self.offsets[level] ^= 1
                    self.compactors[level] = np.empty(0, dtype=np.float64)
                    self.compactors[level + 1] = np.concatenate(
                        [self.compactors[level + 1], keep]
                    )
                    break
            else:
                break

    # -- updates ----------------------------------------------------------
    def update_values(self, values) -> "KLLSketch":
        """Bulk insert. Feeding a large batch through level-0 (capacity as
        small as 2) costs one Python-level compaction per ~2 items — the
        measured hot spot. Instead the batch is pre-compacted vectorized:
        sort once, then halve (alternating keep-offset, = the level
        compaction op) until it fits in one compactor, and inject at the
        weight level the halvings imply. Error accounting is identical to
        running those compactions inside the sketch: each halving at
        weight 2^i is one standard KLL compaction."""
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        self.n += int(v.size)
        arr = np.sort(v)
        level = 0
        while arr.size >= 2 * self.k:
            while len(self.compactors) <= level:
                self._grow()
            off = self.offsets[level]
            self.offsets[level] ^= 1
            arr = arr[off::2]
            level += 1
        while len(self.compactors) <= level:
            self._grow()
        self.compactors[level] = np.concatenate([self.compactors[level], arr])
        self._compress()
        return self

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        self._require_same_kind(other)
        if self.k != other.k:
            raise ValueError("kll k mismatch")
        while len(self.compactors) < len(other.compactors):
            self._grow()
        for level, c in enumerate(other.compactors):
            if c.size:
                self.compactors[level] = np.concatenate([self.compactors[level], c])
        self.n += other.n
        self._compress()
        return self

    # -- queries ------------------------------------------------------------
    def _items_weights(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for level, c in enumerate(self.compactors):
            if c.size:
                items.append(c)
                weights.append(np.full(c.size, 1 << level, dtype=np.int64))
        if not items:
            return np.empty(0), np.empty(0, dtype=np.int64)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def rank(self, x: float) -> int:
        it, wt = self._items_weights()
        return int(wt[it <= x].sum())

    def quantile(self, q: float) -> float:
        it, wt = self._items_weights()
        if it.size == 0:
            return float("nan")
        cum = np.cumsum(wt)
        target = q * cum[-1]
        i = int(np.searchsorted(cum, target, side="left"))
        return float(it[min(i, it.size - 1)])

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def rank_error_bound(self) -> float:
        """Normalized rank-error eps ~ O(1/k); conservative published-style
        constant for the deterministic compactor family."""
        return 3.0 / self.k

    def _payload_bytes(self) -> bytes:
        head = struct.pack("<IqI", self.k, self.n, len(self.compactors))
        offs = struct.pack(f"<{len(self.offsets)}I", *self.offsets)
        return head + offs + np_tobytes(*self.compactors)

    @classmethod
    def _from_payload(cls, payload: bytes) -> "KLLSketch":
        k, n, h = struct.unpack_from("<IqI", payload, 0)
        off = 16
        offsets = list(struct.unpack_from(f"<{h}I", payload, off))
        off += 4 * h
        comps = []
        for _ in range(h):
            (blen,) = struct.unpack_from("<Q", payload, off)
            off += 8
            comps.append(np.frombuffer(payload, dtype=np.float64, count=blen // 8, offset=off).copy())
            off += blen
        return cls(k=k, compactors=comps, offsets=offsets, n=n)
