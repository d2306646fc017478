"""Counting Bloom filter — the deletion-capable member of the Bloom family.

The reference's filters are insert-only (``src/SkmerSplitter.cpp:62-89``
sets bits, nothing ever clears them) — fine for its one-shot corpus
scan, but a curation pipeline retracts data (documents withdrawn after
a takedown, an eval split carved OUT of an already-sketched corpus).
This sketch (Fan et al. 1998/2000, "Summary Cache") replaces each bit
with a counter so the multiset of insertions is subtractable:

- insert  = +1 at the same k Kirsch–Mitzenmacher double-hashed indices
  the plain Bloom uses (bloom.py / hashing.double_hash_indices — the
  north rule's "identical k-hash (double-hashing) indexing").
- delete  = -1 at those indices; only valid for keys actually inserted
  (enforced: a counter going negative raises instead of corrupting).
- merge   = elementwise counter ADD (associative + commutative), so
  per-partition partials combine exactly like every other sketch here.
- subtract = elementwise counter SUBTRACT — *distributed deletion*:
  build a mergeable CBF over the rows to retract (an ordinary
  build_sketches pass) and subtract it from the corpus CBF.  When the
  retracted rows are a sub-multiset of the corpus rows the result is
  COUNTER-EXACT equal to a CBF built fresh on the remainder (property-
  tested), so probes keep zero false negatives for surviving keys and
  the published (1-e^{-kn/m})^k FPR bound at the surviving n.
- probe   = all k counters > 0 (identical semantics to Bloom's bit
  test; a CBF with every counter clamped to {0,1} IS the plain Bloom).

Scale shape mirrors the blocked Bloom (Putze et al. — and the CBF needs
it MORE: the working form is 8 bytes/slot, 64x a Bloom bit):
``block_slots`` selects cache-blocked indexing — the hash's top bits
pick one block and all k counters land inside it — and a build routed
on the same top bits (``build_partials(route_for=...)``, the
reference's `hmin % q` exchange) gives each partition block-local
storage: every pass touches O(m/P) counters, partials serialize as
(block ids, counts) of only the owned blocks.

Counters are int64 in memory (vectorized ``np.add.at`` scatter, no
wraparound ambiguity) and serialize adaptively: sparse (index, count)
pairs / owned (block, counts) groups while the table is mostly empty —
the per-partition partial forms — else a dense uint32 array.
sum(counters) == k * (net inserted multiset size) exactly, giving an
exact net-insert count for free (``net_insert_count``).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)
from .hashing import double_hash_indices, to_u64

_U64 = np.uint64


@register(8)
class CBFSketch(MergeableSketch):
    NAME = "cbf"
    VERSION = 1

    def __init__(self, m_slots: int = 1 << 20, k: int = 5,
                 counters: np.ndarray | None = None, block_slots: int = 0):
        if m_slots & (m_slots - 1) or m_slots < 64:
            raise ValueError("m_slots must be a power of two >= 64")
        if block_slots:
            if block_slots & (block_slots - 1) or not 64 <= block_slots <= m_slots:
                raise ValueError("block_slots must be a power of two in [64, m_slots]")
        self.m_slots = int(m_slots)
        self.k = int(k)
        self.block_slots = int(block_slots)
        # EITHER a dense int64 array (build/probe form) OR, for a blocked
        # build partition, only the owned blocks {block_id -> int64[block_slots]}
        self._counters: np.ndarray | None = None
        self._blocks: dict[int, np.ndarray] | None = None
        if counters is not None:
            self._counters = counters.astype(np.int64, copy=False)
        elif self.block_slots and self.block_slots < self.m_slots:
            self._blocks = {}
        else:
            self._counters = np.zeros(m_slots, dtype=np.int64)

    @classmethod
    def create(cls, m_slots: int = 1 << 20, k: int = 5,
               block_slots: int = 0) -> "CBFSketch":
        return cls(m_slots=m_slots, k=k, block_slots=block_slots)

    @classmethod
    def wire_bytes_bound(cls, m_slots: int = 1 << 20, k: int = 5,
                         block_slots: int = 0) -> int:
        """uint32 counters, plus a 4-byte id per block in the blocks form;
        the sparse form is chosen only when it is smaller."""
        nb = m_slots // block_slots if block_slots and block_slots < m_slots else 0
        return ENVELOPE_BYTES + 21 + 2 * ARRAY_PREFIX_BYTES + 4 * m_slots + 4 * nb

    @property
    def counters(self) -> np.ndarray:
        """Dense int64 view (materializes block-local storage lazily —
        the merged/probe form; the build path never calls this)."""
        if self._counters is None:
            full = np.zeros(self.m_slots, dtype=np.int64)
            bs = self.block_slots
            for b, arr in self._blocks.items():
                full[b * bs : (b + 1) * bs] = arr
            self._counters = full
            self._blocks = None
        return self._counters

    # -- hot path --------------------------------------------------------
    def _indices(self, h) -> np.ndarray:
        u = to_u64(h)
        if u.size == 0:
            return np.empty((self.k, 0), dtype=np.int64)
        if not self.block_slots or self.block_slots == self.m_slots:
            return double_hash_indices(u, self.k, self.m_slots).astype(np.int64)
        nb_log2 = int(math.log2(self.m_slots // self.block_slots))
        block = u >> _U64(64 - nb_log2)
        local = double_hash_indices(u, self.k, self.block_slots)
        return (local + (block * _U64(self.block_slots))[None, :]).astype(np.int64)

    def _scatter(self, flat: np.ndarray, delta: int) -> list[np.ndarray]:
        """+delta at the given global indices; block-local when blocked.
        Returns the touched arrays (for the delete underflow check)."""
        if self._blocks is None:
            np.add.at(self.counters, flat, delta)
            return [self.counters[flat]]
        bs = self.block_slots
        order = np.argsort(flat, kind="stable")
        idx = flat[order]
        blk = idx // bs
        bounds = np.searchsorted(blk, np.unique(blk))
        touched = []
        for i, b in enumerate(blk[bounds]):
            lo = bounds[i]
            hi = bounds[i + 1] if i + 1 < bounds.size else idx.size
            arr = self._blocks.get(int(b))
            if arr is None:
                arr = self._blocks.setdefault(int(b), np.zeros(bs, dtype=np.int64))
            local = idx[lo:hi] - int(b) * bs
            np.add.at(arr, local, delta)
            touched.append(arr[local])
        return touched

    def update_hashes(self, h) -> "CBFSketch":
        """Insert a batch of pre-hashed 64-bit keys: +1 at each of the k
        indices.  A key whose k indices collide still contributes exactly
        k increments total (``np.add.at`` accumulates duplicates), so
        delete_hashes of the same key is always an exact inverse."""
        idx = self._indices(h)
        if idx.size:
            self._scatter(idx.ravel(), 1)
        return self

    def delete_hashes(self, h) -> "CBFSketch":
        """Retract a batch of previously inserted keys (-1 at the same k
        indices).  Raises if any counter would go negative — deleting a
        key that was never inserted silently poisons a plain CBF with
        false negatives; here it is a loud error instead."""
        idx = self._indices(h)
        if idx.size:
            flat = idx.ravel()
            touched = self._scatter(flat, -1)
            # only touched slots can have gone negative (everything else
            # is >= 0 by invariant) — O(batch*k) check, not O(m_slots)
            if any(t.min() < 0 for t in touched if t.size):
                self._scatter(flat, 1)  # restore
                raise ValueError("CBF delete of key(s) never inserted (counter underflow)")
        return self

    def probe_hashes(self, h) -> np.ndarray:
        """might_contain: all k counters positive -> bool (n,)."""
        u = to_u64(h)
        if u.size == 0:
            return np.empty(0, dtype=bool)
        idx = self._indices(u)
        return (self.counters[idx] > 0).all(axis=0)

    # -- mergeable interface ----------------------------------------------
    def _require_same_params(self, other: "CBFSketch") -> None:
        self._require_same_kind(other)
        if (self.m_slots, self.k, self.block_slots) != (
            other.m_slots, other.k, other.block_slots
        ):
            raise ValueError("cbf param mismatch")

    def merge(self, other: "CBFSketch") -> "CBFSketch":
        self._require_same_params(other)
        if self._blocks is not None and other._blocks is not None:
            # block-disjoint partials from a routed build: mostly dict
            # insertion; overlapping blocks add block-locally
            for b, arr in other._blocks.items():
                mine = self._blocks.get(b)
                if mine is None:
                    self._blocks[b] = arr.copy()
                else:
                    mine += arr
            return self
        self.counters  # materialize self dense
        self._counters += other.counters
        return self

    def subtract(self, other: "CBFSketch") -> "CBFSketch":
        """Distributed deletion: subtract a CBF built over the rows to
        retract.  Exact inverse of ``merge`` — requires the retracted
        multiset to be contained in this sketch's inserted multiset
        (underflow raises).  Returns a NEW sketch; operands unchanged."""
        self._require_same_params(other)
        out = self.counters - other.counters
        if out.min() < 0:
            raise ValueError("CBF subtract of rows never inserted (counter underflow)")
        return CBFSketch(m_slots=self.m_slots, k=self.k,
                         counters=out, block_slots=self.block_slots)

    # -- estimates ---------------------------------------------------------
    def _total(self) -> int:
        if self._blocks is not None:
            return sum(int(a.sum()) for a in self._blocks.values())
        return int(self._counters.sum())

    def net_insert_count(self) -> int:
        """Exact net multiset size (inserts - deletes): every insert adds
        exactly k to sum(counters), every delete removes exactly k."""
        total = self._total()
        if total % self.k:
            raise ValueError(
                f"corrupt CBF state: sum(counters)={total} not divisible by k={self.k}"
            )
        return total // self.k

    def fpr_bound(self, n_items: int) -> float:
        """Published Bloom bound (1 - e^{-kn/m})^k — a CBF's positive-
        counter support is exactly the bit set of a plain Bloom over the
        same surviving multiset, so the bound carries over unchanged
        (blocked variant adds only the negligible Poisson block-imbalance
        penalty, as for the blocked Bloom)."""
        return (1.0 - math.exp(-self.k * n_items / self.m_slots)) ** self.k

    def estimate(self, h) -> np.ndarray:
        return self.probe_hashes(h)

    def resident_nbytes(self) -> int:
        # working form is the full int64 counter array regardless of how
        # sparse the wire payload was — byte-bounded caches must account
        # for THIS, not the blob length
        return self.m_slots * 8

    # -- serialization -------------------------------------------------------
    # sparse: (uint32 idx, uint32 count) of nonzero slots — the unrouted
    # per-partition partial form (O(rows*k), independent of m);
    # blocks: (uint32 block ids, uint32 counts of owned blocks) — the
    # routed-build partial form, O(owned_blocks * block_slots);
    # dense: uint32 counters — the merged-result form.
    _FMT_DENSE, _FMT_SPARSE, _FMT_BLOCKS = 0, 1, 2
    _U32_MAX = (1 << 32) - 1

    def _head(self) -> bytes:
        return struct.pack("<QIQ", self.m_slots, self.k, self.block_slots)

    def _payload_bytes(self) -> bytes:
        if self._blocks is not None:
            ids = np.array(sorted(self._blocks), dtype=np.uint32)
            if ids.size and max(int(self._blocks[int(b)].max()) for b in ids) > self._U32_MAX:
                raise ValueError("CBF counter exceeds uint32 wire range")
            body = (
                np.concatenate([self._blocks[int(b)] for b in ids]).astype(np.uint32)
                if ids.size else np.empty(0, dtype=np.uint32)
            )
            return self._head() + struct.pack("<B", self._FMT_BLOCKS) + np_tobytes(ids, body)
        if self._counters.max(initial=0) > self._U32_MAX:
            raise ValueError("CBF counter exceeds uint32 wire range")
        nz = np.flatnonzero(self._counters)
        if nz.size * 2 < self.m_slots:
            return (self._head() + struct.pack("<B", self._FMT_SPARSE)
                    + np_tobytes(nz.astype(np.uint32),
                                 self._counters[nz].astype(np.uint32)))
        return (self._head() + struct.pack("<B", self._FMT_DENSE)
                + np_tobytes(self._counters.astype(np.uint32)))

    @classmethod
    def _from_payload(cls, payload: bytes) -> "CBFSketch":
        m_slots, k, block_slots = struct.unpack_from("<QIQ", payload, 0)
        (fmt,) = struct.unpack_from("<B", payload, 20)
        body = payload[21:]
        if fmt == cls._FMT_DENSE:
            (cnt,) = np_frombytes(body, [(np.uint32, None)])
            return cls(m_slots=m_slots, k=k, block_slots=block_slots,
                       counters=cnt.astype(np.int64))
        if fmt == cls._FMT_BLOCKS:
            ids, blockdata = np_frombytes(body, [(np.uint32, None), (np.uint32, None)])
            sk = cls(m_slots=m_slots, k=k, block_slots=block_slots)
            if sk._blocks is None:  # block_slots == m_slots degenerate case
                sk._blocks, sk._counters = {}, None
            mat = blockdata.reshape(ids.size, block_slots) if ids.size else None
            for i, b in enumerate(ids):
                sk._blocks[int(b)] = mat[i].astype(np.int64)
            return sk
        idx, cnt = np_frombytes(body, [(np.uint32, None), (np.uint32, None)])
        sk = cls(m_slots=m_slots, k=k, block_slots=block_slots)
        if sk._blocks is not None:
            sk._blocks, sk._counters = None, np.zeros(m_slots, dtype=np.int64)
        if idx.size:
            sk._counters[idx.astype(np.int64)] = cnt.astype(np.int64)
        return sk
