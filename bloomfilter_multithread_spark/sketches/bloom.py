"""Bloom filter — the reference-faithful core sketch.

Re-expression of the reference's per-thread 65,536-bit BitMagic filters
(``/root/reference/src/main.cpp:75,86,96-99``; insert
``src/SkmerSplitter.cpp:83``; probe ``:132-136``) as a single mergeable
numpy uint64 bit array:

- insert  = set bits at k double-hashed indices (vectorized
  ``np.bitwise_or.at``) — generalizes the reference's single
  ``xorshift32 % bf_size`` hash to Kirsch–Mitzenmacher k-hash indexing
  (north rule: "identical k-hash (double-hashing) indexing").
- merge   = ``np.bitwise_or`` of word arrays — THE primitive the
  reference lacks (its q filters stay disjoint forever).
- probe   = all k bits set → zero false negatives by construction, FPR
  bounded by the published ``(1 - e^{-kn/m})^k``.

A ``ReferenceBloom`` compatibility class reproduces the reference's exact
single-hash indexing (``bit = xorshift32(s) % m``) for parity tests.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)
from .hashing import double_hash_indices, to_u64, xorshift32_batch

_U64 = np.uint64
# packed bytes popcounted per slice (numpy 1.x has no bitwise_count): the
# unpacked slice, 2 MiB, stays in cache and bounds the temporary
_POPCOUNT_CHUNK = 1 << 18


def optimal_params(n_items: int, target_fpr: float) -> tuple[int, int]:
    """(m_bits, k_hashes) sizing: m = -n ln p / (ln 2)^2 rounded up to a
    power of two; k = (m/n) ln 2.  At the 10^12-turn design point with
    p=1e-3 this is ~1.8 TB total — hence sharded/partitioned deployment
    (see operators.build) — while per-partition partials stay ~MBs."""
    if n_items <= 0:
        n_items = 1
    m = -n_items * math.log(target_fpr) / (math.log(2) ** 2)
    m_bits = 1 << max(6, math.ceil(math.log2(m)))
    # k for the TARGET fpr (= -log2 p), not for the power-of-two-rounded m:
    # the rounded-up m only lowers FPR further, while k = m/n*ln2 on the
    # oversized m would do up to 2x the hashing work for no required gain.
    k = max(1, round(-math.log2(target_fpr)))
    return m_bits, int(k)


@register(1)
class BloomSketch(MergeableSketch):
    """Internal state is a byte-per-bit uint8 array (``bits[i] in {0,1}``):
    insert is then a plain vectorized scatter STORE (``bits[idx] = 1`` —
    duplicate indices are harmless because every write stores 1), which
    measures ~16x faster than ``np.bitwise_or.at`` on packed words (the
    ufunc ``.at`` scatter was the merge-path bottleneck at scale). The
    *serialized* dense form is still the packed little-endian bit array —
    byte-identical to a uint64-word layout — so the wire format is
    representation-independent.

    Dual representation: a sketch holds EITHER the unpacked byte-per-bit
    array (``_ubits``, build/probe form) OR the packed form (``_packed``,
    8x smaller, as deserialized from a dense payload). Packed x packed
    merge ORs without unpacking (the tree-merge upper levels never pay
    the unpack cost); the ``bits`` property unpacks lazily on first
    insert/probe."""

    NAME = "bloom"
    # v2 = <QIQ> header (m_bits, k, block_bits) + fmt byte; v1 (<QI>, no
    # block_bits) is rejected with a clear error by the envelope check
    VERSION = 2

    # flush pending indices once they would exceed ~256 MB
    _PENDING_FLUSH = 32_000_000

    def __init__(self, m_bits: int = 1 << 20, k: int = 5, bits: np.ndarray | None = None,
                 packed: np.ndarray | None = None, block_bits: int = 0):
        if m_bits & (m_bits - 1) or m_bits < 64:
            raise ValueError("m_bits must be a power of two >= 64")
        if block_bits:
            if block_bits & (block_bits - 1) or not 64 <= block_bits <= m_bits:
                raise ValueError("block_bits must be a power of two in [64, m_bits]")
        self.block_bits = int(block_bits)
        self.m_bits = int(m_bits)
        self.k = int(k)
        self._packed: np.ndarray | None = None
        self._ubits: np.ndarray | None = None
        # blocked sketches hold ONLY their nonempty blocks: {block_id ->
        # unpacked uint8[block_bits]}. A routed build partition owns ~1/P
        # of the blocks, so every pass (scatter, popcount, serialize)
        # touches O(m/P) instead of O(m) — the full-m representation made
        # the whole build memory-bandwidth-bound (measured 10x task
        # inflation at m=2^29 with 32 concurrent workers).
        self._blocks: dict[int, np.ndarray] | None = None
        # deferred insert buffer: batches append raw bit indices; the
        # scatter happens once, SORTED, at first read. Random scatter over
        # a large cold array is latency-bound and measured ~8x slower than
        # sort+sequentialish scatter when the JVM side is saturating
        # memory bandwidth with the scan (see docs/SCALE.md §4).
        self._pending: list[np.ndarray] = []
        self._pending_n = 0
        if packed is not None:
            self._packed = packed.astype(np.uint8, copy=False)
        elif bits is not None:
            self._ubits = bits.astype(np.uint8, copy=False)
        elif self.block_bits and self.block_bits < self.m_bits:
            self._blocks = {}
        else:
            self._ubits = np.zeros(m_bits, dtype=np.uint8)

    def _flush(self) -> None:
        if not self._pending:
            return
        pending, self._pending, self._pending_n = self._pending, [], 0
        idx = np.sort(np.concatenate(pending)) if len(pending) > 1 else np.sort(pending[0])
        if self._blocks is not None:
            bb = self.block_bits
            blk = idx // bb
            # sorted idx => contiguous runs per block; split via boundaries
            bounds = np.searchsorted(blk, np.unique(blk))
            uniq = blk[bounds]
            for i, b in enumerate(uniq):
                lo = bounds[i]
                hi = bounds[i + 1] if i + 1 < bounds.size else idx.size
                arr = self._blocks.get(int(b))
                if arr is None:
                    arr = self._blocks.setdefault(int(b), np.zeros(bb, dtype=np.uint8))
                arr[idx[lo:hi] - int(b) * bb] = 1
            return
        if self._ubits is None:
            self._ubits = np.unpackbits(self._packed, bitorder="little")
            self._packed = None
        self._ubits[idx] = 1

    @property
    def bits(self) -> np.ndarray:
        """Unpacked byte-per-bit FULL view with all pending inserts applied
        (materializes lazily from packed or block-local storage)."""
        self._flush()
        if self._ubits is None:
            if self._blocks is not None:
                full = np.zeros(self.m_bits, dtype=np.uint8)
                bb = self.block_bits
                for b, arr in self._blocks.items():
                    full[b * bb : (b + 1) * bb] = arr
                self._ubits = full
                self._blocks = None
            else:
                self._ubits = np.unpackbits(self._packed, bitorder="little")
                self._packed = None
        return self._ubits

    @classmethod
    def create(cls, m_bits: int = 1 << 20, k: int = 5, block_bits: int = 0) -> "BloomSketch":
        """``block_bits`` > 0 selects cache-blocked indexing (Putze et al.):
        the hash's top bits pick one block of ``block_bits`` bits and all k
        double-hashed positions land INSIDE it. Two wins at scale: (a) the
        per-key insert touches one cache-resident region instead of
        spraying k writes over the whole array (the measured memory-
        bandwidth bottleneck), and (b) an exchange routed by the same top
        bits makes per-partition partials block-disjoint — the reference's
        `hmin % q` routing (SkmerExtractor.cpp:164) re-expressed. FPR pays
        only the Poisson block-imbalance penalty, negligible for blocks
        >= 2^20 bits."""
        return cls(m_bits=m_bits, k=k, block_bits=block_bits)

    @classmethod
    def wire_bytes_bound(cls, m_bits: int = 1 << 20, k: int = 5, block_bits: int = 0) -> int:
        """The packed array, plus a 4-byte id per block in the blocks
        form; the sparse form is chosen only when it is smaller."""
        nb = m_bits // block_bits if block_bits and block_bits < m_bits else 0
        return ENVELOPE_BYTES + 21 + 2 * ARRAY_PREFIX_BYTES + m_bits // 8 + 4 * nb

    @classmethod
    def for_capacity(cls, n_items: int, target_fpr: float = 1e-3) -> "BloomSketch":
        m, k = optimal_params(n_items, target_fpr)
        return cls(m_bits=m, k=k)

    # -- hot path (numpy only) ------------------------------------------
    def _indices(self, u: np.ndarray) -> np.ndarray:
        """(k, n) bit positions. Unblocked: Kirsch–Mitzenmacher over the
        full table. Blocked: top hash bits pick the block, double hashing
        indexes within it."""
        if not self.block_bits or self.block_bits == self.m_bits:
            return double_hash_indices(u, self.k, self.m_bits)
        nb_log2 = int(math.log2(self.m_bits // self.block_bits))
        block = u >> _U64(64 - nb_log2)
        local = double_hash_indices(u, self.k, self.block_bits)
        return local + (block * _U64(self.block_bits))[None, :]

    def update_hashes(self, h) -> "BloomSketch":
        """Insert a batch of pre-hashed 64-bit keys (JVM xxhash64).
        Indices are buffered and scattered sorted at the next read."""
        u = to_u64(h)
        if u.size == 0:
            return self
        idx = self._indices(u).ravel()
        self._pending.append(idx.astype(np.int64, copy=False))
        self._pending_n += idx.size
        # block-local storage: flush per batch (the batch sort is
        # cache-resident and the scatter working set is only the owned
        # blocks); full-m storage: defer so ONE big sorted scatter
        # replaces many cold random ones
        if self._blocks is not None or self._pending_n >= self._PENDING_FLUSH:
            self._flush()
        return self

    def probe_hashes(self, h) -> np.ndarray:
        """might_contain for a batch of pre-hashed keys -> bool (n,)."""
        self._flush()
        u = to_u64(h)
        if u.size == 0:
            return np.empty(0, dtype=bool)
        idx = self._indices(u)  # (k, n)
        return self.bits[idx.astype(np.int64)].all(axis=0)

    # -- mergeable interface --------------------------------------------
    def merge(self, other: "BloomSketch") -> "BloomSketch":
        self._require_same_kind(other)
        if (self.m_bits, self.k, self.block_bits) != (other.m_bits, other.k, other.block_bits):
            raise ValueError("bloom param mismatch")
        self._flush()
        other._flush()
        if self._blocks is not None and other._blocks is not None:
            # block-disjoint partials from a routed build: union is mostly
            # dict insertion; overlapping blocks OR block-locally
            for b, arr in other._blocks.items():
                mine = self._blocks.get(b)
                if mine is None:
                    self._blocks[b] = arr.copy()
                else:
                    np.bitwise_or(mine, arr, out=mine)
        elif self._packed is not None and other._packed is not None:
            np.bitwise_or(self._packed, other._packed, out=self._packed)
        else:
            np.bitwise_or(self.bits, other.bits, out=self._ubits)
        return self

    def _nset(self) -> int:
        self._flush()
        if self._blocks is not None:
            return sum(int(np.count_nonzero(a)) for a in self._blocks.values())
        if self._ubits is not None:
            return int(np.count_nonzero(self._ubits))
        p = self._packed
        return sum(int(np.count_nonzero(np.unpackbits(p[i:i + _POPCOUNT_CHUNK])))
                   for i in range(0, p.size, _POPCOUNT_CHUNK))

    def estimate_cardinality(self) -> float:
        """Swamidass–Baldi fill-ratio cardinality estimate."""
        x = self._nset()
        if x >= self.m_bits:
            return float("inf")
        return -self.m_bits / self.k * math.log(1.0 - x / self.m_bits)

    # -- set algebra (completes the HLL/CMS algebra symmetry, VERDICT r2
    # #6; SURVEY §2.2 set-ops note: AND-intersection is a documented
    # UPPER-BOUND estimate, not a filter built on A∩B) ------------------
    def intersect(self, other: "BloomSketch") -> "BloomSketch":
        """New sketch whose bit array is the AND of the two filters.

        Semantics (Bloom set algebra, e.g. Papapetrou et al. 2010):
        every key of A∩B has all k bits set in BOTH filters, so probing
        the AND-array has ZERO false negatives for true intersection
        members — it answers "might be in A∩B" as a strict upper bound.
        Extra positives beyond Bloom noise exist because the AND-array
        keeps bits that A-keys and B-keys set coincidentally: for a key
        in A only, all k of its bits are set on the A side already, so
        it false-positives at B's fill rate fill_b^k (and symmetrically);
        a fresh key false-positives at ~(fill_a * fill_b)^k. The result
        is therefore NOT equivalent to a filter built on A∩B (that one
        would be strictly sparser); it is the documented estimate only."""
        self._require_same_kind(other)
        if (self.m_bits, self.k, self.block_bits) != (other.m_bits, other.k, other.block_bits):
            raise ValueError("bloom param mismatch")
        return BloomSketch(m_bits=self.m_bits, k=self.k, block_bits=self.block_bits,
                           bits=self.bits & other.bits)

    def fill_fraction(self) -> float:
        return self._nset() / self.m_bits

    def estimate_union_cardinality(self, other: "BloomSketch") -> float:
        """|A ∪ B| via Swamidass–Baldi on the OR of the bit arrays (the
        merge law makes OR(A,B) exactly the filter of A ∪ B, so this
        carries the single-filter estimator's error). Mutates neither."""
        if (self.m_bits, self.k) != (other.m_bits, other.k):
            raise ValueError("bloom param mismatch")
        x = int(np.count_nonzero(self.bits | other.bits))
        if x >= self.m_bits:
            return float("inf")
        return -self.m_bits / self.k * math.log(1.0 - x / self.m_bits)

    def estimate_intersection_cardinality(self, other: "BloomSketch") -> float:
        """|A ∩ B| by inclusion–exclusion over fill-ratio estimates
        (|A| + |B| - |A ∪ B|). Like HLL's intersection, the error is
        ADDITIVE in the union estimate's error — small intersections of
        large sets are the weak spot (same caveat as
        HLLSketch.estimate_intersection)."""
        return (self.estimate_cardinality() + other.estimate_cardinality()
                - self.estimate_union_cardinality(other))

    def fpr_bound(self, n_inserted: int) -> float:
        """Published (1 - e^{-kn/m})^k for n inserted keys."""
        return (1.0 - math.exp(-self.k * n_inserted / self.m_bits)) ** self.k

    def resident_nbytes(self) -> int:
        # probe working form is the unpacked byte-per-bit array
        return self.m_bits

    def estimate(self, h) -> np.ndarray:
        return self.probe_hashes(h)

    # Adaptive payload, smallest of three encodings:
    # - SPARSE: set-bit indices (uint32/uint64) — O(n_partition * k * 4B),
    #   independent of m; typical for unrouted per-partition partials.
    # - BLOCKS: (block ids, packed block contents) for nonempty blocks
    #   only — O(touched_blocks * block_bits/8); the routed-build format,
    #   where a partition owns ~1/P of the blocks (total shuffle = m/8
    #   spread over P partials instead of P * m/8).
    # - DENSE: full packed bit array — the merged-result form.
    _FMT_DENSE, _FMT_SPARSE32, _FMT_SPARSE64, _FMT_BLOCKS = 0, 1, 2, 3

    def _payload_bytes(self) -> bytes:
        self._flush()
        head = struct.pack("<QIQ", self.m_bits, self.k, self.block_bits)
        if self._blocks is not None:
            # block-local storage serializes directly: O(owned blocks)
            ids = np.array(sorted(self._blocks), dtype=np.uint32)
            body = (
                np.concatenate(
                    [np.packbits(self._blocks[int(b)], bitorder="little") for b in ids]
                )
                if ids.size
                else np.empty(0, dtype=np.uint8)
            )
            return head + struct.pack("<B", self._FMT_BLOCKS) + np_tobytes(ids, body)
        nset = self._nset()
        idx_width = 4 if self.m_bits <= (1 << 32) else 8
        size_dense = self.m_bits // 8
        size_sparse = nset * idx_width
        blocks = None
        size_blocks = size_dense + 1
        if self.block_bits and self.block_bits < self.m_bits:
            nb = self.m_bits // self.block_bits
            if self._packed is not None:
                occ = self._packed.reshape(nb, self.block_bits // 8).any(axis=1)
            else:
                occ = self._ubits.reshape(nb, self.block_bits).any(axis=1)
            blocks = np.flatnonzero(occ).astype(np.uint32)
            size_blocks = blocks.size * (self.block_bits // 8 + 4)
        if blocks is not None and size_blocks < min(size_sparse, size_dense):
            if self._packed is not None:
                body = self._packed.reshape(nb, self.block_bits // 8)[blocks].ravel()
            else:
                body = np.packbits(
                    self._ubits.reshape(nb, self.block_bits)[blocks].ravel(),
                    bitorder="little")
            return head + struct.pack("<B", self._FMT_BLOCKS) + np_tobytes(blocks, body)
        if size_sparse < size_dense:
            idx = np.flatnonzero(self.bits)
            if idx_width == 4:
                return head + struct.pack("<B", self._FMT_SPARSE32) + np_tobytes(idx.astype(np.uint32))
            return head + struct.pack("<B", self._FMT_SPARSE64) + np_tobytes(idx.astype(_U64))
        packed = self._packed if self._packed is not None else np.packbits(
            self._ubits, bitorder="little")
        return head + struct.pack("<B", self._FMT_DENSE) + np_tobytes(packed.view(_U64))

    @classmethod
    def _from_payload(cls, payload: bytes) -> "BloomSketch":
        m_bits, k, block_bits = struct.unpack_from("<QIQ", payload, 0)
        (fmt,) = struct.unpack_from("<B", payload, 20)
        body = payload[21:]
        if fmt == cls._FMT_DENSE:
            (words,) = np_frombytes(body, [(_U64, None)])
            # stays packed — a merge with another dense blob ORs without unpacking
            return cls(m_bits=m_bits, k=k, block_bits=block_bits,
                       packed=words.view(np.uint8).copy())
        if fmt == cls._FMT_BLOCKS:
            blocks, blockdata = np_frombytes(body, [(np.uint32, None), (np.uint8, None)])
            sk = cls(m_bits=m_bits, k=k, block_bits=block_bits)
            if sk._blocks is None:  # block_bits == m_bits degenerate case
                sk._blocks, sk._ubits = {}, None
            bpb = block_bits // 8
            mat = blockdata.reshape(blocks.size, bpb) if blocks.size else None
            for i, b in enumerate(blocks):
                sk._blocks[int(b)] = np.unpackbits(mat[i], bitorder="little")
            return sk
        dtype = np.uint32 if fmt == cls._FMT_SPARSE32 else _U64
        (idx,) = np_frombytes(body, [(dtype, None)])
        sk = cls(m_bits=m_bits, k=k, block_bits=block_bits)
        if idx.size:
            sk.bits[idx.astype(np.int64, copy=False)] = 1
        return sk


class ReferenceBloom:
    """Parity-exact model of one reference worker filter: 65,536 bits,
    single hash ``xorshift32(s) % m`` (``SkmerSplitter.cpp:83,132``;
    size at ``main.cpp:75``).  Test-only — strings hashed in (vectorized)
    Python, matching the C++ value-for-value."""

    def __init__(self, m_bits: int = 65536):
        self.m_bits = m_bits
        self.bits = np.zeros(m_bits, dtype=bool)

    def insert(self, strings) -> None:
        idx = xorshift32_batch(strings) % np.uint32(self.m_bits)
        self.bits[idx.astype(np.int64)] = True

    def test(self, strings) -> np.ndarray:
        idx = xorshift32_batch(strings) % np.uint32(self.m_bits)
        return self.bits[idx.astype(np.int64)]
