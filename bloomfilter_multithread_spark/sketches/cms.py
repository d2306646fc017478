"""Count-min sketch — heavy-hitter companion (SURVEY.md §2.3).

Cormode–Muthukrishnan CMS: d rows x w counters; point estimate = min over
rows; overcount <= eps*N with prob 1-delta for w = ceil(e/eps),
d = ceil(ln 1/delta).  Merge = elementwise add (associative+commutative).
Row indices come from Kirsch–Mitzenmacher double hashing of the JVM-side
xxhash64 value — row j uses ``(h1 + (j+1)*h2) mod w`` so rows are
pairwise-independent enough in practice and fully deterministic.

Wire format (VERSION 2): a ``<IIqB>`` header (width, depth, total N,
mode), then mode 0 = dense, the whole int64 table; mode 1 = sparse, the
nonzero counters as (uint32 flat index, int64 count). Sparse is written
only when it is the smaller of the two (12 bytes per nonzero counter
against 8 per counter), so a partition that counted a few dozen keys
ships a few KB instead of the full table, and ``wire_bytes_bound`` stays
the dense size. The in-memory table is always dense; v1 blobs are rejected
by the base-class version check.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)
from .hashing import splitmix64, to_u64

_U64 = np.uint64
_HEAD = struct.Struct("<IIqB")
_INT64_MAX = np.iinfo(np.int64).max


def params_for(eps: float, delta: float) -> tuple[int, int]:
    w = 1 << max(3, math.ceil(math.log2(math.e / eps)))
    d = max(1, math.ceil(math.log(1.0 / delta)))
    return w, d


@register(3)
class CMSSketch(MergeableSketch):
    NAME = "cms"
    VERSION = 2

    def __init__(self, width: int = 1 << 12, depth: int = 5, table: np.ndarray | None = None,
                 total: int = 0):
        width, depth = int(width), int(depth)
        if width < 1 or width & (width - 1):
            raise ValueError(f"cms width must be a power of two >= 1, got {width}")
        if depth < 1:
            raise ValueError(f"cms depth must be >= 1, got {depth}")
        if width * depth > 1 << 32:
            # the sparse wire form addresses counters by a uint32 flat index
            raise ValueError(f"cms width * depth must be <= 2^32, got {width * depth}")
        self.width = width
        self.depth = depth
        self.table = (
            np.zeros((depth, width), dtype=np.int64) if table is None
            else table.astype(np.int64, copy=False).reshape(depth, width)
        )
        self.total = int(total)  # N, for the eps*N bound

    @classmethod
    def create(cls, width: int = 1 << 12, depth: int = 5) -> "CMSSketch":
        return cls(width=width, depth=depth)

    @classmethod
    def wire_bytes_bound(cls, width: int = 1 << 12, depth: int = 5) -> int:
        """The dense int64 table, however few keys it counts; the sparse
        form is chosen only when it is smaller."""
        return ENVELOPE_BYTES + _HEAD.size + ARRAY_PREFIX_BYTES + 8 * width * depth

    @classmethod
    def for_bounds(cls, eps: float = 1e-4, delta: float = 1e-3) -> "CMSSketch":
        w, d = params_for(eps, delta)
        return cls(width=w, depth=d)

    def _row_indices(self, u: np.ndarray) -> np.ndarray:
        h1 = u
        h2 = splitmix64(u) | _U64(1)
        j = np.arange(1, self.depth + 1, dtype=_U64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + j * h2[None, :]) & _U64(self.width - 1)).astype(np.int64)

    def update_hashes(self, h, counts=None) -> "CMSSketch":
        u = to_u64(h)
        if u.size == 0:
            return self
        c = np.ones(u.size, dtype=np.int64) if counts is None else np.asarray(counts, dtype=np.int64)
        idx = self._row_indices(u)  # (d, n)
        for row in range(self.depth):
            np.add.at(self.table[row], idx[row], c)
        self.total += int(c.sum())
        return self

    def estimate_hashes(self, h) -> np.ndarray:
        u = to_u64(h)
        if u.size == 0:
            return np.empty(0, dtype=np.int64)
        idx = self._row_indices(u)
        ests = self.table[np.arange(self.depth)[:, None], idx]  # (d, n)
        return ests.min(axis=0)

    def merge(self, other: "CMSSketch") -> "CMSSketch":
        self._require_same_kind(other)
        if (self.width, self.depth) != (other.width, other.depth):
            raise ValueError("cms param mismatch")
        self.table += other.table
        self.total += other.total
        return self

    def error_bound(self) -> float:
        """eps*N overcount bound with prob 1 - delta."""
        eps = math.e / self.width
        return eps * self.total

    def estimate_inner_product(self, other: "CMSSketch") -> int:
        """Cormode–Muthukrishnan inner-product estimate (§4.2):
        min over rows of <row_a, row_b>. For streams A, B this
        estimates sum_x f_A(x)*f_B(x) — the equi-join size of A and B
        on the sketched key; with ``other = self`` it is the AMS-style
        F2 (self-join size / second frequency moment). Always an
        OVERestimate; error <= eps * N_A * N_B with prob 1-delta, eps =
        e/width. Requires identical (width, depth) and the same
        row-hash family (guaranteed here: hashes are deterministic
        double-hashing of the same key hash)."""
        if (self.width, self.depth) != (other.width, other.depth):
            raise ValueError("cms param mismatch")
        a, b = self.table, other.table
        a_max = max(int(a.max()), -int(a.min()))
        b_max = max(int(b.max()), -int(b.min()))
        if a_max * b_max * self.width > _INT64_MAX:
            # a row sum could wrap in int64: sum Python ints instead
            a, b = a.astype(object), b.astype(object)
        return int((a * b).sum(axis=1).min())

    def inner_product_bound(self, other: "CMSSketch") -> float:
        """eps * N_A * N_B overcount bound for the inner product."""
        return (math.e / self.width) * self.total * other.total

    def resident_nbytes(self) -> int:
        # the working form is the dense table, however small the sparse
        # blob it was read from
        return self.table.nbytes

    _DENSE, _SPARSE = 0, 1

    def _payload_bytes(self) -> bytes:
        flat = self.table.ravel()
        nnz = int(np.count_nonzero(flat))
        # sparse: two length-prefixed arrays of 4 + 8 bytes per nonzero,
        # against one of 8 bytes per counter
        if 12 * nnz + ARRAY_PREFIX_BYTES < 8 * flat.size:
            nz = np.flatnonzero(flat)
            return (_HEAD.pack(self.width, self.depth, self.total, self._SPARSE)
                    + np_tobytes(nz.astype(np.uint32), flat[nz]))
        return _HEAD.pack(self.width, self.depth, self.total, self._DENSE) + np_tobytes(flat)

    @classmethod
    def _from_payload(cls, payload: bytes) -> "CMSSketch":
        width, depth, total, mode = _HEAD.unpack_from(payload, 0)
        body = memoryview(payload)[_HEAD.size:]
        if mode == cls._DENSE:
            (table,) = np_frombytes(body, [(np.int64, None)])
            table = table.copy()
        elif mode == cls._SPARSE:
            idx, counts = np_frombytes(body, [(np.uint32, None), (np.int64, None)])
            table = np.zeros(width * depth, dtype=np.int64)
            table[idx] = counts
        else:
            raise ValueError(f"unknown cms payload mode {mode}")
        return cls(width=width, depth=depth, table=table.reshape(depth, width), total=total)
