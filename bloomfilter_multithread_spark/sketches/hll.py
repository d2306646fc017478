"""HyperLogLog — distinct-count companion sketch (SURVEY.md §2.3).

Flajolet et al. HLL with the standard small-range linear-counting
correction.  Merge = elementwise register max (associative, commutative,
idempotent — partition-order invariant by construction).  Relative error
≈ 1.04 / sqrt(2^p).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)
from .hashing import to_u64

_U64 = np.uint64


def _clz64_after_shift(w: np.ndarray) -> np.ndarray:
    """Position (1-based) of the highest set bit from the MSB side, i.e.
    rho = clz(w) + 1 for w != 0 — vectorized via 6-step binary reduction."""
    n = np.zeros(w.shape, dtype=np.int64)
    x = w.copy()
    for shift, width in ((32, 0xFFFFFFFF00000000), (16, 0xFFFF000000000000),
                         (8, 0xFF00000000000000), (4, 0xF000000000000000),
                         (2, 0xC000000000000000), (1, 0x8000000000000000)):
        mask = (x & _U64(width)) == 0
        n += np.where(mask, shift, 0)
        x = np.where(mask, x << _U64(shift), x)
    return n + 1


@register(2)
class HLLSketch(MergeableSketch):
    """VERSION 2 wire format adds a sparse payload mode: when few
    registers are non-zero (small groups in grouped/windowed builds) the
    payload is (bucket:int32, rho:uint8) pairs instead of the dense 2^p
    byte array.  A p=14 partial for a group with 50 distinct values is
    ~250 B on the wire instead of 16 KiB — at 10^6 groups x 64 map
    partitions that is the difference between a ~1 TB and a ~16 GB
    grouped-HLL shuffle.  The in-memory working form stays dense (update
    is a vectorized maximum.at scatter); sparsity is decided per-blob at
    serialization time, so dense and sparse blobs interoperate freely in
    the same merge tree.  v1 blobs are rejected loudly (base-class
    version check), matching the Bloom v2 precedent."""

    NAME = "hll"
    VERSION = 2

    def __init__(self, p: int = 14, registers: np.ndarray | None = None):
        if not 4 <= p <= 18:
            raise ValueError("p in [4, 18]")
        self.p = int(p)
        self.m = 1 << p
        self.registers = (
            np.zeros(self.m, dtype=np.uint8) if registers is None else registers.astype(np.uint8, copy=False)
        )

    @classmethod
    def create(cls, p: int = 14) -> "HLLSketch":
        return cls(p=p)

    @classmethod
    def wire_bytes_bound(cls, p: int = 14) -> int:
        """One byte per register; the sparse form is chosen only when it
        is smaller."""
        return ENVELOPE_BYTES + 5 + 2 * ARRAY_PREFIX_BYTES + (1 << p)

    def update_hashes(self, h) -> "HLLSketch":
        u = to_u64(h)
        if u.size == 0:
            return self
        p = _U64(self.p)
        bucket = (u >> (_U64(64) - p)).astype(np.int64)
        w = u << p  # remaining 64-p bits shifted to MSB
        rho = np.where(w == 0, 64 - self.p + 1, _clz64_after_shift(w)).astype(np.uint8)
        np.maximum.at(self.registers, bucket, rho)
        return self

    def merge(self, other: "HLLSketch") -> "HLLSketch":
        self._require_same_kind(other)
        if self.p != other.p:
            raise ValueError("hll p mismatch")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def estimate(self) -> float:
        m = self.m
        alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}[m]
        inv = np.ldexp(1.0, -self.registers.astype(np.int64))
        raw = alpha * m * m / inv.sum()
        if raw <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                return m * math.log(m / zeros)  # linear counting
        return float(raw)

    def rel_error_bound(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def resident_nbytes(self) -> int:
        # the working form is always the dense register array — a sparse
        # wire blob (v2 mode 1) may be 100x smaller than what it
        # deserializes into, so byte-bounded caches must not use blob size
        return self.m

    def copy(self) -> "HLLSketch":
        return HLLSketch(p=self.p, registers=self.registers.copy())

    def estimate_union(self, other: "HLLSketch") -> float:
        """|A ∪ B| — merge is union, so this is exact sketch algebra
        (register max on copies; neither operand is mutated)."""
        return self.copy().merge(other).estimate()

    def estimate_intersection(self, other: "HLLSketch") -> float:
        """|A ∩ B| by inclusion–exclusion on the estimates. Error is
        ADDITIVE in the union size (~1.04/sqrt(m) * |A∪B|), so the
        relative error blows up for small intersections of large sets —
        callers should bound-check against eps * |A∪B|, not eps * |A∩B|
        (standard HLL set-algebra caveat)."""
        return max(0.0, self.estimate() + other.estimate() - self.estimate_union(other))

    # -- wire format (v2) ----------------------------------------------
    # header: p u32, mode u8.  mode 0 = dense (raw 2^p register bytes);
    # mode 1 = sparse (int32 bucket ids + uint8 rhos of the non-zero
    # registers).  Sparse wins whenever 5 bytes/non-zero < 1 byte/register.
    def _payload_bytes(self) -> bytes:
        nz = np.flatnonzero(self.registers)
        if nz.size * 5 < self.m:
            return (
                struct.pack("<IB", self.p, 1)
                + np_tobytes(nz.astype(np.int32), self.registers[nz])
            )
        return struct.pack("<IB", self.p, 0) + np_tobytes(self.registers)

    @classmethod
    def _from_payload(cls, payload: bytes) -> "HLLSketch":
        p, mode = struct.unpack_from("<IB", payload, 0)
        body = payload[5:]
        if mode == 0:
            (regs,) = np_frombytes(body, [(np.uint8, None)])
            return cls(p=p, registers=regs.copy())
        if mode == 1:
            buckets, rhos = np_frombytes(body, [(np.int32, None), (np.uint8, None)])
            regs = np.zeros(1 << p, dtype=np.uint8)
            regs[buckets] = rhos
            return cls(p=p, registers=regs)
        raise ValueError(f"unknown hll payload mode {mode}")
