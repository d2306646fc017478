"""HyperLogLog — distinct-count companion sketch (SURVEY.md §2.3).

Flajolet et al. HLL with the standard small-range linear-counting
correction.  Merge = elementwise register max (associative, commutative,
idempotent — partition-order invariant by construction).  Relative error
≈ 1.04 / sqrt(2^p).

The working form is one uint8 per register.  The wire form is the
smallest of three payloads, chosen per blob from its registers: dense-8
(a byte per register), sparse ((bucket, value) pairs of the non-zero
registers) and dense-4 (a nibble per register above the smallest one,
with the rare register 15 or more above it listed as an exception, the
layout of Apache DataSketches' HLL_4).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)
from .hashing import to_u64

_U64 = np.uint64
# payload header (p, mode); dense-4 adds its base register
_HEAD = struct.Struct("<IB")
_HEAD4 = struct.Struct("<IBB")
_DENSE8, _SPARSE, _DENSE4 = 0, 1, 2
# the dense-4 nibble that marks an exception
_EXC = 15
# byte -> its (low, high) nibbles, to unpack dense-4 in one gather
_NIBBLES = np.array([[b & 0xF, b >> 4] for b in range(256)], dtype=np.uint8)


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
    """VERSION 2 wire format: a payload mode picks one of three forms,
    whichever is smallest for the blob's registers.  Dense-8 is one byte
    per register.  Sparse lists (bucket:int32, rho:uint8) pairs of the
    non-zero registers: a p=14 partial for a group with 50 distinct
    values is ~285 B instead of 16 KiB, which at 10^6 groups x 64 map
    partitions is the difference between a ~1 TB and a ~18 GB
    grouped-HLL shuffle.  Dense-4 stores ``register - base`` as one
    nibble (base = the smallest register) plus the few registers at
    least base + 15 as exceptions: a full p=12 sketch is ~2.1 KB instead
    of 4.1 KB.  Dense-8 is left only for register sets where more than
    about a tenth of the registers are exceptions.  The in-memory working
    form stays dense (update is a vectorized maximum.at scatter); the
    form is decided per blob at serialization time, so blobs of every
    mode interoperate freely in the same merge tree.  v1 blobs are
    rejected loudly (base-class version check), matching the Bloom v2
    precedent; a build that knows only modes 0 and 1 rejects a mode-2
    blob as an unknown payload mode."""

    NAME = "hll"
    VERSION = 2

    def __init__(self, p: int = 14, registers: np.ndarray | None = None):
        if not 4 <= p <= 18:
            raise ValueError("p in [4, 18]")
        self.p = int(p)
        self.m = 1 << p
        if registers is None:
            registers = np.zeros(self.m, dtype=np.uint8)
        elif np.shape(registers) != (self.m,):
            raise ValueError(f"hll p={p} needs {self.m} registers, got shape {np.shape(registers)}")
        self.registers = registers.astype(np.uint8, copy=False)

    @classmethod
    def create(cls, p: int = 14) -> "HLLSketch":
        return cls(p=p)

    @classmethod
    def wire_bytes_bound(cls, p: int = 14) -> int:
        """The dense-8 size, a byte per register, plus one spare array
        prefix: the writer never emits a blob larger than dense-8."""
        return ENVELOPE_BYTES + _HEAD.size + 2 * ARRAY_PREFIX_BYTES + (1 << p)

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
        # or dense-4 wire blob (v2 mode 1 or 2) may be 2-100x smaller than
        # what it deserializes into, so byte-bounded caches must not use
        # blob size
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
    # header: p u32, mode u8, then per mode:
    #   0 dense-8: one length-prefixed uint8 array of the 2^p registers;
    #   1 sparse:  int32 bucket ids + uint8 values of the non-zero registers;
    #   2 dense-4: base u8 (the smallest register), then the 2^(p-1) bytes
    #     of nibbles ``register - base`` (two per byte, low nibble first),
    #     where nibble 15 marks an exception, then int32 index + uint8 value
    #     of every register >= base + 15.
    # The writer works out each form's exact size and writes the smallest
    # (ties go to the lower mode), so no blob is larger than another form.
    def _payload_bytes(self) -> bytes:
        regs = self.registers
        nz = int(np.count_nonzero(regs))
        base = int(regs.min())
        n_exc = int(np.count_nonzero(regs >= base + _EXC))
        sizes = (
            _HEAD.size + ARRAY_PREFIX_BYTES + self.m,
            _HEAD.size + 2 * ARRAY_PREFIX_BYTES + 5 * nz,
            _HEAD4.size + 3 * ARRAY_PREFIX_BYTES + self.m // 2 + 5 * n_exc,
        )
        mode = sizes.index(min(sizes))
        if mode == _DENSE8:
            return _HEAD.pack(self.p, mode) + np_tobytes(regs)
        if mode == _SPARSE:
            idx = np.flatnonzero(regs)
            return _HEAD.pack(self.p, mode) + np_tobytes(idx.astype(np.int32), regs[idx])
        nib = np.minimum(regs - np.uint8(base), _EXC)
        idx = np.flatnonzero(nib == _EXC)
        return (_HEAD4.pack(self.p, mode, base)
                + np_tobytes(nib[0::2] | (nib[1::2] << 4), idx.astype(np.int32), regs[idx]))

    @classmethod
    def _from_payload(cls, payload: bytes) -> "HLLSketch":
        p, mode = _HEAD.unpack_from(payload, 0)
        body = memoryview(payload)[_HEAD.size:]
        if mode == _DENSE8:
            (regs,) = np_frombytes(body, [(np.uint8, None)])
            return cls(p=p, registers=regs.copy())
        if mode == _SPARSE:
            idx, vals = np_frombytes(body, [(np.int32, None), (np.uint8, None)])
            sk = cls(p=p)
        elif mode == _DENSE4:
            _, _, base = _HEAD4.unpack_from(payload, 0)
            if base > 65 - p:  # no register exceeds 64 - p + 1, and base + nibble must not wrap
                raise ValueError(f"hll dense-4 base {base} above p={p}'s largest register {65 - p}")
            packed, idx, vals = np_frombytes(body[1:], [(np.uint8, None), (np.int32, None),
                                                        (np.uint8, None)])
            sk = cls(p=p, registers=_NIBBLES.take(packed, axis=0).ravel())
            sk.registers += np.uint8(base)
        else:
            raise ValueError(f"unknown hll payload mode {mode}")
        if idx.size != vals.size:
            raise ValueError(f"hll payload lists {idx.size} indices but {vals.size} values")
        if idx.size and (int(idx.min()) < 0 or int(idx.max()) >= sk.m):
            raise ValueError(f"hll payload register index out of [0, {sk.m}) for p={p}")
        sk.registers[idx] = vals
        return sk
