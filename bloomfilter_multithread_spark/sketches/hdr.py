"""HDR histogram sketch — bounded-RELATIVE-error quantiles over
non-negative integer-scaled values, with a fully deterministic bucket
mapping (pure integer bit arithmetic, no floats anywhere).

Why a third quantile sketch next to KLL/t-digest: those two are
randomized/centroid summaries whose estimates can only be *bound-checked*
against an exact rank (their contract queries assert `within_bound`
booleans). The HDR mapping is a deterministic function of the value, so
its quantile estimates are *bit-reproducible* by any engine that can do
integer arithmetic — the contract query's DuckDB oracle recomputes the
estimates themselves and they hash-match exactly. That makes HDR the
right latency/size histogram for a 100-TB pipeline: per-partition
histograms are tiny fixed-size integer arrays, merge is elementwise add
(associative+commutative → partition-count/order invariant by
construction), and the error contract is multiplicative
(est <= true < est * (1 + 2^-sub_bits) + 1), which is what latency SLOs
want (p99 within 3.1% at sub_bits=5), unlike KLL's additive RANK error.

Reference analog: the per-thread fixed-size count structures that are
merged only by elementwise combination
(``/root/reference/src/main.cpp:119-127`` keeps q disjoint fixed-size
filters; the merge the reference never implements is elementwise OR —
here the counters version of the same shape, elementwise add).

Bucket mapping (Gil Tene's HdrHistogram bucketing, re-derived in the
minimal form both Spark SQL and DuckDB can evaluate identically):

    w   = v + 1                      (v >= 0, so w >= 1 and bin(w) is valid)
    b   = bit_length(w)              = length(bin(w)) in BOTH engines
    if b <= s+1 : idx = w                         (exact small values)
    else        : shift = b - s - 1
                  idx   = shift * 2^s + (w >> shift)

Level `shift` occupies exactly the index block
[2^s*(shift+1), 2^s*(shift+2)) — contiguous, collision-free — and its
buckets are 2^shift wide starting at w = 2^(s+shift), so the worst
relative width is 2^shift / 2^(s+shift) = 2^-s.

Decode (bucket lower bound, value domain):

    if idx < 2^(s+1) : w_lo = idx
    else             : shift = idx div 2^s - 1
                       w_lo  = (idx - shift * 2^s) << shift
    v_lo = w_lo - 1

Quantile(q = num/den) = v_lo of the first bucket (ascending idx) whose
cumulative count reaches ceil(q * n) — computed with INTEGER ceil
`(num*n + den - 1) div den`. The float form `ceil(0.95 * n)` is a trap:
0.95 has no exact binary representation, so 0.95*20 = 19.000000000000004
and float-ceil gives rank 20 where the true ceil(19) is 19 —
``quantile_frac`` takes the rational and is the cross-engine-exact path
(the float ``quantile`` convenience delegates via Fraction).
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np

from .base import (ARRAY_PREFIX_BYTES, ENVELOPE_BYTES, MergeableSketch, np_frombytes,
                   np_tobytes, register)

# powers of two for integer bit_length via searchsorted (exact; no log2
# float round-trip — log2(2^47) computed as log(x)/log(2) can be off by
# an ulp at exact powers, which would shift a bucket boundary)
_POW2 = np.left_shift(np.int64(1), np.arange(63, dtype=np.int64))


def _bit_length(w: np.ndarray) -> np.ndarray:
    """Exact bit_length of positive int64s (1 -> 1, 5 -> 3)."""
    return np.searchsorted(_POW2, w, side="right").astype(np.int64)


@register(10)
class HDRSketch(MergeableSketch):
    NAME = "hdr"
    VERSION = 1

    def __init__(self, sub_bits: int, max_bits: int, unit_scale: int,
                 counts: np.ndarray | None = None, n_total: int = 0):
        if not 1 <= sub_bits <= 16:
            raise ValueError("sub_bits in [1, 16]")
        if not sub_bits + 1 <= max_bits <= 62:
            raise ValueError("max_bits in [sub_bits+1, 62]")
        if unit_scale < 1:
            raise ValueError("unit_scale >= 1")
        self.sub_bits = int(sub_bits)
        self.max_bits = int(max_bits)
        self.unit_scale = int(unit_scale)
        # index blocks: [0, 2^(s+1)) exact + one 2^s block per shift level
        self.n_buckets = (1 << (sub_bits + 1)) + (max_bits - sub_bits - 1) * (1 << sub_bits)
        self.counts = (
            counts if counts is not None else np.zeros(self.n_buckets, dtype=np.int64)
        )
        self.n_total = int(n_total)

    @classmethod
    def create(cls, sub_bits: int = 5, max_bits: int = 40,
               unit_scale: int = 1) -> "HDRSketch":
        return cls(sub_bits=sub_bits, max_bits=max_bits, unit_scale=unit_scale)

    @classmethod
    def wire_bytes_bound(cls, sub_bits: int = 5, max_bits: int = 40,
                         unit_scale: int = 1) -> int:
        """An (int64 index, int64 count) pair per non-empty bucket."""
        n_buckets = (1 << (sub_bits + 1)) + (max_bits - sub_bits - 1) * (1 << sub_bits)
        return ENVELOPE_BYTES + 32 + 2 * ARRAY_PREFIX_BYTES + 16 * n_buckets

    # -- mapping (the contract both engines replicate) -------------------

    def bucket_of(self, v: np.ndarray) -> np.ndarray:
        """v (int64, >= 0, already unit-scaled) -> bucket index."""
        v = np.asarray(v, dtype=np.int64)
        if len(v) and int(v.min()) < 0:
            raise ValueError("HDR domain is v >= 0")
        w = v + 1
        b = _bit_length(w)
        if len(b) and int(b.max()) > self.max_bits:
            raise ValueError(
                f"value needs {int(b.max())} bits; sketch sized for max_bits={self.max_bits}"
            )
        s = self.sub_bits
        shift = np.maximum(b - (s + 1), 0)
        small = b <= s + 1
        return np.where(small, w, shift * (1 << s) + (w >> shift))

    def lower_bound_of(self, idx: int) -> int:
        """Bucket lower bound in the (unit-scaled) value domain."""
        s = self.sub_bits
        if idx < (1 << (s + 1)):
            w_lo = idx
        else:
            shift = (idx >> s) - 1
            w_lo = (idx - shift * (1 << s)) << shift
        return int(w_lo) - 1

    # -- updates / merge -------------------------------------------------

    def update_values(self, values: np.ndarray) -> "HDRSketch":
        """Float array -> floor(value * unit_scale) integer units.
        floor(double * int) is IEEE-identical to SQL floor(value * k)."""
        v = np.floor(np.asarray(values, dtype=np.float64) * self.unit_scale).astype(np.int64)
        idx = self.bucket_of(v)
        np.add.at(self.counts, idx, 1)
        self.n_total += len(v)
        return self

    def merge(self, other: "HDRSketch") -> "HDRSketch":
        self._require_same_kind(other)
        if (other.sub_bits, other.max_bits, other.unit_scale) != (
            self.sub_bits, self.max_bits, self.unit_scale
        ):
            raise ValueError("cannot merge HDR sketches with different geometry")
        self.counts += other.counts
        self.n_total += other.n_total
        return self

    # -- queries ----------------------------------------------------------

    def quantile_frac(self, num: int, den: int) -> int:
        """Quantile at rank ceil(num/den * n), pure integer math; returns
        the bucket LOWER BOUND in unit-scaled domain (est <= true)."""
        if self.n_total == 0:
            raise ValueError("empty sketch")
        if not 0 < num <= den:
            raise ValueError("need 0 < num/den <= 1")
        rank = (num * self.n_total + den - 1) // den
        cum = np.cumsum(self.counts)
        idx = int(np.searchsorted(cum, rank, side="left"))
        return self.lower_bound_of(idx)

    def quantile(self, q: float) -> int:
        frac = Fraction(q).limit_denominator(10**6)
        return self.quantile_frac(frac.numerator, frac.denominator)

    def relative_error_bound(self) -> float:
        """est <= true < est * (1 + 2^-sub_bits) + unit quantization."""
        return 2.0 ** -self.sub_bits

    # -- envelope ---------------------------------------------------------

    def _payload_bytes(self) -> bytes:
        nz = np.flatnonzero(self.counts).astype(np.int64)
        head = np.array(
            [self.sub_bits, self.max_bits, self.unit_scale, self.n_total],
            dtype=np.int64,
        )
        return head.tobytes() + np_tobytes(nz, self.counts[nz])

    @classmethod
    def _from_payload(cls, payload: bytes) -> "HDRSketch":
        sub_bits, max_bits, unit_scale, n_total = np.frombuffer(
            payload[:32], dtype=np.int64
        )
        nz, cnz = np_frombytes(payload[32:], [(np.int64, None), (np.int64, None)])
        out = cls(sub_bits=int(sub_bits), max_bits=int(max_bits),
                  unit_scale=int(unit_scale), n_total=int(n_total))
        out.counts[nz] = cnz
        return out
