"""MergeableSketch protocol + binary envelope shared by every sketch.

The reference keeps q disjoint per-thread Bloom filters that are never
combined (``/root/reference/src/main.cpp:119-127`` — the filters outlive
the build threads but no merge exists).  The central new primitive here
is a uniform mergeable interface so per-Spark-partition partials combine
with an associative+commutative ``merge`` (bitwise OR for Bloom,
register-max for HLL, elementwise add for CMS, compactor merge for
KLL/t-digest) — which makes the result independent of Spark's partition
count and ordering by construction.

Serialized envelope (little-endian):
    magic  u32 = 0x534B4348  ("SKCH")
    kind   u8  (registry id)
    version u8
    payload_len u64
    payload bytes (sketch-specific)
"""

from __future__ import annotations

import struct
from abc import ABC, abstractmethod

import numpy as np

_MAGIC = 0x534B4348
_HEADER = struct.Struct("<IBBQ")
# bytes ``to_bytes`` adds around every payload
ENVELOPE_BYTES = _HEADER.size
# np_tobytes' length prefix per array
ARRAY_PREFIX_BYTES = 8

_REGISTRY: dict[int, type["MergeableSketch"]] = {}
_BY_NAME: dict[str, type["MergeableSketch"]] = {}


def register(kind_id: int):
    def deco(cls):
        cls.KIND_ID = kind_id
        _REGISTRY[kind_id] = cls
        _BY_NAME[cls.__name__] = cls
        _BY_NAME[cls.NAME] = cls
        return cls

    return deco


class MergeableSketch(ABC):
    """create(params) / update_hashes(np) / merge(other) / estimate /
    to_bytes / from_bytes.  ``update_hashes`` consumes 64-bit hash arrays
    (computed JVM-side via F.xxhash64) — never raw Python strings in the
    hot path.  Value sketches (KLL/t-digest) also take float arrays via
    ``update_values``."""

    KIND_ID: int = -1
    NAME: str = "abstract"
    VERSION: int = 1
    # True when merging the same inserts in any grouping and order gives
    # the same bytes as inserting them into one sketch (OR, max, add, set
    # union). A kind that sets it False states its accuracy bound instead
    # (KLL and t-digest ``rank_error_bound``, Misra-Gries ``error_bound``).
    merge_exact: bool = True

    @classmethod
    @abstractmethod
    def wire_bytes_bound(cls, **params) -> int:
        """Most bytes ``to_bytes`` can return for a sketch made by
        ``create(**params)``, however many values it holds: what one
        partial can put on the wire, known before any row is read."""

    @abstractmethod
    def merge(self, other: "MergeableSketch") -> "MergeableSketch":
        """In-place associative + commutative combine; returns self."""

    def _require_same_kind(self, other: "MergeableSketch") -> None:
        if type(other) is not type(self):
            raise TypeError(f"cannot merge {type(other).__name__} into {type(self).__name__}")

    @abstractmethod
    def _payload_bytes(self) -> bytes: ...

    @classmethod
    @abstractmethod
    def _from_payload(cls, payload: bytes) -> "MergeableSketch": ...

    def to_bytes(self) -> bytes:
        payload = self._payload_bytes()
        return _HEADER.pack(_MAGIC, self.KIND_ID, self.VERSION, len(payload)) + payload

    @classmethod
    def from_bytes(cls, data: bytes) -> "MergeableSketch":
        magic, kind, version, plen = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("bad sketch magic")
        payload = data[_HEADER.size : _HEADER.size + plen]
        target = _REGISTRY[kind]
        if cls is not MergeableSketch and cls is not target:
            raise TypeError(f"sketch kind mismatch: bytes are {target.NAME}, asked {cls.NAME}")
        if version != target.VERSION:
            # explicit rejection beats deserializing a changed payload
            # layout into garbage (e.g. Bloom header <QI> -> <QIQ>)
            raise ValueError(
                f"{target.NAME} sketch format v{version} is not readable by this build "
                f"(expects v{target.VERSION}); rebuild the persisted state"
            )
        return target._from_payload(payload)

    # -- convenience ---------------------------------------------------
    def merge_bytes(self, data: bytes) -> "MergeableSketch":
        return self.merge(MergeableSketch.from_bytes(data))

    def resident_nbytes(self) -> int | None:
        """Worst-case in-memory working-form footprint, for byte-bounded
        caches (operators.build probe cache). None = "my working form is
        ~the wire payload" (caller falls back to the blob length);
        sketches whose working form inflates far beyond a sparse wire
        encoding (Bloom's byte-per-bit array, CBF's int64 counters)
        override this."""
        return None


def sketch_class(name: str) -> type[MergeableSketch]:
    return _BY_NAME[name]


def merge_all(sketches) -> MergeableSketch:
    """Fold an iterable of sketches (or serialized bytes) with merge()."""
    acc = None
    for s in sketches:
        if isinstance(s, (bytes, bytearray)):
            s = MergeableSketch.from_bytes(bytes(s))
        acc = s if acc is None else acc.merge(s)
    if acc is None:
        raise ValueError("merge_all of empty iterable")
    return acc


def np_tobytes(*arrays) -> bytes:
    out = []
    for a in arrays:
        b = np.ascontiguousarray(a).tobytes()
        out.append(struct.pack("<Q", len(b)))
        out.append(b)
    return b"".join(out)


def np_frombytes(data: bytes, dtypes_shapes) -> list[np.ndarray]:
    """Inverse of np_tobytes given [(dtype, shape_or_None), ...]."""
    arrays, off = [], 0
    for dtype, shape in dtypes_shapes:
        (blen,) = struct.unpack_from("<Q", data, off)
        off += 8
        a = np.frombuffer(data, dtype=dtype, count=blen // np.dtype(dtype).itemsize, offset=off)
        off += blen
        arrays.append(a.reshape(shape) if shape is not None else a)
    return arrays
