"""Pure-numpy sketch tests — no Spark (SURVEY.md §5.2 items 1-5 core).

Covers: xorshift32 parity with the reference algorithm
(/root/reference/src/SkmerSplitter.cpp:4-13), zero false negatives,
FPR bound, merge laws (associativity / commutativity / identity),
partition-count invariance at the numpy level, estimate-vs-exact bounds,
and serialization round-trips.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from bloomfilter_multithread_spark.sketches import (
    BloomSketch,
    CMSSketch,
    HLLSketch,
    KLLSketch,
    MergeableSketch,
    ReferenceBloom,
    TDigestSketch,
    merge_all,
    xorshift32_batch,
    xorshift32_scalar,
)

RNG = np.random.default_rng(42)


def _hashes(n: int, seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


# ---------------------------------------------------------------- hashing
class TestXorshift32Parity:
    def c_reference(self, s: bytes) -> int:
        # Transliteration of SkmerSplitter.cpp:4-13 (independent of the
        # library implementation, used as the parity oracle).
        h = 0
        for c in s:
            h ^= c
            h = (h ^ (h << 13)) & 0xFFFFFFFF
            h ^= h >> 17
            h = (h ^ (h << 5)) & 0xFFFFFFFF
        return h

    def test_scalar_matches_reference_on_dna(self):
        for s in [b"ACGT", b"A", b"", b"ACGTACGTACGTACGTACGTA", b"TTTTTTTT",
                  b"GATTACA", bytes(range(1, 128))]:
            assert xorshift32_scalar(s) == self.c_reference(s)

    def test_batch_matches_scalar_uint32_wraparound(self):
        strs = ["".join(RNG.choice(list("ACGT"), size=int(k))) for k in RNG.integers(1, 64, 200)]
        strs += ["", "x" * 1000]
        batch = xorshift32_batch(strs)
        assert batch.dtype == np.uint32
        for s, h in zip(strs, batch):
            assert int(h) == xorshift32_scalar(s)

    def test_reference_bloom_zero_false_negatives(self):
        # golden analog of inputs/query.txt ⊂ inputs/sars-cov-2.fasta:
        # probe a prefix subset of inserted keys -> all present.
        corpus = ["".join(RNG.choice(list("ACGT"), size=31)) for _ in range(2000)]
        rb = ReferenceBloom(m_bits=65536)
        rb.insert(corpus)
        assert rb.test(corpus[:500]).all()


# ---------------------------------------------------------------- bloom
class TestBloom:
    def test_zero_false_negatives(self):
        h = _hashes(50_000, seed=1)
        b = BloomSketch.for_capacity(50_000, target_fpr=1e-3)
        b.update_hashes(h)
        assert b.probe_hashes(h).all()

    def test_fpr_within_published_bound(self):
        n = 20_000
        present = _hashes(n, seed=2)
        absent = _hashes(100_000, seed=3)
        b = BloomSketch.for_capacity(n, target_fpr=1e-2)
        b.update_hashes(present)
        observed = b.probe_hashes(absent).mean()
        bound = b.fpr_bound(n)
        # binomial slack: 5 sigma
        slack = 5 * math.sqrt(bound * (1 - bound) / absent.size)
        assert observed <= bound + slack + 1e-9

    def test_merge_laws_bit_exact(self):
        parts = [_hashes(5000, seed=s) for s in range(4)]
        sk = [BloomSketch(1 << 16, 4).update_hashes(p) for p in parts]

        def build(hs):
            return BloomSketch(1 << 16, 4).update_hashes(np.concatenate(hs))

        whole = build(parts)
        merged = merge_all([BloomSketch.from_bytes(s.to_bytes()) for s in sk])
        assert np.array_equal(whole.bits, merged.bits)
        # commutativity
        ab = BloomSketch.from_bytes(sk[0].to_bytes()).merge(sk[1])
        ba = BloomSketch.from_bytes(sk[1].to_bytes()).merge(sk[0])
        assert np.array_equal(ab.bits, ba.bits)
        # identity
        ident = BloomSketch(1 << 16, 4).merge(sk[0])
        assert np.array_equal(ident.bits, sk[0].bits)

    def test_partition_count_invariance(self):
        h = _hashes(30_000, seed=7)
        for nparts in (2, 8, 64):
            chunks = np.array_split(h, nparts)
            merged = merge_all([BloomSketch(1 << 18, 5).update_hashes(c) for c in chunks])
            if nparts == 2:
                first = merged.bits.copy()
            else:
                assert np.array_equal(first, merged.bits)

    def test_serde_roundtrip(self):
        b = BloomSketch(1 << 12, 3).update_hashes(_hashes(100))
        b2 = MergeableSketch.from_bytes(b.to_bytes())
        assert isinstance(b2, BloomSketch)
        assert np.array_equal(b.bits, b2.bits)
        assert (b2.m_bits, b2.k) == (b.m_bits, b.k)

    def test_cardinality_estimate(self):
        n = 10_000
        b = BloomSketch.for_capacity(n, 1e-3).update_hashes(_hashes(n, seed=9))
        assert abs(b.estimate_cardinality() - n) / n < 0.05


# ---------------------------------------------------------------- hll
class TestBloomSetAlgebra:
    """AND-intersection + fill-ratio set-cardinality algebra (VERDICT
    round 2 #6 — completes the HLL/CMS algebra symmetry)."""

    def _ab(self, n_a=20_000, n_b=15_000, n_common=5_000):
        common = _hashes(n_common, seed=10)
        a = np.concatenate([common, _hashes(n_a - n_common, seed=11)])
        b = np.concatenate([common, _hashes(n_b - n_common, seed=12)])
        sa = BloomSketch(1 << 20, 5).update_hashes(a)
        sb = BloomSketch(1 << 20, 5).update_hashes(b)
        return a, b, common, sa, sb

    def test_intersect_zero_fn_for_members(self):
        _, _, common, sa, sb = self._ab()
        inter = sa.intersect(sb)
        assert inter.probe_hashes(common).all()

    def test_intersect_is_commutative_and_upper_bound(self):
        a, b, common, sa, sb = self._ab()
        ab = sa.intersect(sb)
        ba = sb.intersect(sa)
        assert np.array_equal(ab.bits, ba.bits)
        # upper bound: AND-array is a superset of the bits a filter built
        # on the true intersection would set
        true_inter = BloomSketch(1 << 20, 5).update_hashes(common)
        assert not np.any(true_inter.bits & ~ab.bits)
        # FP rate on fresh keys ~ (fill_a * fill_b)^k — give 5x + binomial slack
        fresh = _hashes(100_000, seed=13)
        fp = ab.probe_hashes(fresh).mean()
        analytic = (sa.fill_fraction() * sb.fill_fraction()) ** 5
        assert fp <= 5 * analytic + 5 / math.sqrt(fresh.size)

    def test_cardinality_algebra_within_bounds(self):
        a, b, common, sa, sb = self._ab()
        nu = np.unique(np.concatenate([a, b])).size
        est_u = sa.estimate_union_cardinality(sb)
        est_i = sa.estimate_intersection_cardinality(sb)
        assert abs(est_u - nu) <= 0.02 * nu
        assert abs(est_i - common.size) <= 0.05 * nu
        # estimate_union must not mutate either operand
        assert abs(sa.estimate_cardinality() - 20_000) <= 0.02 * 20_000

    def test_param_mismatch_raises(self):
        import pytest

        sa = BloomSketch(1 << 16, 4)
        sb = BloomSketch(1 << 17, 4)
        with pytest.raises(ValueError):
            sa.intersect(sb)


class TestHLL:
    def test_estimate_within_bound(self):
        for true_n in (100, 10_000, 500_000):
            h = _hashes(true_n, seed=true_n)
            s = HLLSketch(p=14).update_hashes(h)
            err = abs(s.estimate() - true_n) / true_n
            assert err < 4 * s.rel_error_bound(), (true_n, err)

    def test_merge_register_exact(self):
        h = _hashes(100_000, seed=5)
        whole = HLLSketch(p=12).update_hashes(h)
        parts = [HLLSketch(p=12).update_hashes(c) for c in np.array_split(h, 7)]
        merged = merge_all(parts)
        assert np.array_equal(whole.registers, merged.registers)

    def test_duplicates_dont_inflate(self):
        h = _hashes(1000, seed=6)
        s = HLLSketch(p=12).update_hashes(np.tile(h, 50))
        assert abs(s.estimate() - 1000) / 1000 < 4 * s.rel_error_bound()

    def test_serde(self):
        s = HLLSketch(p=10).update_hashes(_hashes(5000))
        s2 = MergeableSketch.from_bytes(s.to_bytes())
        assert np.array_equal(s.registers, s2.registers) and s2.p == 10

    def test_sparse_wire_roundtrip_and_size(self):
        # 50 distinct values in a p=14 sketch -> <=50 non-zero registers;
        # the sparse payload must beat the 16 KiB dense form by >10x and
        # round-trip register-exact
        s = HLLSketch(p=14).update_hashes(_hashes(50, seed=21))
        blob = s.to_bytes()
        assert len(blob) < (1 << 14) / 10
        s2 = MergeableSketch.from_bytes(blob)
        assert np.array_equal(s.registers, s2.registers) and s2.p == 14

    def test_dense_wire_used_when_full(self):
        s = HLLSketch(p=10).update_hashes(_hashes(100_000, seed=22))
        assert len(s.to_bytes()) >= (1 << 10)  # dense mode kicks in
        s2 = MergeableSketch.from_bytes(s.to_bytes())
        assert np.array_equal(s.registers, s2.registers)

    def test_sparse_dense_blobs_interoperate_in_merge(self):
        # a sparse-serialized partial merged into a dense one must give
        # the same registers as merging the in-memory sketches directly
        small = HLLSketch(p=12).update_hashes(_hashes(30, seed=23))
        big = HLLSketch(p=12).update_hashes(_hashes(200_000, seed=24))
        via_wire = MergeableSketch.from_bytes(big.to_bytes()).merge_bytes(small.to_bytes())
        direct = big.copy().merge(small.copy())
        assert np.array_equal(via_wire.registers, direct.registers)

    def test_v1_blob_rejected(self):
        import struct as _struct

        import pytest

        from bloomfilter_multithread_spark.sketches.base import _HEADER, _MAGIC

        payload = _struct.pack("<I", 10) + b"\x00" * (1 << 10)
        v1 = _HEADER.pack(_MAGIC, HLLSketch.KIND_ID, 1, len(payload)) + payload
        with pytest.raises(ValueError, match="v1"):
            MergeableSketch.from_bytes(v1)


# ---------------------------------------------------------------- cms
class TestCMS:
    def test_overcount_only_and_bounded(self):
        rng = np.random.default_rng(11)
        # zipfian key frequencies over 1000 distinct keys
        keys = _hashes(1000, seed=11)
        freqs = np.maximum(1, (10_000 / np.arange(1, 1001) ** 1.2)).astype(np.int64)
        stream = np.repeat(keys, freqs)
        rng.shuffle(stream)
        s = CMSSketch.for_bounds(eps=1e-3, delta=1e-3)
        s.update_hashes(stream)
        est = s.estimate_hashes(keys)
        assert (est >= freqs).all()  # never undercounts
        assert (est - freqs <= s.error_bound()).all()

    def test_merge_counter_exact(self):
        stream = np.repeat(_hashes(100, seed=12), 50)
        whole = CMSSketch(1 << 10, 4).update_hashes(stream)
        parts = [CMSSketch(1 << 10, 4).update_hashes(c) for c in np.array_split(stream, 5)]
        merged = merge_all(parts)
        assert np.array_equal(whole.table, merged.table)
        assert whole.total == merged.total

    def test_weighted_updates(self):
        keys = _hashes(10, seed=13)
        s = CMSSketch(1 << 10, 4).update_hashes(keys, counts=np.arange(1, 11))
        assert (s.estimate_hashes(keys) >= np.arange(1, 11)).all()

    def test_serde(self):
        s = CMSSketch(1 << 8, 3).update_hashes(_hashes(500))
        s2 = MergeableSketch.from_bytes(s.to_bytes())
        assert np.array_equal(s.table, s2.table) and s2.total == s.total


# ---------------------------------------------------------------- kll / tdigest
class TestQuantileSketches:
    def _check_ranks(self, sketch_quantile, data, eps, qs=(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)):
        data = np.sort(data)
        n = data.size
        for q in qs:
            est = sketch_quantile(q)
            # normalized rank of the estimate must be within eps of q
            rank = np.searchsorted(data, est, side="right") / n
            assert abs(rank - q) <= eps, (q, est, rank)

    def test_kll_rank_error(self):
        data = RNG.lognormal(0, 1.5, 200_000)
        s = KLLSketch(k=200)
        for chunk in np.array_split(data, 20):
            s.update_values(chunk)
        self._check_ranks(s.quantile, data, eps=s.rank_error_bound())

    def test_kll_merge_bound_preserved(self):
        data = RNG.normal(0, 1, 100_000)
        parts = [KLLSketch(k=200).update_values(c) for c in np.array_split(data, 16)]
        merged = merge_all(parts)
        assert merged.n == data.size
        self._check_ranks(merged.quantile, data, eps=2 * merged.rank_error_bound())
        # operand-order independence of the BOUND (not bytes)
        rev = merge_all(parts[::-1])
        self._check_ranks(rev.quantile, data, eps=2 * rev.rank_error_bound())

    def test_tdigest_rank_error(self):
        data = RNG.lognormal(1.0, 1.5, 100_000)
        s = TDigestSketch(delta=200)
        for chunk in np.array_split(data, 10):
            s.update_values(chunk)
        self._check_ranks(s.quantile, data, eps=0.02)

    def test_tdigest_merge_bound_preserved(self):
        data = RNG.exponential(2.0, 100_000)
        parts = [TDigestSketch(delta=200).update_values(c) for c in np.array_split(data, 8)]
        merged = merge_all(parts)
        assert merged.n == data.size
        self._check_ranks(merged.quantile, data, eps=0.03)

    def test_tdigest_extremes_exact(self):
        data = RNG.uniform(-5, 5, 10_000)
        s = TDigestSketch(delta=100).update_values(data)
        assert s.quantile(0.0) == data.min()
        assert s.quantile(1.0) == data.max()

    def test_serde(self):
        data = RNG.normal(0, 1, 10_000)
        for s in (KLLSketch(k=128).update_values(data), TDigestSketch(delta=100).update_values(data)):
            s2 = MergeableSketch.from_bytes(s.to_bytes())
            for q in (0.1, 0.5, 0.9):
                assert s2.quantile(q) == pytest.approx(s.quantile(q))
            assert s2.n == s.n


class TestBlockedBloom:
    def test_zero_fn_and_fpr(self):
        rng = np.random.default_rng(7)
        h = rng.integers(-2**63, 2**63, size=50_000, dtype=np.int64)
        absent = rng.integers(-2**63, 2**63, size=50_000, dtype=np.int64)
        sk = BloomSketch.create(m_bits=1 << 22, k=7, block_bits=1 << 16)
        sk.update_hashes(h)
        assert sk.probe_hashes(h).all()  # zero FN
        fpr = sk.probe_hashes(absent).mean()
        # blocked bound: analytic fpr + Poisson block-imbalance slack
        assert fpr <= 3 * sk.fpr_bound(50_000) + 1e-3, fpr

    def test_blocked_indices_land_in_one_block(self):
        rng = np.random.default_rng(8)
        h = rng.integers(-2**63, 2**63, size=1000, dtype=np.int64)
        sk = BloomSketch.create(m_bits=1 << 22, k=7, block_bits=1 << 16)
        from bloomfilter_multithread_spark.sketches.hashing import to_u64
        idx = sk._indices(to_u64(h))
        blocks = idx // (1 << 16)
        assert (blocks == blocks[0]).all(axis=0).all()  # same block per key

    def test_serialization_roundtrip_keeps_block_bits(self):
        sk = BloomSketch.create(m_bits=1 << 20, k=5, block_bits=1 << 16)
        sk.update_hashes(np.arange(1000, dtype=np.int64))
        sk2 = BloomSketch.from_bytes(sk.to_bytes())
        assert sk2.block_bits == 1 << 16
        assert np.array_equal(sk.bits, sk2.bits)
        assert sk2.probe_hashes(np.arange(1000, dtype=np.int64)).all()


@pytest.mark.parametrize("m_bits,block_bits,n,form", [
    (1 << 23, 0, 3_000_000, "_packed"),  # dense blob: more than one popcount slice
    (64, 0, 40, "_packed"),
    (1 << 20, 0, 100, "_ubits"),  # sparse blob
    (1 << 20, 1 << 12, 100, "_blocks"),
])
def test_bloom_nset_counts_the_set_bits(m_bits, block_bits, n, form):
    """``_nset`` (which picks the wire format and drives the cardinality
    estimate) counts the set bits of each form a blob decodes to."""
    built = BloomSketch.create(m_bits=m_bits, k=3, block_bits=block_bits)
    built.update_hashes(_hashes(n, seed=5))
    sk = BloomSketch.from_bytes(built.to_bytes())
    assert getattr(sk, form) is not None
    nset = sk._nset()
    assert nset == np.count_nonzero(sk.bits) == np.count_nonzero(built.bits) > 0


def test_hll_set_algebra_bounds_and_immutability():
    """Union via register-max on copies; intersection via
    inclusion-exclusion with ADDITIVE error in |A∪B|; operands must not
    be mutated by either estimate."""
    import numpy as np

    from bloomfilter_multithread_spark.sketches.hll import HLLSketch

    rng = np.random.default_rng(7)
    # full-range int64, as JVM xxhash64 produces (HLL buckets by the
    # TOP p bits — restricted ranges would starve most buckets)
    a_keys = rng.integers(-2**63, 2**63, size=60_000, dtype=np.int64)
    b_keys = np.concatenate([a_keys[:20_000],  # 20k overlap
                             rng.integers(-2**63, 2**63, size=40_000, dtype=np.int64)])
    ha = HLLSketch.create(p=14).update_hashes(a_keys)
    hb = HLLSketch.create(p=14).update_hashes(b_keys)
    ra, rb = ha.registers.copy(), hb.registers.copy()
    exact_u = len(set(a_keys.tolist()) | set(b_keys.tolist()))
    exact_i = len(set(a_keys.tolist()) & set(b_keys.tolist()))
    rel = ha.rel_error_bound()
    assert abs(ha.estimate_union(hb) - exact_u) <= 4 * rel * exact_u
    assert abs(ha.estimate_intersection(hb) - exact_i) <= 8 * rel * exact_u
    assert np.array_equal(ha.registers, ra) and np.array_equal(hb.registers, rb)


def test_cms_inner_product_overestimates_within_bound():
    """CMS inner product always >= the true join size, within
    eps*N_A*N_B; merging partials first must give the same estimate
    (linearity of the count table)."""
    import numpy as np

    from bloomfilter_multithread_spark.sketches.cms import CMSSketch

    rng = np.random.default_rng(13)
    # Zipf-ish frequencies over 500 keys, full-range hashes stand in
    keys = rng.integers(-2**63, 2**63, size=500, dtype=np.int64)
    fa = rng.integers(0, 50, size=500).astype(np.int64)
    fb = rng.integers(0, 50, size=500).astype(np.int64)
    ca = CMSSketch.create(width=1 << 12, depth=5).update_hashes(keys, counts=fa)
    cb = CMSSketch.create(width=1 << 12, depth=5).update_hashes(keys, counts=fb)
    exact = int((fa * fb).sum())
    est = ca.estimate_inner_product(cb)
    assert est >= exact
    assert est - exact <= ca.inner_product_bound(cb)
    # merge linearity: split A into halves, merge, same estimate
    ca1 = CMSSketch.create(width=1 << 12, depth=5).update_hashes(keys[:250], counts=fa[:250])
    ca2 = CMSSketch.create(width=1 << 12, depth=5).update_hashes(keys[250:], counts=fa[250:])
    assert ca1.merge(ca2).estimate_inner_product(cb) == est


# ---------------------------------------------------------------- kmv
class TestKMV:
    """KMV / theta sketch: exact mode, unbiased saturated estimator,
    min-wise merge laws (bit-exact), theta set algebra (union /
    intersection / DIFFERENCE — the op HLL algebra can't form), and
    serde. Hash inputs are splitmix64 of sequential ids: uniform over
    the full 64-bit range, exactly like the JVM xxhash64 production
    path (KMV's order-statistics estimator assumes hash uniformity)."""

    K = 256

    def _planted(self):
        from bloomfilter_multithread_spark.sketches.hashing import splitmix64

        h = splitmix64(np.arange(20_000, dtype=np.uint64))
        a = h[:5_000]                                   # |A| = 5000
        b = np.concatenate([h[3_000:5_000], h[5_000:16_000]])  # |B| = 13000, overlap 2000
        return a, b

    def test_exact_mode_below_k(self):
        from bloomfilter_multithread_spark.sketches import KMVSketch

        s = KMVSketch.create(k=self.K).update_hashes(_hashes(100, seed=3))
        assert s.theta == 1.0 and s.estimate() == 100.0
        # duplicates must not inflate (min-wise set semantics)
        s.update_hashes(_hashes(100, seed=3))
        assert s.estimate() == 100.0

    def test_saturated_estimate_within_bound(self):
        from bloomfilter_multithread_spark.sketches import KMVSketch

        a, _ = self._planted()
        s = KMVSketch.create(k=self.K).update_hashes(a)
        assert s.saturated and 0 < s.theta < 1
        assert abs(s.estimate() - 5_000) <= 4 * s.rel_error_bound() * 5_000

    def test_merge_laws_bit_exact(self):
        from bloomfilter_multithread_spark.sketches import KMVSketch

        a, b = self._planted()
        whole = KMVSketch.create(k=self.K).update_hashes(np.concatenate([a, b]))
        parts = [KMVSketch.create(k=self.K).update_hashes(p)
                 for p in np.array_split(np.concatenate([a, b]), 7)]
        assert np.array_equal(merge_all([s.copy() for s in parts]).values, whole.values)
        # commutativity + idempotence of the min-wise union
        ab = parts[0].copy().merge(parts[1])
        ba = parts[1].copy().merge(parts[0])
        assert np.array_equal(ab.values, ba.values)
        assert np.array_equal(ab.copy().merge(ab).values, ab.values)

    def test_set_algebra_within_bounds(self):
        from bloomfilter_multithread_spark.sketches import KMVSketch

        a, b = self._planted()
        ka = KMVSketch.create(k=self.K).update_hashes(a)
        kb = KMVSketch.create(k=self.K).update_hashes(b)
        va, vb = ka.values.copy(), kb.values.copy()
        rel = ka.rel_error_bound()
        assert abs(ka.estimate_union(kb) - 16_000) <= 4 * rel * 16_000
        ei = ka.estimate_intersection(kb)
        ed = ka.estimate_difference(kb)
        assert abs(ei - 2_000) <= 4 * ka.setop_error_bound(kb, ei) + 2
        assert abs(ed - 3_000) <= 4 * ka.setop_error_bound(kb, ed) + 2
        # identity consistency: inter + diff == |sample_below_theta|/theta
        theta, samp = ka._common_theta_samples(kb)
        assert ei + ed == pytest.approx(samp.size / theta)
        # operands untouched by the algebra
        assert np.array_equal(ka.values, va) and np.array_equal(kb.values, vb)

    def test_exact_mode_set_algebra_is_exact(self):
        from bloomfilter_multithread_spark.sketches import KMVSketch

        h = _hashes(300, seed=9)
        ka = KMVSketch.create(k=1024).update_hashes(h[:200])
        kb = KMVSketch.create(k=1024).update_hashes(h[100:])
        assert ka.estimate_intersection(kb) == 100.0
        assert ka.estimate_difference(kb) == 100.0
        assert ka.estimate_union(kb) == 300.0

    def test_serde_roundtrip_and_param_mismatch(self):
        from bloomfilter_multithread_spark.sketches import KMVSketch

        a, _ = self._planted()
        s = KMVSketch.create(k=self.K).update_hashes(a)
        rt = MergeableSketch.from_bytes(s.to_bytes())
        assert isinstance(rt, KMVSketch) and rt.k == s.k
        assert np.array_equal(rt.values, s.values)
        with pytest.raises(ValueError, match="k mismatch"):
            s.merge(KMVSketch.create(k=512))


class TestMG:
    """Misra–Gries: exact below capacity, deterministic undercount bound
    under saturation, merge-tree invariance of the guarantee, serde."""

    @staticmethod
    def _zipf_hashes(n=20000, n_items=2000, seed=3):
        from bloomfilter_multithread_spark.sketches.hashing import splitmix64

        rng = np.random.default_rng(seed)
        items = rng.zipf(1.3, size=n) % n_items
        # splitmix64 for uniform 64-bit identities (order statistics in
        # other sketches need this; here it just avoids tiny-int keys)
        h = splitmix64(items.astype(np.uint64)).astype(np.int64)
        return h, items

    def test_exact_below_capacity(self):
        from bloomfilter_multithread_spark.sketches import MGSketch

        h = np.repeat(np.arange(50, dtype=np.int64), np.arange(1, 51))
        s = MGSketch.create(k=64).update_hashes(h)
        assert s.error_bound() == 0.0
        est = s.estimate_hashes(np.arange(50, dtype=np.int64))
        assert np.array_equal(est, np.arange(1, 51))
        assert s.n_total == h.size

    def test_bound_and_no_false_negatives_under_saturation(self):
        from bloomfilter_multithread_spark.sketches import MGSketch

        h, _ = self._zipf_hashes()
        k = 64
        s = MGSketch.create(k=k).update_hashes(h)
        uniq, true = np.unique(h, return_counts=True)
        d = s.error_bound()
        assert 0 < d <= h.size / (k + 1)
        est = s.estimate_hashes(uniq)
        assert np.all(est <= true), "MG must never overcount"
        assert np.all(true - est <= d + 1e-9), "undercount exceeds (N-S)/(k+1)"
        heavy = uniq[true > d]
        assert heavy.size > 0  # fixture sanity: the guarantee is exercised
        assert np.all(np.isin(heavy, s.item_hashes())), "heavy item evicted"
        assert len(s.item_hashes()) <= k

    def test_merge_tree_preserves_guarantee(self):
        from bloomfilter_multithread_spark.sketches import MGSketch
        from bloomfilter_multithread_spark.sketches.base import merge_all

        h, _ = self._zipf_hashes(seed=11)
        rng = np.random.default_rng(5)
        parts = np.array_split(h[rng.permutation(h.size)], 13)
        k = 64
        blobs = [MGSketch.create(k=k).update_hashes(p).to_bytes() for p in parts]
        m = merge_all(blobs)
        assert m.n_total == h.size
        uniq, true = np.unique(h, return_counts=True)
        d = m.error_bound()
        assert d <= h.size / (k + 1)
        est = m.estimate_hashes(uniq)
        assert np.all(est <= true)
        assert np.all(true - est <= d + 1e-9)
        heavy = uniq[true > d]
        assert np.all(np.isin(heavy, m.item_hashes()))

    def test_serde_roundtrip_and_mismatch(self):
        from bloomfilter_multithread_spark.sketches import MGSketch
        from bloomfilter_multithread_spark.sketches.base import MergeableSketch

        h, _ = self._zipf_hashes(n=2000, seed=2)
        s = MGSketch.create(k=32).update_hashes(h)
        rt = MergeableSketch.from_bytes(s.to_bytes())
        assert isinstance(rt, MGSketch)
        assert rt.k == s.k and rt.n_total == s.n_total
        assert np.array_equal(rt.keys, s.keys)
        assert np.array_equal(rt.counts, s.counts)
        with pytest.raises(ValueError, match="cannot merge"):
            s.merge(MGSketch.create(k=64))

    def test_empty_sketch_estimates_zero(self):
        from bloomfilter_multithread_spark.sketches import MGSketch

        s = MGSketch.create(k=8)
        assert np.array_equal(
            s.estimate_hashes(np.array([1, 2], dtype=np.int64)), [0, 0]
        )
        assert s.error_bound() == 0.0


# ---------------------------------------------------------------- cbf
class TestCBF:
    """Counting Bloom filter: the deletion-capable Bloom (Fan et al.).
    Key property under test: subtract of a contained sub-multiset is
    COUNTER-EXACT equal to a fresh build on the remainder, so zero-FN
    and the published FPR bound both survive deletion."""

    def test_insert_probe_zero_fn(self):
        from bloomfilter_multithread_spark.sketches import CBFSketch

        h = _hashes(30_000, seed=11)
        c = CBFSketch(1 << 19, 5).update_hashes(h)
        assert c.probe_hashes(h).all()
        assert c.net_insert_count() == h.size

    def test_delete_equals_fresh_build_on_remainder(self):
        from bloomfilter_multithread_spark.sketches import CBFSketch

        h = _hashes(20_000, seed=12)
        gone, keep = h[:8_000], h[8_000:]
        c = CBFSketch(1 << 18, 4).update_hashes(h).delete_hashes(gone)
        fresh = CBFSketch(1 << 18, 4).update_hashes(keep)
        assert np.array_equal(c.counters, fresh.counters)
        assert c.probe_hashes(keep).all()  # zero FN after deletion
        assert c.net_insert_count() == keep.size

    def test_duplicate_key_multiset_semantics(self):
        from bloomfilter_multithread_spark.sketches import CBFSketch

        key = np.array([12345], dtype=np.int64)
        c = CBFSketch(1 << 10, 7)
        c.update_hashes(np.repeat(key, 3)).delete_hashes(key)
        assert c.probe_hashes(key).all()  # 2 copies remain
        c.delete_hashes(np.repeat(key, 2))
        assert not c.probe_hashes(key).any()
        assert c.net_insert_count() == 0
        assert not c.counters.any()

    def test_underflow_raises_and_restores(self):
        from bloomfilter_multithread_spark.sketches import CBFSketch

        c = CBFSketch(1 << 12, 4).update_hashes(_hashes(50, seed=13))
        before = c.counters.copy()
        with pytest.raises(ValueError, match="underflow"):
            c.delete_hashes(_hashes(200, seed=14))
        assert np.array_equal(c.counters, before)  # failed delete rolled back

    def test_subtract_is_distributed_deletion(self):
        from bloomfilter_multithread_spark.sketches import CBFSketch

        h = _hashes(15_000, seed=15)
        gone, keep = h[:5_000], h[5_000:]
        corpus = CBFSketch(1 << 18, 5).update_hashes(h)
        retract = CBFSketch(1 << 18, 5).update_hashes(gone)
        rem = corpus.subtract(retract)
        fresh = CBFSketch(1 << 18, 5).update_hashes(keep)
        assert np.array_equal(rem.counters, fresh.counters)
        # operands untouched
        assert corpus.net_insert_count() == h.size
        with pytest.raises(ValueError, match="underflow"):
            retract.subtract(corpus)

    def test_merge_laws_counter_exact_and_partition_invariance(self):
        from bloomfilter_multithread_spark.sketches import CBFSketch

        parts = [_hashes(4000, seed=s) for s in range(4)]
        whole = CBFSketch(1 << 16, 4).update_hashes(np.concatenate(parts))
        for nparts in (2, 4, 8):
            chunks = np.array_split(np.concatenate(parts), nparts)
            merged = merge_all(
                [CBFSketch(1 << 16, 4).update_hashes(ch).to_bytes() for ch in chunks]
            )
            assert np.array_equal(whole.counters, merged.counters)
        a = CBFSketch(1 << 16, 4).update_hashes(parts[0])
        b = CBFSketch(1 << 16, 4).update_hashes(parts[1])
        ab = CBFSketch.from_bytes(a.to_bytes()).merge(b)
        ba = CBFSketch.from_bytes(b.to_bytes()).merge(a)
        assert np.array_equal(ab.counters, ba.counters)

    def test_fpr_bound_after_deletion(self):
        from bloomfilter_multithread_spark.sketches import CBFSketch

        n, n_del = 20_000, 12_000
        h = _hashes(n, seed=16)
        absent = _hashes(100_000, seed=17)
        c = CBFSketch(1 << 18, 4).update_hashes(h).delete_hashes(h[:n_del])
        surviving = n - n_del
        bound = c.fpr_bound(surviving)
        observed = c.probe_hashes(absent).mean()
        slack = 5 * math.sqrt(bound * (1 - bound) / absent.size)
        assert observed <= bound + slack + 1e-9

    def test_serde_roundtrip_sparse_and_dense(self):
        from bloomfilter_multithread_spark.sketches import CBFSketch

        sparse = CBFSketch(1 << 16, 4).update_hashes(_hashes(100, seed=18))
        rt = MergeableSketch.from_bytes(sparse.to_bytes())
        assert isinstance(rt, CBFSketch)
        assert np.array_equal(rt.counters, sparse.counters)
        dense = CBFSketch(1 << 8, 4).update_hashes(_hashes(5_000, seed=19))
        rt2 = MergeableSketch.from_bytes(dense.to_bytes())
        assert np.array_equal(rt2.counters, dense.counters)
        assert (rt2.m_slots, rt2.k) == (dense.m_slots, dense.k)

    def test_probe_matches_plain_bloom_support(self):
        """A CBF's positive-counter support IS the plain Bloom bit set
        over the same keys (same double-hash indexing, same m) — the
        whole Bloom probe/FPR analysis carries over."""
        from bloomfilter_multithread_spark.sketches import CBFSketch

        h = _hashes(10_000, seed=20)
        q = _hashes(50_000, seed=21)
        c = CBFSketch(1 << 17, 5).update_hashes(h)
        b = BloomSketch(1 << 17, 5).update_hashes(h)
        assert np.array_equal(c.probe_hashes(q), b.probe_hashes(q))
        assert np.array_equal((c.counters > 0).astype(np.uint8), b.bits)

    def test_resident_nbytes_reflects_working_form(self):
        """Byte-bounded caches (operators.build probe cache) must account
        the deserialized working form, not the (possibly sparse) wire
        blob: a near-empty CBF serializes to ~KBs but materializes the
        full int64 counter array."""
        from bloomfilter_multithread_spark.sketches import CBFSketch

        c = CBFSketch(1 << 20, 4).update_hashes(_hashes(10, seed=22))
        assert len(c.to_bytes()) < 2_000
        assert c.resident_nbytes() == (1 << 20) * 8
        b = BloomSketch(1 << 20, 4)
        assert b.resident_nbytes() == 1 << 20
        from bloomfilter_multithread_spark.sketches import KLLSketch
        assert KLLSketch.create().resident_nbytes() is None

    def test_delete_law_property_random_multisets(self):
        """Property (hypothesis): for ANY multiset of keys and ANY
        sub-multiset selection, insert-all-then-delete-selected is
        counter-exact equal to a fresh build on the complement — the
        law the distributed subtract() retraction relies on."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from bloomfilter_multithread_spark.sketches import CBFSketch

        @settings(max_examples=50, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.integers(min_value=-(2**62), max_value=2**62),
                    st.booleans(),
                ),
                max_size=200,
            )
        )
        def run(pairs):
            h = np.array([k for k, _ in pairs], dtype=np.int64)
            mask = np.array([d for _, d in pairs], dtype=bool)
            c = CBFSketch(1 << 12, 3).update_hashes(h).delete_hashes(h[mask])
            fresh = CBFSketch(1 << 12, 3).update_hashes(h[~mask])
            assert np.array_equal(c.counters, fresh.counters)
            sub = CBFSketch(1 << 12, 3).update_hashes(h).subtract(
                CBFSketch(1 << 12, 3).update_hashes(h[mask])
            )
            assert np.array_equal(sub.counters, fresh.counters)

        run()

    def test_blocked_build_partition_invariance_and_serde(self):
        """Blocked CBF (block_slots): per-partition block-local partials
        merge to the same dense counters as one whole build, the partial
        wire form is (block ids, counts) of OWNED blocks only, and the
        delete/subtract laws hold through the blocked path."""
        from bloomfilter_multithread_spark.sketches import CBFSketch

        h = _hashes(20_000, seed=23)
        mk = dict(m_slots=1 << 16, k=4, block_slots=1 << 10)
        whole = CBFSketch(**mk).update_hashes(h)
        for nparts in (2, 8):
            parts = np.array_split(h, nparts)
            partials = [CBFSketch(**mk).update_hashes(p) for p in parts]
            merged = merge_all([p.to_bytes() for p in partials])
            assert np.array_equal(whole.counters, merged.counters)
        # ROUTED partials (exchange on the hash's top block bits, as
        # build_partials(route_for=...) does) own disjoint block subsets:
        # each serializes O(owned blocks), well under the dense form, and
        # the merge is pure dict union — still equal to the whole build
        blk = (h.view(np.uint64) >> np.uint64(64 - 6)).astype(np.int64)  # 64 blocks
        routed = [CBFSketch(**mk).update_hashes(h[blk % 8 == p]) for p in range(8)]
        dense_bytes = (1 << 16) * 4
        assert all(len(p.to_bytes()) < dense_bytes // 4 for p in routed)
        merged_routed = merge_all([p.to_bytes() for p in routed])
        assert np.array_equal(whole.counters, merged_routed.counters)
        # probe semantics: zero FN, and blocked indexing differs from
        # unblocked by design (block chosen from top hash bits)
        assert whole.probe_hashes(h).all()
        # delete + subtract laws through the blocked path
        gone, keep = h[:7_000], h[7_000:]
        fresh = CBFSketch(**mk).update_hashes(keep)
        deleted = CBFSketch(**mk).update_hashes(h).delete_hashes(gone)
        assert np.array_equal(deleted.counters, fresh.counters)
        sub = CBFSketch(**mk).update_hashes(h).subtract(
            CBFSketch(**mk).update_hashes(gone))
        assert np.array_equal(sub.counters, fresh.counters)
        # merged dense roundtrip preserves block geometry; mixed-geometry
        # merge refuses
        rt = MergeableSketch.from_bytes(whole.to_bytes())
        assert rt.block_slots == 1 << 10
        assert np.array_equal(rt.counters, whole.counters)
        with pytest.raises(ValueError, match="param mismatch"):
            CBFSketch(1 << 16, 4).merge(whole)


# ---------------------------------------------------------------- ams
class TestAMS:
    """AMS tug-of-war (Alon–Matias–Szegedy 1996): unbiased F2 and
    inner-product, median-of-means concentration."""

    def _stream(self, n_keys=2000, scale=5000.0, alpha=1.1, seed=0):
        rng = np.random.default_rng(seed)
        keys = rng.integers(0, 2**63, size=n_keys, dtype=np.int64).astype(np.uint64)
        freq = np.maximum(1, (scale / np.arange(1, n_keys + 1) ** alpha)).astype(np.int64)
        return keys, freq, np.repeat(keys, freq)

    def test_f2_within_bound(self):
        from bloomfilter_multithread_spark.sketches import AMSSketch

        keys, freq, stream = self._stream()
        f2 = float((freq.astype(float) ** 2).sum())
        s = AMSSketch(reps=512, groups=8).update_hashes(stream)
        assert abs(s.estimate_f2() - f2) <= 5 * (2.0 / 64) ** 0.5 * f2

    def test_merge_counter_exact_and_partition_invariant(self):
        from bloomfilter_multithread_spark.sketches import AMSSketch

        _, _, stream = self._stream()
        whole = AMSSketch(256, 8).update_hashes(stream)
        for n_parts in (3, 7, 11):
            parts = [AMSSketch(256, 8).update_hashes(c)
                     for c in np.array_split(stream, n_parts)]
            merged = merge_all(parts)
            assert np.array_equal(whole.counters, merged.counters)
            assert whole.total == merged.total

    def test_inner_product_on_correlated_streams(self):
        from bloomfilter_multithread_spark.sketches import AMSSketch

        keys, freq, stream_a = self._stream(seed=3)
        rng = np.random.default_rng(4)
        freq_b = np.maximum(1, freq + rng.integers(-2, 3, size=freq.size)).astype(np.int64)
        stream_b = np.repeat(keys, freq_b)
        exact = float((freq.astype(float) * freq_b).sum())
        sa = AMSSketch(512, 8).update_hashes(stream_a)
        sb = AMSSketch(512, 8).update_hashes(stream_b)
        est = sa.estimate_inner_product(sb)
        assert abs(est - exact) <= 5 * sa.inner_product_bound(sb)
        # for near-identical streams the bound is ~sqrt(2/m)*exact, i.e.
        # the estimate is genuinely informative, not vacuous
        assert sa.inner_product_bound(sb) <= 0.3 * exact

    def test_weighted_updates_equal_repeats(self):
        from bloomfilter_multithread_spark.sketches import AMSSketch

        keys, freq, stream = self._stream(n_keys=300, seed=5)
        a = AMSSketch(256, 8).update_hashes(stream)
        b = AMSSketch(256, 8).update_hashes(keys, counts=freq)
        assert np.array_equal(a.counters, b.counters) and a.total == b.total

    def test_serde_and_param_mismatch(self):
        import pytest

        from bloomfilter_multithread_spark.sketches import AMSSketch

        _, _, stream = self._stream(n_keys=100, seed=6)
        s = AMSSketch(128, 4).update_hashes(stream)
        s2 = MergeableSketch.from_bytes(s.to_bytes())
        assert np.array_equal(s.counters, s2.counters) and s2.total == s.total
        with pytest.raises(ValueError):
            s.merge(AMSSketch(256, 8))

    def test_unbiasedness_over_sign_families(self):
        # mean over many independent keys-draws of the SINGLE-counter
        # estimator must approach F2 (unbiasedness of the tug-of-war)
        from bloomfilter_multithread_spark.sketches import AMSSketch

        rng = np.random.default_rng(9)
        f2s = []
        true_f2 = None
        for trial in range(30):
            keys = rng.integers(0, 2**63, size=50, dtype=np.int64).astype(np.uint64)
            freq = rng.integers(1, 20, size=50).astype(np.int64)
            s = AMSSketch(512, 8).update_hashes(keys, counts=freq)
            f2s.append(s.estimate_f2() / float((freq.astype(float) ** 2).sum()))
        m = float(np.mean(f2s))
        assert abs(m - 1.0) < 0.15
