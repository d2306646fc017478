"""Correctness checks of one op's output against exact answers.

Every check returns a list of failure strings; an empty list is a pass.
The allowances are the sketches' own published guarantees:

- Bloom: zero false negatives on every present key; the observed FPR
  within the ``(1 - e^{-kn/m})^k`` bound for the n distinct keys
  inserted, plus four binomial standard deviations of sampling slack;
- HLL: within 3 x 1.04/sqrt(2^p) relative error of the exact count
  (4 x for the per-group checks, which make hundreds of comparisons);
- count-min: exact <= estimate <= exact + eps*N with eps = e/width;
- KLL / t-digest: the estimated median's rank within eps of 0.5, eps
  being twice KLL's ``rank_error_bound()`` for a merged sketch and
  6/delta for t-digest (the merged-digest tolerance the unit tests use).
"""

from __future__ import annotations

import math

import numpy as np

_CHUNK = 1 << 18


def probe_all(bloom, hashes: np.ndarray) -> int:
    """How many of ``hashes`` the Bloom reports present (chunked, so the
    (k, n) index matrix stays small)."""
    return sum(int(np.count_nonzero(bloom.probe_hashes(hashes[i:i + _CHUNK])))
               for i in range(0, hashes.size, _CHUNK))


def fp_limit(bound: float, n_probes: int) -> float:
    return bound * n_probes + 4.0 * math.sqrt(n_probes * bound * (1.0 - bound)) + 1.0


def bloom(name: str, sk, present: np.ndarray, absent: np.ndarray) -> tuple[list[str], int]:
    """(failures, false positives) for a Bloom against present and absent keys."""
    fails = []
    fn = present.size - probe_all(sk, present)
    if fn:
        fails.append(f"{name}: {fn} false negatives of {present.size} present keys")
    fp = probe_all(sk, absent)
    bound = sk.fpr_bound(present.size)
    if fp > fp_limit(bound, absent.size):
        fails.append(f"{name}: FPR {fp / absent.size:.3g} above bound {bound:.3g}")
    return fails, fp


def hll(name: str, estimate: float, exact: int, p: int, z: float = 3) -> list[str]:
    tol = z * 1.04 / math.sqrt(1 << p) * exact
    if abs(estimate - exact) > tol:
        return [f"{name}: estimate {estimate:.1f} vs exact {exact} (tolerance {tol:.1f})"]
    return []


def cms(name: str, estimate: int, exact: int, eps_n: float) -> list[str]:
    if not exact <= estimate <= exact + eps_n:
        return [f"{name}: estimate {estimate} outside [{exact}, {exact} + {eps_n:.1f}]"]
    return []


def median_rank(name: str, value: float, values: np.ndarray, counts: np.ndarray,
                eps: float) -> list[str]:
    """``values`` sorted distinct, ``counts`` their multiplicities. Ties
    give ``value`` a rank interval; it must come within eps of 0.5."""
    n = counts.sum()
    lo = counts[values < value].sum() / n
    hi = counts[values <= value].sum() / n
    if not lo - eps <= 0.5 <= hi + eps:
        return [f"{name}: median {value} has rank [{lo:.4f}, {hi:.4f}], eps {eps:.4f}"]
    return []


def kll_eps(sk) -> float:
    return 2 * sk.rank_error_bound()


def tdigest_eps(sk) -> float:
    return 6.0 / sk.delta
