"""String-similarity kernels.

Parity target: the reference scores pairs with ``fuzz.ratio(a.strip(),
b.strip())`` (/root/reference/src/entity_resolution/entity_resolution.py:339),
i.e. fuzzywuzzy backed by python-Levenshtein. That ratio is the
substitution-cost-2 Levenshtein ("indel") similarity:

    ratio = round(100 * (lensum - indel_dist) / lensum)
          = round(100 * 2*LCS(a, b) / (len(a) + len(b)))

with fuzzywuzzy's empty-string guard (either side empty -> 0) and Python
``round`` (banker's) rounding. Neither fuzzywuzzy nor rapidfuzz is installed
in this environment, so the LCS length is computed here with the
Allison-Dix/Hyyro bit-parallel algorithm (O(len_a * len_b / wordsize) using
Python big-int bitsets) and verified in tests against a plain DP oracle.

Spark's builtin ``F.levenshtein`` is *wrong* for parity — unit substitution
cost yields different constants (SURVEY.md §2.8 F1).

All kernels also ship numpy/pandas batch wrappers for use inside Arrow
pandas UDFs (no per-row Python at the Spark boundary).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


# ---------------------------------------------------------------------------
# LCS / indel ratio (fuzz.ratio parity)
# ---------------------------------------------------------------------------

def lcs_length(a: str, b: str) -> int:
    """Length of the longest common subsequence, bit-parallel.

    For each char of ``b`` update a bitset ``v`` (1 = "not yet matched")
    over positions of ``a``:  u = v & match(c);  v = (v + u) | (v - u).
    Zero bits of the final ``v`` count the LCS.
    """
    if not a or not b:
        return 0
    if len(a) < len(b):  # fewer big-int iterations when outer string is short
        a, b = b, a
    pm: dict[str, int] = {}
    for i, ch in enumerate(a):
        pm[ch] = pm.get(ch, 0) | (1 << i)
    mask = (1 << len(a)) - 1
    v = mask
    for ch in b:
        m = pm.get(ch)
        if m is None:
            continue
        u = v & m
        v = ((v + u) | (v - u)) & mask
    # zeros in v = matched positions
    return len(a) - bin(v).count("1")


def _intr(x: float) -> int:
    """fuzzywuzzy's utils.intr: int(round(x)) — banker's rounding, as the
    reference environment (Python 3) would produce."""
    return int(round(x))


def fuzz_ratio(a: str | None, b: str | None) -> int:
    """fuzzywuzzy ``fuzz.ratio`` parity (0-100 int).

    Guards: None or empty string on either side -> 0 (fuzzywuzzy's
    ``check_for_none`` / ``check_empty_string`` decorators).
    """
    if a is None or b is None or len(a) == 0 or len(b) == 0:
        return 0
    lensum = len(a) + len(b)
    return _intr(200.0 * lcs_length(a, b) / lensum)


def indel_distance(a: str, b: str) -> int:
    """Levenshtein with substitution cost 2 == insert/delete-only distance."""
    return len(a) + len(b) - 2 * lcs_length(a, b)


def ratio_upper_bound(len_a: int, len_b: int) -> float:
    """Cheap upper bound on fuzz_ratio from lengths alone (LCS <= min len).
    Used as a pre-filter so the scorer skips the DP for hopeless pairs."""
    if len_a == 0 or len_b == 0:
        return 0.0
    return 200.0 * min(len_a, len_b) / (len_a + len_b)


# ---------------------------------------------------------------------------
# Jaro-Winkler (north_star feature; no reference-parity constraint)
# ---------------------------------------------------------------------------

def jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    a_flags = [False] * la
    b_flags = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_flags[j] and b[j] == ca:
                a_flags[i] = b_flags[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: compare matched chars in order
    t = 0
    j = 0
    for i in range(la):
        if a_flags[i]:
            while not b_flags[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str | None, b: str | None, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler similarity in [0,1]; prefix bonus capped at 4 chars,
    applied only when jaro >= 0.7 (Winkler's boost threshold — the original
    formulation and DuckDB's jaro_winkler_similarity convention, which the
    contract oracles use as the replica; an unconditional bonus would
    silently diverge from them on low-similarity pairs)."""
    if a is None or b is None:
        return 0.0
    j = jaro(a, b)
    if j < 0.7:
        return j
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca != cb:
            break
        prefix += 1
    return j + prefix * prefix_weight * (1.0 - j)


# ---------------------------------------------------------------------------
# Token Jaccard
# ---------------------------------------------------------------------------

def token_jaccard(a_tokens, b_tokens) -> float:
    """Jaccard of two token collections (treated as sets). Both empty -> 0.0
    (mirrors the reference's empty-overlap convention,
    entity_resolution.py:514-527)."""
    # Arrow hands array columns over as numpy arrays, whose truthiness is
    # ambiguous — test identity/length explicitly.
    sa = set() if a_tokens is None or len(a_tokens) == 0 else set(a_tokens)
    sb = set() if b_tokens is None or len(b_tokens) == 0 else set(b_tokens)
    if not sa and not sb:
        return 0.0
    inter = len(sa & sb)
    union = len(sa) + len(sb) - inter
    return inter / union


# ---------------------------------------------------------------------------
# Batch wrappers (numpy in / numpy out) for pandas-UDF use
# ---------------------------------------------------------------------------

def batch_fuzz_ratio(a: pd.Series, b: pd.Series) -> np.ndarray:
    """fuzz.ratio per pair. Fast path: the compiled bit-parallel kernel
    (functions/_lcs_native.py, ~8x on long near-dup pairs, bit-identical
    results); falls back to the pure-Python big-int kernel when no C
    toolchain is available. Exact-equal pairs skip the DP in both paths."""
    out = np.zeros(len(a), dtype=np.int32)
    av, bv = a.to_numpy(dtype=object), b.to_numpy(dtype=object)
    la = np.fromiter((0 if x is None else len(x) for x in av), np.int64, len(av))
    lb = np.fromiter((0 if y is None else len(y) for y in bv), np.int64, len(bv))
    valid = (la > 0) & (lb > 0)
    eq = valid & np.fromiter(
        (x == y for x, y in zip(av, bv)), bool, len(av)
    )
    out[eq] = 100
    rest = np.nonzero(valid & ~eq)[0]
    if rest.size:
        from ._lcs_native import lcs_batch_native

        lcs = lcs_batch_native(av[rest], bv[rest])
        if lcs is not None:
            lensum = la[rest] + lb[rest]
            # fuzzywuzzy's intr() = python round() = half-to-even, which
            # is exactly np.rint on the same float64 quotient
            out[rest] = np.rint(200.0 * lcs / lensum).astype(np.int32)
        else:
            for i in rest:
                out[i] = fuzz_ratio(av[i], bv[i])
    return out


def batch_jaro_winkler(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Jaro-Winkler per pair; compiled kernel when available (bit-identical
    to the Python implementation — None maps to "" whose conventions give
    the same 0.0/1.0 results), pure-Python fallback otherwise.

    Batches are first collapsed to DISTINCT (a, b) pairs: blocking emits
    candidate pairs grouped by shared basename, so a scoring batch of 10k
    pairs usually carries only hundreds of distinct operand pairs — the
    kernel runs once per distinct pair and the results scatter back
    (bit-identical by construction; same value for the same operands).
    """
    av, bv = a.to_numpy(dtype=object), b.to_numpy(dtype=object)
    n = len(av)
    if n >= 256:
        ca, ua = pd.factorize(av, use_na_sentinel=False)
        cb, ub = pd.factorize(bv, use_na_sentinel=False)
        pair = ca.astype(np.int64) * np.int64(len(ub)) + cb
        upair, inv = np.unique(pair, return_inverse=True)
        if len(upair) <= n // 2:
            ia = (upair // len(ub)).astype(np.int64)
            ib = (upair % len(ub)).astype(np.int64)
            out_u = _jw_batch_direct(
                np.asarray(ua, dtype=object)[ia], np.asarray(ub, dtype=object)[ib]
            )
            return out_u[inv]
    return _jw_batch_direct(av, bv)


def _jw_batch_direct(av: np.ndarray, bv: np.ndarray) -> np.ndarray:
    from ._lcs_native import jw_batch_native

    native = jw_batch_native(av, bv)
    if native is not None:
        # native kernel maps None to "" ("" vs "" gives 1.0) — restore the
        # Python convention (None scores 0.0) with a vectorized mask
        mask = pd.isnull(av) | pd.isnull(bv)
        if mask.any():
            native[mask] = 0.0
        return native
    out = np.zeros(len(av), dtype=np.float64)
    for i in range(len(out)):
        out[i] = jaro_winkler(av[i], bv[i])
    return out
