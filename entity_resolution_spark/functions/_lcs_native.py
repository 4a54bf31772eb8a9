"""Optional C implementation of the bit-parallel LCS kernel.

The indel-ratio (fuzz.ratio parity) DP in functions/similarity.py is the
single most expensive kernel in the engine — the scoring stage is ~85% of
pipeline CPU at scale and the per-pair Python big-int loop costs ~0.6 ms
on 1-2k-char pairs. This module compiles the SAME Allison-Dix/Hyyro
algorithm (uint64 words, carry/borrow propagation) to a shared library at
first use and calls it through ctypes with ONE call per Arrow batch
(concatenated UTF-32 codepoints + offsets), so per-pair overhead is a few
dozen nanoseconds of pointer arithmetic.

Design constraints honored:
- zero new dependencies: compiled with the system cc via subprocess;
  if no compiler/toolchain exists the import degrades to ``lib = None``
  and callers keep the pure-Python path — results are bit-identical
  either way (asserted in tests/test_similarity.py);
- multi-process safe: every Python worker on an executor wants the .so;
  the compile writes to a temp file and atomically renames into a
  content-addressed path, so N racing workers produce one artifact;
- loaded only from a private cache directory (functions/_native_build.py);
- deterministic: the C code is a straight transcription of the Python
  kernel; no fast-math, no platform-dependent behavior (uint64 wraparound
  is defined).
"""

from __future__ import annotations

import ctypes

import numpy as np

from ._native_build import load_kernel

_C_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* Bit-parallel LCS length (Allison-Dix / Hyyro) over uint32 codepoints.
   Bitset spans the SHORTER string (fewest words); iterate the longer.
   v = (v + u) | (v - u) with u = v & pm[c], on W little-endian words. */

static int lcs_one(const uint32_t *a, int64_t la,
                   const uint32_t *b, int64_t lb,
                   uint64_t *restrict v, uint64_t *restrict pm_words,
                   uint32_t *restrict keys, int32_t *restrict slots,
                   int64_t cap) {
    if (la == 0 || lb == 0) return 0;
    if (la > lb) { const uint32_t *t = a; a = b; b = t;
                   int64_t tl = la; la = lb; lb = tl; }
    int64_t W = (la + 63) >> 6;
    /* open-addressing map codepoint -> pm row; cap is a power of two */
    memset(slots, 0xff, (size_t)cap * sizeof(int32_t));
    int32_t n_distinct = 0;
    for (int64_t i = 0; i < la; i++) {
        uint32_t c = a[i];
        uint64_t h = (uint64_t)c * 2654435761u;
        int64_t s = (int64_t)(h & (uint64_t)(cap - 1));
        while (slots[s] >= 0 && keys[slots[s]] != c)
            s = (s + 1) & (cap - 1);
        int32_t row = slots[s];
        if (row < 0) {
            row = n_distinct++;
            slots[s] = row;
            keys[row] = c;
            memset(pm_words + (int64_t)row * W, 0, (size_t)W * sizeof(uint64_t));
        }
        pm_words[(int64_t)row * W + (i >> 6)] |= 1ull << (i & 63);
    }
    /* v starts all-ones over la bits */
    for (int64_t w = 0; w < W; w++) v[w] = ~0ull;
    uint64_t top_mask = (la & 63) ? ((1ull << (la & 63)) - 1ull) : ~0ull;
    v[W - 1] = top_mask;
    for (int64_t j = 0; j < lb; j++) {
        uint32_t c = b[j];
        uint64_t h = (uint64_t)c * 2654435761u;
        int64_t s = (int64_t)(h & (uint64_t)(cap - 1));
        int32_t row = -1;
        while (slots[s] >= 0) {
            if (keys[slots[s]] == c) { row = slots[s]; break; }
            s = (s + 1) & (cap - 1);
        }
        if (row < 0) continue;
        const uint64_t *restrict m = pm_words + (int64_t)row * W;
        uint64_t carry = 0, borrow = 0;
        for (int64_t w = 0; w < W; w++) {
            uint64_t vv = v[w];
            uint64_t u = vv & m[w];
            unsigned long long add, sub;
            /* two sequenced statements: both overflow calls write `add`
               and `|` has unspecified operand evaluation order, so a
               single-expression form could read `add` before the left
               operand wrote it */
            uint64_t c1 = __builtin_uaddll_overflow(vv, u, &add);
            uint64_t c2 = __builtin_uaddll_overflow(add, carry, &add);
            carry = c1 | c2;
            uint64_t b1 = __builtin_usubll_overflow(vv, u, &sub);
            uint64_t b2 = __builtin_usubll_overflow(sub, borrow, &sub);
            borrow = b1 | b2;
            v[w] = add | sub;
        }
        v[W - 1] &= top_mask;
    }
    int64_t ones = 0;
    for (int64_t w = 0; w < W; w++) ones += __builtin_popcountll(v[w]);
    return (int)(la - ones);
}

/* Jaro similarity with the same conventions as the Python kernel
   (functions/similarity.py): both empty -> 1.0, one empty -> 0.0,
   window = max(la,lb)/2 - 1 clamped at 0. */
static double jaro_one(const uint32_t *a, int64_t la,
                       const uint32_t *b, int64_t lb,
                       uint8_t *restrict aflag, uint8_t *restrict bflag) {
    if (la == 0 && lb == 0) return 1.0;
    if (la == 0 || lb == 0) return 0.0;
    int64_t mx = la > lb ? la : lb;
    int64_t window = mx / 2 - 1;
    if (window < 0) window = 0;
    memset(aflag, 0, (size_t)la);
    memset(bflag, 0, (size_t)lb);
    int64_t matches = 0;
    for (int64_t i = 0; i < la; i++) {
        int64_t lo = i - window; if (lo < 0) lo = 0;
        int64_t hi = i + window + 1; if (hi > lb) hi = lb;
        for (int64_t j = lo; j < hi; j++) {
            if (!bflag[j] && b[j] == a[i]) {
                aflag[i] = bflag[j] = 1;
                matches++;
                break;
            }
        }
    }
    if (matches == 0) return 0.0;
    int64_t t = 0, j = 0;
    for (int64_t i = 0; i < la; i++) {
        if (aflag[i]) {
            while (!bflag[j]) j++;
            if (a[i] != b[j]) t++;
            j++;
        }
    }
    t /= 2;
    double m = (double)matches;
    return (m / la + m / lb + (m - t) / m) / 3.0;
}

/* Jaro-Winkler batch: prefix bonus capped at 4, weight 0.1, applied only
   when jaro >= 0.7 (Winkler's boost threshold — the original formulation
   and DuckDB's convention; same as the Python kernel). */
void jw_batch(const uint32_t *a_arena, const uint32_t *b_arena,
              const int64_t *a_off, const int64_t *a_len,
              const int64_t *b_off, const int64_t *b_len,
              int64_t n_pairs, double *out) {
    int64_t max_len = 1;
    for (int64_t i = 0; i < n_pairs; i++) {
        if (a_len[i] > max_len) max_len = a_len[i];
        if (b_len[i] > max_len) max_len = b_len[i];
    }
    uint8_t *aflag = (uint8_t *)malloc((size_t)max_len);
    uint8_t *bflag = (uint8_t *)malloc((size_t)max_len);
    if (!aflag || !bflag) {
        free(aflag); free(bflag);
        for (int64_t i = 0; i < n_pairs; i++) out[i] = -1.0;
        return;
    }
    for (int64_t i = 0; i < n_pairs; i++) {
        const uint32_t *a = a_arena + a_off[i];
        const uint32_t *b = b_arena + b_off[i];
        int64_t la = a_len[i], lb = b_len[i];
        double jv = jaro_one(a, la, b, lb, aflag, bflag);
        if (jv < 0.7) { out[i] = jv; continue; }
        int64_t pmax = la < lb ? la : lb;
        if (pmax > 4) pmax = 4;
        int64_t prefix = 0;
        while (prefix < pmax && a[prefix] == b[prefix]) prefix++;
        out[i] = jv + (double)prefix * 0.1 * (1.0 - jv);
    }
    free(aflag); free(bflag);
}

/* Myers O(ND) greedy diagonal search (Myers 1986, "An O(ND) Difference
   Algorithm"): returns the exact indel distance d(a,b) when it is <= dmax,
   else -1. V is scratch of at least 2*dmax+3 int64, indexed at offset
   dmax+1 by diagonal k = x - y. Expected cost O(n+m+d^2) on similar
   strings — the banded-search prescription: a capped search that is EXACT
   whenever the true distance fits the cap. */
static int64_t myers_d(const uint32_t *a, int64_t n,
                       const uint32_t *b, int64_t m,
                       int64_t dmax, int64_t *V) {
    int64_t full = n + m;
    if (dmax > full) dmax = full;
    int64_t off = dmax + 1;
    V[off + 1] = 0;
    for (int64_t d = 0; d <= dmax; d++) {
        for (int64_t k = -d; k <= d; k += 2) {
            int64_t x;
            if (k == -d || (k != d && V[off + k - 1] < V[off + k + 1]))
                x = V[off + k + 1];
            else
                x = V[off + k - 1] + 1;
            int64_t y = x - k;
            while (x < n && y < m && a[x] == b[y]) { x++; y++; }
            V[off + k] = x;
            if (x >= n && y >= m) return d;
        }
    }
    return -1;
}

/* Hybrid LCS: strip the common prefix/suffix (exactly distance-preserving
   for indel distance, hence LCS-preserving: lcs(PaS,PbS) = |P|+|S|+
   lcs(a,b)), then run the capped Myers search on the middles — survivors
   of the scoring bound are near-duplicates by construction, so most pairs
   finish in ~linear time — and fall back to the bit-parallel kernel for
   the rare middle whose distance overflows the cap. Identical values on
   every path (both kernels are exact; parity asserted in tests). */
static int lcs_hybrid(const uint32_t *a, int64_t la,
                      const uint32_t *b, int64_t lb,
                      int64_t *V, int64_t vcap,
                      uint64_t *v, uint64_t *pm_words,
                      uint32_t *keys, int32_t *slots, int64_t cap) {
    int64_t mn = la < lb ? la : lb;
    int64_t pre = 0;
    while (pre < mn && a[pre] == b[pre]) pre++;
    int64_t suf = 0;
    while (suf < mn - pre && a[la - 1 - suf] == b[lb - 1 - suf]) suf++;
    const uint32_t *am = a + pre, *bm = b + pre;
    int64_t nam = la - pre - suf, nbm = lb - pre - suf;
    if (nam == 0 || nbm == 0) return (int)(pre + suf);
    /* Budget-derived cap: a far pair's failed Myers attempt costs up to
       ~dcap*(nam+nbm) char-ops (the paper's O((N+M)D) worst case), while
       the bit-parallel fallback costs ~(mn/64)*mx word-ops — so size dcap
       at mn*mx/(64*(nam+nbm)) to keep the waste a small fraction of the
       fallback it precedes (measured: the earlier 64+mn/16 dial made
       unrelated same-basename survivor pairs ~4x slower than pure
       bit-parallel at ~1k chars). Near-dup middles still finish at tiny d
       far under the cap; cap-overflow pairs lose almost nothing. */
    int64_t mid_mn = nam < nbm ? nam : nbm;
    int64_t mid_mx = nam < nbm ? nbm : nam;
    int64_t dcap = mid_mn * mid_mx / (64 * (nam + nbm));
    if (dcap < 16) dcap = 16;
    if (dcap > vcap) dcap = vcap;
    if (dcap > nam + nbm) dcap = nam + nbm;
    int64_t d = myers_d(am, nam, bm, nbm, dcap, V);
    if (d >= 0) return (int)(pre + suf + (nam + nbm - d) / 2);
    return (int)(pre + suf +
                 lcs_one(am, nam, bm, nbm, v, pm_words, keys, slots, cap));
}

/* Batch entry: two codepoint arenas + per-pair offsets/lengths. */
void lcs_batch(const uint32_t *a_arena, const uint32_t *b_arena,
               const int64_t *a_off, const int64_t *a_len,
               const int64_t *b_off, const int64_t *b_len,
               int64_t n_pairs, int32_t *out) {
    int64_t max_short = 0, max_cap = 2;
    for (int64_t i = 0; i < n_pairs; i++) {
        int64_t mn = a_len[i] < b_len[i] ? a_len[i] : b_len[i];
        if (mn > max_short) max_short = mn;
    }
    while (max_cap < 2 * (max_short + 1)) max_cap <<= 1;
    int64_t W = (max_short + 63) >> 6;
    if (W == 0) W = 1;
    /* Myers scratch: dcap <= 64 + max_short/16, V needs 2*dcap+3 */
    int64_t vcap = 64 + max_short / 16;
    uint64_t *v = (uint64_t *)malloc((size_t)W * sizeof(uint64_t));
    uint64_t *pm = (uint64_t *)malloc((size_t)max_short * W * sizeof(uint64_t));
    uint32_t *keys = (uint32_t *)malloc((size_t)max_short * sizeof(uint32_t));
    int32_t *slots = (int32_t *)malloc((size_t)max_cap * sizeof(int32_t));
    int64_t *V = (int64_t *)malloc((size_t)(2 * vcap + 3) * sizeof(int64_t));
    if (!v || !(pm || max_short == 0) || !(keys || max_short == 0) ||
        !slots || !V) {
        free(v); free(pm); free(keys); free(slots); free(V);
        for (int64_t i = 0; i < n_pairs; i++) out[i] = -1;
        return;
    }
    for (int64_t i = 0; i < n_pairs; i++)
        out[i] = lcs_hybrid(a_arena + a_off[i], a_len[i],
                            b_arena + b_off[i], b_len[i],
                            V, vcap, v, pm, keys, slots, max_cap);
    free(v); free(pm); free(keys); free(slots); free(V);
}
"""


def _build() -> ctypes.CDLL | None:
    lib = load_kernel("ers_lcs", _C_SOURCE, ["-O3"])
    if lib is None:
        return None
    try:
        lib.lcs_batch.argtypes = [
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.POINTER(ctypes.c_int64),
            ctypes.POINTER(ctypes.c_int64),
            ctypes.POINTER(ctypes.c_int64),
            ctypes.POINTER(ctypes.c_int64),
            ctypes.c_int64,
            ctypes.POINTER(ctypes.c_int32),
        ]
        lib.lcs_batch.restype = None
        lib.jw_batch.argtypes = [
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.POINTER(ctypes.c_uint32),
            ctypes.POINTER(ctypes.c_int64),
            ctypes.POINTER(ctypes.c_int64),
            ctypes.POINTER(ctypes.c_int64),
            ctypes.POINTER(ctypes.c_int64),
            ctypes.c_int64,
            ctypes.POINTER(ctypes.c_double),
        ]
        lib.jw_batch.restype = None
        return lib
    except Exception:
        return None


_LIB: ctypes.CDLL | None | bool = False  # False = not yet attempted


def get_lib() -> ctypes.CDLL | None:
    global _LIB
    if _LIB is False:
        _LIB = _build()
    return _LIB


def _codepoint_matrix(strs: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """(padded codepoint matrix raveled, lengths, row width) — one numpy
    conversion for the whole batch, no per-string Python."""
    filled = np.where(pd_isna(strs), "", strs) if strs.dtype == object else strs
    u = filled.astype("U")
    width = max(u.dtype.itemsize // 4, 1)
    lens = np.char.str_len(u).astype(np.int64)
    if u.dtype.itemsize == 0:  # all-empty batch -> 'U0'
        mat = np.zeros(len(u), dtype=np.uint32)
    else:
        mat = np.ascontiguousarray(u).view(np.uint32)
    return mat, lens, width


def pd_isna(arr: np.ndarray) -> np.ndarray:
    out = np.empty(len(arr), dtype=bool)
    for i, x in enumerate(arr):
        out[i] = x is None
    return out


def lcs_batch_native(a_strs: np.ndarray, b_strs: np.ndarray) -> np.ndarray | None:
    """Vectorized LCS lengths for object arrays of str (None/empty -> 0).
    Returns None if the native library is unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    n = len(a_strs)
    a_mat, a_len, wa = _codepoint_matrix(a_strs)
    b_mat, b_len, wb = _codepoint_matrix(b_strs)
    a_off = np.arange(n, dtype=np.int64) * wa
    b_off = np.arange(n, dtype=np.int64) * wb
    if a_mat.size == 0:
        a_mat = np.zeros(1, dtype=np.uint32)  # valid pointer for empty batch
    if b_mat.size == 0:
        b_mat = np.zeros(1, dtype=np.uint32)
    out = np.empty(n, dtype=np.int32)
    p = lambda arr, t: arr.ctypes.data_as(ctypes.POINTER(t))
    lib.lcs_batch(
        p(a_mat, ctypes.c_uint32),
        p(b_mat, ctypes.c_uint32),
        p(a_off, ctypes.c_int64),
        p(a_len, ctypes.c_int64),
        p(b_off, ctypes.c_int64),
        p(b_len, ctypes.c_int64),
        ctypes.c_int64(n),
        p(out, ctypes.c_int32),
    )
    if (out < 0).any():  # allocation failure inside the kernel
        return None
    return out


def jw_batch_native(a_strs: np.ndarray, b_strs: np.ndarray) -> np.ndarray | None:
    """Vectorized Jaro-Winkler for object arrays of str (None -> 0.0 via
    the empty-string conventions). Returns None when the native library is
    unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    n = len(a_strs)
    a_mat, a_len, wa = _codepoint_matrix(a_strs)
    b_mat, b_len, wb = _codepoint_matrix(b_strs)
    a_off = np.arange(n, dtype=np.int64) * wa
    b_off = np.arange(n, dtype=np.int64) * wb
    if a_mat.size == 0:
        a_mat = np.zeros(1, dtype=np.uint32)
    if b_mat.size == 0:
        b_mat = np.zeros(1, dtype=np.uint32)
    out = np.empty(n, dtype=np.float64)
    p = lambda arr, t: arr.ctypes.data_as(ctypes.POINTER(t))
    lib.jw_batch(
        p(a_mat, ctypes.c_uint32),
        p(b_mat, ctypes.c_uint32),
        p(a_off, ctypes.c_int64),
        p(a_len, ctypes.c_int64),
        p(b_off, ctypes.c_int64),
        p(b_len, ctypes.c_int64),
        ctypes.c_int64(n),
        p(out, ctypes.c_double),
    )
    if (out < 0).any():  # allocation failure
        return None
    return out
