"""Optional C implementation of the per-key smoothing recursions.

`ewma_running` / `holt_linear` (operators/timeseries.py) and the
streaming EWMA (streaming/smoothing.py) are vectorized per GROUP but run
an O(events) Python loop per key — the recursion is the operator's
semantics (each element depends on the previous), so numpy cannot
vectorize it, and a key with 10^7 events pays 10^7 Python bytecode
dispatches. This module compiles the SAME left-to-right double
recursions to a shared library at first use and calls them through
ctypes with ONE call per Arrow group.

Bit-parity is a hard requirement: the recursive-CTE DuckDB oracles
replicate the pinned float operation order (`alpha*x + beta*e`,
evaluated as the expression tree (alpha*x) + (beta*e) in doubles), so
the C code must produce bit-identical doubles to the Python loop. Two
things guarantee that:

- the C expressions are the same expression trees (IEEE-754 result
  depends on the tree, not on operand evaluation order);
- the build passes ``-ffp-contract=off`` so the compiler cannot fuse
  a*x + b*e into an FMA (which rounds once instead of twice and would
  diverge in the last ulp). Parity is asserted per element in
  tests/test_timeseries.py against the pure-Python loop.

Same degradation contract as functions/_lcs_native.py: no toolchain ->
``lib = None`` and callers keep the Python loop; multi-process-safe
content-addressed .so publish in a private cache directory
(functions/_native_build.py).
"""

from __future__ import annotations

import ctypes

import numpy as np

from ._native_build import load_kernel

_C_SOURCE = r"""
#include <stdint.h>

/* Running EWMA, resumable: state (rn0, e0) continues a previous fold
   (rn0 = 0 starts fresh: e_1 = x_1). Expression tree matches the Python
   kernel exactly: alpha*x + beta*e, no FMA (built with -ffp-contract=off).
   Returns the final e so streaming callers can carry state forward. */
double ewma_run(const double *x, int64_t n, double alpha, double beta,
                int64_t rn0, double e0, double *out) {
    double e = e0;
    int64_t rn = rn0;
    for (int64_t i = 0; i < n; i++) {
        e = (rn == 0) ? x[i] : alpha * x[i] + beta * e;
        rn++;
        out[i] = e;
    }
    return e;
}

/* Holt double-exponential smoothing over one key's ordered values:
   l_1 = x_1, b_1 = x_2 - x_1 (0 for singletons);
   l_t = alpha*x_t + ca*(l + b); b_t = gamma*(l_t - l_prev) + cb*b.
   Same expression trees as the Python loop. */
void holt_run(const double *x, int64_t n, double alpha, double ca,
              double gamma, double cb, double *level, double *trend) {
    if (n == 0) return;
    double l = x[0];
    double b = (n > 1) ? x[1] - x[0] : 0.0;
    level[0] = l; trend[0] = b;
    for (int64_t t = 1; t < n; t++) {
        double l_prev = l;
        l = alpha * x[t] + ca * (l + b);
        b = gamma * (l - l_prev) + cb * b;
        level[t] = l; trend[t] = b;
    }
}
"""


def _build() -> ctypes.CDLL | None:
    # -ffp-contract=off: an FMA would round a*x + b*e once instead of twice
    # and break bit-parity with the Python loop / recursive-CTE oracles
    lib = load_kernel("ers_smooth", _C_SOURCE, ["-O2", "-ffp-contract=off"])
    if lib is None:
        return None
    try:
        dp = ctypes.POINTER(ctypes.c_double)
        lib.ewma_run.argtypes = [dp, ctypes.c_int64, ctypes.c_double,
                                 ctypes.c_double, ctypes.c_int64,
                                 ctypes.c_double, dp]
        lib.ewma_run.restype = ctypes.c_double
        lib.holt_run.argtypes = [dp, ctypes.c_int64, ctypes.c_double,
                                 ctypes.c_double, ctypes.c_double,
                                 ctypes.c_double, dp, dp]
        lib.holt_run.restype = None
        return lib
    except Exception:
        return None


_LIB: ctypes.CDLL | None | bool = False  # False = not yet attempted


def get_lib() -> ctypes.CDLL | None:
    global _LIB
    if _LIB is False:
        _LIB = _build()
    return _LIB


def _dp(arr: np.ndarray):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_double))


def ewma_native(
    x: np.ndarray, alpha: float, beta: float, rn0: int = 0, e0: float = 0.0
) -> tuple[np.ndarray, float] | None:
    """One C call for a key's ordered values; (per-element ewma, final
    state). None when the native library is unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    x = np.ascontiguousarray(x, dtype=np.float64)
    out = np.empty(len(x), dtype=np.float64)
    final = lib.ewma_run(
        _dp(x), ctypes.c_int64(len(x)), ctypes.c_double(alpha),
        ctypes.c_double(beta), ctypes.c_int64(rn0), ctypes.c_double(e0),
        _dp(out),
    )
    return out, float(final)


def holt_native(
    x: np.ndarray, alpha: float, ca: float, gamma: float, cb: float
) -> tuple[np.ndarray, np.ndarray] | None:
    """One C call for a key's ordered values; (level, trend) arrays.
    None when the native library is unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    x = np.ascontiguousarray(x, dtype=np.float64)
    level = np.empty(len(x), dtype=np.float64)
    trend = np.empty(len(x), dtype=np.float64)
    lib.holt_run(
        _dp(x), ctypes.c_int64(len(x)), ctypes.c_double(alpha),
        ctypes.c_double(ca), ctypes.c_double(gamma), ctypes.c_double(cb),
        _dp(level), _dp(trend),
    )
    return level, trend
