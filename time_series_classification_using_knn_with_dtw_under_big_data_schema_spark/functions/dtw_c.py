"""Optional compiled-C DTW hot loops (ctypes, compiled on first use).

The numpy kernels in ``dtw_kernel.py`` vectorize the DP recurrence with a
prefix-scan identity because pure Python is ~1000x too slow — but the scan
costs ~10 numpy passes per DP row and is memory-bandwidth-bound under
32-way executor contention (NOTES.md r3 item 14). When a C compiler is
present (``cc``/``gcc``), this module compiles the NATURAL recurrence
    acc[i][j] = |a_i - b_j| + min(acc[i-1][j], acc[i][j-1], acc[i-1][j-1])
into a tiny shared object and drives it through ctypes: one pass per DP
cell, no reassociation, exactly the op order of the per-pair reference
implementations (``dtw_pair`` / ``_dtw_with_path``) — so distances are
bit-identical to them, strictly *more* faithful than the scan (whose
reassociated floats may pick the other branch of an fp near-tie).

Two entries, each one call per batch of pairs:

- ``dtw_band_batch``: exact (optionally Sakoe-Chiba banded) DTW.
- ``fastdtw_pyramid``: faithful FastDTW, the WHOLE level pyramid per pair
  in C — halving, the coarsest full DP + backtrack, and at every finer
  level the path-to-window expansion (``_expand_batch``'s interval form,
  in integer C) followed by the windowed DP. No numpy runs between
  levels, and the path-choice scratch is n x W bytes (W = the pair's
  widest window row), allocated once per call and grown only when needed.

Every entry returns a status; the wrappers raise (MemoryError on a failed
allocation) rather than hand back unwritten output.

Fallback contract: ANY failure here (no compiler, sandboxed /tmp, load
error) leaves ``available() == False`` and the numpy kernels run unchanged.
Set ``TSKNN_DTW_NO_CC=1`` to force the numpy path (used by tests to pin
numpy/C equivalence). The compiled object is cached in the system temp dir
keyed by a hash of the C source, so Spark's 32 local python workers compile
once and share the artifact (atomic ``os.replace`` publish — concurrent
compiles race benignly).

Semantics provenance: the reference computes per-pair fastdtw/DTW in Python
(Team11-Project.py:339-341, 531-533); this is the same one-irreducible-
kernel boundary (SURVEY.md §2.10 U2), just compiled.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

__all__ = ["available", "dtw_band_batch", "fastdtw_pyramid"]

_C_SRC = r"""
#include <stdint.h>
#include <stdlib.h>
#include <math.h>

#define LARGE 1e18

/* Multichannel per-timestep cost: dependent DTW's summed |a_c - b_c|,
   accumulated LEFT-TO-RIGHT over channels — for ch < 8 this is the exact
   IEEE op order of np.sum's small-n sequential base case, so the compiled
   path stays bit-identical to the numpy kernels (and to dtw_pair's
   float(np.sum(np.abs(a[i] - b[j])))). Callers route ch >= 8 to numpy
   (np.sum switches to 8-way pairwise accumulation there). */
static inline double cost_mv(const double* ap, const double* bp, int64_t ch) {
    double s = fabs(ap[0] - bp[0]);
    for (int64_t c = 1; c < ch; c++) s += fabs(ap[c] - bp[c]);
    return s;
}

/* Exact (optionally Sakoe-Chiba banded) DTW over a batch of pairs.
   band < 0 means unconstrained. ch = channels per timestep (1 = scalar
   series; rows are (n, ch) C-contiguous). Band geometry matches
   dtw_pair(): center = round((i-1)*(m-1)/max(n-1,1)) + 1 with
   round-half-to-even (Python round -> C rint under the default rounding
   mode). Returns 0, or -1 on allocation failure (out is then undefined). */
int dtw_band_batch(const double* A, const double* B,
                   int64_t bs, int64_t n, int64_t m, int64_t ch,
                   int64_t band, double* out) {
    double* prev = (double*)malloc((size_t)(m + 1) * sizeof(double));
    double* cur = (double*)malloc((size_t)(m + 1) * sizeof(double));
    if (!prev || !cur) { free(prev); free(cur); return -1; }
    for (int64_t p = 0; p < bs; p++) {
        const double* a = A + p * n * ch;
        const double* b = B + p * m * ch;
        for (int64_t j = 0; j <= m; j++) prev[j] = LARGE;
        prev[0] = 0.0;
        int64_t plo = 0, phi = m;           /* previous row's written range */
        for (int64_t i = 1; i <= n; i++) {
            int64_t lo = 1, hi = m;
            if (band >= 0) {
                double c = (double)(i - 1) * (double)(m - 1)
                           / (double)(n > 1 ? n - 1 : 1);
                int64_t center = (int64_t)rint(c) + 1;
                lo = center - band; if (lo < 1) lo = 1;
                hi = center + band; if (hi > m) hi = m;
            }
            /* stale double-buffer margins: this row reads prev[lo-1..hi];
               sentinel any of those outside the previous row's range */
            for (int64_t j = lo - 1; j < plo; j++) if (j >= 0) prev[j] = LARGE;
            for (int64_t j = phi + 1; j <= hi; j++) prev[j] = LARGE;
            cur[lo - 1] = LARGE;
            if (ch == 1) {
                double ai = a[i - 1];
                for (int64_t j = lo; j <= hi; j++) {
                    double v = prev[j];
                    double h = cur[j - 1];
                    double d = prev[j - 1];
                    double best = v;
                    if (h < best) best = h;
                    if (d < best) best = d;
                    cur[j] = fabs(ai - b[j - 1]) + best;
                }
            } else {
                const double* ap = a + (i - 1) * ch;
                for (int64_t j = lo; j <= hi; j++) {
                    double v = prev[j];
                    double h = cur[j - 1];
                    double d = prev[j - 1];
                    double best = v;
                    if (h < best) best = h;
                    if (d < best) best = d;
                    cur[j] = cost_mv(ap, b + (j - 1) * ch, ch) + best;
                }
            }
            double* t = prev; prev = cur; cur = t;
            plo = lo; phi = hi;
        }
        /* final corner: rows may not have reached column m when the band is
           infeasibly narrow; dtw_pair's geometry always includes it */
        out[p] = prev[m];
    }
    free(prev); free(cur);
    return 0;
}

/* Windowed DP (+ warp-path backtrack when pmin != NULL) for ONE pair at
   one FastDTW level. lo/hi: (n) inclusive 0-based column windows
   (contiguous per row, lows/highs monotone non-decreasing -- the FastDTW
   window invariant). Predecessor choices go to *path, a grow-only
   scratch of n x W bytes where W is this pair's widest window row (never
   n x m). Tie order matches _dtw_with_path: vertical (i-1,j), then
   horizontal (i,j-1), then diagonal (i-1,j-1), strict < to switch. The
   min's VALUE does not depend on the comparison order (DP values are
   never -0.0), so the loop-carried chain is one min + one add: cur[j-1]
   stays in a register and min(vertical, diagonal) is computed off it.
   always_inline so the ch == 1 call specializes (no per-cell channel
   branch, no register spills). Returns 0, -1 when the path scratch
   cannot grow, or -2 when the window misses the end cell (n-1, m-1). */
static inline __attribute__((always_inline))
int windowed_dp_ch(const double* a, const double* b,
                   int64_t n, int64_t m, int64_t ch,
                   const int64_t* lo, const int64_t* hi,
                   double* prev, double* cur,
                   signed char** path, size_t* cap,
                   int64_t* pmin, int64_t* pmax, double* dist) {
    int need_path = pmin != NULL;
    if (hi[n - 1] != m - 1) return -2;
    int64_t W = 1;
    for (int64_t i = 0; i < n; i++) {
        int64_t w = hi[i] - lo[i] + 1;
        if (w > W) W = w;
    }
    if (need_path && (size_t)n * (size_t)W > *cap) {
        free(*path);
        *cap = (size_t)n * (size_t)W;
        *path = (signed char*)malloc(*cap);
        if (!*path) { *cap = 0; return -1; }
    }
    for (int64_t j = 0; j <= m; j++) prev[j] = LARGE;
    prev[0] = 0.0;
    int64_t plo = 0, phi = m;
    for (int64_t i = 1; i <= n; i++) {
        int64_t l = lo[i - 1] + 1;      /* 1-based columns */
        int64_t h = hi[i - 1] + 1;
        for (int64_t j = l - 1; j < plo; j++) if (j >= 0) prev[j] = LARGE;
        for (int64_t j = phi + 1; j <= h; j++) prev[j] = LARGE;
        cur[l - 1] = LARGE;
        const double* ap = a + (i - 1) * ch;
        double ai = ap[0];
        double hh = LARGE;              /* cur[j - 1] */
        if (need_path) {
            signed char* chr_ = *path + (i - 1) * W - l;
            for (int64_t j = l; j <= h; j++) {
                double v = prev[j];
                double d = prev[j - 1];
                double vh = hh < v ? hh : v;
                int c1 = hh < v, c2 = d < vh;
                chr_[j] = (signed char)((c2 << 1) | (c1 & ~c2));
                double vd = d < v ? d : v;
                double best = hh < vd ? hh : vd;
                hh = (ch == 1 ? fabs(ai - b[j - 1])
                              : cost_mv(ap, b + (j - 1) * ch, ch)) + best;
                cur[j] = hh;
            }
        } else {
            for (int64_t j = l; j <= h; j++) {
                double v = prev[j];
                double d = prev[j - 1];
                double vd = d < v ? d : v;
                double best = hh < vd ? hh : vd;
                hh = (ch == 1 ? fabs(ai - b[j - 1])
                              : cost_mv(ap, b + (j - 1) * ch, ch)) + best;
                cur[j] = hh;
            }
        }
        double* t = prev; prev = cur; cur = t;
        plo = l; phi = h;
    }
    *dist = prev[m];
    if (need_path) {
        for (int64_t q = 0; q < n; q++) { pmin[q] = m - 1; pmax[q] = 0; }
        pmax[n - 1] = m - 1;
        int64_t i = n - 1, j = m - 1;    /* 0-based cells */
        while (i > 0 || j > 0) {
            signed char s = (*path)[i * W + (j - lo[i])];
            if (s == 1) { j--; }
            else if (s == 0) { pmin[i] = j; pmax[i - 1] = j; i--; }
            else { pmin[i] = j; pmax[i - 1] = j - 1; i--; j--; }
        }
        pmin[0] = 0;
    }
    return 0;
}

static int windowed_dp(const double* a, const double* b,
                       int64_t n, int64_t m, int64_t ch,
                       const int64_t* lo, const int64_t* hi,
                       double* prev, double* cur,
                       signed char** path, size_t* cap,
                       int64_t* pmin, int64_t* pmax, double* dist) {
    return ch == 1
        ? windowed_dp_ch(a, b, n, m, 1, lo, hi, prev, cur, path, cap, pmin, pmax, dist)
        : windowed_dp_ch(a, b, n, m, ch, lo, hi, prev, cur, path, cap, pmin, pmax, dist);
}

/* Coarse path spans (n_c rows) -> fine-level windows (n_f rows, m_f
   columns): dilate each row span over the 2*radius+1 surrounding rows of
   the n_c + radius extension rows, pad by radius, upsample 2x, clip to
   [0, m_f - 1] -- dtw_kernel._expand_batch, one pair, integer C. */
static void expand_window(const int64_t* pmin, const int64_t* pmax,
                          int64_t n_c, int64_t n_f, int64_t m_f,
                          int64_t radius, int64_t* lo, int64_t* hi) {
    int64_t n_e = n_c + radius;
    int64_t e_prev = -1, lo_f = 0, hi_f = 0;
    for (int64_t f = 0; f < n_f; f++) {
        int64_t e = f / 2 < n_e - 1 ? f / 2 : n_e - 1;
        if (e != e_prev) {
            int64_t s0 = e - radius < 0 ? 0 : e - radius;
            int64_t s1 = e + radius > n_c - 1 ? n_c - 1 : e + radius;
            int64_t mn = pmin[s0], mx = pmax[s0];
            for (int64_t s = s0 + 1; s <= s1; s++) {
                if (pmin[s] < mn) mn = pmin[s];
                if (pmax[s] > mx) mx = pmax[s];
            }
            lo_f = 2 * (mn - radius);
            hi_f = 2 * (mx + radius) + 1;
            if (lo_f < 0) lo_f = 0;
            if (lo_f > m_f - 1) lo_f = m_f - 1;
            if (hi_f < 0) hi_f = 0;
            if (hi_f > m_f - 1) hi_f = m_f - 1;
            e_prev = e;
        }
        lo[f] = lo_f;
        hi[f] = hi_f;
    }
}

/* Faithful FastDTW (Salvador & Chan 2007) over a batch of pairs, the whole
   pyramid per pair in one call: halve both series ((x[2i] + x[2i+1]) / 2,
   an odd tail dropped) while both are >= radius + 2; full DP + backtrack
   at the coarsest level; at each finer level expand the path into the
   next window and rerun the windowed DP (+ backtrack, except at the
   finest level, whose distance is the result). Every halving, DP cell
   and tie is the per-pair reference's (fastdtw_pair) IEEE op in its
   order, so distances are bit-identical to it. Caller guarantees
   radius >= 0, n, m >= 1. Scratch is allocated once per call. Returns 0,
   -1 on allocation failure or -2 when a window misses its end cell
   (radius 0 with an odd length; dist is then undefined). */
int fastdtw_pyramid(const double* A, const double* B,
                    int64_t bs, int64_t n, int64_t m, int64_t ch,
                    int64_t radius, double* dist) {
    /* level lengths are the same for every pair; halving strictly
       shrinks a series of length >= 2, so at most 63 levels */
    int64_t na[64], nb[64];
    size_t off_a[64], off_b[64];
    int L = 0;
    na[0] = n; nb[0] = m; off_a[0] = off_b[0] = 0;
    size_t tot_a = 0, tot_b = 0;
    while (L < 63 && na[L] >= radius + 2 && nb[L] >= radius + 2) {
        off_a[L + 1] = tot_a; off_b[L + 1] = tot_b;
        na[L + 1] = na[L] / 2; nb[L + 1] = nb[L] / 2;
        tot_a += (size_t)na[L + 1] * (size_t)ch;
        tot_b += (size_t)nb[L + 1] * (size_t)ch;
        L++;
    }
    double* sa = (double*)malloc((tot_a + 1) * sizeof(double));
    double* sb = (double*)malloc((tot_b + 1) * sizeof(double));
    double* prev = (double*)malloc((size_t)(m + 1) * sizeof(double));
    double* cur = (double*)malloc((size_t)(m + 1) * sizeof(double));
    int64_t* win = (int64_t*)malloc((size_t)n * 6 * sizeof(int64_t));
    signed char* path = NULL;
    size_t cap = 0;
    int rc = 0;
    const double* la[64];
    const double* lb[64];
    int64_t *lo = win, *hi = win + n, *lo_n = win + 2 * n, *hi_n = win + 3 * n;
    int64_t *pmin = win + 4 * n, *pmax = win + 5 * n;
    if (!sa || !sb || !prev || !cur || !win) { rc = -1; goto done; }
    for (int64_t p = 0; p < bs; p++) {
        la[0] = A + p * n * ch;
        lb[0] = B + p * m * ch;
        for (int l = 1; l <= L; l++) {
            double* xa = sa + off_a[l];
            double* xb = sb + off_b[l];
            const double* ya = la[l - 1];
            const double* yb = lb[l - 1];
            for (int64_t i = 0; i < na[l]; i++)
                for (int64_t c = 0; c < ch; c++)
                    xa[i * ch + c] = (ya[2 * i * ch + c] + ya[(2 * i + 1) * ch + c]) / 2.0;
            for (int64_t i = 0; i < nb[l]; i++)
                for (int64_t c = 0; c < ch; c++)
                    xb[i * ch + c] = (yb[2 * i * ch + c] + yb[(2 * i + 1) * ch + c]) / 2.0;
            la[l] = xa; lb[l] = xb;
        }
        for (int64_t i = 0; i < na[L]; i++) { lo[i] = 0; hi[i] = nb[L] - 1; }
        for (int l = L; l > 0; l--) {
            double d;
            rc = windowed_dp(la[l], lb[l], na[l], nb[l], ch, lo, hi, prev, cur,
                             &path, &cap, pmin, pmax, &d);
            if (rc) goto done;
            expand_window(pmin, pmax, na[l], na[l - 1], nb[l - 1], radius, lo_n, hi_n);
            int64_t* t = lo; lo = lo_n; lo_n = t;
            t = hi; hi = hi_n; hi_n = t;
        }
        rc = windowed_dp(la[0], lb[0], n, m, ch, lo, hi, prev, cur,
                         &path, &cap, NULL, NULL, dist + p);
        if (rc) goto done;
    }
done:
    free(sa); free(sb); free(prev); free(cur); free(win); free(path);
    return rc;
}
"""

_lib = None
_tried = False


def _compile() -> "ctypes.CDLL | None":
    # per-user 0700 cache dir with ownership check — never a predictable
    # name directly in the world-writable temp dir (see edit_c docstring)
    from .edit_c import _private_cache_dir

    cc = shutil.which("cc") or shutil.which("gcc")
    if cc is None:
        return None
    tag = hashlib.sha256((_C_SRC + sys.version).encode()).hexdigest()[:16]
    so_path = os.path.join(_private_cache_dir(), f"tsknn_dtw_{tag}.so")
    if not os.path.exists(so_path):
        tmpdir = tempfile.mkdtemp(prefix="tsknn_dtw_build_")
        try:
            src = os.path.join(tmpdir, "dtw.c")
            with open(src, "w") as f:
                f.write(_C_SRC)
            out = os.path.join(tmpdir, "dtw.so")
            subprocess.run(
                [cc, "-O3", "-march=native", "-fPIC", "-shared", src, "-o", out, "-lm"],
                check=True,
                capture_output=True,
                timeout=120,
            )
            os.replace(out, so_path)  # atomic publish; concurrent racers agree
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)
    lib = ctypes.CDLL(so_path)
    i64 = ctypes.c_int64
    dp = ctypes.POINTER(ctypes.c_double)
    lib.dtw_band_batch.argtypes = [dp, dp, i64, i64, i64, i64, i64, dp]
    lib.dtw_band_batch.restype = ctypes.c_int
    lib.fastdtw_pyramid.argtypes = [dp, dp, i64, i64, i64, i64, i64, dp]
    lib.fastdtw_pyramid.restype = ctypes.c_int
    return lib


def available() -> bool:
    """True when the compiled path is usable (compiler found, build+load OK,
    not disabled via TSKNN_DTW_NO_CC)."""
    global _lib, _tried
    if os.environ.get("TSKNN_DTW_NO_CC"):
        return False
    if not _tried:
        _tried = True
        try:
            _lib = _compile()
        except Exception:
            _lib = None
    return _lib is not None


def _dptr(x: np.ndarray):
    return x.ctypes.data_as(ctypes.POINTER(ctypes.c_double))


def _check(rc: int, entry: str) -> None:
    """C status -> exception: a kernel never hands back unwritten output."""
    if rc == -1:
        raise MemoryError(f"dtw_c.{entry}: scratch allocation failed")
    if rc:
        raise ValueError(f"dtw_c.{entry}: FastDTW window misses the end cell")


def dtw_band_batch(A: np.ndarray, B: np.ndarray, band: "int | None") -> np.ndarray:
    """Compiled exact (banded) DTW: (bs, n[, ch]) x (bs, m[, ch]) -> (bs,).
    3D inputs are multichannel (dependent DTW, summed per-channel |a-b|;
    keep ch < 8 for bit-identity with the numpy kernels — see cost_mv).
    Caller guarantees ``available()``; A/B must be C-contiguous float64."""
    bs, n = A.shape[0], A.shape[1]
    m = B.shape[1]
    ch = A.shape[2] if A.ndim == 3 else 1
    out = np.empty(bs, dtype=np.float64)
    rc = _lib.dtw_band_batch(_dptr(A), _dptr(B), bs, n, m, ch, -1 if band is None else band, _dptr(out))
    _check(rc, "dtw_band_batch")
    # infeasible band (narrower than the diagonal slope on unequal
    # lengths): the corner stays at the LARGE sentinel — surface it as inf,
    # matching dtw_pair. Any real distance is astronomically below 1e17.
    out[out >= 1e17] = np.inf
    return out


def fastdtw_pyramid(A: np.ndarray, B: np.ndarray, radius: int) -> np.ndarray:
    """Compiled faithful FastDTW, the whole level pyramid per pair in one
    call: (bs, n[, ch]) x (bs, m[, ch]) -> (bs,). Bit-identical to
    ``dtw_kernel.fastdtw_pair`` (3D = multichannel, see dtw_band_batch).
    Caller guarantees ``available()``, radius >= 0, n, m >= 1; A/B must be
    C-contiguous float64. Raises MemoryError if scratch allocation fails."""
    bs, n = A.shape[0], A.shape[1]
    m = B.shape[1]
    ch = A.shape[2] if A.ndim == 3 else 1
    dist = np.empty(bs, dtype=np.float64)
    rc = _lib.fastdtw_pyramid(_dptr(A), _dptr(B), bs, n, m, ch, radius, _dptr(dist))
    _check(rc, "fastdtw_pyramid")
    return dist
