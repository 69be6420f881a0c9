"""DTW kernels (numpy, driver/executor-side Python — the engine's one
irreducible non-SQL compute path, SURVEY.md §2.10 U2).

The reference calls ``fastdtw.fastdtw(series1, series2)`` with default
radius=1 and default per-point distance = |a-b| (Team11-Project.py:339-341,
531-533). Semantics implemented here:

- ``dtw_pair``: exact O(n*m) DP, optional Sakoe-Chiba band. Reference
  implementation for tests and the per-pair fallback.
- ``fastdtw_pair``: faithful FastDTW (Salvador & Chan, "FastDTW: Toward
  Accurate Dynamic Time Warping in Linear Time", 2007): recursive
  half-resolution coarsening, project the low-res warp path, refine within
  ``radius``. Matches the `fastdtw` PyPI package's algorithm (which the
  reference uses) without depending on it.
- ``fastdtw_batch``: the SAME faithful algorithm over a batch of pairs —
  the production path behind ``metric="fastdtw"``. With a C compiler
  (and fewer than 8 channels) it is ONE call to ``dtw_c.fastdtw_pyramid``,
  which runs the whole level pyramid per pair in C, bit-identical to
  fastdtw_pair. Otherwise (no compiler, ``TSKNN_DTW_NO_CC``, ch >= 8) a
  numpy level loop vectorizes each level across the batch: FastDTW
  windows are contiguous per DP row and their lows are monotone, so the
  windowed DP runs the prefix-scan recurrence over per-pair [lo, hi]
  intervals, path backtracking advances all pairs simultaneously (tie
  order identical to the per-pair code), and window expansion is a
  sliding min/max. Pairs are re-bucketed per level by their own max
  window width so one wide-warp pair (FastDTW's O(n*m) worst case) cannot
  inflate the whole batch's cost. The numpy route's distances equal
  fastdtw_pair's except on fp near-ties of the coarse warp path, where the
  prefix-scan's reassociated floats may pick the other (equally valid)
  path — bounded in tests/test_dtw_kernel.py.
- ``dtw_batch``: the production kernel — exact banded DTW vectorized BOTH
  along the DP row and ACROSS a batch of pairs. The classic DP recurrence
  cur[j] = c[j] + min(prev[j], prev[j-1], cur[j-1]) carries a sequential
  dependency on cur[j-1]; we break it with the prefix-scan identity
      cur[j] = C[j] + min_{i<=j} (m[i] - C[i-1]),
  where m[j] = min(prev[j], prev[j-1]) and C = cumsum(cost row), computed
  with ``np.minimum.accumulate`` — every DP row becomes O(1) numpy calls over
  a (batch, m) matrix. ~3 orders of magnitude over per-cell Python, which is
  how a Python DTW keeps up with (and beats) the reference's cluster
  throughput on one box (BASELINE.md).
"""

from __future__ import annotations

import numpy as np

from . import dtw_c

__all__ = ["dtw_pair", "fastdtw_pair", "dtw_batch", "fastdtw_batch", "check_fastdtw_radius"]

_INF = np.inf


def _point_cost(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    # fastdtw's default for 1-D points: absolute difference; multivariate
    # series ((length, channels) rows) use the per-channel SUMMED |a-b|
    # (dependent DTW — one shared warp path across channels, the fastdtw
    # package's own semantics for vector points under dist=1)
    if a.ndim == 2:
        return np.abs(a[:, None, :] - b[None, :, :]).sum(axis=2)
    return np.abs(a[:, None] - b[None, :])


def dtw_pair(a, b, band: int | None = None) -> float:
    """Exact DTW distance (sum of |a_i-b_j| along the optimal warp path).

    ``band``: Sakoe-Chiba band half-width (None = unconstrained).
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n, m = len(a), len(b)
    if n == 0 or m == 0:
        raise ValueError("empty series")
    cost = _point_cost(a, b)
    acc = np.full((n + 1, m + 1), _INF)
    acc[0, 0] = 0.0
    for i in range(1, n + 1):
        lo, hi = 1, m
        if band is not None:
            # keep the band feasible for unequal lengths: scale the diagonal
            center = int(round((i - 1) * (m - 1) / max(n - 1, 1))) + 1
            lo = max(1, center - band)
            hi = min(m, center + band)
        for j in range(lo, hi + 1):
            acc[i, j] = cost[i - 1, j - 1] + min(
                acc[i - 1, j], acc[i - 1, j - 1], acc[i, j - 1]
            )
    return float(acc[n, m])


# ---------------------------------------------------------------------------
# Faithful FastDTW (Salvador & Chan 2007), for parity with the reference's
# `fastdtw` dependency. Used in tests and available as metric="fastdtw".
# ---------------------------------------------------------------------------


def _dtw_with_path(a, b, window=None):
    n, m = len(a), len(b)
    if window is None:
        window = [(i, j) for i in range(n) for j in range(m)]
    D = {(-1, -1): (0.0, None)}
    for i, j in window:
        c = float(np.sum(np.abs(a[i] - b[j])))  # scalar |a-b| / summed channels
        best = None
        for pi, pj in ((i - 1, j), (i, j - 1), (i - 1, j - 1)):
            prev = D.get((pi, pj))
            if prev is not None and (best is None or prev[0] < best[0]):
                best = (prev[0], (pi, pj))
        if best is None:
            continue
        D[(i, j)] = (best[0] + c, best[1])
    dist = D[(n - 1, m - 1)][0]
    path = []
    node = (n - 1, m - 1)
    while node != (-1, -1):
        path.append(node)
        node = D[node][1]
        if node is None:
            break
    path.reverse()
    if path and path[0] == (-1, -1):
        path = path[1:]
    return dist, path


def _reduce_by_half(x):
    x = np.asarray(x, dtype=np.float64)
    n = len(x) - (len(x) % 2)
    return ((x[0:n:2] + x[1:n:2]) / 2.0) if n else x


def _expand_window(path, len_a, len_b, radius):
    path_set = set(path)
    for i, j in path:
        for di in range(-radius, radius + 1):
            for dj in range(-radius, radius + 1):
                path_set.add((i + di, j + dj))
    window_set = set()
    for i, j in path_set:
        for a, b in ((i * 2, j * 2), (i * 2, j * 2 + 1), (i * 2 + 1, j * 2), (i * 2 + 1, j * 2 + 1)):
            window_set.add((a, b))
    window = []
    start_j = 0
    for i in range(len_a):
        new_start_j = None
        for j in range(start_j, len_b):
            if (i, j) in window_set:
                window.append((i, j))
                if new_start_j is None:
                    new_start_j = j
            elif new_start_j is not None:
                break
        if new_start_j is not None:
            start_j = new_start_j
    return window


def check_fastdtw_radius(radius) -> None:
    """A FastDTW radius must be a non-negative integer: below 0 the
    coarsening never stops (min_size = radius + 2 <= 1 keeps halving
    length-1 series), and the window arithmetic is integer."""
    if isinstance(radius, bool) or not isinstance(radius, (int, np.integer)):
        raise ValueError(f"fastdtw radius must be an integer, got {radius!r}")
    if radius < 0:
        raise ValueError(f"fastdtw radius must be >= 0, got {radius}")


def _check_radius0_lengths(n: int, m: int, radius: int) -> None:
    """At radius 0 the projected window covers no sample that halving
    dropped (an odd tail), so whenever a refined level has an odd length
    the window misses the pair's end cell and no warp path fits it (the
    reference ``fastdtw`` package fails there too). Depends on the lengths
    only, so every route raises the same error up front."""
    if radius != 0:
        return
    while n >= 2 and m >= 2:
        if n % 2 or m % 2:
            raise ValueError(
                "fastdtw radius 0 needs lengths that halve evenly down to the "
                f"coarsest level; got an odd level length ({n}, {m})"
            )
        n, m = n // 2, m // 2


def _fastdtw_rec(a, b, radius):
    min_size = radius + 2
    if len(a) < min_size or len(b) < min_size:
        return _dtw_with_path(a, b)
    shrunk_a = _reduce_by_half(a)
    shrunk_b = _reduce_by_half(b)
    _, path = _fastdtw_rec(shrunk_a, shrunk_b, radius)
    window = _expand_window(path, len(a), len(b), radius)
    return _dtw_with_path(a, b, window)


def fastdtw_pair(a, b, radius: int = 1) -> float:
    """FastDTW approximation — reference parity (`fastdtw` package defaults)."""
    check_fastdtw_radius(radius)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    _check_radius0_lengths(len(a), len(b), radius)
    dist, _ = _fastdtw_rec(a, b, radius)
    return float(dist)


# ---------------------------------------------------------------------------
# Production batched kernel
# ---------------------------------------------------------------------------


def _validate_pair_batch(A: np.ndarray, B: np.ndarray) -> None:
    """Channel-compatibility guard shared by the batch kernels. Without
    it a flat-vs-nested or 2ch-vs-3ch pair silently takes A's channel
    count into the compiled kernel (dtw_c sizes its strides from A only)
    — wrong distances, and an out-of-bounds read of B when A is wider.
    The numpy scan raised a broadcast error here; the C path must be at
    least as loud."""
    if A.ndim != B.ndim:
        raise ValueError(
            f"series rank mismatch: A is {A.ndim - 1}-d points, "
            f"B is {B.ndim - 1}-d points (flat vs multichannel?)"
        )
    if A.ndim == 3 and A.shape[2] != B.shape[2]:
        raise ValueError(
            f"channel mismatch: A has {A.shape[2]} channels, "
            f"B has {B.shape[2]}"
        )
    if A.ndim not in (2, 3):
        raise ValueError(f"expected (batch, n[, ch]) arrays, got ndim={A.ndim}")


def dtw_batch(A: np.ndarray, B: np.ndarray, band: int | None = None) -> np.ndarray:
    """Exact (optionally banded) DTW over a batch of equal-length pairs.

    A: (batch, n) float64, B: (batch, m) float64 -> (batch,) distances.
    Vectorized across the batch and along each DP row via the prefix-scan
    identity (module docstring).
    """
    A = np.ascontiguousarray(A, dtype=np.float64)
    B = np.ascontiguousarray(B, dtype=np.float64)
    _validate_pair_batch(A, B)
    bs, n = A.shape[0], A.shape[1]
    m = B.shape[1]
    mv = A.ndim == 3  # multivariate: (batch, length, channels)
    if bs == 0:
        return np.empty(0, dtype=np.float64)
    if dtw_c.available() and (not mv or A.shape[2] < 8):
        # Compiled natural recurrence: same band geometry, op order
        # bit-identical to dtw_pair (the numpy scan below reassociates).
        # Multichannel rides the same kernel (r5): left-to-right channel
        # sum == np.sum's sequential small-n base case for ch < 8; wider
        # channel counts keep the numpy path (np.sum goes 8-way pairwise)
        return dtw_c.dtw_band_batch(A, B, band if band is not None and band < max(n, m) else None)

    use_band = band is not None and band < max(n, m)
    # Finite "unreachable" sentinel: inf would turn the cumsum scan into
    # inf-inf = nan (and minimum.accumulate propagates nan). The sentinel
    # never enters a cumsum (the scan runs over the band slice only), so no
    # precision loss; any real DTW cost is astronomically below it.
    LARGE = 1e18
    prev = np.full((bs, m + 1), LARGE)
    prev[:, 0] = 0.0  # acc[0, 0] = 0; acc[0, j>0] = unreachable
    cur = np.full((bs, m + 1), LARGE)
    minimum = np.minimum
    # Banded rows only rewrite the band slice, so cells from two rows ago go
    # stale in the double buffer. The next row reads at most `delta` cells
    # past the previous row's band (the diagonal center shifts by <=
    # ceil(slope)+1 per row, monotonically) — sentinel-filling that margin
    # is O(band) per row instead of the O(m) full-row memset, which
    # dominated the kernel (555 of 562 columns were sentinel writes).
    delta = int(np.ceil((m - 1) / max(n - 1, 1))) + 2

    for i in range(1, n + 1):
        if use_band:
            center = int(round((i - 1) * (m - 1) / max(n - 1, 1)))
            lo = max(0, center - band)  # 0-based col range [lo, hi]
            hi = min(m - 1, center + band)
        else:
            lo, hi = 0, m - 1
        # cost slice: |a_i - b_j| for j in [lo, hi], all pairs at once
        # (multivariate: per-channel summed)
        if mv:
            c = np.abs(A[:, i - 1 : i, :] - B[:, lo : hi + 1, :]).sum(axis=2)
        else:
            c = np.abs(A[:, i - 1 : i] - B[:, lo : hi + 1])
        # m[j] = min(acc[i-1, j], acc[i-1, j-1]) over the band slice
        mrow = minimum(prev[:, lo + 1 : hi + 2], prev[:, lo : hi + 1])
        # cur[j] = C[j] + min_{i<=j}(m[i] - C[i-1]);  C = cumsum of cost slice
        C = np.cumsum(c, axis=1)
        shifted = np.concatenate([np.zeros((bs, 1)), C[:, :-1]], axis=1)
        run = np.minimum.accumulate(mrow - shifted, axis=1)
        if use_band:
            cur[:, max(1, lo + 1 - delta) : lo + 1] = LARGE
            cur[:, hi + 2 : min(m + 1, hi + 2 + delta)] = LARGE
        cur[:, lo + 1 : hi + 2] = C + run
        cur[:, 0] = LARGE
        prev, cur = cur, prev
    out = prev[:, m].copy()
    # infeasible band: corner unreachable -> LARGE sentinel; surface as inf
    # to match dtw_pair (any real distance is astronomically below 1e17)
    out[out >= 1e17] = np.inf
    return out


# ---------------------------------------------------------------------------
# Batched faithful FastDTW (the production metric="fastdtw" kernel)
# ---------------------------------------------------------------------------

_LARGE = 1e18  # finite unreachable sentinel (inf breaks the cumsum scan)


def _reduce_by_half_batch(X: np.ndarray) -> np.ndarray:
    n = X.shape[1] - (X.shape[1] % 2)
    return (X[:, 0:n:2] + X[:, 1:n:2]) / 2.0 if n else X


def _windowed_dp_batch(A, B, lo, hi, need_path):
    """Variable-interval banded DP, vectorized across the batch and along
    each DP row via the prefix-scan identity (module docstring).

    A: (bs, n), B: (bs, m); lo, hi: (bs, n) per-row window [lo, hi] (0-based
    B columns, contiguous, lo monotone non-decreasing down the rows — a
    FastDTW window invariant). Returns (dist (bs,), ch (n, bs, W) int8 |
    None): ``ch`` stores each cell's predecessor choice (0 = vertical,
    1 = horizontal, 2 = diagonal) instead of DP values — 1/8th the write
    traffic of a float64 DP tensor (the profiled hot spot), and backtracking
    becomes a pure chase of stored moves with no value comparisons.
    """
    bs, n = A.shape[0], A.shape[1]
    m = B.shape[1]
    mv = A.ndim == 3  # multivariate: (batch, length, channels)
    W = int((hi - lo).max()) + 1
    warr = np.arange(W)[None, :]
    parr = np.arange(bs)
    # B padded with W zero cols: suffix (out-of-window) cost cells read them
    # and produce garbage, but both scans run left-to-right, so garbage never
    # reaches the valid prefix [0, width); cur's suffix is re-sentineled each
    # row. Zeros (not empty) keep the garbage finite — inf/nan would poison
    # the scans inside the suffix and trip float warnings. Flat bases:
    # row p of Bpad starts at p*(m+W), of prev_pad at p*(W+1)
    if mv:
        Bpad3 = np.concatenate([B, np.zeros((bs, W, B.shape[2]))], axis=1)
        # flat (bs*(m+W), ch) view: the same flat row indices the scalar
        # path gathers with serve the vector rows
        Bflat = Bpad3.reshape(-1, B.shape[2])
        Bpad = None
    else:
        Bpad = np.concatenate([B, np.zeros((bs, W))], axis=1)
    bbase = (parr * (m + W))[:, None]
    pbase = (parr * (W + 1))[:, None]

    ch = np.empty((n, bs, W), dtype=np.int8) if need_path else None
    # prev_pad holds DP row i-1 in cols [0, W); col W is a LARGE sentinel
    prev_pad = np.full((bs, W + 1), _LARGE)
    cur_pad = np.full((bs, W + 1), _LARGE)
    idx = np.empty((bs, W), dtype=np.intp)  # cost-gather indices, incremental
    pidx = np.empty((bs, W), dtype=np.intp)  # prev-row gather indices
    c = np.empty((bs, W))
    pj_buf = np.empty((bs, W))
    mrow = np.empty((bs, W))
    fbuf = np.empty((bs, W))
    first = np.empty(bs)
    diagb = np.empty((bs, W), dtype=bool)
    ndiag = np.empty((bs, W), dtype=bool)
    i8buf = np.empty((bs, W), dtype=np.int8)
    np.add(lo[:, 0:1] + bbase, warr, out=idx)

    # NOTE on masked stores: `x[mask] = v` / np.copyto(..., where=) run
    # element-at-a-time in numpy (~20x slower than a ufunc pass, measured),
    # so every per-row mask below is expressed as arithmetic blends instead.
    for i in range(1, n + 1):
        lo_c = lo[:, i - 1 : i]
        # fbuf = LARGE on suffix (out-of-window) cells, 0.0 on valid cells;
        # added onto cur at the end of the row (x + 0.0 is exact for the
        # non-negative DP values, so valid cells are untouched)
        np.greater_equal(warr, hi[:, i - 1 : i] - lo_c + 1, out=fbuf, casting="unsafe")
        np.multiply(fbuf, _LARGE, out=fbuf)
        if i > 1:
            base = lo_c - lo[:, i - 2 : i - 1]  # (bs, 1) >= 0
            bnz = bool(base.any())
            if bnz:
                np.add(idx, base, out=idx)  # windows slid: shift cost gather
        # cost row |a_i - b_j| (suffix cells hold garbage; see Bpad note);
        # multivariate: gather vector rows, per-channel summed |a-b|
        if mv:
            np.sum(np.abs(Bflat[idx] - A[:, i - 1 : i, :]), axis=2, out=c)
        else:
            np.take(Bpad, idx, out=c)
            np.subtract(A[:, i - 1 : i], c, out=c)
            np.abs(c, out=c)
        if i == 1:
            # virtual row -1: only cell (-1, -1) = 0 (diagonal predecessor
            # of cell (0, 0)); every (-1, j>=0) is unreachable
            np.copyto(mrow, _LARGE)
            origin = (lo_c + warr) == 0
            mrow[origin] = 0.0
            if need_path:
                # row 0 backtracks horizontally; (0,0) exits diagonally to
                # the virtual origin (never read — backtracking stops there)
                np.add(np.int8(1), origin.view(np.int8), out=ch[0], casting="unsafe")
        else:
            # prev-row values at t = shift(w) = (lo_c - lo_prev) + w: per
            # pair a CONTIGUOUS slice of prev_pad (shift is affine in w), so
            # one gather serves both predecessors — pjm1 is pj shifted one
            # position right, with only column 0 needing its own lookup.
            # t in [0, W-1] real; t >= W hits the sentinel col; t < 0 LARGE
            # (shift >= 0 always: monotone window lows).
            if bnz:
                np.add(np.minimum(base, W) + pbase, warr, out=pidx)
                np.minimum(pidx, pbase + W, out=pidx)
                pj = pj_buf
                np.take(prev_pad, pidx, out=pj)
                bm1 = base[:, 0] - 1
                first[:] = prev_pad[parr, np.clip(bm1, 0, W)]
                first[bm1 < 0] = _LARGE
                np.minimum(pj[:, 0], first, out=mrow[:, 0])
            else:
                # zero shift for every pair (the common case on wide-window
                # rows): prev values line up 1:1 — pure view, no gather; the
                # diagonal predecessor of w=0 is out-of-window (LARGE)
                pj = prev_pad[:, :W]
                first.fill(_LARGE)
                mrow[:, 0] = pj[:, 0]
            # mrow = min(vertical pj, diagonal pjm1) in ONE strided pass
            np.minimum(pj[:, 1:], pj[:, :-1], out=mrow[:, 1:])
        # cur[w] = C[w] + min_{w'<=w}(mrow[w'] - C[w'-1]), C = cumsum(c)
        C = np.cumsum(c, axis=1, out=c)
        mrow[:, 1:] -= C[:, :-1]
        np.minimum.accumulate(mrow, axis=1, out=mrow)
        cur = cur_pad[:, :W]
        np.add(C, mrow, out=cur)
        # suffix cells become ~LARGE (plus bounded garbage — still >= 1e17,
        # which any reachable cost is astronomically below, so they behave
        # as unreachable in every later comparison)
        np.add(cur, fbuf, out=cur)
        if need_path and i > 1:
            # predecessor choice per cell, tie order matching _dtw_with_path
            # (vertical, then horizontal, then diagonal; strict < to switch):
            #   horizontal iff cur[w-1] < pj[w];  diagonal iff
            #   pjm1[w] < min(pj[w], cur[w-1]).  Comparisons use the same
            #   scan-produced values backtracking would have re-read, so the
            #   chosen predecessor is always reachable (finite beats LARGE).
            chr_ = ch[i - 1]
            hv = cur[:, :-1]  # cur[w-1] for w >= 1
            np.less(hv, pj[:, 1:], out=chr_[:, 1:].view(bool))
            np.minimum(pj[:, 1:], hv, out=mrow[:, 1:])
            chr_[:, 0] = 0  # w=0: no horizontal predecessor in-window
            np.less(pj[:, :-1], mrow[:, 1:], out=diagb[:, 1:])
            np.less(first, pj[:, 0], out=diagb[:, 0])
            # chr = (chr & ~diag) + 2*diag, all ufunc passes (no masked store)
            np.logical_not(diagb, out=ndiag)
            np.logical_and(chr_.view(bool), ndiag, out=chr_.view(bool))
            np.multiply(diagb.view(np.int8), np.int8(2), out=i8buf)
            np.add(chr_, i8buf, out=chr_)
        prev_pad, cur_pad = cur_pad, prev_pad
    dist = prev_pad[parr, (m - 1) - lo[:, n - 1]]
    return dist, ch


def _backtrack_batch(ch, lo, hi, n, m):
    """Warp-path backtracking for every pair simultaneously -> per-row
    (pmin, pmax) path column spans. Follows the predecessor choices stored
    by the forward DP (0 = vertical, 1 = horizontal, 2 = diagonal), whose
    tie order matches _dtw_with_path: (i-1, j), (i, j-1), (i-1, j-1)."""
    bs = lo.shape[0]
    W = ch.shape[2]
    pmin = np.full((bs, n), m - 1, dtype=np.int64)
    pmax = np.zeros((bs, n), dtype=np.int64)
    i = np.full(bs, n - 1, dtype=np.int64)
    j = np.full(bs, m - 1, dtype=np.int64)
    pmax[:, n - 1] = m - 1
    p = np.arange(bs)

    for _ in range(n + m + 2):
        active = (i > 0) | (j > 0)
        if not active.any():
            break
        w = np.clip(j - lo[p, i], 0, W - 1)
        sel = ch[i, p, w]
        ni = np.where(sel == 1, i, i - 1)
        nj = np.where(sel == 0, j, j - 1)
        ni = np.where(active, ni, i)
        nj = np.where(active, nj, j)
        # path rows are entered once and left once (monotone moves), so the
        # span updates are plain assignments: leaving row i pins its min,
        # entering row ni pins its max
        leaving = active & (ni != i)
        pmin[p[leaving], i[leaving]] = j[leaving]
        entering = leaving & (ni >= 0)
        pmax[p[entering], ni[entering]] = nj[entering]
        i, j = ni, nj
    pmin[:, 0] = 0
    return pmin, pmax


def _expand_batch(pmin, pmax, n_f, m_f, radius):
    """Coarse path spans -> fine-level windows: dilate the per-row span by
    ``radius`` in both axes (sliding min/max over 2*radius+1 rows), then
    upsample 2x — exactly the set-based _expand_window, interval form."""
    bs, n_c = pmin.shape
    n_e = n_c + radius
    lo_ext = np.full((bs, n_e), np.iinfo(np.int64).max)
    hi_ext = np.full((bs, n_e), np.iinfo(np.int64).min)
    earr = np.arange(n_e)
    for d in range(-radius, radius + 1):
        src = earr + d
        valid = (src >= 0) & (src <= n_c - 1)
        sv = src[valid]
        lo_ext[:, valid] = np.minimum(lo_ext[:, valid], pmin[:, sv])
        hi_ext[:, valid] = np.maximum(hi_ext[:, valid], pmax[:, sv])
    lo_ext -= radius
    hi_ext += radius
    e = np.minimum(np.arange(n_f) // 2, n_e - 1)
    lo_f = np.clip(2 * lo_ext[:, e], 0, m_f - 1)
    hi_f = np.clip(2 * hi_ext[:, e] + 1, 0, m_f - 1)
    return lo_f, hi_f


def fastdtw_batch(A: np.ndarray, B: np.ndarray, radius: int = 1) -> np.ndarray:
    """Faithful FastDTW over a batch of pairs: (bs, n[, ch]) x (bs, m[, ch])
    -> (bs,).

    Compiled route (ch < 8): one ``dtw_c.fastdtw_pyramid`` call computes
    every level of every pair in C; distances equal ``fastdtw_pair`` (and
    hence the reference's `fastdtw` package) bit for bit. Numpy route (no
    compiler, ``TSKNN_DTW_NO_CC``, ch >= 8): the level loop below, exact
    except where the coarse warp path is fp-near-tied — there the
    prefix-scan's reassociated floats may pick the other equally valid
    path (bounded in tests). Per-level width re-bucketing keeps a single
    wide-warp pair from inflating the vectorized cost of the rest.

    ``radius`` must be a non-negative integer; at radius 0 every refined
    level must have even lengths (see _check_radius0_lengths). Both are
    refused with ValueError on every route.
    """
    check_fastdtw_radius(radius)
    A = np.ascontiguousarray(A, dtype=np.float64)
    B = np.ascontiguousarray(B, dtype=np.float64)
    _validate_pair_batch(A, B)
    bs, n = A.shape[0], A.shape[1]
    m = B.shape[1]
    mv = A.ndim == 3  # multivariate: (batch, length, channels)
    if bs == 0:
        return np.empty(0)
    if n == 0 or m == 0:
        raise ValueError("empty series")
    _check_radius0_lengths(n, m, radius)
    if dtw_c.available() and (not mv or A.shape[2] < 8):
        # Compiled: the whole pyramid per pair in one call, bit-identical
        # to fastdtw_pair; no width re-bucketing needed (vectorization
        # across the batch is what made width matter); ch < 8 multichannel
        # keeps np.sum's op order (see dtw_c.cost_mv)
        return dtw_c.fastdtw_pyramid(A, B, radius)
    min_size = radius + 2
    levels = [(A, B)]
    while levels[-1][0].shape[1] >= min_size and levels[-1][1].shape[1] >= min_size:
        a, b = levels[-1]
        levels.append((_reduce_by_half_batch(a), _reduce_by_half_batch(b)))

    n_c, m_c = levels[-1][0].shape[1], levels[-1][1].shape[1]
    lo = np.zeros((bs, n_c), dtype=np.int64)
    hi = np.full((bs, n_c), m_c - 1, dtype=np.int64)
    dist = np.empty(bs)
    for li in range(len(levels) - 1, -1, -1):
        a_l, b_l = levels[li]
        n_l, m_l = a_l.shape[1], b_l.shape[1]
        need_path = li > 0
        if need_path:
            n_f, m_f = levels[li - 1][0].shape[1], levels[li - 1][1].shape[1]
            new_lo = np.empty((bs, n_f), dtype=np.int64)
            new_hi = np.empty((bs, n_f), dtype=np.int64)
        widths = (hi - lo).max(axis=1) + 1
        order = np.argsort(widths, kind="stable")
        start = 0
        while start < bs:
            wcap = max(8, 1 << int(widths[order[start]] - 1).bit_length())
            stop = int(np.searchsorted(widths[order], wcap, side="right"))
            sel = order[start:stop]
            start = stop
            d, dp = _windowed_dp_batch(a_l[sel], b_l[sel], lo[sel], hi[sel], need_path)
            if need_path:
                pmin, pmax = _backtrack_batch(dp, lo[sel], hi[sel], n_l, m_l)
                l2, h2 = _expand_batch(pmin, pmax, n_f, m_f, radius)
                new_lo[sel] = l2
                new_hi[sel] = h2
            else:
                dist[sel] = d
        if need_path:
            lo, hi = new_lo, new_hi
    return dist
