"""Distance functions over array<double> series columns.

Reference semantics (SURVEY.md §2.7 F7, §2.10 U2):
- Euclidean: ``np.linalg.norm(a - b)`` per pair (Team11-Project.py:173) —
  here a pure Catalyst expression (zip_with + aggregate + sqrt), whole-stage
  codegen'd, zero Python.
- DTW: ``fastdtw.fastdtw(a, b)`` per pair (Team11-Project.py:339-341) — here
  an Arrow-batched pandas_udf over the batched numpy kernel
  (functions/dtw_kernel.py). The ONE Python boundary in the engine.

All SQL distances are left-fold aggregates so a DuckDB ``list_reduce`` oracle
reproduces them bit-for-bit (same IEEE op order).
"""

from __future__ import annotations

from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dtw_kernel import check_fastdtw_radius, dtw_batch, fastdtw_batch

__all__ = [
    "euclidean",
    "sq_euclidean",
    "manhattan",
    "chebyshev",
    "dot",
    "cosine_similarity",
    "cosine_distance",
    "sbd",
    "sbd_align",
    "sbd_batch",
    "dtw_udf",
    "make_dtw_udf",
    "make_fastdtw_udf",
    "DISTANCES",
]


def _fold(arr: Column, init: float = 0.0) -> Column:
    return F.aggregate(arr, F.lit(init), lambda acc, v: acc + v)


def sq_euclidean(a: Column, b: Column) -> Column:
    """Sum of squared differences (the pre-sqrt form — monotone in euclidean,
    so top-k ranking can skip the sqrt when distances aren't output)."""
    return _fold(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(sq_euclidean(a, b))


def manhattan(a: Column, b: Column) -> Column:
    return _fold(F.zip_with(a, b, lambda x, y: F.abs(x - y)))


def chebyshev(a: Column, b: Column) -> Column:
    return F.array_max(F.zip_with(a, b, lambda x, y: F.abs(x - y)))


def dot(a: Column, b: Column) -> Column:
    return _fold(F.zip_with(a, b, lambda x, y: x * y))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_distance(a: Column, b: Column) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def sbd(a: Column, b: Column) -> Column:
    """Shape-based distance (k-Shape; Paparrizos & Gravano, SIGMOD 2015):
    ``1 - max_s NCC_c(s)`` where ``NCC_c(s) = CC_s(a, b) / (||a||*||b||)``
    is the coefficient-normalized cross-correlation at shift
    ``s in [-(n-1), n-1]``. Phase-invariant: two series that are shifted
    copies of each other are at distance ~0 even though their euclidean
    distance is large — the alignment-free complement of DTW's warping.

    Pure Catalyst expression (no UDF): the shift sweep is a
    ``transform(sequence(...))`` over 2n-1 shifts, each an ``aggregate``
    left fold over the overlap — O(n^2) per pair like the textbook
    definition. Left-fold op order + IEEE
    mul/div/sqrt only, so a DuckDB ``list_transform``/``list_reduce``
    twin reproduces it bit-for-bit. Zero-norm inputs (a flat-zero series
    has no shape) pin to the maximum distance 1.0 instead of NaN.

    Both inputs must be equal length (same contract as the other series
    distances; the overlap indexing reads ``size(a)``).

    SCALE NOTE: Spark evaluates higher-order functions interpreted (never
    whole-stage codegen), so this expression is HOF-dispatch-bound on big
    pair volumes (measured 57s for 172K 16-pt pairs at sf0.1). It exists
    for ORACLE EXACTNESS; production KNN should use strategy='kernel' /
    'chunked', which route metric='sbd' through the FFT batch kernel
    ``sbd_batch`` (13x faster there, identical neighbor sets)."""
    n = F.size(a)
    norm = F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))
    cc = F.transform(
        F.sequence(F.lit(1) - n, n - F.lit(1)),
        lambda s: F.aggregate(
            F.sequence(F.lit(1), n - F.abs(s)),
            F.lit(0.0),
            lambda acc, t: acc
            + F.element_at(a, (t + F.greatest(s, F.lit(0))).cast("int"))
            * F.element_at(b, (t - F.least(s, F.lit(0))).cast("int")),
        ),
    )
    return F.when(norm == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.array_max(cc) / norm
    )


def sbd_align(a: Column, b: Column) -> Column:
    """SBD distance AND the aligning shift (r6): struct(sbd double,
    lag int) where ``lag = argmax_s sum_t a[t+s]*b[t]`` — the lead-lag
    primitive. Sign convention (test-pinned): when ``b`` is ``a`` DELAYED
    by L samples, lag = -L; so lag < 0 means b trails a by |lag|, lag > 0
    means b leads. Ties on the maximum correlation resolve to the FIRST
    (most negative) shift via array_position's first-match semantics —
    exact double equality against the array's own max element, so the
    tie-break is bitwise-deterministic and the DuckDB list_position twin
    matches. Zero-norm inputs (no shape) pin to (1.0, 0).

    Both inputs must be equal length (the shared series-distance contract;
    the sweep indexes with ``size(a)`` — a longer ``b`` is silently
    truncated and a shorter one errors out-of-bounds under ANSI mode, and
    the lag range [1-n, n-1] is only meaningful for equal lengths).

    Same O(n^2) interpreted-HOF cost model as ``sbd`` (the oracle-exact
    declarative form — watchlist-sized pair volumes, not corpus KNN)."""
    n = F.size(a)
    norm = F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))
    cc = F.transform(
        F.sequence(F.lit(1) - n, n - F.lit(1)),
        lambda s: F.aggregate(
            F.sequence(F.lit(1), n - F.abs(s)),
            F.lit(0.0),
            lambda acc, t: acc
            + F.element_at(a, (t + F.greatest(s, F.lit(0))).cast("int"))
            * F.element_at(b, (t - F.least(s, F.lit(0))).cast("int")),
        ),
    )
    best = F.array_max(cc)
    lag = (F.array_position(cc, best) - n).cast("int")
    return F.when(
        norm == 0,
        F.struct(F.lit(1.0).alias("sbd"), F.lit(0).cast("int").alias("lag")),
    ).otherwise(
        F.struct(
            (F.lit(1.0) - best / norm).alias("sbd"), lag.alias("lag")
        )
    )


def sbd_batch(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Vectorized shape-based distance over a batch of equal-length pairs
    (rows of A vs rows of B) — k-Shape's actual computational trick: the
    full 2n-1 cross-correlation sweep via FFT, O(n log n) per pair instead
    of the O(n^2) naive sweep. This is the strategy='kernel' /
    strategy='chunked' scale path for metric='sbd'; the Catalyst
    expression ``sbd()`` (the oracle-exact naive fold) is the declarative
    twin — FFT reassociation means the two agree to ~1e-12 relative, not
    to the last ulp (the dtw_batch-vs-CTE relationship)."""
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if A.shape != B.shape:
        raise ValueError(f"sbd needs equal-length pairs, got {A.shape} vs {B.shape}")
    n = A.shape[1]
    size = 1
    while size < 2 * n - 1:
        size <<= 1
    FA = np.fft.rfft(A, size, axis=1)
    FB = np.fft.rfft(B, size, axis=1)
    cc = np.fft.irfft(FA * np.conj(FB), size, axis=1)
    # circular bins: index s in [0, n) is lag +s (sum a[t+s]*b[t]); index
    # size-s is lag -s. Bins in between are zero-overlap padding — they
    # must NOT join the max (an all-negative correlation sweep would
    # otherwise be beaten by a spurious 0).
    valid = np.concatenate([cc[:, :n], cc[:, size - n + 1:]], axis=1)
    best = valid.max(axis=1)
    norm = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
    out = np.ones(len(A), dtype=np.float64)
    nz = norm != 0
    out[nz] = 1.0 - best[nz] / norm[nz]
    return out


def sbd_block(T: np.ndarray, B: np.ndarray) -> np.ndarray:
    """SBD distance MATRIX between test rows T (nt, L) and train rows
    B (nr, L): both sides are FFT'd ONCE and every pairwise correlation
    comes from one broadcast product — the block shape the KNN kernel
    scorer actually needs (the pairwise ``sbd_batch`` would re-transform
    the whole train matrix per test row; self-review r5). Returns
    (nt, nr)."""
    T = np.asarray(T, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if T.shape[1] != B.shape[1]:
        raise ValueError(
            f"sbd needs equal lengths, got {T.shape[1]} vs {B.shape[1]}"
        )
    n = T.shape[1]
    size = 1
    while size < 2 * n - 1:
        size <<= 1
    FT = np.fft.rfft(T, size, axis=1)
    FB = np.fft.rfft(B, size, axis=1)
    cc = np.fft.irfft(FT[:, None, :] * np.conj(FB)[None, :, :], size, axis=2)
    valid = np.concatenate([cc[:, :, :n], cc[:, :, size - n + 1:]], axis=2)
    best = valid.max(axis=2)
    nt = np.sqrt((T * T).sum(axis=1))
    nb = np.sqrt((B * B).sum(axis=1))
    norm = nt[:, None] * nb[None, :]
    out = np.ones_like(norm)
    nz = norm != 0
    out[nz] = 1.0 - best[nz] / norm[nz]
    return out


def _stack_series(elems: np.ndarray) -> np.ndarray:
    """Stack a batch of Arrow-delivered series into one float64 ndarray:
    (batch, length) for scalar series (array<double>) or
    (batch, length, channels) for multichannel series (array<array<double>>
    — Arrow hands the inner lists as object elements, so a plain np.stack
    would produce an object-dtype array the kernels can't vectorize).
    Channel counts must agree within a batch (enforced by the stack)."""
    probe = elems[0]
    if len(probe) and np.ndim(probe[0]) >= 1:  # timesteps are vectors
        try:
            return np.stack(
                [np.stack([np.asarray(t, dtype=np.float64) for t in e]) for e in elems]
            )
        except ValueError as exc:
            raise ValueError(
                "multichannel series must have a FIXED channel count per "
                "timestep and per batch (ragged inner arrays found)"
            ) from exc
    return np.stack(elems)


def _grouped_pairs_udf(batch_fn) -> Callable[[Column, Column], Column]:
    """pandas_udf over a batched pair kernel: Arrow batches arrive as
    pd.Series of numpy arrays; rows are grouped by (len_a, len_b) so every
    sub-batch stacks rectangular for the vectorized kernel. Multichannel
    series (array<array<double>>, one vector per timestep) stack to
    (batch, length, channels) and route to the kernels' multivariate
    per-channel-summed-cost path."""

    @F.pandas_udf(T.DoubleType())
    def dist(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        la = a.map(len).to_numpy()
        lb = b.map(len).to_numpy()
        out = np.empty(n, dtype=np.float64)
        import collections

        groups = collections.defaultdict(list)
        for i in range(n):
            groups[(la[i], lb[i])].append(i)
        for (_, _), idx in groups.items():
            idx = np.asarray(idx)
            A = _stack_series(a.iloc[idx].to_numpy())
            B = _stack_series(b.iloc[idx].to_numpy())
            out[idx] = batch_fn(A, B)
        return pd.Series(out)

    # asNondeterministic: stops Catalyst pushing filters THROUGH the
    # projection that computes the distance — with a deterministic UDF the
    # pushed predicate re-evaluates the whole DTW batch a second time
    # (observed as two ArrowEvalPython nodes for one distance column). The
    # kernel is pure; the flag only disables that (for us pessimal) rewrite.
    return dist.asNondeterministic()


def make_dtw_udf(band: Optional[int] = None) -> Callable[[Column, Column], Column]:
    """Exact DTW pandas_udf with a fixed Sakoe-Chiba band half-width
    (band=None -> unconstrained exact DTW). The engine's recommended scale
    metric: one vectorized DP level, fixed O(n*band) work per pair."""
    return _grouped_pairs_udf(lambda A, B: dtw_batch(A, B, band=band))


def make_fastdtw_udf(radius: int = 1) -> Callable[[Column, Column], Column]:
    """Faithful FastDTW (Salvador & Chan 2007) pandas_udf — reference
    semantic parity with `fastdtw.fastdtw(a, b, radius)` defaults
    (Team11-Project.py:339-341) via the batched kernel
    (dtw_kernel.fastdtw_batch). Data-dependent warp windows mean
    data-dependent cost: near-diagonal warps run ~O(n*radius), adversarial
    warps degrade toward O(n*m) — exactly like the original algorithm."""
    check_fastdtw_radius(radius)  # on the driver, not in every worker
    return _grouped_pairs_udf(lambda A, B: fastdtw_batch(A, B, radius=radius))


# default kernel: exact DTW (band=None); metric="fastdtw" in the KNN operators
# routes through make_fastdtw_udf (faithful recursive FastDTW).
dtw_udf = make_dtw_udf(None)


def _edit_family() -> dict[str, Callable[[Column, Column], Column]]:
    # late import: edit_distance imports _grouped_pairs_udf from here
    from .edit_distance import edr_dist, erp_dist, lcss_dist, msm_dist, twed_dist

    return {
        "lcss": lcss_dist,
        "edr": edr_dist,
        "erp": erp_dist,
        "twed": twed_dist,
        "msm": msm_dist,
    }


DISTANCES: dict[str, Callable[[Column, Column], Column]] = {
    "euclidean": euclidean,
    "sq_euclidean": sq_euclidean,
    "manhattan": manhattan,
    "chebyshev": chebyshev,
    "cosine": cosine_distance,
    "sbd": sbd,
    "dtw": dtw_udf,
    # edit-distance family (r6): pure-Catalyst DP folds at module defaults
    # (functions/edit_distance.py — LCSS_EPS/EDR_EPS/ERP_GAP); custom params
    # via lcss_dist/edr_dist/erp_dist partials or make_*_udf kernels
    **_edit_family(),
}


def cosine_distance_kernel() -> Callable[[Column, Column], Column]:
    """Arrow-batched cosine distance over equal-length vector pairs —
    bit-identical to ``cosine_distance`` (the SQL fold): dot and both norms
    accumulate dim-by-dim in ASCENDING order (elementwise the exact IEEE op
    sequence of the left fold), and the final 1 - dot/(sqrt*sqrt) is the
    same three correctly-rounded ops. Use it where an interpreted
    higher-order-function fold would run over MILLIONS of candidate pairs
    (embedding-dedup verification measured ~10x faster through this kernel;
    equality is test-pinned and the same DuckDB oracle applies)."""

    def batch(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        n, dim = A.shape
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for d in range(dim):
            dot += A[:, d] * B[:, d]
            na += A[:, d] * A[:, d]
            nb += B[:, d] * B[:, d]
        return 1.0 - dot / (np.sqrt(na) * np.sqrt(nb))

    return _grouped_pairs_udf(batch)
