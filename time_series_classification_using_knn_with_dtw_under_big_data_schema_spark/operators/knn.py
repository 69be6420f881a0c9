"""KNN similarity join — the engine's core operator (SURVEY.md §2.9 M2).

Reference semantics (Team11-Project.py):
- Model 1 "shuffle": train_rdd.cartesian(test_rdd) + per-partition partial
  heapq top-k + groupByKey + final top-k + Counter vote (:186-199, :368-381).
- Model 2 "broadcast": driver collect + sc.broadcast + flatMap loop +
  reduceByKey(min) for k=1 (:502-579).

Spark-first re-expression — ONE declarative plan, no RDDs:

    test.crossJoin([broadcast] train)
        -> distance expression (codegen'd SQL for euclidean family;
           Arrow-batched pandas_udf for DTW)
        -> filter(distance != 0)          # reference self-match exclusion P7
        -> window row_number <= k          # K1; WindowGroupLimit = map-side
                                           # partial top-k (two-phase heap)
        -> majority vote (A5) / min_by (A6)

Scale notes (100 TB design):
- ``broadcast`` strategy keeps the pair generation shuffle-free: each test
  partition streams the broadcast train table (BroadcastNestedLoopJoin). The
  only shuffle is the window's hash(test_id) exchange, and WindowGroupLimit
  caps it at k rows per test id per map partition.
- ``shuffle`` strategy (train too big to broadcast) is the cartesian
  re-expression of Model 1; partition counts are AQE's problem, not manual
  repartition() calls.
- Euclidean ranking avoids the sqrt until after top-k (monotone transform).
"""

from __future__ import annotations

from typing import Callable, Optional, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import DISTANCES, make_dtw_udf, make_fastdtw_udf, sq_euclidean
from ..functions.dtw_kernel import check_fastdtw_radius
from .topk import topk_per_key
from .vote import majority_vote

MetricT = Union[str, Callable[[Column, Column], Column]]


def _resolve_metric(metric: MetricT, band: Optional[int], fastdtw_radius: int):
    """Returns (distance_fn, rank_is_squared)."""
    if callable(metric):
        return metric, False
    if metric == "euclidean":
        return None, True  # special-cased: rank on sq_euclidean, sqrt after
    if metric == "dtw":
        return make_dtw_udf(band), False
    if metric == "fastdtw":
        # Faithful reference parity: fastdtw(radius=1) defaults
        # (Team11-Project.py:340) via the batched faithful kernel
        # (functions/dtw_kernel.py::fastdtw_batch) — recursive coarsening +
        # data-dependent refinement windows, NOT a fixed-band stand-in.
        # A caller-supplied band overrides to exact banded DTW (the fixed-cost
        # scale path; divergence between the two is quantified in
        # tests/test_dtw_kernel.py::test_banded_vs_faithful_divergence).
        if band is not None:
            return make_dtw_udf(band), False
        return make_fastdtw_udf(fastdtw_radius), False
    if metric in DISTANCES:
        return DISTANCES[metric], False
    raise ValueError(f"unknown metric {metric!r}; have {sorted(DISTANCES)} + 'fastdtw'")


def _maybe_multichannel(fn, metric: MetricT, test: DataFrame, train: DataFrame, features_col: str):
    """Declarative-path multichannel dispatch (r7, VERDICT r6 #6): nested
    features (array<array<double>>) route the named edit metrics through
    the independent-channel-sum lifter — per-channel univariate DP,
    summed ascending — which preserves each metric's properties (a sum
    of metrics is a metric, so ERP/TWED/MSM keep the triangle
    inequality). DTW/fastdtw UDFs already handle nested input inside the
    kernel (per-channel-summed POINT cost, the q113/q156 family); the
    euclidean-family folds stay flat-only (they'd mis-type on nested
    arrays at analysis time, which is the right failure)."""
    from pyspark.sql.types import ArrayType

    nested_r = isinstance(train.schema[features_col].dataType.elementType, ArrayType)
    nested_t = isinstance(test.schema[features_col].dataType.elementType, ArrayType)
    if nested_r != nested_t:
        raise ValueError(
            "test/train nestedness mismatch: one side is multichannel "
            "(array<array>) and the other flat — flatten or channel-split "
            "upstream"
        )
    if nested_r and isinstance(metric, str) and metric in (
        "lcss", "edr", "erp", "twed", "msm",
    ):
        from ..functions.edit_distance import multichannel

        return multichannel(fn)
    return fn


def knn_join(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "euclidean",
    k: int = 5,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: Optional[str] = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
    keep_features: bool = False,
    max_broadcast_bytes: int = 512 << 20,
) -> DataFrame:
    """k nearest train neighbors for every test row.

    Output: (test_id, train_id, distance, rank[, train_label]) with
    rank 1..k ordered by (distance ASC, train_label ASC, train_id ASC) —
    the heapq.nsmallest-compatible tie order (SURVEY.md §2.5 K1) plus a
    trailing train_id for total determinism.

    ``max_broadcast_bytes`` bounds strategy='kernel''s driver collect: if the
    estimated train matrix (rows x length x 8B) exceeds it, the call falls
    back — to strategy='reverse' (r9: broadcast the QUERY side, stream the
    train table in place with zero array exchange — the serve regime) when
    the test estimate fits comfortably (budget // 8), else to
    strategy='chunked' (r5 — the block nested-loop grid, same kernels, no
    driver materialization). Ragged train rides both fallbacks for the
    ELASTIC metrics (r9: per-length rectangular kernel calls, exact merged
    top-k); only ragged POINT-metric corpora (no cross-length semantics)
    keep the declarative shuffle plan.
    """
    if metric == "fastdtw":
        # on the driver, before any job: a bad radius would otherwise
        # fail (or, negative, never stop coarsening) in every worker
        check_fastdtw_radius(fastdtw_radius)
    if strategy == "kernel":
        if keep_features:
            raise ValueError("keep_features is not supported with strategy='kernel'")
        return _knn_kernel_broadcast(
            test,
            train,
            metric=metric,
            k=k,
            id_col=id_col,
            features_col=features_col,
            label_col=label_col,
            exclude_zero=exclude_zero,
            band=band,
            fastdtw_radius=fastdtw_radius,
            max_broadcast_bytes=max_broadcast_bytes,
        )
    if strategy == "chunked":
        if keep_features:
            raise ValueError("keep_features is not supported with strategy='chunked'")
        return _knn_chunked(
            test,
            train,
            metric=metric,
            k=k,
            id_col=id_col,
            features_col=features_col,
            label_col=label_col,
            exclude_zero=exclude_zero,
            band=band,
            fastdtw_radius=fastdtw_radius,
        )
    if strategy == "reverse":
        if keep_features:
            raise ValueError("keep_features is not supported with strategy='reverse'")
        return _knn_reverse(
            test,
            train,
            metric=metric,
            k=k,
            id_col=id_col,
            features_col=features_col,
            label_col=label_col,
            exclude_zero=exclude_zero,
            band=band,
            fastdtw_radius=fastdtw_radius,
            max_broadcast_bytes=max_broadcast_bytes,
        )
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown strategy {strategy!r}")

    t_cols = [F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf")]
    r_cols = [F.col(id_col).alias("train_id"), F.col(features_col).alias("_rf")]
    if label_col is not None:
        r_cols.append(F.col(label_col).alias("train_label"))
    t = test.select(*t_cols)
    r = train.select(*r_cols)

    pairs = t.crossJoin(F.broadcast(r) if strategy == "broadcast" else r)

    fn, rank_squared = _resolve_metric(metric, band, fastdtw_radius)
    fn = _maybe_multichannel(fn, metric, test, train, features_col)
    dist = sq_euclidean(F.col("_tf"), F.col("_rf")) if rank_squared else fn(
        F.col("_tf"), F.col("_rf")
    )
    pairs = pairs.withColumn("_d", dist)
    if exclude_zero:
        # reference P7 quirk (Team11-Project.py:176-177): exact-zero distance
        # pairs (self/duplicate series) never vote
        pairs = pairs.filter(F.col("_d") != 0)

    order = [F.asc("_d")]
    if label_col is not None:
        order.append(F.asc("train_label"))
    order.append(F.asc("train_id"))
    topk = topk_per_key(pairs, "test_id", order, k)

    distance = F.sqrt(F.col("_d")) if rank_squared else F.col("_d")
    out = [F.col("test_id"), F.col("train_id"), distance.alias("distance"), F.col("rank")]
    if label_col is not None:
        out.insert(2, F.col("train_label"))
    if keep_features:
        out.append(F.col("_tf").alias("test_features"))
    return topk.select(*out)


def _knn_kernel_broadcast(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT,
    k: int,
    id_col: str,
    features_col: str,
    label_col: Optional[str],
    exclude_zero: bool,
    band: Optional[int],
    fastdtw_radius: int,
    max_broadcast_bytes: int = 512 << 20,
) -> DataFrame:
    """strategy='kernel': Model-2 broadcast semantics with pair-free Arrow
    transfer.

    The declarative broadcast plan ships BOTH feature arrays through Arrow
    for every (test, train) pair — O(N_test * N_train * length) bytes across
    the JVM->Python boundary, which dominates DTW wall-clock. Here the train
    matrix is a numpy broadcast variable (unpacked once per worker) and each
    Arrow batch carries only test rows; one vectorized dtw_batch call scores
    a test row against the whole train side, and only the top-k rows are
    emitted (no window, no pair shuffle — transfer drops by ~N_train/k).

    Same constraint as any broadcast join: the train side must fit in
    executor memory. The driver collect is GUARDED — a cheap count/size
    aggregate estimates the matrix first, and anything over
    ``max_broadcast_bytes`` routes to the declarative shuffle plan instead
    (identical results; the reference's unguarded Model-2 collect at
    Team11-Project.py:528 is the anti-pattern this avoids). Requires
    fixed-length train series (the batched kernel stacks them rectangular);
    tie order and the dist!=0 exclusion match the declarative path exactly.
    """
    import numpy as np
    import pandas as pd

    if callable(metric):
        raise ValueError("strategy='kernel' supports named metrics only")
    if metric == "fastdtw":
        # faithful FastDTW unless the caller pins an explicit band (then it's
        # exact banded DTW — same override rule as the declarative path)
        kind = "dtw" if band is not None else "fastdtw"
    elif metric == "dtw":
        kind = "dtw"
    elif metric in (
        "euclidean", "sq_euclidean", "manhattan", "chebyshev", "sbd",
        "lcss", "edr", "erp", "twed", "msm",
    ):
        kind = metric
    else:
        raise ValueError(f"strategy='kernel' does not support metric {metric!r}")

    from pyspark.sql.types import ArrayType

    nested = isinstance(train.schema[features_col].dataType.elementType, ArrayType)
    if nested and kind not in (
        "dtw", "fastdtw", "lcss", "edr", "erp", "twed", "msm",
    ):
        raise ValueError(
            "multichannel series support metric='dtw'/'fastdtw' and the "
            f"edit-distance family only, got {metric!r}"
        )
    # ONE stats pass over the (possibly huge) train side: size estimate,
    # length spread, and channels together — the reroute below reuses them
    # instead of re-aggregating (r5 review: three separate driver-blocking
    # jobs over the biggest table before any scoring started)
    stat_cols = [
        F.count(F.lit(1)),
        F.max(F.size(features_col)),
        F.countDistinct(F.size(features_col)),
        F.max(F.size(F.element_at(features_col, 1))) if nested else F.lit(1),
    ]
    n_rows, max_len, n_lens, max_ch = train.agg(*stat_cols).first()
    if not n_rows:
        raise ValueError("empty train side")
    est_bytes = n_rows * int(max_len or 0) * int(max_ch or 1) * 8
    if est_bytes > max_broadcast_bytes:
        # too big to materialize on the driver (or to broadcast at all).
        # SERVE regime first (r9): when the QUERY side fits comfortably
        # (budget // 8 — comfortably broadcastable, and small enough that
        # the per-batch python loop over test rows stays amortized by
        # each batch's kernel work), the reverse-broadcast kernel streams
        # the train table in place with ZERO array exchange — strictly
        # less traffic than the grid's block replication.
        _t_stat = test.agg(
            F.count(F.lit(1)),
            F.max(F.size(features_col)),
            F.max(F.size(F.element_at(features_col, 1))) if nested else F.lit(1),
        ).first()
        est_t = (
            int(_t_stat[0] or 0) * int(_t_stat[1] or 0) * int(_t_stat[2] or 1) * 8
        )
        if est_t <= max_broadcast_bytes // 8:
            return _knn_reverse(
                test,
                train,
                metric="dtw" if kind == "dtw" else metric,
                k=k,
                id_col=id_col,
                features_col=features_col,
                label_col=label_col,
                exclude_zero=exclude_zero,
                band=band,
                fastdtw_radius=fastdtw_radius,
                max_broadcast_bytes=max_broadcast_bytes,
            )
        # The chunked block scorer (r5): both sides shuffle ONCE into block
        # cells scored by the same numpy/C kernels — series cross the wire
        # n_blocks times, not n_pairs times (the r4-measured 1.9-7.3x
        # shuffle-reroute penalty came from per-PAIR array movement).
        # Ragged train rides the same path for the elastic metrics (r9,
        # VERDICT r8 #4: the 4.6x-measured declarative shuffle plan was
        # the one remaining scale-soft KNN route) — cells regroup by
        # length into rectangular kernel calls; only ragged POINT-metric
        # corpora (no cross-length semantics) keep the declarative plan.
        if n_lens == 1 or kind in _ELASTIC_KINDS:
            return _knn_chunked(
                test,
                train,
                metric="dtw" if kind == "dtw" else metric,
                k=k,
                id_col=id_col,
                features_col=features_col,
                label_col=label_col,
                exclude_zero=exclude_zero,
                band=band,
                fastdtw_radius=fastdtw_radius,
                _train_stats=(int(n_rows), int(max_len), int(n_lens), int(max_ch or 1)),
            )
        return knn_join(
            test,
            train,
            metric="dtw" if kind == "dtw" else metric,
            k=k,
            strategy="shuffle",
            id_col=id_col,
            features_col=features_col,
            label_col=label_col,
            exclude_zero=exclude_zero,
            band=band,
            fastdtw_radius=fastdtw_radius,
        )

    sel = [id_col, features_col] + ([label_col] if label_col else [])
    rows = train.select(*sel).collect()
    lengths = {len(r[1]) for r in rows}
    if len(lengths) != 1 and kind not in _ELASTIC_KINDS:
        raise ValueError(
            f"strategy='kernel' needs fixed-length train series for "
            f"metric {metric!r}, got lengths {sorted(lengths)[:5]}"
        )
    # ragged train (elastic metrics only): one rectangular matrix per
    # distinct length — each Arrow batch scores against every group and
    # the per-group top-ks merge exactly (r9, VERDICT r8 #4)
    ids = [r[0] for r in rows]
    fv = [r[1] for r in rows]
    labels = [r[2] for r in rows] if label_col else None
    bvar = test.sparkSession.sparkContext.broadcast(
        _group_by_length(ids, fv, labels)
    )

    label_type = dict(train.dtypes)[label_col] if label_col else None
    schema = "test_id long, train_id long"
    if label_col:
        schema += f", train_label {label_type}"
    schema += ", distance double, rank int"

    kk = k
    excl = exclude_zero
    bnd = band
    rad = fastdtw_radius

    has_label = label_col is not None

    def op(batches):
        groups = bvar.value
        for pdf in batches:
            out = _score_block_groups(
                pdf["test_id"].to_numpy(),
                pdf["_tf"].to_numpy(),
                groups,
                kind=kind,
                k=kk,
                excl=excl,
                band=bnd,
                radius=rad,
                with_rank=True,
            )
            cols = ["test_id", "train_id"]
            if has_label:
                cols.append("train_label")
            cols += ["distance", "rank"]
            yield pd.DataFrame({c: out[c] for c in cols})

    t = test.select(F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf"))
    return t.mapInPandas(op, schema=schema)


def _score_block_rows(
    tids, fvals, b_ids, b_feats, b_labels, *, kind, k, excl, band, radius,
    with_rank,
):
    """THE kernel scoring core — one test block against one train matrix,
    shared verbatim by strategy='kernel' (broadcast) and
    strategy='chunked' (block cells), so their bit-identity contract is
    enforced by construction instead of by two hand-synced copies.

    fastdtw: chunk several test rows into ONE kernel call. The ~1024-pair
    target matters for the numpy fallback route (no compiler,
    TSKNN_DTW_NO_CC, ch >= 8): it balances ufunc-dispatch amortization
    against cache footprint — the numpy level loop's (pairs, window) work
    arrays must share L2/L3 with 31 sibling workers, and measured
    aggregate throughput on 561-pt wide-warp pairs peaked near 1k
    pairs/call (4k-pair calls were ~20% slower under full contention).
    The compiled route runs the whole pyramid per pair with O(length)
    scratch, so its cost is per pair and the chunk size barely moves it.
    The cheap kernels (banded DTW /
    euclidean family) score one test row against the train matrix with
    ZERO-copy views (broadcast_to + b_feats directly) — for them the
    chunked path's np.repeat/np.tile copies cost more than they save.

    Returns dict of numpy arrays: test_id, train_id, distance[, rank]
    [, train_label]. Tie order parity: (distance, label, id) ascending
    via np.lexsort, NaN last — the contract every strategy shares.

    r10 (VERDICT r9 #7): the top-k emit is batched across the chunk's
    test rows — ONE masked flatten + ONE lexsort with the row index as
    the primary key + a vectorized first-k-per-segment selection,
    replacing the per-test-row mask/lexsort/list-extend loop that was the
    measured fixed cost behind every chunked-grid envelope miss (the
    ratio floor at byte-light cells). Bit-identity: lexsort is a stable
    sequence of argsorts, so within each row segment the (distance,
    label, id) comparisons are exactly the per-row sort's; NaN still
    sorts last within its row segment.
    """
    import numpy as np

    from ..functions.distance import _stack_series
    from ..functions.dtw_kernel import dtw_batch, fastdtw_batch

    parts_out: list = []
    n_train = len(b_ids)
    # fastdtw chunks for the numpy route's ufunc amortization (the
    # compiled pyramid is per pair); sbd chunks so ONE block FFT
    # serves many test rows (memory-capped: nc * n_train * 2L doubles).
    # r6: the cheap kernels (banded DTW / euclidean family) now chunk to
    # the same ~1024-pair call target — a no-op in the broadcast-kernel
    # regime (train matrix >= 1024 rows -> rows_per = 1, zero-copy views,
    # where the r5 measurement showed repeat/tile copies losing), but in
    # the chunked regime's NARROW corpus blocks it collapses
    # rows x blocks tiny kernel calls into ~1024-pair ones (the toy-regime
    # fb_knn_dtw561 gap was per-call overhead x 11 block replication)
    if kind == "sbd":
        rows_per = max(1, 65536 // max(1, n_train))
    else:
        rows_per = max(1, 1024 // max(1, n_train))
    # test rows may be ragged; each chunk stacks rectangular
    by_len: dict = {}
    for i, f in enumerate(fvals):
        by_len.setdefault(len(f), []).append(i)
    for L, idxs in by_len.items():
        T = _stack_series([fvals[i] for i in idxs])
        for c0 in range(0, len(idxs), rows_per):
            chunk = idxs[c0 : c0 + rows_per]
            Tc = T[c0 : c0 + rows_per]
            nc = len(chunk)
            if kind == "sbd":
                from ..functions.distance import sbd_block

                # block form: both sides FFT'd once per chunk, no pair
                # materialization at all
                D = sbd_block(Tc, b_feats).reshape(-1)
                A = None
            elif nc == 1:
                A = np.broadcast_to(Tc[0], (n_train,) + Tc[0].shape)
                B = b_feats
            else:
                A = np.repeat(Tc, n_train, axis=0)
                B = np.tile(b_feats, (nc,) + (1,) * (b_feats.ndim - 1))
            if kind == "sbd":
                pass
            elif kind == "dtw":
                D = dtw_batch(A, B, band=band)
            elif kind == "fastdtw":
                D = fastdtw_batch(A, B, radius=radius)
            elif kind == "euclidean":
                D = np.sqrt(((A - B) ** 2).sum(axis=1))
            elif kind == "sq_euclidean":
                D = ((A - B) ** 2).sum(axis=1)
            elif kind == "manhattan":
                D = np.abs(A - B).sum(axis=1)
            elif kind in ("lcss", "edr", "erp", "twed", "msm"):
                # edit-distance family at module defaults (the named-metric
                # contract; custom eps/g go through callable metrics on the
                # declarative path) — anti-diagonal batched DPs, bit-equal
                # to the Catalyst fold expressions
                from ..functions.edit_distance import (
                    edr_batch, erp_batch, lcss_batch, msm_batch, twed_batch,
                )

                fn = {"lcss": lcss_batch, "edr": edr_batch, "erp": erp_batch,
                      "twed": twed_batch, "msm": msm_batch}[kind]
                D = fn(A, B)
            else:  # chebyshev
                D = np.abs(A - B).max(axis=1)
            Df = D.reshape(-1)
            rowf = np.repeat(np.arange(nc), n_train)
            iif = np.tile(b_ids, nc)
            lif = np.tile(b_labels, nc) if b_labels is not None else None
            if excl:
                msk = Df != 0
                Df, rowf, iif = Df[msk], rowf[msk], iif[msk]
                if lif is not None:
                    lif = lif[msk]
            keys = (iif, lif, Df, rowf) if lif is not None else (iif, Df, rowf)
            order = np.lexsort(keys)
            rs = rowf[order]
            nsel = rs.size
            if not nsel:
                continue
            # first k per row segment: position within segment < k
            change = np.empty(nsel, dtype=bool)
            change[0] = True
            np.not_equal(rs[1:], rs[:-1], out=change[1:])
            seg_start = np.flatnonzero(change)
            seg_id = np.cumsum(change) - 1
            pos = np.arange(nsel) - seg_start[seg_id]
            sel = pos < k
            picked = order[sel]
            tid_chunk = np.asarray([tids[i] for i in chunk], dtype=np.int64)
            part = {
                "test_id": tid_chunk[rs[sel]],
                "train_id": iif[picked],
                "distance": Df[picked],
            }
            if with_rank:
                part["rank"] = pos[sel] + 1
            if lif is not None:
                part["train_label"] = lif[picked]
            parts_out.append(part)
    cols = ["test_id", "train_id", "distance"]
    if with_rank:
        cols.append("rank")
    if b_labels is not None:
        cols.append("train_label")
    if not parts_out:
        empty = {
            "test_id": np.empty(0, dtype=np.int64),
            "train_id": np.empty(0, dtype=np.int64),
            "distance": np.empty(0, dtype=np.float64),
        }
        if with_rank:
            empty["rank"] = np.empty(0, dtype=np.int64)
        if b_labels is not None:
            empty["train_label"] = np.empty(0, dtype=b_labels.dtype)
        return empty
    if len(parts_out) == 1:
        return parts_out[0]
    return {c: np.concatenate([p[c] for p in parts_out]) for c in cols}


# metrics defined for pairs of UNEQUAL length — the kernels take
# (bs, n) x (bs, m) with n != m, so a ragged train side just becomes one
# rectangular kernel call per distinct length. The point metrics
# (euclidean family) have no cross-length semantics and keep the
# fixed-length requirement.
_ELASTIC_KINDS = frozenset({"dtw", "fastdtw", "lcss", "edr", "erp", "twed", "msm"})


def _score_block_groups(
    tids, fvals, groups, *, kind, k, excl, band, radius, with_rank,
):
    """Ragged-train extension of ``_score_block_rows`` (r9, VERDICT r8 #4):
    ``groups`` is a list of (b_ids, b_feats, b_labels) per-length train
    groups; each scores through the same rectangular kernel calls, then the
    per-group top-k survivors merge to ONE exact top-k per test (each
    group's top-k is a superset of its contribution to the global top-k).
    One group short-circuits to the shared scoring core verbatim, so the
    fixed-length paths keep their bit-identity contract untouched."""
    if len(groups) == 1:
        b_ids, b_feats, b_labels = groups[0]
        return _score_block_rows(
            tids, fvals, b_ids, b_feats, b_labels,
            kind=kind, k=k, excl=excl, band=band, radius=radius,
            with_rank=with_rank,
        )
    import numpy as np

    parts = [
        _score_block_rows(
            tids, fvals, b_ids, b_feats, b_labels,
            kind=kind, k=k, excl=excl, band=band, radius=radius,
            with_rank=False,
        )
        for (b_ids, b_feats, b_labels) in groups
    ]
    has_label = groups[0][2] is not None
    t_arr = np.concatenate([np.asarray(p["test_id"], dtype=np.int64) for p in parts]) \
        if parts else np.empty(0, dtype=np.int64)
    if not len(t_arr):
        out = {
            "test_id": np.empty(0, dtype=np.int64),
            "train_id": np.empty(0, dtype=np.int64),
            "distance": np.empty(0, dtype=np.float64),
        }
        if with_rank:
            out["rank"] = np.empty(0, dtype=np.int64)
        if has_label:
            out["train_label"] = np.empty(0)
        return out
    i_arr = np.concatenate([np.asarray(p["train_id"], dtype=np.int64) for p in parts])
    d_arr = np.concatenate([np.asarray(p["distance"], dtype=np.float64) for p in parts])
    l_arr = (
        np.concatenate([np.asarray(list(p["train_label"])) for p in parts])
        if has_label else None
    )
    # same (distance, label, id) lexsort contract as the scoring core,
    # NaN last, test as the primary key; then first k per test — the
    # vectorized first-k-per-segment selection (r10, VERDICT r9 #7; same
    # trick as _score_block_rows' batched emit, replacing the per-element
    # Python loop over the full sorted pair list)
    keys = (i_arr, l_arr, d_arr, t_arr) if l_arr is not None else (i_arr, d_arr, t_arr)
    order = np.lexsort(keys)
    rs = t_arr[order]
    change = np.empty(rs.size, dtype=bool)
    change[0] = True
    np.not_equal(rs[1:], rs[:-1], out=change[1:])
    seg_start = np.flatnonzero(change)
    seg_id = np.cumsum(change) - 1
    pos = np.arange(rs.size) - seg_start[seg_id]
    sel = pos < k
    picked = order[sel]
    out = {
        "test_id": rs[sel],
        "train_id": i_arr[picked],
        "distance": d_arr[picked],
    }
    if with_rank:
        out["rank"] = pos[sel] + 1
    if has_label:
        out["train_label"] = l_arr[picked]
    return out


def _group_by_length(ids, fvals, labels):
    """(ids, ragged features, labels) -> per-length (ids, stacked matrix,
    labels) groups, ascending length for determinism."""
    import numpy as np

    from ..functions.distance import _stack_series

    by_len: dict = {}
    for i, f in enumerate(fvals):
        by_len.setdefault(len(f), []).append(i)
    groups = []
    for L in sorted(by_len):
        idxs = by_len[L]
        groups.append((
            np.asarray([ids[i] for i in idxs], dtype=np.int64),
            _stack_series([fvals[i] for i in idxs]),
            np.asarray([labels[i] for i in idxs]) if labels is not None else None,
        ))
    return groups


def _knn_chunked(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT,
    k: int,
    id_col: str,
    features_col: str,
    label_col: Optional[str],
    exclude_zero: bool,
    band: Optional[int],
    fastdtw_radius: int,
    block_bytes: int = 64 << 20,
    _train_stats: "Optional[tuple[int, int, int, int]]" = None,
) -> DataFrame:
    """strategy='chunked' (r5): block nested-loop KNN for the NO-BROADCAST
    regime — train exceeds ``max_broadcast_bytes`` so neither the kernel's
    driver collect nor a broadcast join is allowed, and the declarative
    'shuffle' plan would move BOTH feature arrays once per PAIR (O(N_t *
    N_r * length * 8) shuffle bytes — the dominant cost of the r4-measured
    1.9-7.3x reroute penalty).

    Here the cross product is tiled into (test-block x train-block) cells:
    each side is hash-assigned to ceil(bytes / block_bytes) blocks (train
    floored up to cluster parallelism) and replicated only across the
    OTHER side's block count — shuffle traffic is
    test_blocks * |train| + train_blocks * |test| ~ 2|test||train|/B,
    the grid-replication optimum for exact all-pairs (per-series wire
    copies drop from N_other to n_blocks_other; raise block_bytes with
    executor memory to cut replication linearly, and when even that
    traffic is too much the answer is knn_join_pruned/knn_join_lb, not a
    bigger brute force). Each cell is scored by one applyInPandas
    call running the EXACT numpy/C kernels of strategy='kernel' (same
    metric expressions, same dist!=0 mask, same (distance, label, id)
    lexsort), emitting top-k per (test, cell); a final WindowGroupLimit
    window reranks the n_cells * k survivors per test. Results are
    identical to kernel/shuffle (test-pinned).

    Same constraints as strategy='kernel': named metrics, fixed-length
    train series (validated with an aggregate, not a collect).
    """
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ArrayType

    from ..functions.distance import _stack_series

    if callable(metric):
        raise ValueError("strategy='chunked' supports named metrics only")
    if metric == "fastdtw":
        kind = "dtw" if band is not None else "fastdtw"
    elif metric == "dtw":
        kind = "dtw"
    elif metric in (
        "euclidean", "sq_euclidean", "manhattan", "chebyshev", "sbd",
        "lcss", "edr", "erp", "twed", "msm",
    ):
        kind = metric
    else:
        raise ValueError(f"strategy='chunked' does not support metric {metric!r}")
    nested = isinstance(train.schema[features_col].dataType.elementType, ArrayType)
    nested_t = isinstance(test.schema[features_col].dataType.elementType, ArrayType)
    if nested != nested_t:
        raise ValueError(
            "test/train nestedness mismatch: one side is multichannel "
            "(array<array>) and the other flat — flatten or channel-split "
            "upstream"
        )
    if nested and kind not in (
        "dtw", "fastdtw", "lcss", "edr", "erp", "twed", "msm",
    ):
        raise ValueError(
            "multichannel series support metric='dtw'/'fastdtw' and the "
            f"edit-distance family only, got {metric!r}"
        )
    spark = test.sparkSession
    ch_expr = (
        F.max(F.size(F.element_at(features_col, 1))) if nested else F.lit(1)
    )
    if _train_stats is not None:
        # the kernel-guard reroute already aggregated the train side once
        # (n_rows, max_len, n_distinct_lens, channels) — don't re-scan
        n_r, len_r, n_len_r, ch_r = _train_stats
    else:
        n_r, len_r, n_len_r, ch_r = train.agg(
            F.count(F.lit(1)),
            F.max(F.size(features_col)),
            F.countDistinct(F.size(features_col)),
            ch_expr,
        ).first()
    if not n_r:
        raise ValueError("empty train side")
    if n_len_r != 1 and kind not in _ELASTIC_KINDS:
        raise ValueError(
            f"strategy='chunked' needs fixed-length train series for "
            f"metric {metric!r} (found {n_len_r} distinct lengths)"
        )
    n_t, len_t, ch_t = test.agg(
        F.count(F.lit(1)), F.max(F.size(features_col)), ch_expr
    ).first()
    if nested and n_t and ch_t != ch_r:
        raise ValueError(
            f"channel mismatch: test has {ch_t} channels, train has {ch_r}"
        )
    par = spark.sparkContext.defaultParallelism
    # grid sizing (r6, VERDICT r5 #6): overhead-aware cell count +
    # traffic-balanced split + memory floors — see similarity._grid_split.
    # Per-pair cost model: DTW sweeps len x band_width cells (x channels),
    # point metrics touch each coordinate once — heavy DTW workloads keep
    # every core even when their BYTES are small.
    from .similarity import _grid_split

    L = int(len_r or 1)
    if metric == "dtw" or (metric == "fastdtw" and band is not None):
        width = min(2 * band + 1, L) if band is not None else L
        per_pair = L * width * int(ch_r or 1)
    elif metric == "fastdtw":
        # faithful FastDTW sweeps ~(2*(2r+1)+2) cells per row across all
        # levels, NOT the full L columns — modeling it as L*L overstated
        # 561-pt work ~190x and kept toy jobs from collapsing cells
        # (review r6)
        per_pair = L * min(4 * (fastdtw_radius + 1) + 2, L) * int(ch_r or 1)
    elif metric in ("lcss", "edr", "erp", "twed", "msm"):
        # full-table edit-distance DPs sweep every (i, j) cell — once per
        # channel under the independent-channel-sum lift (r7)
        per_pair = L * L * int(ch_r or 1)
    else:
        per_pair = L * int(ch_r or 1)
    bt, br = _grid_split(
        int(n_t or 0) * int(len_t or 0) * int(ch_t or 1) * 8,
        int(n_r) * int(len_r or 0) * int(ch_r or 1) * 8,
        int(n_t or 1),
        int(n_r),
        int(n_t or 0) * int(n_r) * per_pair,
        block_bytes,
        par,
    )
    label_type = dict(train.dtypes)[label_col] if label_col else None
    t_side = test.select(
        F.pmod(F.hash(F.col(id_col)), F.lit(bt)).alias("_tblk"),
        F.explode(F.sequence(F.lit(0), F.lit(br - 1))).alias("_rblk"),
        F.lit(True).alias("_ist"),
        F.col(id_col).alias("_id"),
        F.col(features_col).alias("_f"),
        *( [F.lit(None).cast(label_type).alias("_lbl")] if label_col else [] ),
    )
    r_side = train.select(
        F.explode(F.sequence(F.lit(0), F.lit(bt - 1))).alias("_tblk"),
        F.pmod(F.hash(F.col(id_col)), F.lit(br)).alias("_rblk"),
        F.lit(False).alias("_ist"),
        F.col(id_col).alias("_id"),
        F.col(features_col).alias("_f"),
        *( [F.col(label_col).alias("_lbl")] if label_col else [] ),
    )
    kk, excl, bnd, rad = k, exclude_zero, band, fastdtw_radius
    has_label = label_col is not None

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {"test_id": [], "train_id": [], "distance": []}
        if has_label:
            cols["train_label"] = []
        tm = pdf["_ist"].to_numpy()
        tp, rp = pdf[tm], pdf[~tm]
        if not len(tp) or not len(rp):
            out = pd.DataFrame(cols)
            return out.astype({"test_id": "int64", "train_id": "int64",
                               "distance": "float64"})
        # np.asarray(list) not .to_numpy(): pandas hands string labels as
        # object dtype, which np.lexsort rejects; the list round-trip gives
        # the same '<U'/float dtype the kernel's collect-based array has.
        # Ragged train cells (elastic metrics, r9 VERDICT r8 #4) group by
        # length into rectangular kernel calls — fixed-length cells are
        # ONE group and short-circuit to the shared scoring core verbatim.
        groups = _group_by_length(
            rp["_id"].to_numpy(dtype=np.int64),
            rp["_f"].to_numpy(),
            np.asarray(list(rp["_lbl"])) if has_label else None,
        )
        # the SAME scoring core as strategy='kernel' (bit-identity by
        # construction); per-cell top-k only — the global rerank window
        # below re-ranks across cells, so no rank is emitted here
        cols = _score_block_groups(
            tp["_id"].to_numpy(dtype=np.int64),
            tp["_f"].to_numpy(),
            groups,
            kind=kind,
            k=kk,
            excl=excl,
            band=bnd,
            radius=rad,
            with_rank=False,
        )
        order_cols = ["test_id", "train_id"]
        if has_label:
            order_cols.append("train_label")
        order_cols.append("distance")
        return pd.DataFrame({c: cols[c] for c in order_cols})

    schema = "test_id long, train_id long"
    if label_col:
        schema += f", train_label {label_type}"
    schema += ", distance double"
    # EXPLICIT repartition on the cell key (r6, VERDICT r5 #6): the cell
    # grid is compute-heavy but byte-light, and AQE's advisory-size
    # coalescing saw a ~tens-of-MB shuffle and squeezed it onto 1-2 tasks —
    # serializing every cell (the measured toy-regime gap: 3s of cell
    # compute with 0.1s max per cell running at parallelism 1). A
    # user-specified repartition is exempt from AQE coalescing and
    # satisfies the groupBy's clustering requirement, so the exchange is
    # not duplicated.
    # one cell per task where affordable (r9): packing ~4 multi-second
    # cells per partition quantized the stage into ragged waves (133 cells
    # over 32 slots = 4.2 serial cells/task; a 1-cell tail wave idles 27
    # cores). Individual cell tasks let the scheduler pack the tail; the
    # cap keeps the task count bounded when the grid is huge (cells >>
    # tasks means per-task cell counts are high and waves smooth out
    # statistically anyway).
    n_parts = min(bt * br, max(par, 1) * 32)
    blocked = (
        t_side.unionByName(r_side)
        .repartition(n_parts, "_tblk", "_rblk")
        .groupBy("_tblk", "_rblk")
        .applyInPandas(lambda _, pdf: cell(pdf), schema=schema)
    )
    # nulls LAST: Arrow maps NaN distances (corrupt/NaN-element series) to
    # SQL nulls; the kernel's in-Python lexsort puts NaN at the end, and a
    # plain F.asc would rank nulls FIRST — same fix as the ANN chunked path
    order = [F.asc_nulls_last("distance")]
    if label_col is not None:
        order.append(F.asc("train_label"))
    order.append(F.asc("train_id"))
    topk = topk_per_key(blocked, "test_id", order, k)
    out = ["test_id", "train_id"]
    if label_col:
        out.append("train_label")
    out += ["distance", "rank"]
    return topk.select(*out)


def _knn_reverse(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT,
    k: int,
    id_col: str,
    features_col: str,
    label_col: Optional[str],
    exclude_zero: bool,
    band: Optional[int],
    fastdtw_radius: int,
    max_broadcast_bytes: int = 512 << 20,
) -> DataFrame:
    """strategy='reverse' (r9): broadcast-the-TEST kernel for the SERVE
    regime — the train side exceeds ``max_broadcast_bytes`` (so the
    broadcast kernel's driver collect is off the table) but the query
    workload fits. The grouped test rows broadcast once and ONE
    mapInPandas pass streams the train table IN PLACE: zero exchange of
    either side's arrays (the chunked grid re-ships the test side per
    train block and the train side per test block), train rows are
    Arrow-decoded exactly once, each batch emits its per-test top-k
    through the shared scoring core, and the chunked path's global
    re-rank reduces batch winners to the exact global top-k.

    Scale shape (100 TB): a bounded query workload against an
    arbitrarily large corpus moves ZERO corpus bytes and shuffles only
    n_batches * k survivor rows per query — the traffic floor for exact
    brute force. Both-sides-huge stays on the chunked grid; the guard in
    strategy='kernel' routes here only when the test estimate fits
    comfortably (budget // 8), so the per-batch python loop over test
    rows never runs against an unbounded query side.

    Bit-identity: per-pair arithmetic is `_score_block_rows` verbatim
    (test rows are always the A operand, as in every other strategy);
    each batch's top-k is a superset of its contribution to the global
    top-k, and the re-rank applies the same (distance ASC, label ASC,
    id ASC) total order — equality with kernel/chunked/shuffle is
    test-pinned."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ArrayType

    if callable(metric):
        raise ValueError("strategy='reverse' supports named metrics only")
    if metric == "fastdtw":
        kind = "dtw" if band is not None else "fastdtw"
    elif metric == "dtw":
        kind = "dtw"
    elif metric in (
        "euclidean", "sq_euclidean", "manhattan", "chebyshev", "sbd",
        "lcss", "edr", "erp", "twed", "msm",
    ):
        kind = metric
    else:
        raise ValueError(f"strategy='reverse' does not support metric {metric!r}")
    nested = isinstance(train.schema[features_col].dataType.elementType, ArrayType)
    nested_t = isinstance(test.schema[features_col].dataType.elementType, ArrayType)
    if nested != nested_t:
        raise ValueError(
            "test/train nestedness mismatch: one side is multichannel "
            "(array<array>) and the other flat — flatten or channel-split "
            "upstream"
        )
    if nested and kind not in (
        "dtw", "fastdtw", "lcss", "edr", "erp", "twed", "msm",
    ):
        raise ValueError(
            "multichannel series support metric='dtw'/'fastdtw' and the "
            f"edit-distance family only, got {metric!r}"
        )
    spark = test.sparkSession
    ch_expr = (
        F.max(F.size(F.element_at(features_col, 1))) if nested else F.lit(1)
    )
    n_t, len_t, ch_t = test.agg(
        F.count(F.lit(1)), F.max(F.size(features_col)), ch_expr
    ).first()
    est_t = int(n_t or 0) * int(len_t or 0) * int(ch_t or 1) * 8
    if est_t > max_broadcast_bytes:
        raise ValueError(
            f"test side ~{est_t} bytes exceeds max_broadcast_bytes="
            f"{max_broadcast_bytes}; use strategy='chunked' (both sides "
            "oversized)"
        )
    t_rows = test.select(id_col, features_col).collect()
    bvar = spark.sparkContext.broadcast(
        ([r[0] for r in t_rows], [r[1] for r in t_rows])
    )
    has_label = label_col is not None
    label_type = dict(train.dtypes)[label_col] if has_label else None
    kk, excl, bnd, rad = k, exclude_zero, band, fastdtw_radius
    sel = [F.col(id_col).alias("_id"), F.col(features_col).alias("_f")]
    if has_label:
        sel.append(F.col(label_col).alias("_lbl"))
    src = train.select(*sel)

    def op(batches):
        t_ids, t_fs = bvar.value
        order_cols = ["test_id", "train_id"]
        if has_label:
            order_cols.append("train_label")
        order_cols.append("distance")
        for pdf in batches:
            if not len(pdf) or not t_ids:
                continue
            groups = _group_by_length(
                pdf["_id"].to_numpy(dtype=np.int64),
                pdf["_f"].to_numpy(),
                np.asarray(list(pdf["_lbl"])) if has_label else None,
            )
            cols = _score_block_groups(
                t_ids, t_fs, groups, kind=kind, k=kk, excl=excl,
                band=bnd, radius=rad, with_rank=False,
            )
            if len(cols["test_id"]):
                yield pd.DataFrame({c: cols[c] for c in order_cols})

    schema = "test_id long, train_id long"
    if has_label:
        schema += f", train_label {label_type}"
    schema += ", distance double"
    blocked = src.mapInPandas(op, schema=schema)
    # nulls LAST — the same Arrow NaN-to-null mapping and tie order as the
    # chunked path's re-rank
    order = [F.asc_nulls_last("distance")]
    if has_label:
        order.append(F.asc("train_label"))
    order.append(F.asc("train_id"))
    topk = topk_per_key(blocked, "test_id", order, k)
    out = ["test_id", "train_id"]
    if has_label:
        out.append("train_label")
    out += ["distance", "rank"]
    return topk.select(*out)


def _channel_series(col, c: int):
    """Channel-c series of a multichannel (array<array<double>>) column as
    a flat array. NOTE: a 2-arg lambda (even with a default arg) is read by
    F.transform as the (element, index) signature — the channel must be
    captured by this single-arg closure, never a default-arg lambda."""

    def proj(p):
        return F.element_at(p, c + 1)

    return F.transform(col, proj)


def _check_channel_parity(
    test: DataFrame,
    train: DataFrame,
    features_col: str,
    channels: Optional[int],
    who: str,
) -> bool:
    """Shared pruned/LB-path input guard: both sides must agree on flat vs
    multichannel (a mixed pair would fail opaquely inside the univariate
    sketch code — ADVICE r4), and nested input needs an explicit fixed
    ``channels`` count (the per-channel sketch expressions are unrolled at
    plan time, like ``length``). Returns True for multichannel."""
    from pyspark.sql.types import ArrayType

    nested_t = isinstance(test.schema[features_col].dataType.elementType, ArrayType)
    nested_r = isinstance(train.schema[features_col].dataType.elementType, ArrayType)
    if nested_t != nested_r:
        raise ValueError(
            f"{who}: flat/multichannel mismatch — test features are "
            f"{'nested' if nested_t else 'flat'} but train features are "
            f"{'nested' if nested_r else 'flat'}"
        )
    if nested_t and channels is None:
        raise ValueError(
            f"{who}: multichannel series (array<array<double>>) require "
            f"channels=<fixed channel count> (sketches are unrolled per "
            f"channel at plan time, like length)"
        )
    return nested_t


def knn_join_pruned(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "fastdtw",
    k: int = 5,
    length: int,
    paa_segments: int = 8,
    candidates_per_test: int | None = None,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: Optional[str] = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
    channels: Optional[int] = None,
) -> DataFrame:
    """Two-phase pruned KNN (scale path; SURVEY.md §4 'worth adding').

    Phase 1 ranks candidates by squared-euclidean distance on PAA sketches
    (paa_segments means per series) — a pure codegen'd expression over arrays
    ``paa_segments/length`` the size of the originals, so the cross product
    moves ~length/paa_segments fewer bytes and the expensive metric (the DTW
    pandas_udf) never sees non-candidates. Phase 2 computes the exact metric
    on the top ``candidates_per_test`` (default 4*k) candidates only and
    re-ranks.

    For metric='euclidean' the PAA distance is a true lower bound (averaging
    inequality), so with enough candidates this is exact in practice; for DTW
    it is a (good) heuristic filter — recall measured in tests. Output schema
    = knn_join's.

    Multichannel series (array<array<double>>, one vector per timestep —
    r6, VERDICT r5 #5): pass ``channels``; the phase-1 sketch becomes the
    CONCATENATION of per-channel PAA sketches (its squared distance is the
    sum of per-channel PAA distances — the same heuristic, channel-wise)
    and phase 2 scores with the dependent-DTW kernel, so only
    metric='dtw'/'fastdtw' are supported for nested input (the kernel rule).
    """
    from pyspark.sql.types import ArrayType

    from ..functions.arrays import paa

    # check BOTH sides: a multichannel train side paired with a flat test
    # side would pass a test-only guard and fail opaquely in the univariate
    # PAA code downstream (ADVICE r4)
    nested = _check_channel_parity(
        test, train, features_col, channels, "knn_join_pruned"
    )
    if nested and (callable(metric) or metric not in ("dtw", "fastdtw")):
        raise ValueError(
            f"multichannel series support metric='dtw'/'fastdtw' only, got {metric!r}"
        )

    def _sketch(col):
        if not nested:
            return paa(col, paa_segments, length)
        return F.concat(
            *[
                paa(_channel_series(col, c), paa_segments, length)
                for c in range(channels)
            ]
        )

    C = candidates_per_test if candidates_per_test is not None else 4 * k

    t = test.select(
        F.col(id_col).alias("test_id"),
        F.col(features_col).alias("_tf"),
        _sketch(F.col(features_col)).alias("_tp"),
    )
    r_cols = [
        F.col(id_col).alias("train_id"),
        F.col(features_col).alias("_rf"),
        _sketch(F.col(features_col)).alias("_rp"),
    ]
    if label_col is not None:
        r_cols.append(F.col(label_col).alias("train_label"))
    r = train.select(*r_cols)

    # phase 1: sketch-space candidate generation (ids + sketches only).
    # strategy='chunked' (r5): at 100 TB even the SKETCH side is ~1/70th of
    # the corpus — far past broadcast range — so phase 1 is itself a
    # too-big-to-broadcast KNN; the block scorer serves it (sketches are
    # fixed-length by construction). Candidate RANKING is identical up to
    # fp near-ties at the C-th boundary (numpy vs SQL-fold ulp), which is
    # inside the prefilter's heuristic contract.
    t1 = t.select("test_id", "_tp")
    r1 = r.select("train_id", "_rp")
    if strategy == "chunked":
        cands = _knn_chunked(
            t1.select(F.col("test_id").alias("sid"), F.col("_tp").alias("feat")),
            r1.select(F.col("train_id").alias("sid"), F.col("_rp").alias("feat")),
            metric="sq_euclidean",
            k=C,
            id_col="sid",
            features_col="feat",
            label_col=None,
            exclude_zero=False,
            band=None,
            fastdtw_radius=fastdtw_radius,
        ).select("test_id", "train_id")
    else:
        coarse = t1.crossJoin(F.broadcast(r1) if strategy == "broadcast" else r1)
        coarse = coarse.withColumn("_cd", sq_euclidean(F.col("_tp"), F.col("_rp")))
        cands = topk_per_key(
            coarse, "test_id", [F.asc("_cd"), F.asc("train_id")], C, rank_col="_crank"
        ).select("test_id", "train_id")

    # phase 2: exact metric on candidates only
    pairs = (
        cands.join(t.select("test_id", "_tf"), "test_id")
        .join(r.drop("_rp"), "train_id")
    )
    fn, rank_squared = _resolve_metric(metric, band, fastdtw_radius)
    dist = sq_euclidean(F.col("_tf"), F.col("_rf")) if rank_squared else fn(
        F.col("_tf"), F.col("_rf")
    )
    pairs = pairs.withColumn("_d", dist)
    if exclude_zero:
        pairs = pairs.filter(F.col("_d") != 0)
    order = [F.asc("_d")]
    if label_col is not None:
        order.append(F.asc("train_label"))
    order.append(F.asc("train_id"))
    topk = topk_per_key(pairs, "test_id", order, k)
    distance = F.sqrt(F.col("_d")) if rank_squared else F.col("_d")
    out = [F.col("test_id"), F.col("train_id"), distance.alias("distance"), F.col("rank")]
    if label_col is not None:
        out.insert(2, F.col("train_label"))
    return topk.select(*out)


def _probe_np(x):
    """Arrow-collected feature cells arrive as numpy arrays (flat) or
    object arrays of per-timestep arrays (nested) — stack the latter to a
    dense (L, C) float matrix for the probe's numpy twins."""
    import numpy as np

    arr = np.asarray(x)
    if arr.dtype == object:
        return np.stack([np.asarray(t, dtype=np.float64) for t in x])
    return np.asarray(arr, dtype=np.float64)


def _estimated_prune_rate(
    test: DataFrame,
    train: DataFrame,
    *,
    id_col: str,
    features_col: str,
    lb_np,
    dist_many,
    C: int,
    k: int,
    probe_n: int,
    exclude_zero: bool,
    len_hint: Optional[int] = None,
    max_probe_bytes: int = 32 << 20,
    max_probe_rows: int = 1024,
) -> Optional[float]:
    """Sampled prune-rate probe for the lossless LB prefilters (r8,
    VERDICT r7 #5): replays phases 1-2 of filter-and-verify DRIVER-SIDE
    on a deterministic sample — ``probe_n`` test rows x a capped train
    sample — through the numpy twins of the LB sketch (``lb_np``) and
    the exact metric (``dist_many``, batched: (query, [candidates]) ->
    distances, so callers score the C candidates in ONE compiled-kernel
    call instead of C Python DP loops — ADVICE r8). Returns the
    estimated fraction of PHASE-3-ELIGIBLE pairs the bound would prune
    (LB > tau under the same slacked filter phase 3 uses), or None when
    either sample is empty OR the replay raises (caller keeps the
    prefilter — the distributed plan's NULL semantics handle inputs the
    numpy twins reject, e.g. rows shorter than ``length``; enabling the
    gate must never introduce a failure mode the un-gated plan lacks —
    ADVICE r8).

    Sampling (ADVICE r8): both sides order by (crc32(id), id) — a
    deterministic HASH-SPREAD sample, not lowest-ids — so id-clustered
    corpora (labels correlated with id ranges) don't bias the estimate.
    The C already-scored phase-1 candidates are EXCLUDED from the
    pruned/total tally: they are anti-joined out of phase 3 and can
    never be pruned, so counting them deflated the estimate near the
    routing threshold.

    Collect shape: ONE Spark job (a union of two TakeOrderedAndProject
    subplans, Arrow transfer) — a second job's fixed latency would cost
    more than the whole numpy replay. The train sample is capped at
    ``max_probe_rows`` rows and, when the caller knows the series length
    (``len_hint`` = points x channels), additionally at
    ``max_probe_bytes`` — bounded metadata, never corpus-sized. Without
    a hint the row cap alone bounds it (1024 rows x L doubles; the
    elastic metrics' own O(L^2)-cells-per-pair cost makes huge-L inputs
    infeasible for the operator long before the probe matters).

    Why driver-side: the probe is a ROUTING heuristic, not a correctness
    device (both branches are exact), and an in-plan probe costs 5+
    Spark stages of fixed latency (~1.2s measured) — more than the
    decision is worth (bench: lb_gate)."""
    import numpy as np

    cap = max_probe_rows
    if len_hint:
        cap = int(max(64, min(max_probe_rows, max_probe_bytes // max(1, len_hint * 8))))

    def side(df, tag, n):
        return (
            df.select(
                F.lit(tag).alias("_side"),
                F.col(id_col).alias("_id"),
                F.col(features_col).alias("_f"),
            )
            .orderBy(F.crc32(F.col("_id").cast("string")), F.col("_id"))
            .limit(n)
        )

    pdf = side(test, 0, probe_n).unionByName(side(train, 1, cap)).toPandas()
    s = [
        (i, f) for sd, i, f in zip(pdf["_side"], pdf["_id"].tolist(), pdf["_f"].tolist())
        if sd == 0
    ]
    t = [
        (i, f) for sd, i, f in zip(pdf["_side"], pdf["_id"].tolist(), pdf["_f"].tolist())
        if sd == 1
    ]
    if not s or not t:
        return None
    t_feats = [f for _, f in t]
    pruned = total = 0
    try:
        for _, qf in s:
            lbs = np.asarray(lb_np(qf, t_feats), dtype=np.float64)
            order = sorted(range(len(t)), key=lambda i: (lbs[i], t[i][0]))
            cand = order[:C]
            ds = []
            for i, d in zip(cand, dist_many(qf, [t[i][1] for i in cand])):
                d = float(d)
                if exclude_zero and d == 0:
                    continue
                ds.append(d)
            ds.sort()
            tau = ds[k - 1] if len(ds) >= k else float("inf")
            tau = tau * (1.0 + 1e-9) + 1e-12
            cand_set = set(cand)
            rest = [i for i in range(len(t)) if i not in cand_set]
            pruned += int((lbs[rest] > tau).sum())
            total += len(rest)
    except Exception:
        return None
    return pruned / total if total else None


def _brute_fallback(
    test: DataFrame,
    train: DataFrame,
    *,
    metric,
    k: int,
    id_col: str,
    features_col: str,
    label_col: Optional[str],
    exclude_zero: bool,
    **metric_kw,
) -> DataFrame:
    """Brute-force knn_join through the kernel strategy, reordered to the
    LB functions' output column order — the bypass target when the probe
    says the bound won't pay. Bit-identical to the prefiltered plan
    (equality-tested for every metric); the kernel strategy carries its
    own byte-guarded chunked fallback, so the bypass keeps the 100 TB
    shape."""
    out = knn_join(
        test,
        train,
        metric=metric,
        k=k,
        strategy="kernel",
        id_col=id_col,
        features_col=features_col,
        label_col=label_col,
        exclude_zero=exclude_zero,
        **metric_kw,
    )
    cols = ["test_id", "train_id", "distance", "rank"]
    if label_col is not None:
        cols.insert(2, "train_label")
    return out.select(*cols)


def knn_join_lb(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "fastdtw",
    k: int = 5,
    length: int,
    paa_segments: int = 8,
    candidates_per_test: int | None = None,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: Optional[str] = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
    channels: Optional[int] = None,
    min_prune_rate: float = 0.0,
    prune_probe: int = 8,
) -> DataFrame:
    """EXACT pruned DTW/FastDTW KNN via an admissible lower bound
    (filter-and-verify; SURVEY.md §4's "LB prefilter worth adding" row,
    upgraded from knn_join_pruned's heuristic PAA filter to a provably
    lossless one).

    The bound (LB_Keogh family, |.| point cost): for any warp path, cell
    (0,0) costs |q_0-c_0|, cell (n-1,n-1) costs |q_last-c_last|, and every
    middle element c_j aligns to SOME q_i its band allows, costing at least
    its hinge distance to the envelope of q over that band:

        U_j = max(q[j-r .. j+r]),  L_j = min(q[j-r .. j+r])
        cost_j >= max(0, c_j - U_j, L_j - c_j)

    with r = the Sakoe-Chiba half-width for banded DTW, or r = length
    (global envelope — LB_Yi/LB_Kim) when the warp is unconstrained.
    Averaging c over PAA blocks and widening the envelope to the block's
    extremes keeps the bound admissible (the hinge is convex in c — Jensen;
    widening U/L only lowers it), so the filter runs over sketch-sized
    data:

        LB_paa(q, c) = |q_0-c_0| + |q_last-c_last|
                       + seg_w * sum_b hinge(paa_b(c_mid), L_b, U_b)
        LB_paa <= LB_Keogh(r) <= banded DTW(r)            [band=r]
        LB_paa <= LB_envelope <= exact DTW <= FastDTW     [band=None;
                                    the FastDTW path is a real warp path]

    so the chain is admissible for metric='dtw' (banded or not) AND
    metric='fastdtw' (any radius; a caller band overrides to banded DTW,
    mirroring _resolve_metric). Three declarative phases:

    1. candidates: sketch-space cross join -> LB_paa (pure codegen over
       paa_segments-sized arrays) -> top-C per test by (LB, train_id).
    2. verify: the expensive kernel scores ONLY those C pairs; the k-th
       best scored distance tau upper-bounds the true k-th distance
       (the scored set is a subset of all pairs).
    3. completeness: every unscored pair with LB_paa <= tau is scored too
       (anything with LB > tau provably cannot enter the top-k, ties
       included since the tie order starts with distance). Union + re-rank.

    Result is bit-identical to the brute-force knn_join under the same
    metric and tie order (proven by q86's brute-force DuckDB oracle and
    equality tests). Pruning POWER is data- and band-dependent: the banded
    envelope is tight (most pairs die in phase 1), while the unconstrained
    global envelope is information-theoretically weak on structureless
    series (measured in tests; same caveat family as ann_lsh recall on
    random embeddings — NOTES.md) though correctness never depends on it.
    Scale shape: both cross joins move only ids + O(paa_segments) sketches;
    full arrays are joined back by id for the scored subset only; the
    per-test intermediates (candidates, scores, tau) are O(C) rows and
    cached via register_cache, the pair-level LB table is recomputed
    (codegen) rather than cached.

    Multichannel series (array<array<double>>, one vector per timestep —
    r6, VERDICT r5 #5): pass ``channels``. Dependent DTW scores ONE shared
    warp path with the per-channel SUMMED |a-b| point cost, so each
    channel's envelope bound holds for that same path independently and
    the per-channel LBs ADD:

        sum_ch LB_paa_ch(q, c) <= sum_ch cost_ch(path) = dependent DTW

    — admissibility is preserved channel-wise, and the result stays
    bit-identical to brute-force knn_join on the same multichannel input
    (q156's oracle is exactly q113's brute-force DP).
    """
    from ..caching import register_cache
    from ..functions.arrays import paa

    if callable(metric) or metric not in ("dtw", "fastdtw"):
        raise ValueError("knn_join_lb requires metric='dtw' or 'fastdtw'")
    nested = _check_channel_parity(test, train, features_col, channels, "knn_join_lb")
    n_ch = channels if nested else 1

    def _chan(col, c):
        # channel-c series as a flat array (identity for flat input)
        return _channel_series(col, c) if nested else col

    C = max(candidates_per_test if candidates_per_test is not None else 4 * k, k)
    fn, _ = _resolve_metric(metric, band, fastdtw_radius)
    r_env = band if band is not None else length

    mid_len = length - 2
    nseg = min(paa_segments, mid_len) if mid_len > 0 else 0
    seg_w = (mid_len // nseg) if nseg else 0

    # test sketch: per-channel endpoints + per-block banded envelope
    # extremes. Block b covers middle positions [s_b, s_b + seg_w - 1]
    # (1-based); its envelope slice widens by r_env on both sides, clipped
    # to the series — for r_env = length that degenerates to the global
    # min/max.
    t_cols = [F.col(id_col).alias("test_id")]
    for c in range(n_ch):
        chf = _chan(F.col(features_col), c)
        t_cols.append(F.element_at(chf, 1).alias(f"_q0_{c}"))
        t_cols.append(F.element_at(chf, length).alias(f"_ql_{c}"))
        for b in range(nseg):
            s_b = 2 + b * seg_w
            lo_pos = max(1, s_b - r_env)
            hi_pos = min(length, s_b + seg_w - 1 + r_env)
            sl = F.slice(chf, lo_pos, hi_pos - lo_pos + 1)
            t_cols.append(F.array_max(sl).alias(f"_u{b}_{c}"))
            t_cols.append(F.array_min(sl).alias(f"_l{b}_{c}"))
    t_sk = test.select(*t_cols)
    r_sk_cols = [F.col(id_col).alias("train_id")]
    for c in range(n_ch):
        chf = _chan(F.col(features_col), c)
        r_sk_cols.append(F.element_at(chf, 1).alias(f"_r0_{c}"))
        r_sk_cols.append(F.element_at(chf, length).alias(f"_rl_{c}"))
        if nseg:
            r_sk_cols.append(
                paa(F.slice(chf, 2, seg_w * nseg), nseg, seg_w * nseg).alias(f"_rp_{c}")
            )
    r_sk = train.select(*r_sk_cols)

    lb = None
    for c in range(n_ch):
        term = F.abs(F.col(f"_q0_{c}") - F.col(f"_r0_{c}")) + F.abs(
            F.col(f"_ql_{c}") - F.col(f"_rl_{c}")
        )
        lb = term if lb is None else lb + term
    if nseg:
        hinges = [
            F.greatest(
                F.lit(0.0),
                F.element_at(f"_rp_{c}", b + 1) - F.col(f"_u{b}_{c}"),
                F.col(f"_l{b}_{c}") - F.element_at(f"_rp_{c}", b + 1),
            )
            for c in range(n_ch)
            for b in range(nseg)
        ]
        hinge_sum = hinges[0]
        for h in hinges[1:]:
            hinge_sum = hinge_sum + h
        lb = lb + F.lit(float(seg_w)) * hinge_sum
    lbp = (
        t_sk.crossJoin(F.broadcast(r_sk) if strategy == "broadcast" else r_sk)
        .withColumn("_lb", lb)
        .select("test_id", "train_id", "_lb")
    )

    t_feat = test.select(F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf"))
    r_feat_cols = [F.col(id_col).alias("train_id"), F.col(features_col).alias("_rf")]
    if label_col is not None:
        r_feat_cols.append(F.col(label_col).alias("train_label"))
    r_feat = train.select(*r_feat_cols)

    def score(pairs_ids: DataFrame) -> DataFrame:
        scored = (
            pairs_ids.join(t_feat, "test_id")
            .join(r_feat, "train_id")
            .withColumn("_d", fn(F.col("_tf"), F.col("_rf")))
            .drop("_tf", "_rf")
        )
        if exclude_zero:
            scored = scored.filter(F.col("_d") != 0)
        return scored

    # sampled prune-rate gate (r8, VERDICT r7 #5): on structureless series
    # the envelope bound prunes ~nothing, and the prefilter's sketch pass
    # is a full extra scan for zero benefit. When the driver-side probe's
    # estimated prune rate is below min_prune_rate, bypass to brute force
    # (kernel strategy — bit-identical result, own chunked byte-guard).
    # Default min_prune_rate=0.0 keeps the prefilter unconditionally (the
    # oracle-proof queries must exercise it deterministically).
    if min_prune_rate > 0.0 and prune_probe > 0:
        import numpy as np

        from ..functions.dtw_kernel import dtw_batch, fastdtw_batch

        def dist_many(qf, feats):
            # probe candidates score through the compiled/prefix-scan
            # BATCH kernels (ADVICE r8): the per-pair Python DP loop cost
            # probe_n*C*O(L^2) single-threaded driver seconds at 561-pt
            # scale — more than the routing decision is worth. Shape
            # groups keep each call rectangular (ragged corpora).
            q = _probe_np(qf)
            arrs = [_probe_np(f) for f in feats]
            out = [0.0] * len(arrs)
            groups: dict = {}
            for i, a in enumerate(arrs):
                groups.setdefault(a.shape, []).append(i)
            for shape, idxs in groups.items():
                B = np.stack([arrs[i] for i in idxs])
                A = np.ascontiguousarray(
                    np.broadcast_to(q, (len(idxs),) + q.shape)
                )
                if band is not None:
                    dv = dtw_batch(A, B, band=band)
                elif metric == "dtw":
                    dv = dtw_batch(A, B)
                else:
                    dv = fastdtw_batch(A, B, radius=fastdtw_radius)
                for j, i in enumerate(idxs):
                    out[i] = float(dv[j])
            return out

        def lb_np(qf, feats):
            # numpy twin of the PAA-envelope LB above (1-based blocks over
            # the middle, envelope widened by r_env, clipped; per-channel
            # sums for nested rows) — router only, no bit-parity needed
            q = _probe_np(qf)
            if q.ndim == 1:
                q = q[:, None]
            q0, ql = q[0], q[length - 1]
            blocks = []
            for b_i in range(nseg):
                s_b = 2 + b_i * seg_w
                lo = max(1, s_b - r_env)
                hi = min(length, s_b + seg_w - 1 + r_env)
                sl = q[lo - 1 : hi]
                blocks.append((sl.max(axis=0), sl.min(axis=0)))
            out = []
            for f in feats:
                csr = _probe_np(f)
                if csr.ndim == 1:
                    csr = csr[:, None]
                lbv = float(np.abs(q0 - csr[0]).sum() + np.abs(ql - csr[length - 1]).sum())
                if nseg:
                    paa_b = csr[1 : 1 + seg_w * nseg].reshape(nseg, seg_w, -1).mean(axis=1)
                    hs = 0.0
                    for b_i, (ub, lo_b) in enumerate(blocks):
                        hs += float(
                            np.maximum(0.0, np.maximum(paa_b[b_i] - ub, lo_b - paa_b[b_i])).sum()
                        )
                    lbv += seg_w * hs
                out.append(lbv)
            return out

        est = _estimated_prune_rate(
            test, train, id_col=id_col, features_col=features_col,
            lb_np=lb_np, dist_many=dist_many, C=C, k=k, probe_n=prune_probe,
            exclude_zero=exclude_zero, len_hint=length * n_ch,
        )
        if est is not None and est < min_prune_rate:
            return _brute_fallback(
                test, train, metric=metric, k=k, id_col=id_col,
                features_col=features_col, label_col=label_col,
                exclude_zero=exclude_zero, band=band,
                fastdtw_radius=fastdtw_radius,
            )

    # phase 1+2: score the C most-promising pairs. cands/scored1 are O(C)
    # rows per test and feed two consumers each — cached (scope-managed)
    # so the kernel scores each candidate exactly once.
    cands = register_cache(
        topk_per_key(
            lbp, "test_id", [F.asc("_lb"), F.asc("train_id")], C, rank_col="_crank"
        )
        .select("test_id", "train_id")
        .cache()
    )
    scored1 = register_cache(score(cands).cache())

    # tau = k-th best scored distance per test (inf when fewer than k
    # survivors: then nothing can be pruned and phase 3 degenerates to
    # the remaining brute force — correctness never depends on C)
    thresh = register_cache(
        scored1.groupBy("test_id")
        .agg(F.sort_array(F.collect_list("_d")).alias("_ds"))
        .select(
            "test_id",
            F.when(F.size("_ds") >= k, F.element_at("_ds", k))
            .otherwise(F.lit(float("inf")))
            .alias("_tau"),
        )
        .cache()
    )
    # Eagerly land the three O(C)-row caches BEFORE the final job: left
    # lazy, the phase-3 plan holds cands/scored1/thresh as uncached
    # branches of ONE DAG and re-runs the expensive kernel per consumer
    # (measured 5x the end-to-end cost at 44k pairs). One tiny action
    # materializes all three transitively.
    thresh.count()

    # phase 3: any unscored pair the bound cannot rule out. LEFT join:
    # thresh only has rows for tests with >=1 scored phase-1 survivor —
    # with exclude_zero a test whose top-C candidates all score exactly 0
    # (duplicate-heavy corpora) has NO thresh row, and an inner join would
    # silently drop its every phase-3 pair (the test would emit no rows
    # where brute force returns its non-zero neighbors). Missing tau
    # coalesces to +inf => that test degrades to brute force. The filter
    # also carries a small relative slack: the envelope bound holds in
    # exact arithmetic, but the two folds computing LB and tau round —
    # without slack a true top-k pair sitting exactly at tau could be
    # wrongly pruned (ultra-rare). Extra survivors only cost verify time,
    # never correctness.
    tau_eff = F.coalesce(F.col("_tau"), F.lit(float("inf")))
    rest = (
        lbp.join(thresh, "test_id", "left")
        .filter(F.col("_lb") <= tau_eff * (1.0 + 1e-9) + 1e-12)
        .join(cands, ["test_id", "train_id"], "left_anti")
        .select("test_id", "train_id")
    )
    scored = scored1.unionByName(score(rest))

    order = [F.asc("_d")]
    if label_col is not None:
        order.append(F.asc("train_label"))
    order.append(F.asc("train_id"))
    topk = topk_per_key(scored, "test_id", order, k)
    out = [F.col("test_id"), F.col("train_id"), F.col("_d").alias("distance"), F.col("rank")]
    if label_col is not None:
        out.insert(2, F.col("train_label"))
    return topk.select(*out)


def knn_join_lb_metric(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: str = "twed",
    k: int = 5,
    candidates_per_test: Optional[int] = None,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: Optional[str] = "label",
    exclude_zero: bool = True,
    min_prune_rate: float = 0.0,
    prune_probe: int = 8,
    channels: Optional[int] = None,
) -> DataFrame:
    """EXACT pruned KNN for the elastic METRIC family (ERP / TWED / MSM)
    via the triangle-inequality anchor bound (r7 — the edit-family
    sibling of ``knn_join_lb``'s LB_Keogh envelope for DTW):

        d(a, b) >= | d(a, z) - d(b, z) |        for any fixed anchor z

    valid BECAUSE these three are true metrics (Chen & Ng 2004 for ERP;
    Marteau 2009 for TWED; Stefan, Athitsos & Das 2013 for MSM — the
    triangle inequality is also property-fuzzed in tests). The anchor
    reference d(x, z) is ONE linear fold per series, computed once per
    side: ERP against the empty series (d(x, {}) = sum |x_i - g|, the
    DP's own border column) and TWED/MSM against the one-point series
    z = [0]. The pair-level filter then moves only (id, scalar) — even
    cheaper than a PAA sketch — and the same three lossless phases as
    knn_join_lb run on top:

    1. candidates: scalar cross join -> |ref_a - ref_b| -> top-C per
       test by (LB, train_id);
    2. verify: the exact metric expression scores ONLY those C pairs;
       the k-th scored distance tau upper-bounds the true k-th;
    3. completeness: every unscored pair with LB <= tau is also scored
       (LB > tau provably cannot enter the top-k, ties included since
       the tie order starts with distance). Union + re-rank.

    Result is bit-identical to brute-force ``knn_join`` under the same
    metric and tie order (equality-tested; q195's oracle IS the brute
    TWED recursion). Pruning POWER is data-dependent: a single scalar
    bound is information-weak when anchor distances bunch (the global-
    envelope caveat, NOTES.md) — correctness never depends on it.
    LCSS/EDR are deliberately rejected: they violate the triangle
    inequality, so no anchor bound is admissible for them.
    """
    from ..caching import register_cache
    from ..functions.edit_distance import (
        ERP_GAP,
        make_erp_udf,
        make_msm_udf,
        make_twed_udf,
        msm_dist,
        multichannel,
        twed_dist,
    )

    if metric not in ("erp", "twed", "msm"):
        raise ValueError(
            "knn_join_lb_metric requires a TRUE metric: 'erp', 'twed' or "
            f"'msm' (LCSS/EDR have no triangle inequality), got {metric!r}"
        )
    nested = _check_channel_parity(
        test, train, features_col, channels, "knn_join_lb_metric"
    )
    # verify phase scores through the Arrow pair kernels (C route when a
    # compiler exists) — bit-identical to the Catalyst folds (test-pinned),
    # and the survivors of a weak bound can approach the full pair set, so
    # the scorer must run at kernel speed, not interpreted-HOF speed.
    # Multichannel input stacks to (P, L, C) inside the same kernels
    # (_grouped_pairs_udf -> _mc_dp), so fn needs no lifting here.
    fn = {"erp": make_erp_udf, "twed": make_twed_udf, "msm": make_msm_udf}[metric]()
    if nested:
        # r8: multichannel anchor refs. The independent-channel-sum lift
        # of a metric is a metric (q188's argument), so the anchor bound
        # holds for the SUMMED distance with ref(x) = sum_c d_c(x_c, z).
        # TWED/MSM: the mc lift against one all-zero timestep with x's own
        # channel count; ERP: d(x, {}) = sum over timesteps of per-channel
        # |v - g| sums (add order differs from channel-major by rounding
        # only — phase 3's relative slack absorbs that).
        if metric == "erp":
            ref = lambda x: F.aggregate(
                x,
                F.lit(0.0),
                lambda acc, t: acc
                + F.aggregate(
                    t, F.lit(0.0), lambda a2, v: a2 + F.abs(v - F.lit(float(ERP_GAP)))
                ),
            )
        else:
            mc = multichannel(twed_dist if metric == "twed" else msm_dist)
            ref = lambda x: mc(
                x, F.array(F.transform(F.element_at(x, 1), lambda _v: F.lit(0.0)))
            )
    else:
        anchor = F.array(F.lit(0.0))
        if metric == "erp":
            # d(x, {}) = sum |x_i - g| — the DP's own border column, exact
            ref = lambda x: F.aggregate(
                x, F.lit(0.0), lambda acc, v: acc + F.abs(v - F.lit(float(ERP_GAP)))
            )
        elif metric == "twed":
            ref = lambda x: twed_dist(x, anchor)
        else:
            ref = lambda x: msm_dist(x, anchor)

    C = max(candidates_per_test if candidates_per_test is not None else 4 * k, k)
    t_sk = test.select(
        F.col(id_col).alias("test_id"), ref(F.col(features_col)).alias("_ta")
    )
    r_sk = train.select(
        F.col(id_col).alias("train_id"), ref(F.col(features_col)).alias("_ra")
    )
    lbp = (
        t_sk.crossJoin(F.broadcast(r_sk) if strategy == "broadcast" else r_sk)
        .withColumn("_lb", F.abs(F.col("_ta") - F.col("_ra")))
        .select("test_id", "train_id", "_lb")
    )

    t_feat = test.select(F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf"))
    r_feat_cols = [F.col(id_col).alias("train_id"), F.col(features_col).alias("_rf")]
    if label_col is not None:
        r_feat_cols.append(F.col(label_col).alias("train_label"))
    r_feat = train.select(*r_feat_cols)

    def score(pairs_ids: DataFrame) -> DataFrame:
        scored = (
            pairs_ids.join(t_feat, "test_id")
            .join(r_feat, "train_id")
            .withColumn("_d", fn(F.col("_tf"), F.col("_rf")))
            .drop("_tf", "_rf")
        )
        if exclude_zero:
            scored = scored.filter(F.col("_d") != 0)
        return scored

    # sampled prune-rate gate (r8, VERDICT r7 #5): the scalar anchor bound
    # is information-weak when anchor distances bunch — probe driver-side
    # first, bypass to brute force when the bound won't pay (see
    # knn_join_lb's twin and _estimated_prune_rate's rationale).
    if min_prune_rate > 0.0 and prune_probe > 0:
        import numpy as np

        from ..functions.edit_distance import erp_batch, msm_batch, twed_batch

        pair_np = {"erp": erp_batch, "twed": twed_batch, "msm": msm_batch}[metric]

        def dist_many(qf, feats):
            # one batch-kernel call per candidate shape group (ADVICE r8
            # twin of knn_join_lb's dist_many) — the edit kernels take
            # (bs, n) x (bs, m) with n, m fixed per call
            q = _probe_np(qf)
            arrs = [_probe_np(f) for f in feats]
            out = [0.0] * len(arrs)
            groups: dict = {}
            for i, a in enumerate(arrs):
                groups.setdefault(a.shape, []).append(i)
            for shape, idxs in groups.items():
                B = np.stack([arrs[i] for i in idxs])
                A = np.ascontiguousarray(
                    np.broadcast_to(q, (len(idxs),) + q.shape)
                )
                dv = pair_np(A, B)
                for j, i in enumerate(idxs):
                    out[i] = float(dv[j])
            return out

        if metric == "erp":
            ref_np = lambda x: float(np.abs(_probe_np(x) - float(ERP_GAP)).sum())
        else:

            def ref_np(x):
                arr = _probe_np(x)
                # anchor = one all-zero timestep, matching channel count
                z = np.zeros((1, 1) if arr.ndim == 1 else (1, 1, arr.shape[1]))
                return float(pair_np(arr[None], z)[0])

        # anchor refs of the (fixed) train sample: computed ONCE via the
        # batch kernels, not per probed query per feat (probe_n redundant
        # O(L) DP sweeps each — ADVICE r8's kernel-speed-probe theme)
        _ref_memo: dict = {}

        def refs_many(feats):
            key = id(feats)
            if key in _ref_memo:
                return _ref_memo[key]
            arrs = [_probe_np(f) for f in feats]
            out = [0.0] * len(arrs)
            if metric == "erp":
                out = [float(np.abs(a - float(ERP_GAP)).sum()) for a in arrs]
            else:
                groups: dict = {}
                for i, a in enumerate(arrs):
                    groups.setdefault(a.shape, []).append(i)
                for shape, idxs in groups.items():
                    A = np.stack([arrs[i] for i in idxs])
                    z = np.zeros(
                        (len(idxs), 1) if A.ndim == 2 else (len(idxs), 1, A.shape[2])
                    )
                    dv = pair_np(A, z)
                    for j, i in enumerate(idxs):
                        out[i] = float(dv[j])
            _ref_memo[key] = out
            return out

        def lb_np(qf, feats):
            rq = ref_np(qf)
            return [abs(rq - r) for r in refs_many(feats)]

        est = _estimated_prune_rate(
            test, train, id_col=id_col, features_col=features_col,
            lb_np=lb_np, dist_many=dist_many, C=C, k=k, probe_n=prune_probe,
            exclude_zero=exclude_zero,
        )
        if est is not None and est < min_prune_rate:
            return _brute_fallback(
                test, train, metric=metric, k=k, id_col=id_col,
                features_col=features_col, label_col=label_col,
                exclude_zero=exclude_zero,
            )

    cands = register_cache(
        topk_per_key(
            lbp, "test_id", [F.asc("_lb"), F.asc("train_id")], C, rank_col="_crank"
        )
        .select("test_id", "train_id")
        .cache()
    )
    scored1 = register_cache(score(cands).cache())
    thresh = register_cache(
        scored1.groupBy("test_id")
        .agg(F.sort_array(F.collect_list("_d")).alias("_ds"))
        .select(
            "test_id",
            F.when(F.size("_ds") >= k, F.element_at("_ds", k))
            .otherwise(F.lit(float("inf")))
            .alias("_tau"),
        )
        .cache()
    )
    # land the O(C)-row caches before the final job (the knn_join_lb fix:
    # lazy, the phase-3 DAG re-runs the expensive scoring per consumer)
    thresh.count()
    # LEFT join + coalesce-to-inf and relative slack: same dropout/rounding
    # hazards (and fixes) as knn_join_lb phase 3 — a test whose scored
    # survivors were all excluded as zeros must degrade to brute force, not
    # vanish; float rounding in the anchor folds must not prune a pair
    # sitting exactly at tau.
    tau_eff = F.coalesce(F.col("_tau"), F.lit(float("inf")))
    rest = (
        lbp.join(thresh, "test_id", "left")
        .filter(F.col("_lb") <= tau_eff * (1.0 + 1e-9) + 1e-12)
        .join(cands, ["test_id", "train_id"], "left_anti")
        .select("test_id", "train_id")
    )
    scored = scored1.unionByName(score(rest))
    order = [F.asc("_d")]
    if label_col is not None:
        order.append(F.asc("train_label"))
    order.append(F.asc("train_id"))
    topk = topk_per_key(scored, "test_id", order, k)
    out = [F.col("test_id"), F.col("train_id"), F.col("_d").alias("distance"), F.col("rank")]
    if label_col is not None:
        out.insert(2, F.col("train_label"))
    return topk.select(*out)


def knn_classify(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "euclidean",
    k: int = 5,
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
) -> DataFrame:
    """Full reference pipeline: similarity join -> top-k -> majority vote.

    Output: (test_id, predicted_label).
    """
    neighbors = knn_join(
        test,
        train,
        metric=metric,
        k=k,
        strategy=strategy,
        id_col=id_col,
        features_col=features_col,
        label_col=label_col,
        exclude_zero=exclude_zero,
        band=band,
        fastdtw_radius=fastdtw_radius,
    )
    return majority_vote(neighbors, key="test_id", label="train_label", rank="rank")


def knn_predict_1nn(
    test: DataFrame,
    train: DataFrame,
    *,
    metric: MetricT = "euclidean",
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
) -> DataFrame:
    """Model-2 fast path (SURVEY.md §2.4 A6): k=1 via min_by aggregate — a
    partial/final aggregate (map-side combine), no window at all.

    Reference: ``reduceByKey(lambda a, b: a if a[0] < b[0] else b)``
    (Team11-Project.py:546), made deterministic by tie-breaking on
    (distance, train_label, train_id).

    Output: (test_id, predicted_label, distance).
    """
    if strategy not in ("broadcast", "shuffle"):
        # the min_by aggregate IS the fast path here — there is no kernel/
        # chunked variant; reject silently-ignored strategies (a "kernel"
        # caller would get an unhinted cross join without noticing)
        raise ValueError(
            f"knn_predict_1nn supports strategy 'broadcast' or 'shuffle', got {strategy!r}"
        )
    fn, rank_squared = _resolve_metric(metric, band, fastdtw_radius)
    fn = _maybe_multichannel(fn, metric, test, train, features_col)
    t = test.select(F.col(id_col).alias("test_id"), F.col(features_col).alias("_tf"))
    r = train.select(
        F.col(id_col).alias("train_id"),
        F.col(features_col).alias("_rf"),
        F.col(label_col).alias("train_label"),
    )
    pairs = t.crossJoin(F.broadcast(r) if strategy == "broadcast" else r)
    dist = sq_euclidean(F.col("_tf"), F.col("_rf")) if rank_squared else fn(
        F.col("_tf"), F.col("_rf")
    )
    pairs = pairs.withColumn("_d", dist)
    if exclude_zero:
        pairs = pairs.filter(F.col("_d") != 0)
    agg = pairs.groupBy("test_id").agg(
        F.min_by(
            F.struct("train_label", "_d"), F.struct("_d", "train_label", "train_id")
        ).alias("_best")
    )
    distance = F.col("_best._d")
    if rank_squared:
        distance = F.sqrt(distance)
    return agg.select(
        "test_id",
        F.col("_best.train_label").alias("predicted_label"),
        distance.alias("distance"),
    )


def knn_lof(
    df: DataFrame,
    *,
    k: int = 5,
    metric: MetricT = "euclidean",
    strategy: str = "broadcast",
    id_col: str = "series_id",
    features_col: str = "features",
    exclude_zero: bool = True,
    band: Optional[int] = None,
    fastdtw_radius: int = 1,
    max_broadcast_bytes: int = 512 << 20,
) -> DataFrame:
    """Local Outlier Factor (Breunig et al., SIGMOD 2000) over an
    all-vs-all KNN self-join — density-relative anomaly scores where a
    global distance threshold fails (a point is an outlier relative to
    ITS OWN neighborhood's density):

        kdist(p)       = distance to p's FARTHEST retained neighbor
        reach(p, o)    = max(kdist(o), d(p, o))
        lrd(p)         = |N(p)| / sum_{o in N(p)} reach(p, o)
        LOF(p)         = (sum_{o in N(p)} lrd(o) / |N(p)|) / lrd(p)

    N(p) is the deterministic rank-1..k set under the engine's total tie
    order (distance, id) — the "exactly k neighbors" sklearn variant,
    not the <=k-distance ball — identical on any engine given the same
    ranking. |N(p)| is p's ACTUAL neighbor count: under the default
    ``exclude_zero`` (the engine's P7 self-match rule, which also drops
    exact-duplicate pairs) a point with duplicates can retain FEWER than
    k neighbors, and using its real count keeps every such point in the
    output with a well-defined score (r6 review fix: the earlier
    rank==k formulation silently dropped those points AND shortened
    their neighbors' reach sums while still dividing by k — a planted
    far outlier scored < 1 on a corpus with one duplicate pair). Points
    with ZERO retained neighbors (only duplicates of themselves in the
    corpus) still drop — no neighborhood, no density. With
    exclude_zero=False, duplicate points get reach sums of 0 and inf
    lrds (the textbook duplicate pathology).

    Output: (id_col, kdist, lrd, lof) — raw doubles, bit-exact across
    engines UNDER THE DEFAULT broadcast/shuffle strategies: every float
    sum folds over the RANK-SORTED neighbor list (never an unordered
    groupBy float sum) and all other ops are single correctly-rounded
    IEEE ops (sqrt/max/divide). strategy='kernel'/'chunked' return the
    same neighbor sets ~2x faster, but their numpy pairwise summation
    reassociates the distance folds, so kdist/lrd/lof can move in the
    last ulps — use the default when hash-exact output matters.

    Scale: one knn_join (any strategy incl. kernel/chunked) + two
    id-keyed equi-joins on k-row-per-id tables + two bounded-array folds
    — nothing quadratic beyond the KNN itself.
    """
    from ..caching import register_cache

    # The ranked-neighbor table feeds THREE consumers (kdist max, the
    # reach-dist join, the neighbors'-lrd join); uncached, each one
    # re-runs the all-vs-all KNN join — the whole cost of the operator,
    # three times over (the shapelet_stump cache-once pattern, VERDICT
    # r6 #2). Cached it is k rows per id — tiny next to the pair volume
    # it replaces. register_cache: LRU-evictable outside a cache_scope.
    nn = register_cache(
        knn_join(
            df,
            df,
            metric=metric,
            k=k,
            strategy=strategy,
            id_col=id_col,
            features_col=features_col,
            label_col=None,
            exclude_zero=exclude_zero,
            band=band,
            fastdtw_radius=fastdtw_radius,
            max_broadcast_bytes=max_broadcast_bytes,
        )
        .select("test_id", "train_id", "rank", "distance")
        .cache()
    )
    # kdist = the farthest RETAINED neighbor (exact max), n_nb = the
    # actual neighborhood size — both defined for every point with >= 1
    # retained neighbor, so duplicates never silently vanish
    kd = nn.groupBy(F.col("test_id").alias("_oid")).agg(
        F.max("distance").alias("kdist")
    )
    # reach-dist toward each neighbor o uses o's OWN k-distance
    reach = nn.join(kd, nn.train_id == kd._oid).select(
        "test_id",
        "rank",
        F.greatest(F.col("kdist"), F.col("distance")).alias("_rd"),
    )

    def _rank_fold(col_r: str, col_v: str, values: DataFrame, key: str):
        g = values.groupBy(key).agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(col_r).alias("r"), F.col(col_v).alias("v")))
            ).alias("_nb")
        )
        return g.select(
            F.col(key),
            F.aggregate(F.col("_nb"), F.lit(0.0), lambda a, x: a + x["v"]).alias("_s"),
            F.size("_nb").cast("double").alias("_cnt"),
        )

    # lrd also has two consumers (the neighbors'-lrd join and the final
    # assembly join); 1 row per id, so caching it costs nothing and
    # saves re-running the reach join + fold.
    lrd = register_cache(
        _rank_fold("rank", "_rd", reach, "test_id")
        .select(
            F.col("test_id").alias("_lid"),
            (F.col("_cnt") / F.col("_s")).alias("lrd"),
        )
        .cache()
    )
    # each point's neighbors' lrds, rank-ordered
    nbl = nn.join(lrd, nn.train_id == lrd._lid).select("test_id", "rank", F.col("lrd").alias("_lo"))
    slo = _rank_fold("rank", "_lo", nbl, "test_id")
    out = (
        slo.join(lrd, slo.test_id == lrd._lid)
        .join(kd, slo.test_id == kd._oid)
        .select(
            F.col("test_id").alias(id_col),
            F.col("kdist"),
            F.col("lrd"),
            ((F.col("_s") / F.col("_cnt")) / F.col("lrd")).alias("lof"),
        )
    )
    return out


def knn_impute(
    df: DataFrame,
    *,
    k: int = 3,
    id_col: str = "series_id",
    features_col: str = "features",
) -> DataFrame:
    """KNN imputation over series with missing (NULL) points (r6): each
    missing position is filled with the mean of its k nearest DONOR
    series' values there — the classic co-observation KNN imputer
    (Troyanskaya et al. 2001, KNNimpute), the data-cleaning primitive a
    real telemetry corpus needs before any fixed-length operator.

    Distance = mean squared difference over CO-OBSERVED positions only
    (sum of per-position squared diffs where both sides are non-NULL,
    divided by the observed count — one exact division; pairs with no
    overlap drop out). Donors ranked (msd ASC, donor_id ASC), self
    excluded BY ID (a zero distance from an identical donor is still a
    legitimate donor). At each missing position, donors that are ALSO
    NULL there are filtered BEFORE the rank-ordered mean fold, so the
    fold is deterministic and a donor shortage degrades gracefully
    (n_donors < k); positions no donor observed stay NULL.

    Output: one row per MISSING position — (id_col, t, n_donors,
    imputed). Raw doubles, engine-exact (filtered ascending folds, exact
    divisions). Scale: one broadcast cross join pre-capped by the rank
    window (the KNN pair volume), one posexplode of missing positions,
    one bounded k-row fold per position.
    """
    a = df.select(F.col(id_col).alias("_aid"), F.col(features_col).alias("_af"))
    b = df.select(F.col(id_col).alias("_bid"), F.col(features_col).alias("_bf"))
    diffs = F.zip_with(
        F.col("_af"),
        F.col("_bf"),
        lambda x, y: F.when(x.isNotNull() & y.isNotNull(), (x - y) * (x - y)),
    )
    obs = F.filter(diffs, lambda v: v.isNotNull())
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("_aid") != F.col("_bid"))
        .select(
            "_aid",
            "_bid",
            "_bf",
            F.size(obs).alias("_nobs"),
            F.aggregate(obs, F.lit(0.0), lambda acc, v: acc + v).alias("_s"),
        )
        .filter(F.col("_nobs") >= 1)
        .withColumn("_msd", F.col("_s") / F.col("_nobs").cast("double"))
    )
    w = Window.partitionBy("_aid").orderBy(F.asc("_msd"), F.asc("_bid"))
    topk = (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("_aid", "_rk", "_bf")
    )
    missing = (
        a.select("_aid", F.posexplode("_af").alias("_pos", "_val"))
        .filter(F.col("_val").isNull())
        .select("_aid", (F.col("_pos") + 1).cast("int").alias("t"))
    )
    dv = missing.join(topk, "_aid").select(
        "_aid",
        "t",
        "_rk",
        F.element_at(F.col("_bf"), F.col("t")).alias("_dv"),
    ).filter(F.col("_dv").isNotNull())
    g = dv.groupBy("_aid", "t").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_rk").alias("r"), F.col("_dv").alias("v")))
        ).alias("_nb")
    )
    filled = g.select(
        F.col("_aid"),
        F.col("t"),
        F.size("_nb").cast("bigint").alias("n_donors"),
        (
            F.aggregate(F.col("_nb"), F.lit(0.0), lambda acc, x: acc + x["v"])
            / F.size("_nb").cast("double")
        ).alias("imputed"),
    )
    # keep positions NO donor observed (all-k NULL there): left join back
    out = missing.join(filled, ["_aid", "t"], "left").select(
        F.col("_aid").alias(id_col),
        "t",
        F.coalesce(F.col("n_donors"), F.lit(0).cast("bigint")).alias("n_donors"),
        F.col("imputed"),
    )
    return out
