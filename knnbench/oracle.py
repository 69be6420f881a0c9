"""Correctness gate: the engine's predictions against an independent brute force.

Euclidean workloads recompute every prediction with numpy. FastDTW workloads
check sampled test rows against the per-pair reference
``dtw_kernel.fastdtw_pair``, which is far too slow for a full brute force at
561 points (about 0.1 s a pair). Each sampled row's k neighbours must carry
their reference distances in (distance, label, id) order, and no other train
row may rank ahead of the k-th. Exact DTW is a lower bound on FastDTW (FastDTW
searches a window of the same grid), so one exact-DTW pass over the whole
train side clears every row whose bound already lies beyond the k-th
neighbour; only the rest need the per-pair reference. The check is complete
for the sampled rows. Their prediction must be the vote of those neighbours.

A query fails when it returns the wrong set of test ids or any checked
prediction differs from the oracle's.
"""

from __future__ import annotations

import math
import multiprocessing
from concurrent.futures import ProcessPoolExecutor
from typing import Iterable, Optional

import numpy as np

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import (
    dtw_kernel,
)

from .gen import Split

_REL_TOL = 1e-9
_ABS_TOL = 1e-12
_EUCLID_CHUNK = 64  # test rows per numpy distance block


def vote(labels_by_rank: Iterable[float]) -> float:
    """Majority vote with the engine's tie order: most votes, then the label
    holding the nearest neighbour, then the smaller label."""
    counts: dict = {}
    best: dict = {}
    for r, lab in enumerate(labels_by_rank):
        counts[lab] = counts.get(lab, 0) + 1
        best.setdefault(lab, r)
    return min(counts, key=lambda lab: (-counts[lab], best[lab], lab))


def _sq_euclid(Q: np.ndarray, R: np.ndarray) -> np.ndarray:
    # left fold over dimensions in index order, as the SQL expression sums
    D = np.zeros((len(Q), len(R)))
    for j in range(Q.shape[1]):
        diff = Q[:, j, None] - R[None, :, j]
        D += diff * diff
    return D


def euclid_predictions(train: Split, test: Split, k: int) -> "dict[int, float]":
    """test id -> predicted label, by brute force over the whole train side."""
    out = {}
    for c0 in range(0, len(test.ids), _EUCLID_CHUNK):
        D = _sq_euclid(test.X[c0 : c0 + _EUCLID_CHUNK], train.X)
        for i, d in enumerate(D):
            keep = d != 0  # the engine never votes exact-zero (duplicate) pairs
            order = np.lexsort((train.ids[keep], train.labels[keep], d[keep]))[:k]
            out[int(test.ids[c0 + i])] = vote(train.labels[keep][order])
    return out


def spawn_pool(workers: int) -> ProcessPoolExecutor:
    """A pool of spawned processes for the reference kernels (the functions
    it runs must be module-level, so they pickle)."""
    return ProcessPoolExecutor(max_workers=workers, mp_context=multiprocessing.get_context("spawn"))


def exact_dtw_row(x: np.ndarray, R: np.ndarray) -> np.ndarray:
    """Exact, unconstrained DTW from ``x`` to every row of ``R``."""
    return dtw_kernel.dtw_batch(np.ascontiguousarray(np.broadcast_to(x, R.shape)), R)


def fastdtw_ref(a: np.ndarray, b: np.ndarray) -> float:
    """The per-pair reference FastDTW at the workloads' radius."""
    return dtw_kernel.fastdtw_pair(a, b, radius=1)


def _behind(lower: float, kth: float) -> bool:
    return lower > kth * (1 + _REL_TOL) + _ABS_TOL


def unresolved(
    neighbours: "list[tuple[int, float, float, int]]", lower: np.ndarray
) -> "list[int]":
    """Train ids whose reference distance the check needs: the engine's
    neighbours, and every row whose lower bound (``lower``, by train id) does
    not already put it behind the k-th neighbour's distance."""
    kth = max((n[2] for n in neighbours), default=-np.inf)
    ids = {tid for tid, _, _, _ in neighbours if 0 <= tid < len(lower)}
    ids.update(j for j in range(len(lower)) if not _behind(float(lower[j]), kth))
    return sorted(ids)


def check_neighbours(
    neighbours: "list[tuple[int, float, float, int]]",
    train: Split,
    ref: "dict[int, float]",
    k: int,
) -> Optional[str]:
    """None when one test row's neighbour list agrees with the reference.

    ``neighbours``: the engine's (train_id, train_label, distance, rank) rows
    for the test series; ``ref``: reference distance from the test series to
    each train id in ``neighbours`` and to every other train row that could
    rank ahead of the k-th neighbour (the rest must be cleared beforehand).
    Returns a message naming the first disagreement."""
    neighbours = sorted(neighbours, key=lambda n: n[3])
    if [n[3] for n in neighbours] != list(range(1, min(k, len(train.ids)) + 1)):
        return f"ranks {[n[3] for n in neighbours]}"
    keys = []
    for tid, lab, dist, _ in neighbours:
        if not 0 <= tid < len(train.ids) or train.labels[tid] != lab:
            return f"train row {tid} label {lab}"
        d = ref[tid]
        if not math.isclose(d, dist, rel_tol=_REL_TOL, abs_tol=_ABS_TOL):
            return f"train row {tid}: distance {dist} != reference {d}"
        keys.append((d, lab, tid))
    if keys != sorted(keys) or any(key[0] == 0 for key in keys):
        return f"neighbour order {keys}"
    chosen = {key[2] for key in keys}
    for tid, d in ref.items():
        if tid not in chosen and d != 0 and (d, float(train.labels[tid]), tid) < keys[-1]:
            return f"train row {tid} at {d} beats the k-th neighbour {keys[-1]}"
    return None


def failed_queries(
    results: "list[tuple[int, list[tuple[int, float]]]]",
    batch_ids: "list[set[int]]",
    expected: "dict[int, Optional[float]]",
) -> "list[bool]":
    """One flag per query. ``results``: (batch index, [(test_id,
    predicted_label)]) per query; ``expected``: oracle label per checked
    test id, or None for a row whose neighbour check failed."""
    flags = []
    for b, rows in results:
        got = dict(rows)
        bad = len(got) != len(rows) or set(got) != batch_ids[b]
        for tid, lab in got.items():
            if tid in expected and (expected[tid] is None or lab != expected[tid]):
                bad = True
        flags.append(bad)
    return flags
