#!/usr/bin/env python3
"""Spark-free DTW kernel microbenchmark: single-thread pairs/s.

Times one kernel call over a batch of seeded warped-sine pairs, five times,
and reports the median pairs/s for:

- ``fastdtw_batch`` (radius 1) on the compiled route (``dtw_c``, one call
  runs the whole FastDTW pyramid per pair);
- ``fastdtw_batch`` on the numpy route (``TSKNN_DTW_NO_CC=1``);
- ``dtw_batch`` with a Sakoe-Chiba band of 10 (compiled when available).

Shapes: 600 pairs of 561 points (the HAR query: one test row against a
600-row train matrix) and 2000 pairs of 64 points.

Usage: python tools/kernel_bench.py   (prints one JSON line)
"""

from __future__ import annotations

import os

# one thread: the number is per-core kernel speed, not BLAS fan-out
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import json  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

import numpy as np  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import (  # noqa: E402
    dtw_c,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (  # noqa: E402
    dtw_batch,
    fastdtw_batch,
)

REPS = 5
SHAPES = ((600, 561), (2000, 64))
SEED = 7


def warped_pairs(pairs: int, length: int, seed: int = SEED) -> "tuple[np.ndarray, np.ndarray]":
    """Noisy 5-cycle sines, each on its own monotone time warp."""
    rng = np.random.default_rng(seed)
    t = np.linspace(0.0, 1.0, length)
    w = rng.uniform(-0.9, 0.9, (2 * pairs, 1)) / np.pi
    X = np.sin(2 * np.pi * 5 * (t + w * np.sin(np.pi * t)))
    X += rng.normal(0.0, 0.3, X.shape)
    return X[:pairs], X[pairs:]


def median_pairs_per_s(fn, A: np.ndarray, B: np.ndarray) -> float:
    rates = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn(A, B)
        rates.append(len(A) / (time.perf_counter() - t0))
    return round(statistics.median(rates), 1)


def numpy_route(fn):
    def run(A, B):
        os.environ["TSKNN_DTW_NO_CC"] = "1"
        try:
            return fn(A, B)
        finally:
            del os.environ["TSKNN_DTW_NO_CC"]

    return run


def main() -> None:
    os.environ.pop("TSKNN_DTW_NO_CC", None)
    compiled = dtw_c.available()  # compile outside the timed calls
    fastdtw = lambda A, B: fastdtw_batch(A, B, radius=1)  # noqa: E731
    banded = lambda A, B: dtw_batch(A, B, band=10)  # noqa: E731
    out: dict = {"compiled": compiled, "reps": REPS, "threads": 1}
    for pairs, length in SHAPES:
        A, B = warped_pairs(pairs, length)
        tag = f"{pairs}x{length}"
        if compiled:
            out[f"fastdtw_c_{tag}"] = median_pairs_per_s(fastdtw, A, B)
        out[f"fastdtw_numpy_{tag}"] = median_pairs_per_s(numpy_route(fastdtw), A, B)
        out[f"dtw_band10_{tag}"] = median_pairs_per_s(banded, A, B)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
