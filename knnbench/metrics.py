"""Turn one run's measurements into the named metrics of BENCHMARK.json.

End-to-end metrics come from an untraced closed loop; per-layer metrics from
the traced loop, the set-up repetitions and the Spark-free kernel probe. The
layer table in ``knnbench/README.md`` says which end-to-end metric each
per-layer metric should move, and on which workload.
"""

from __future__ import annotations

import statistics

from .trace import GroupStats, union_ms
from .workloads import Workload

_SUMMED = (
    "run_ms", "cpu_ns", "gc_ms", "shuffle_bytes", "shuffle_records", "shuffle_write_ns",
    "fetch_wait_ms", "python_run_ms", "python_start_ms", "bytes_to_python",
    "bytes_from_python", "broadcast_bytes",
)


def _named(m: "dict[str, tuple[float, str]]") -> dict:
    return {name: {"value": float(v), "unit": unit} for name, (v, unit) in m.items()}


def end_to_end(
    wl: Workload,
    setup_totals: "list[float]",
    lat: "list[float]",
    accuracy: float,
) -> dict:
    """``lat``: per-query seconds of the untraced closed loop. A run has too
    few queries for any percentile above the median, and with one client
    the pair rate is the pairs of one query over the median latency."""
    p50 = statistics.median(lat)
    return _named(
        {
            "setup_s": (statistics.median(setup_totals), "s"),
            "latency_ms_p50": (1000.0 * p50, "ms"),
            "pairs_per_s": (wl.pairs_per_query / p50, "1/s"),
            "accuracy": (accuracy, "ratio"),
        }
    )


def per_layer(
    wl: Workload,
    setup: "dict[str, list[float]]",
    compile_s: float,
    probe: "tuple[float, float]",
    groups: "dict[str, GroupStats]",
    lat: "list[float]",
    spans_ms: "list[tuple[float, float]]",
    counts: "list[tuple[int, int, int]]",
    vote_s: float,
    evaluate_s: float,
    untraced_lat: "list[float]",
    rss_mb: float,
) -> dict:
    """Per-query figures of the traced loop (query i ran job groups
    ``knn.route.i`` and ``knn.exec.i``; ``spans_ms`` are its wall-clock
    bounds and ``counts`` its status-tracker (jobs, stages, tasks))."""
    nq = len(lat)
    tot = GroupStats()
    driver_s = []
    for i in range(nq):
        qs = [groups.get(f"knn.{part}.{i}", GroupStats()) for part in ("route", "exec")]
        for g in qs:
            for f in _SUMMED:
                setattr(tot, f, getattr(tot, f) + getattr(g, f))
        w0, w1 = spans_ms[i]
        in_jobs = union_ms([s for g in qs for s in g.spans_ms])
        driver_s.append(max(0.0, (w1 - w0) - in_jobs) / 1000.0)

    def per_q(v: float) -> float:
        return v / nq

    pairs = wl.pairs_per_query
    run_s = per_q(tot.run_ms) / 1000.0
    py_run_s = per_q(tot.python_run_ms) / 1000.0
    kernel_pps, cells = probe
    input_bytes = (wl.batch + wl.n_train) * wl.length * 8
    return _named(
        {
            "session.start_s": (statistics.median(setup["session"]), "s"),
            "sources.parse_s": (statistics.median(setup["parse"]), "s"),
            "kernel.compile_s": (compile_s, "s"),
            "warmup_s": (statistics.median(setup["warmup"]), "s"),
            "kernel.pairs_per_s": (kernel_pps, "1/s"),
            "kernel.dp_cells": (cells, "count"),
            "kernel.s_per_query": (pairs / kernel_pps if kernel_pps else 0.0, "s"),
            "python.run_s": (py_run_s, "s"),
            "python.start_s": (per_q(tot.python_start_ms) / 1000.0, "s"),
            "arrow.bytes_to_python": (per_q(tot.bytes_to_python), "B"),
            "arrow.bytes_from_python": (per_q(tot.bytes_from_python), "B"),
            "python.share": (py_run_s / run_s if run_s else 0.0, "ratio"),
            "executor.run_s": (run_s, "s"),
            "executor.cpu_s": (per_q(tot.cpu_ns) / 1e9, "s"),
            "executor.gc_s": (per_q(tot.gc_ms) / 1000.0, "s"),
            "shuffle.bytes_written": (per_q(tot.shuffle_bytes), "B"),
            "shuffle.records_written": (per_q(tot.shuffle_records), "count"),
            "shuffle.write_s": (per_q(tot.shuffle_write_ns) / 1e9, "s"),
            "shuffle.fetch_wait_s": (per_q(tot.fetch_wait_ms) / 1000.0, "s"),
            "grid.replication": (per_q(tot.shuffle_bytes) / input_bytes, "ratio"),
            "knn.jobs_per_query": (statistics.mean(c[0] for c in counts), "count"),
            "knn.stages_per_query": (statistics.mean(c[1] for c in counts), "count"),
            "knn.tasks_per_query": (statistics.mean(c[2] for c in counts), "count"),
            "knn.driver_s": (statistics.median(driver_s), "s"),
            "knn.broadcast_bytes_per_query": (per_q(tot.broadcast_bytes), "B"),
            "knn.rows_out_per_pair": (per_q(tot.shuffle_records) / pairs, "ratio"),
            "vote.s": (vote_s, "s"),
            "evaluate.s": (evaluate_s, "s"),
            "tracing.overhead": (statistics.median(lat) / statistics.median(untraced_lat), "ratio"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
    )


def dp_cells_per_pair(wl: Workload) -> int:
    """Cells one pair's distance computes: L for Euclidean, and for FastDTW
    (radius 1) the full coarsest grid plus a (4(r+1)+2)-wide window per row
    on every finer level -- the engine's own per-pair cost model."""
    L = wl.length
    if wl.metric == "euclidean":
        return L
    r = 1
    sizes = [L]
    while sizes[-1] >= r + 2:
        sizes.append(sizes[-1] // 2)
    return sizes[-1] ** 2 + sum(n * min(n, 4 * (r + 1) + 2) for n in sizes[:-1])
