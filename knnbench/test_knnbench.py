"""Tests of the benchmark's own code (no Spark session needed):

    python3 -m pytest knnbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from knnbench import gen, metrics, oracle
from knnbench.trace import GroupStats, group_stats, union_ms
from knnbench.workloads import K, WORKLOADS

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _dtw_kernel():
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import (
        dtw_kernel,
    )

    return dtw_kernel


def test_generator_is_deterministic_per_seed():
    a_tr, a_te = gen.generate(7, 30, 12, 64)
    b_tr, b_te = gen.generate(7, 30, 12, 64)
    for a, b in ((a_tr, b_tr), (a_te, b_te)):
        assert a.lines == b.lines
        np.testing.assert_array_equal(a.ids, b.ids)
        np.testing.assert_array_equal(a.labels, b.labels)
        np.testing.assert_array_equal(a.X, b.X)
    c_tr, _ = gen.generate(8, 30, 12, 64)
    assert c_tr.lines != a_tr.lines


def test_generator_emits_messy_reference_text():
    train, test = gen.generate(3, 400, 60, 24)
    assert sorted(set(train.labels)) == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    np.testing.assert_array_equal(train.ids, np.arange(400))
    np.testing.assert_array_equal(test.ids, np.arange(400, 460))
    assert any("  " in s or s != s.strip() for s in train.lines)
    for line, row in zip(train.lines, train.X):
        assert len(row) == 24
        np.testing.assert_array_equal(gen.parse_line(line), row)


def _knn_accuracy(train, test, dist):
    hits = 0
    for x, y in zip(test.X, test.labels):
        d = dist(np.ascontiguousarray(np.broadcast_to(x, train.X.shape)), train.X)
        order = np.lexsort((train.ids, train.labels, d))[:K]
        hits += oracle.vote(train.labels[order]) == y
    return hits / len(test.ids)


@pytest.mark.parametrize("wl", list(WORKLOADS.values()), ids=list(WORKLOADS))
@pytest.mark.parametrize("seed", [0, 1])
def test_fastdtw_beats_euclidean_at_each_workloads_length(wl, seed):
    fastdtw_batch = _dtw_kernel().fastdtw_batch
    train, test = gen.generate(seed, 180, 60, wl.length)
    euclid = _knn_accuracy(train, test, lambda A, B: ((A - B) ** 2).sum(axis=1))
    fastdtw = _knn_accuracy(train, test, lambda A, B: fastdtw_batch(A, B, radius=1))
    assert euclid < 0.9 and fastdtw > euclid + 0.1, (euclid, fastdtw)


def test_emitted_names_match_benchmark_json():
    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for wl in WORKLOADS.values():
        e2e = metrics.end_to_end(wl, [1.0, 2.0, 3.0], [0.5, 0.7], 0.9)
        layer = metrics.per_layer(
            wl, {"session": [1.0], "parse": [1.0], "warmup": [1.0]}, 0.1, (5.0, 9.0),
            {"knn.exec.0": GroupStats(run_ms=10, python_run_ms=5)}, [0.5], [(0.0, 500.0)],
            [(3, 3, 9)], 0.2, 0.2, [0.5], 900.0,
        )
        for emitted, declared in ((e2e, bench["end_to_end"]), (layer, bench["per_layer"])):
            assert list(emitted) == [m["name"] for m in declared]
            assert [v["unit"] for v in emitted.values()] == [m["unit"] for m in declared]
        assert all(e2e[name]["value"] > 0 for name in e2e)
    names = [w["name"] for w in bench["workloads"]] + [
        m["name"] for m in bench["end_to_end"] + bench["per_layer"]
    ]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name


def test_vote_breaks_ties_like_the_engine():
    assert oracle.vote([2.0, 1.0, 1.0, 2.0, 3.0]) == 2.0  # tie: 2.0 holds rank 1
    assert oracle.vote([4.0, 1.0, 1.0, 5.0, 6.0]) == 1.0
    assert oracle.vote([3.0]) == 3.0


def _euclid_case():
    train, test = gen.generate(11, 90, 24, 32)
    expected = oracle.euclid_predictions(train, test, K)
    batch_ids = [set(test.ids[b::4].tolist()) for b in range(4)]
    results = [(b, [(t, expected[t]) for t in sorted(batch_ids[b])]) for b in range(4)]
    return expected, batch_ids, results


def test_gate_passes_oracle_predictions():
    expected, batch_ids, results = _euclid_case()
    assert oracle.failed_queries(results, batch_ids, expected) == [False] * 4


def test_gate_flags_a_corrupted_prediction():
    expected, batch_ids, results = _euclid_case()
    tid, lab = results[2][1][3]
    results[2][1][3] = (tid, lab % 6 + 1.0)
    assert oracle.failed_queries(results, batch_ids, expected) == [False, False, True, False]


def test_gate_flags_a_missing_or_repeated_row():
    expected, batch_ids, results = _euclid_case()
    results[0] = (0, results[0][1][1:])
    results[1] = (1, results[1][1] + results[1][1][:1])
    assert oracle.failed_queries(results, batch_ids, expected) == [True, True, False, False]


def test_gate_flags_a_row_whose_neighbour_check_failed():
    expected, batch_ids, results = _euclid_case()
    expected[results[3][1][0][0]] = None
    assert oracle.failed_queries(results, batch_ids, expected)[3]


def _dtw_case():
    kernel = _dtw_kernel()
    train, test = gen.generate(5, 40, 1, 32)
    x = test.X[0]
    ref_d = {int(t): kernel.fastdtw_pair(x, train.X[t], radius=1) for t in train.ids}
    ranked = sorted(train.ids.tolist(), key=lambda t: (ref_d[t], train.labels[t], t))
    nbrs = [(t, float(train.labels[t]), ref_d[t], r + 1) for r, t in enumerate(ranked[:K])]
    return train, x, ref_d, ranked, nbrs


def _checked(train, x, ref_d, nbrs):
    """check_neighbours given only the rows the exact-DTW bound leaves."""
    todo = oracle.unresolved(nbrs, oracle.exact_dtw_row(x, train.X))
    return oracle.check_neighbours(nbrs, train, {j: ref_d[j] for j in todo}, K)


def test_exact_dtw_bound_clears_only_rows_behind_the_kth():
    train, x, ref_d, ranked, nbrs = _dtw_case()
    todo = oracle.unresolved(nbrs, oracle.exact_dtw_row(x, train.X))
    assert set(ranked[:K]) <= set(todo) and len(todo) < len(ranked)
    kth = nbrs[-1][2]
    assert all(ref_d[j] > kth for j in set(ranked) - set(todo))


def test_neighbour_check_accepts_the_reference_top_k():
    train, x, ref_d, ranked, nbrs = _dtw_case()
    assert _checked(train, x, ref_d, nbrs) is None


def test_neighbour_check_flags_a_wrong_distance():
    train, x, ref_d, ranked, nbrs = _dtw_case()
    t, lab, d, r = nbrs[1]
    nbrs[1] = (t, lab, d * 1.001, r)
    assert "reference" in _checked(train, x, ref_d, nbrs)


@pytest.mark.parametrize("dropped", [0, K - 1])
def test_neighbour_check_flags_a_missed_neighbour(dropped):
    train, x, ref_d, ranked, nbrs = _dtw_case()
    sixth = ranked[K]
    kept = nbrs[:dropped] + nbrs[dropped + 1 :]
    shifted = kept + [(sixth, float(train.labels[sixth]), ref_d[sixth], K)]
    shifted = [(t, lab, d, i + 1) for i, (t, lab, d, _) in enumerate(shifted)]
    assert "beats" in _checked(train, x, ref_d, shifted)


def test_neighbour_check_flags_a_wrong_label_or_order():
    train, x, ref_d, ranked, nbrs = _dtw_case()
    t, lab, d, r = nbrs[0]
    relabelled = [(t, lab % 6 + 1.0, d, r)] + nbrs[1:]
    assert "label" in _checked(train, x, ref_d, relabelled)
    swapped = [nbrs[1][:3] + (1,), nbrs[0][:3] + (2,)] + nbrs[2:]
    assert "order" in _checked(train, x, ref_d, swapped)


def test_group_stats_attributes_tasks_spans_and_broadcasts():
    def job_start(jid, group, stages, t):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages, "Properties": props}

    def task_end(sid, run_ms, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}},
                "Task Info": {"Accumulables": [
                    {"Name": "time to run Python workers", "Update": str(py_ms)}]}}

    def piece(name, size):
        return {"Event": "SparkListenerBlockUpdated",
                "Block Updated Info": {"Block ID": name, "Memory Size": size, "Disk Size": 0}}

    events = [
        job_start(0, None, [0], 0), task_end(0, 99, 0),
        job_start(1, "knn.route.0", [1], 10), task_end(1, 5, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 20},
        piece("broadcast_3_piece0", 1000), piece("broadcast_3_piece0", 1000), piece("rdd_1_0", 5),
        job_start(2, "knn.exec.0", [2, 3], 30), task_end(2, 40, 30), task_end(3, 2, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 80},
    ]
    g = group_stats(events)
    assert set(g) == {"knn.route.0", "knn.exec.0"}
    route, ex = g["knn.route.0"], g["knn.exec.0"]
    assert (route.run_ms, route.broadcast_bytes, route.spans_ms) == (5, 1000, [(10, 20)])
    assert (ex.run_ms, ex.python_run_ms, ex.broadcast_bytes) == (42, 30, 0)
    assert ex.shuffle_bytes == 14 and ex.spans_ms == [(30, 80)]


def test_union_of_job_spans():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 12), (20, 25), (21, 22)]) == 17


_ORPHAN_SCRIPT = """
import json, subprocess
from knnbench import procs
procs.become_subreaper()
procs.GRACE_S = 0.5
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True, check=True)
pid = int(out.stdout)
before = procs.descendants()
stragglers = procs.end_all()
print(json.dumps([pid, before, stragglers, procs.descendants()]))
"""


def test_end_all_ends_an_orphaned_grandchild():
    root = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", _ORPHAN_SCRIPT], cwd=root, capture_output=True,
        text=True, timeout=60, check=True,
    )
    pid, before, stragglers, after = json.loads(out.stdout.splitlines()[-1])
    assert before == [pid]  # its shell parent exited: re-parented to the subreaper
    assert stragglers == [pid]
    assert after == []
    assert not os.path.exists(f"/proc/{pid}")
