"""DTW kernel unit layer (FIXTURES.md F5 golden micro-cases + parity)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (
    dtw_batch,
    dtw_pair,
    fastdtw_batch,
    fastdtw_pair,
)


def test_identical_series_zero():
    assert dtw_pair([1, 2, 3], [1, 2, 3]) == 0.0
    assert fastdtw_pair([1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6]) == 0.0


def test_golden_micro_cases():
    # [0,0,1] vs [0,1,1]: warping aligns perfectly -> 0
    assert dtw_pair([0, 0, 1], [0, 1, 1]) == 0.0
    # constant vs shifted constant: no warp helps; n * |delta|
    assert dtw_pair([1, 1, 1, 1], [2, 2, 2, 2]) == 4.0
    # one-element vs n-element: sum of |a - b_j|
    assert dtw_pair([5.0], [1.0, 2.0, 3.0]) == pytest.approx(4 + 3 + 2)
    # classic warp: [1,2,3] vs [1,1,2,2,3,3] aligns exactly
    assert dtw_pair([1, 2, 3], [1, 1, 2, 2, 3, 3]) == 0.0


def test_batch_matches_scalar_full_and_banded():
    rng = np.random.default_rng(7)
    A = rng.normal(size=(40, 31))
    B = rng.normal(size=(40, 31))
    assert np.allclose(dtw_batch(A, B), [dtw_pair(a, b) for a, b in zip(A, B)])
    assert np.allclose(
        dtw_batch(A, B, band=4), [dtw_pair(a, b, band=4) for a, b in zip(A, B)]
    )


def test_band_upper_bounds_exact():
    # constraining the path can only increase the optimum
    rng = np.random.default_rng(11)
    A = rng.normal(size=(20, 29))
    B = rng.normal(size=(20, 29))
    exact = dtw_batch(A, B)
    for band in (1, 3, 8):
        banded = dtw_batch(A, B, band=band)
        assert (banded >= exact - 1e-9).all()


def test_fastdtw_upper_bounds_exact_and_converges():
    rng = np.random.default_rng(13)
    for _ in range(10):
        a = rng.normal(size=23)
        b = rng.normal(size=23)
        exact = dtw_pair(a, b)
        prev = None
        f = fastdtw_pair(a, b, radius=1)
        assert f >= exact - 1e-9
        # radius big enough -> exact (window covers the full matrix)
        assert fastdtw_pair(a, b, radius=30) == pytest.approx(exact)


def test_ragged_lengths():
    assert dtw_pair([1, 2, 3, 4, 5], [1, 3, 5]) == pytest.approx(2.0)
    assert fastdtw_pair([1, 2, 3, 4, 5], [1, 3, 5]) == pytest.approx(2.0)


def _walk_pairs(rng, bs, n, m=None):
    A = np.cumsum(rng.standard_normal((bs, n)), axis=1)
    B = np.cumsum(rng.standard_normal((bs, m or n)), axis=1)
    return A, B


@pytest.mark.parametrize("n,m", [(2, 2), (3, 3), (5, 5), (8, 8), (16, 16),
                                 (17, 17), (33, 33), (64, 64), (16, 23), (31, 16)])
def test_fastdtw_batch_matches_pair(n, m):
    """The batched faithful kernel reproduces fastdtw_pair. Tolerance: the
    prefix-scan DP reassociates floats, so an fp-NEAR-TIED coarse warp path
    may resolve to the other equally-valid branch (verified: a 1-ulp input
    perturbation flips fastdtw_pair itself); require exactness on >= 90% of
    pairs and a small bounded deviation on the rest."""
    rng = np.random.default_rng(n * 100 + m)
    A, B = _walk_pairs(rng, 60, n, m)
    got = fastdtw_batch(A, B, radius=1)
    want = np.array([fastdtw_pair(a, b, radius=1) for a, b in zip(A, B)])
    rel = np.abs(got - want) / np.maximum(np.abs(want), 1e-12)
    assert (rel < 1e-9).mean() >= 0.90, f"exact fraction {(rel < 1e-9).mean()}"
    assert rel.max() < 0.05, f"max deviation {rel.max()}"
    # both are upper approximations of exact DTW
    exact = np.array([dtw_pair(a, b) for a, b in zip(A, B)])
    assert (got >= exact - 1e-9).all()


def test_fastdtw_batch_invariant_to_batch_composition():
    """A pair's distance must not depend on which other pairs share its
    batch (width re-bucketing and padding are semantics-free)."""
    rng = np.random.default_rng(5)
    A, B = _walk_pairs(rng, 32, 40)
    whole = fastdtw_batch(A, B)
    singles = np.array([fastdtw_batch(A[i : i + 1], B[i : i + 1])[0] for i in range(32)])
    assert np.array_equal(whole, singles)


def test_fastdtw_batch_radius_2():
    rng = np.random.default_rng(9)
    A, B = _walk_pairs(rng, 30, 40)
    got = fastdtw_batch(A, B, radius=2)
    want = np.array([fastdtw_pair(a, b, radius=2) for a, b in zip(A, B)])
    rel = np.abs(got - want) / np.maximum(np.abs(want), 1e-12)
    assert (rel < 1e-9).mean() >= 0.90 and rel.max() < 0.05


def test_banded_vs_faithful_divergence():
    """Quantifies the r1-verdict gap: a fixed Sakoe-Chiba band of half-width
    radius+2 is NOT FastDTW — on random-walk series the two diverge by tens
    of percent on individual pairs. This is why metric='fastdtw' routes
    through the faithful kernel and the band is a separate, explicitly
    chosen metric ('dtw' + band). The assertions pin the measured divergence
    envelope so a silent re-coupling of the two paths would fail here."""
    rng = np.random.default_rng(0)
    A, B = _walk_pairs(rng, 150, 16)
    banded = dtw_batch(A, B, band=3)  # the old radius+2 stand-in
    faithful = fastdtw_batch(A, B, radius=1)
    rel = np.abs(banded - faithful) / np.maximum(faithful, 1e-12)
    # they agree on most pairs ... but not within any honest tolerance
    assert np.median(rel) < 0.05
    assert rel.max() > 0.10, "band==faithful here would mean the test lost its teeth"
    # and both upper-bound exact DTW
    exact = dtw_batch(A, B)
    assert (banded >= exact - 1e-9).all() and (faithful >= exact - 1e-9).all()


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=2, max_size=20),
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=2, max_size=20),
)
def test_dtw_properties(a, b):
    d = dtw_pair(a, b)
    assert d >= 0
    # symmetry
    assert dtw_pair(b, a) == pytest.approx(d)
    # bounded above by aligning everything through the corner path
    ub = sum(abs(x - b[0]) for x in a) + sum(abs(a[-1] - y) for y in b)
    assert d <= ub + 1e-9


# ---------------------------------------------------------------------------
# Compiled-C fast path (functions/dtw_c.py): bit-parity with the per-pair
# reference implementations, and numpy/C route agreement.
# ---------------------------------------------------------------------------

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import dtw_c


def _fastdtw_or_error(A, B, radius, no_cc):
    """fastdtw_batch on one route; a ValueError is returned, not raised,
    so both routes can be required to refuse the same inputs."""
    import os

    if no_cc:
        os.environ["TSKNN_DTW_NO_CC"] = "1"
    try:
        return fastdtw_batch(A, B, radius=radius)
    except ValueError:
        return ValueError
    finally:
        os.environ.pop("TSKNN_DTW_NO_CC", None)


def _assert_routes_equal_on_small_integer_grid(rng, channels):
    """Compiled pyramid vs the numpy level loop over EVERY (n, m) in
    1..24 at radius 0..3 (so one side is often shorter than radius + 2).
    Integer-valued series make every sum exact (halving only adds a few
    fraction bits), so the numpy scan's reassociation cannot move a value
    and the two routes must agree bit for bit — including the tie order,
    since small integers tie constantly. Radius 0 with an odd level
    length must be refused by both."""
    for radius in range(4):
        for n in range(1, 25):
            for m in range(1, 25):
                ch = channels(n, m, radius)
                tail = (ch,) if ch else ()
                A = rng.integers(-3, 4, size=(3, n) + tail).astype(float)
                B = rng.integers(-3, 4, size=(3, m) + tail).astype(float)
                c = _fastdtw_or_error(A, B, radius, no_cc=False)
                npy = _fastdtw_or_error(A, B, radius, no_cc=True)
                if c is ValueError or npy is ValueError:
                    assert c is npy is ValueError and radius == 0, (n, m, ch, radius)
                else:
                    assert np.array_equal(c, npy), (n, m, ch, radius, c, npy)


def _warped_pairs(rng, count, length):
    """Noisy sine-shape pairs, each series on its own monotone time warp."""
    t = np.linspace(0.0, 1.0, length)
    out = []
    for _ in range(2 * count):
        w = rng.uniform(-0.9, 0.9) / np.pi
        u = t + w * np.sin(np.pi * t)
        out.append(np.sin(2 * np.pi * 5 * u) + rng.normal(0.0, 0.3, length))
    X = np.array(out)
    return X[:count], X[count:]


@pytest.mark.skipif(not dtw_c.available(), reason="no C compiler in container")
def test_c_path_bit_identical_to_per_pair_reference():
    """The compiled kernels run the NATURAL recurrence in the exact op order
    of dtw_pair/_dtw_with_path, so equality is exact (==), not approx —
    stricter than the numpy scan path's near-tie tolerance."""
    rng = np.random.default_rng(11)
    A = np.cumsum(rng.normal(size=(48, 73)), axis=1)
    B = np.cumsum(rng.normal(size=(48, 73)), axis=1)
    B_short = np.cumsum(rng.normal(size=(48, 41)), axis=1)
    for band in (None, 3, 9):
        got = dtw_batch(A, B, band=band)
        ref = np.array([dtw_pair(a, b, band=band) for a, b in zip(A, B)])
        assert np.array_equal(got, ref)
    got = dtw_batch(A, B_short, band=5)
    ref = np.array([dtw_pair(a, b, band=5) for a, b in zip(A, B_short)])
    assert np.array_equal(got, ref)
    for radius in (1, 2):
        got = fastdtw_batch(A, B, radius=radius)
        ref = np.array([fastdtw_pair(a, b, radius=radius) for a, b in zip(A, B)])
        assert np.array_equal(got, ref)
    got = fastdtw_batch(A, B_short, radius=1)
    ref = np.array([fastdtw_pair(a, b, radius=1) for a, b in zip(A, B_short)])
    assert np.array_equal(got, ref)
    # one compiled call over 64 HAR-length warped pairs
    A, B = _warped_pairs(np.random.default_rng(31), 64, 561)
    got = fastdtw_batch(A, B, radius=1)
    ref = np.array([fastdtw_pair(a, b, radius=1) for a, b in zip(A, B)])
    assert np.array_equal(got, ref)


@pytest.mark.skipif(not dtw_c.available(), reason="no C compiler in container")
def test_numpy_and_c_routes_agree(monkeypatch):
    """TSKNN_DTW_NO_CC=1 forces the numpy scan path; both routes must agree
    (fastdtw within the documented fp near-tie envelope, exact DTW values
    allclose since min-reassociation cannot change the exact DP optimum).
    On integer-valued series the fastdtw routes must agree EXACTLY over
    every small shape, radius and (flat or 1-channel) layout."""
    grid_rng = np.random.default_rng(29)
    _assert_routes_equal_on_small_integer_grid(grid_rng, lambda n, m, r: 0)
    _assert_routes_equal_on_small_integer_grid(grid_rng, lambda n, m, r: 1)
    rng = np.random.default_rng(13)
    A = np.cumsum(rng.normal(size=(64, 97)), axis=1)
    B = np.cumsum(rng.normal(size=(64, 97)), axis=1)
    c_fd = fastdtw_batch(A, B, radius=1)
    c_dt = dtw_batch(A, B, band=4)
    c_dtu = dtw_batch(A, B)
    monkeypatch.setenv("TSKNN_DTW_NO_CC", "1")
    assert not dtw_c.available()
    np_fd = fastdtw_batch(A, B, radius=1)
    np_dt = dtw_batch(A, B, band=4)
    np_dtu = dtw_batch(A, B)
    assert np.allclose(c_dt, np_dt) and np.allclose(c_dtu, np_dtu)
    rel = np.abs(c_fd - np_fd) / np.maximum(np_fd, 1e-12)
    # near-tie path flips affect a small minority of pairs, by a bounded amount
    assert (rel > 1e-9).mean() < 0.1
    assert rel.max() < 0.05


def test_fastdtw_rejects_bad_radius():
    """radius < 0 used to hang fastdtw_batch (coarsening never stopped at
    length 1, memory growing) and recurse fastdtw_pair into RecursionError;
    a non-integer radius broke the window arithmetic. Both are refused on
    every route, before any work."""
    import os

    A = np.arange(12.0).reshape(2, 6)
    for radius in (-1, -3, 1.5, 1.0, None, True):
        for no_cc in (False, True):
            if no_cc:
                os.environ["TSKNN_DTW_NO_CC"] = "1"
            try:
                with pytest.raises(ValueError, match="radius"):
                    fastdtw_batch(A, A, radius=radius)
            finally:
                os.environ.pop("TSKNN_DTW_NO_CC", None)
        with pytest.raises(ValueError, match="radius"):
            fastdtw_pair(A[0], A[1], radius=radius)
    assert fastdtw_batch(A, A, radius=np.int64(2)).tolist() == [0.0, 0.0]


_LOW_MEMORY_CHILD = """
import os, resource, sys
import numpy as np
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import dtw_c
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import fastdtw_batch
assert dtw_c.available()
n = 60_000
t = np.linspace(0.0, 60.0, n)
A = np.round(8 * np.sin(t))[None, :]
B = np.round(8 * np.sin(t + 0.3 * np.sin(t / 7)))[None, :]
limit = 1 << 30
resource.setrlimit(resource.RLIMIT_AS, (limit, limit))
c = fastdtw_batch(A, B)
os.environ["TSKNN_DTW_NO_CC"] = "1"
npy = fastdtw_batch(A, B)
print(c[0], npy[0])
sys.exit(0 if c[0] == npy[0] else 1)
"""


@pytest.mark.skipif(not dtw_c.available(), reason="no C compiler in container")
def test_c_pyramid_long_pair_under_address_space_limit():
    """The path-choice scratch is n x W bytes (W = widest window row), not
    n x m: a 60,000-point pair whose second level alone would need 900 MB
    as n x m runs under a 1 GiB address-space limit and equals the numpy
    route (integer-valued, so exactly). Before, the failed malloc made
    the kernel return without writing, and the caller read np.empty."""
    import os
    import subprocess
    import sys

    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    env.pop("TSKNN_DTW_NO_CC", None)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    r = subprocess.run(
        [sys.executable, "-c", _LOW_MEMORY_CHILD],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, (r.stdout, r.stderr)


def test_c_path_fallback_when_no_compiler(monkeypatch):
    """If no compiler is found (or the build fails), available() is False
    and the kernels transparently use the numpy path."""
    import shutil

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import dtw_c

    monkeypatch.setattr(dtw_c, "_tried", False)
    monkeypatch.setattr(dtw_c, "_lib", None)
    monkeypatch.setattr(shutil, "which", lambda name: None)
    assert not dtw_c.available()
    # kernels still work (numpy route)
    A = np.array([[1.0, 2.0, 3.0, 4.0, 5.0, 6.0]])
    B = np.array([[1.0, 2.0, 3.0, 4.0, 5.0, 6.0]])
    assert fastdtw_batch(A, B)[0] == 0.0
    # reset module state so later tests re-probe the real environment
    monkeypatch.undo()
    dtw_c._tried = False
    dtw_c._lib = None


def test_infeasible_band_returns_inf_like_dtw_pair():
    """A band narrower than the diagonal slope on very unequal lengths has
    no connected path: dtw_pair returns inf, and both batch kernels must
    surface the same inf (regression: they leaked the 1e18 sentinel —
    found by the r3 fuzz sweep)."""
    rng = np.random.default_rng(0)
    A = rng.normal(size=(4, 10))
    B = rng.normal(size=(4, 56))
    ref = np.array([dtw_pair(a, b, band=0) for a, b in zip(A, B)])
    assert np.isinf(ref).all()
    got = dtw_batch(A, B, band=0)  # C path when available
    assert np.array_equal(got, ref)
    # numpy route too
    import os

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import dtw_c

    os.environ["TSKNN_DTW_NO_CC"] = "1"
    try:
        assert not dtw_c.available()
        got_np = dtw_batch(A, B, band=0)
    finally:
        del os.environ["TSKNN_DTW_NO_CC"]
    assert np.array_equal(got_np, ref)
    # a FEASIBLE band on the same shapes stays finite on every path
    assert np.isfinite(dtw_batch(A, B, band=50)).all()


# ---------------------------------------------------------------------------
# multivariate (multichannel) series: (length, channels) points, dependent
# DTW with per-channel summed |a-b| cost (VERDICT r3 #5)
# ---------------------------------------------------------------------------


def _golden_mv_dtw(a, b, band=None):
    """Independent O(n*m) multivariate DP — shares no code with the kernels
    (plain Python loops, per-channel summed cost)."""
    n, m = len(a), len(b)
    acc = np.full((n + 1, m + 1), np.inf)
    acc[0, 0] = 0.0
    for i in range(1, n + 1):
        lo, hi = 1, m
        if band is not None:
            center = int(round((i - 1) * (m - 1) / max(n - 1, 1))) + 1
            lo, hi = max(1, center - band), min(m, center + band)
        for j in range(lo, hi + 1):
            c = sum(abs(a[i - 1][k] - b[j - 1][k]) for k in range(len(a[0])))
            acc[i, j] = c + min(acc[i - 1, j], acc[i - 1, j - 1], acc[i, j - 1])
    return acc[n, m]


def test_mv_pair_matches_golden_dp():
    rng = np.random.default_rng(3)
    for _ in range(10):
        n, m, ch = int(rng.integers(4, 18)), int(rng.integers(4, 18)), int(rng.integers(2, 5))
        a, b = rng.normal(size=(n, ch)), rng.normal(size=(m, ch))
        for band in (None, 2):
            assert abs(dtw_pair(a, b, band) - _golden_mv_dtw(a, b, band)) < 1e-9


def test_mv_batch_matches_golden_dp():
    rng = np.random.default_rng(4)
    A, B = rng.normal(size=(24, 16, 3)), rng.normal(size=(24, 16, 3))
    for band in (None, 3):
        d = dtw_batch(A, B, band=band)
        for i in range(24):
            assert abs(d[i] - _golden_mv_dtw(A[i], B[i], band)) < 1e-9, (i, band)


def test_mv_fastdtw_batch_matches_pair():
    rng = np.random.default_rng(5)
    A, B = rng.normal(size=(20, 20, 2)), rng.normal(size=(20, 20, 2))
    d = fastdtw_batch(A, B, radius=1)
    for i in range(20):
        assert abs(d[i] - fastdtw_pair(A[i], B[i], radius=1)) < 1e-9, i


def test_mv_fastdtw_exact_when_window_covers_all():
    """radius >= len: the FastDTW window is the full DP plane, so the
    approximation equals exact multivariate DTW."""
    rng = np.random.default_rng(6)
    A, B = rng.normal(size=(8, 5, 2)), rng.normal(size=(8, 5, 2))
    d = fastdtw_batch(A, B, radius=5)
    for i in range(8):
        assert abs(d[i] - _golden_mv_dtw(A[i], B[i], None)) < 1e-9, i


def test_mv_single_channel_equals_univariate():
    """A (length, 1) multichannel series is the same problem as the flat
    series — all three kernels must agree with their univariate selves."""
    rng = np.random.default_rng(7)
    A1, B1 = rng.normal(size=(12, 10)), rng.normal(size=(12, 10))
    A2, B2 = A1[:, :, None], B1[:, :, None]
    assert np.allclose(dtw_batch(A2, B2, band=2), dtw_batch(A1, B1, band=2))
    assert np.allclose(fastdtw_batch(A2, B2), fastdtw_batch(A1, B1))
    assert abs(dtw_pair(A2[0], B2[0]) - dtw_pair(A1[0], B1[0])) < 1e-12


@pytest.mark.skipif(not dtw_c.available(), reason="no C compiler in container")
def test_mv_c_numpy_equality_across_lengths_and_channels(monkeypatch):
    """r5 (VERDICT r4 #8): the compiled kernel is channel-aware. C and
    numpy routes must agree across a (length, channels) grid — allclose
    for exact/banded DTW (the numpy scan REASSOCIATES the DP fold, so
    last-ulp drift is expected; same contract as the 1-ch route test);
    fastdtw within the documented fp near-tie envelope. Bit-exactness of
    the C path is pinned against the per-pair reference below."""
    rng = np.random.default_rng(17)
    for n, m, ch in [(16, 16, 2), (31, 47, 3), (64, 64, 5), (25, 25, 7)]:
        A = np.cumsum(rng.normal(size=(12, n, ch)), axis=1)
        B = np.cumsum(rng.normal(size=(12, m, ch)), axis=1)
        for band in (None, 3):
            c_d = dtw_batch(A, B, band=band)
            with monkeypatch.context() as mp:
                mp.setenv("TSKNN_DTW_NO_CC", "1")
                assert not dtw_c.available()
                np_d = dtw_batch(A, B, band=band)
            assert np.allclose(c_d, np_d), (n, m, ch, band)
        c_f = fastdtw_batch(A, B, radius=1)
        with monkeypatch.context() as mp:
            mp.setenv("TSKNN_DTW_NO_CC", "1")
            np_f = fastdtw_batch(A, B, radius=1)
        rel = np.abs(c_f - np_f) / np.maximum(np_f, 1e-12)
        assert (rel > 1e-9).mean() < 0.1 and rel.max() < 0.05, (n, m, ch)
    # every (n, m) in 1..24 at radius 0..3, channel counts 2..7 in turn:
    # exact on integer-valued series (see the 1-ch grid test)
    _assert_routes_equal_on_small_integer_grid(
        rng, lambda n, m, r: 2 + (n + m + r) % 6
    )


@pytest.mark.skipif(not dtw_c.available(), reason="no C compiler in container")
def test_mv_c_matches_per_pair_reference_exactly():
    """Compiled MV kernel vs the per-pair python reference: exact equality
    (same natural recurrence, same left-to-right channel sum)."""
    rng = np.random.default_rng(19)
    A = np.cumsum(rng.normal(size=(20, 33, 2)), axis=1)
    B = np.cumsum(rng.normal(size=(20, 29, 2)), axis=1)
    for band in (None, 4):
        got = dtw_batch(A, B, band=band)
        ref = np.array([dtw_pair(a, b, band=band) for a, b in zip(A, B)])
        assert np.array_equal(got, ref)
    got = fastdtw_batch(A, B, radius=1)
    ref = np.array([fastdtw_pair(a, b, radius=1) for a, b in zip(A, B)])
    assert np.array_equal(got, ref)


def test_mv_wide_channels_stay_on_numpy_path():
    """ch >= 8: np.sum switches to pairwise accumulation, so the C kernel
    (sequential sum) would not be bit-identical — the router must keep the
    numpy path. Verified by value equality with the golden DP."""
    rng = np.random.default_rng(23)
    A = np.cumsum(rng.normal(size=(4, 12, 9)), axis=1)
    B = np.cumsum(rng.normal(size=(4, 12, 9)), axis=1)
    d = dtw_batch(A, B, band=None)
    for i in range(4):
        assert abs(d[i] - _golden_mv_dtw(A[i], B[i], None)) < 1e-9, i


def test_batch_kernels_reject_channel_mismatch():
    """r5 review fix: flat-vs-nested or differing channel counts used to
    return garbage (and read out of bounds) on the compiled route — the
    guard must raise on BOTH routes before any kernel dispatch."""
    import numpy as np
    import pytest

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (
        dtw_batch,
        fastdtw_batch,
    )

    rng = np.random.default_rng(0)
    flat = rng.normal(size=(2, 6))
    two_ch = rng.normal(size=(2, 6, 2))
    three_ch = rng.normal(size=(2, 6, 3))
    for fn in (dtw_batch, fastdtw_batch):
        with pytest.raises(ValueError, match="rank mismatch"):
            fn(flat, two_ch)
        with pytest.raises(ValueError, match="rank mismatch"):
            fn(two_ch, flat)
        with pytest.raises(ValueError, match="channel mismatch"):
            fn(two_ch, three_ch)


def test_fdtw_oracle_sql_bit_exact_vs_fastdtw_pair():
    """Third corner of the q13 proof triangle (r6): the generated DuckDB
    FastDTW replay (__spark_entry__._fdtw_dist_sql — coarsen -> coarse DP ->
    backtrack -> expand -> windowed DP over the fixed [16, 8, 4, 2] level
    chain) must be BIT-exact against fastdtw_pair on every sf0.001 pair.
    (The oracle-parity suite pins SQL == Spark; test_fastdtw_batch_matches_
    pair pins Spark kernel == fastdtw_pair; this closes SQL == fastdtw_pair
    directly so a compensating double-error can't hide.)"""
    import duckdb
    import numpy as np

    from __spark_entry__ import _SERIES_CTE, _fdtw_dist_sql
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (
        fastdtw_pair,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    feats = {
        sid: np.asarray(f)
        for sid, f in con.execute(
            f"WITH {_SERIES_CTE} SELECT series_id, features FROM series"
        ).fetchall()
    }
    sql = _fdtw_dist_sql(16, _SERIES_CTE) + "\nSELECT test_id, train_id, dist FROM dd"
    got = con.execute(sql).fetchall()
    assert got, "oracle produced no pairs"
    for tid, rid, d in got:
        expect = fastdtw_pair(feats[tid], feats[rid])
        assert d == expect, (tid, rid, d, expect)


def test_fdtw_oracle_sql_generator_all_lengths():
    """The q13 oracle GENERATOR, property-tested past the registry's n=16:
    for every series length 5..20 (odd lengths exercise the dropped-tail
    coarsening, short ones the 2-level chain), the generated SQL replay is
    bit-exact against fastdtw_pair on random-walk pairs."""
    import duckdb
    import numpy as np

    from __spark_entry__ import _fdtw_dist_sql
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (
        fastdtw_pair,
    )

    rng = np.random.default_rng(42)
    for n in range(5, 21):
        A = np.cumsum(rng.normal(size=(3, n)), axis=1)
        B = np.cumsum(rng.normal(size=(4, n)), axis=1)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE test(series_id BIGINT, features DOUBLE[], label VARCHAR)"
        )
        con.execute(
            "CREATE TABLE train(series_id BIGINT, features DOUBLE[], label VARCHAR)"
        )
        for i, row in enumerate(A):
            con.execute("INSERT INTO test VALUES (?, ?, 'a')", [i, list(map(float, row))])
        for i, row in enumerate(B):
            con.execute("INSERT INTO train VALUES (?, ?, 'b')", [100 + i, list(map(float, row))])
        # series CTE stub: the generator only needs test/train to exist
        sql = _fdtw_dist_sql(n, "noop AS (SELECT 1)") + "\nSELECT test_id, train_id, dist FROM dd"
        got = {(t, r): d for t, r, d in con.execute(sql).fetchall()}
        assert len(got) == 12, n
        for ti, ta in enumerate(A):
            for ri, rb in enumerate(B):
                expect = fastdtw_pair(ta, rb)
                assert got[(ti, 100 + ri)] == expect, (n, ti, ri)
        con.close()
