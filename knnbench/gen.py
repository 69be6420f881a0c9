"""Seeded generator of UCI-HAR-shaped labelled series.

Six class archetypes stand in for the six HAR activities: three periodic
"gait" shapes that share a base cadence and differ in their harmonic, and
three static "posture" shapes that differ in the number and sign of their
bumps. Every series evaluates its archetype on its own random monotone time
warp (fixed endpoints, a sum of several half-wave sines), then gets an
amplitude, an offset and Gaussian noise. The classes differ in shape, not in
timing, and the warps are varied enough that no train series shares a test
series' alignment, so an elastic distance (DTW) classifies them clearly
better than Euclidean distance, as the paper reports.

The series are emitted as the reference's raw text format (FIXTURES F1):
one line of space-separated numbers per series, with a few lines carrying
doubled, leading or trailing blanks so the ingest's blank-token cleaning is
exercised. The same seed always yields the same lines.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

N_CLASSES = 6
_NOISE = 0.3
# sum of |warp coefficients|; below 1 keeps every warp monotone
_WARP = 0.95
_WARP_TERMS = 4
_MESSY_SHARE = 0.05


def _bump(u: np.ndarray, at: float, width: float) -> np.ndarray:
    return np.exp(-(((u - at) / width) ** 2))


def _archetype(c: int, u: np.ndarray) -> np.ndarray:
    if c == 0:  # walking
        return np.sin(2 * np.pi * 5 * u)
    if c == 1:  # upstairs
        return np.sin(2 * np.pi * 5 * u) + 0.6 * np.sin(2 * np.pi * 10 * u)
    if c == 2:  # downstairs
        return np.sin(2 * np.pi * 5 * u) - 0.6 * np.sin(2 * np.pi * 10 * u)
    if c == 3:  # sitting
        return 0.2 + _bump(u, 0.5, 0.06)
    if c == 4:  # standing
        return 0.2 + 0.7 * _bump(u, 0.35, 0.05) + 0.7 * _bump(u, 0.65, 0.05)
    # laying
    return 0.2 - _bump(u, 0.5, 0.06)


def make_series(rng: np.random.Generator, n: int, length: int) -> "tuple[np.ndarray, np.ndarray]":
    """(n, length) float matrix and labels 1.0..6.0, classes balanced."""
    labels = rng.permutation(np.arange(n) % N_CLASSES)
    t = np.linspace(0.0, 1.0, length)
    X = np.empty((n, length))
    f = np.arange(1, _WARP_TERMS + 1)[:, None]
    for i in range(n):
        a = rng.uniform(-1.0, 1.0, _WARP_TERMS)
        a *= _WARP / np.abs(a).sum()
        # u' = 1 + sum a_f cos(pi f t) > 0, u(0) = 0, u(1) = 1
        u = t + (a[:, None] * np.sin(np.pi * f * t) / (np.pi * f)).sum(axis=0)
        X[i] = (
            rng.uniform(0.8, 1.2) * _archetype(int(labels[i]), u)
            + rng.normal(0.0, 0.1)
            + rng.normal(0.0, _NOISE, length)
        )
    return X, (labels + 1).astype(np.float64)


def to_text(rng: np.random.Generator, X: np.ndarray) -> "list[str]":
    """F1 raw-text lines; about 5% carry doubled/leading/trailing blanks."""
    lines = []
    for row in X:
        toks = ["%.5f" % v for v in row]
        if rng.random() < _MESSY_SHARE:
            j = int(rng.integers(1, len(toks)))
            lines.append(" " + " ".join(toks[:j]) + "  " + " ".join(toks[j:]) + " ")
        else:
            lines.append(" ".join(toks))
    return lines


def parse_line(line: str) -> np.ndarray:
    """The oracle's own parse of one F1 line (independent of the engine's)."""
    return np.array([float(tok) for tok in line.split()], dtype=np.float64)


@dataclass
class Split:
    """One side (train or test) of a generated data set."""

    ids: np.ndarray  # int64 series ids, unique across both sides
    labels: np.ndarray  # float64 labels 1.0..6.0
    lines: "list[str]"  # F1 raw text, row-aligned with ids and labels
    X: np.ndarray  # the values the text encodes, parsed back by the oracle


def generate(seed: int, n_train: int, n_test: int, length: int) -> "tuple[Split, Split]":
    """Train and test splits for one seed; ids 0..n_train-1 then the test ids."""
    rng = np.random.default_rng(seed)
    sides = []
    start = 0
    for n in (n_train, n_test):
        X, y = make_series(rng, n, length)
        lines = to_text(rng, X)
        parsed = np.stack([parse_line(s) for s in lines])
        sides.append(Split(np.arange(start, start + n, dtype=np.int64), y, lines, parsed))
        start += n
    return sides[0], sides[1]
