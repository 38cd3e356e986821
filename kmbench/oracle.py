"""Numpy reference for every benchmarked operation.

Semantics follow ``operators.kmeans``: squared Euclidean distance
computed as ``(x-cx)*(x-cx) + (y-cy)*(y-cy)`` in float64, ties to the
lowest cluster id, float means, empty clusters keep their centroid, and
the loop stops when the largest centroid shift is ``<= tol``.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

#: centroids agree when |got - want| <= ATOL + RTOL * |want|; coordinates
#: reach 1e6, so a 1-unit error is ~1e-6 relative and is rejected
RTOL = 1e-9
ATOL = 1e-6
_POINT_LINE = re.compile(r"^Point: \((-?\d+),(-?\d+)\)$")


def assign(xy: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Nearest-centroid id per point; only a strictly closer centroid
    replaces the best so far, so ties go to the lowest id."""
    x = xy[:, 0].astype(np.float64)
    y = xy[:, 1].astype(np.float64)
    best = np.full(len(xy), np.inf)
    out = np.zeros(len(xy), dtype=np.int64)
    d, dy = np.empty_like(x), np.empty_like(y)
    closer = np.empty(len(xy), dtype=bool)
    for i, (cx, cy) in enumerate(np.asarray(cents, dtype=np.float64)):
        np.subtract(x, cx, out=d)
        np.multiply(d, d, out=d)
        np.subtract(y, cy, out=dy)
        np.multiply(dy, dy, out=dy)
        np.add(d, dy, out=d)
        np.less(d, best, out=closer)
        np.putmask(out, closer, i)
        np.minimum(best, d, out=best)
    return out


def lloyd(
    xy: np.ndarray, init: np.ndarray, max_iter: int, tol: float
) -> tuple[np.ndarray, int]:
    """Lloyd's loop; returns (centroids, iterations run)."""
    cents = np.asarray(init, dtype=np.float64).copy()
    k = len(cents)
    x = xy[:, 0].astype(np.float64)
    y = xy[:, 1].astype(np.float64)
    it = 0
    for it in range(1, max_iter + 1):
        lab = assign(xy, cents)
        n = np.bincount(lab, minlength=k)
        new = cents.copy()
        live = n > 0
        new[live, 0] = np.bincount(lab, weights=x, minlength=k)[live] / n[live]
        new[live, 1] = np.bincount(lab, weights=y, minlength=k)[live] / n[live]
        shift = float(np.max(np.hypot(*(new - cents).T)))
        cents = new
        if shift <= tol:
            break
    return cents, it


def seed_order(n: int, k: int, seed: int) -> np.ndarray:
    """Row ids ``seed_centroids_2d`` picks when ``id`` is the line number:
    order by the first 8 hex digits of md5("seed<S>:<id>"), then id."""
    keys = [
        (int(hashlib.md5(f"seed{seed}:{i}".encode()).hexdigest()[:8], 16), i)
        for i in range(n)
    ]
    return np.array([i for _, i in sorted(keys)[:k]], dtype=np.int64)


def centroids_match(got, want) -> bool:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    return got.shape == want.shape and bool(
        np.all(np.abs(got - want) <= ATOL + RTOL * np.abs(want))
    )


def point_lines_match(text: str, want) -> bool:
    """The CLI prints ``Point: (x,y)`` per centroid with the mean cast to
    bigint (truncation).  A mean within ATOL of an integer may truncate
    either way, so both neighbours are accepted there."""
    got = [m.groups() for m in map(_POINT_LINE.match, text.splitlines()) if m]
    if len(got) != len(want):
        return False
    for (gx, gy), (wx, wy) in zip(got, want):
        for g, w in ((int(gx), wx), (int(gy), wy)):
            if g not in {math.trunc(w - ATOL), math.trunc(w + ATOL)}:
                return False
    return True


def histogram_matches(got: dict[int, int], labels: np.ndarray, k: int) -> bool:
    """Per-cluster row counts read back from the sink vs the oracle's."""
    want = np.bincount(labels, minlength=k)
    expected = {c: int(v) for c, v in enumerate(want) if v}
    return got == expected
