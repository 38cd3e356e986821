"""Seeded Birch-shaped point generator.

Birch-sets (the reference's dataset) are Gaussian blobs of non-negative
integer points in [0, 10**6]^2, stored one ``x y`` pair per line.  The
real ``birch1.txt`` is not shipped with the repository, so the benchmark
draws its own data of the same shape: ``k`` blobs with per-blob spread,
rounded to integers and clipped to the coordinate box.  The same seed
always gives the same points, centres and file bytes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

COORD_MAX = 1_000_000
#: blob centres stay this far inside the box so most of a blob survives
#: the clip
CENTER_MARGIN = 100_000
SPREAD_RANGE = (15_000.0, 40_000.0)


@dataclass(frozen=True)
class Points:
    """Generated input: integer points plus the blob parameters."""

    seed: int
    xy: np.ndarray  # (n, 2) int64
    centers: np.ndarray  # (k, 2) float64, the blob means before rounding
    spread: np.ndarray  # (k,) float64, per-blob standard deviation

    def describe(self, path: str, file_bytes: int) -> dict:
        return {
            "seed": self.seed,
            "n": int(len(self.xy)),
            "k": int(len(self.centers)),
            "spread_min": round(float(self.spread.min()), 1),
            "spread_max": round(float(self.spread.max()), 1),
            "file": path,
            "file_bytes": file_bytes,
        }


def make_points(seed: int, n: int, k: int = 15) -> Points:
    if n < k or k < 1:
        raise ValueError(f"need n >= k >= 1, got n={n} k={k}")
    rng = np.random.default_rng(seed)
    centers = rng.uniform(CENTER_MARGIN, COORD_MAX - CENTER_MARGIN, size=(k, 2))
    spread = rng.uniform(*SPREAD_RANGE, size=k)
    blob = rng.integers(0, k, size=n)
    xy = centers[blob] + rng.standard_normal((n, 2)) * spread[blob, None]
    xy = np.clip(np.rint(xy), 0, COORD_MAX).astype(np.int64)
    return Points(seed=seed, xy=xy, centers=centers, spread=spread)


def write_points(xy: np.ndarray, path: str, chunk: int = 200_000) -> int:
    """Write ``x y`` lines (the reference scanner's input format) and
    return the file size in bytes."""
    size = 0
    with open(path, "w") as f:
        for start in range(0, len(xy), chunk):
            part = xy[start : start + chunk]
            text = ("%d %d\n" * len(part)) % tuple(part.ravel().tolist())
            size += f.write(text)
    return size
