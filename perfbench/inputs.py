"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of the seed: numpy draws from a
`default_rng([seed, stream])` and the document corpus uses the package's
own `synth_docs(..., seed=...)`. The seed moves things around (positions,
rotations, noise, which shape goes where) but the multiset of shape sizes
is fixed, so every seed asks for about the same amount of work and the
run-to-run spread measures the program, not the draw. Coordinates and
elevations are rounded to 0.001 so that points can fall exactly on
polygon edges and DEM cells can tie, which exercises the boundary-outside
and first-maximum rules.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

EXTENT = (0.0, 1000.0, 0.0, 1000.0)  # (min_x, max_x, min_y, max_y)

# tag_tile_write
N_DOCS = 12_000
N_POLYGONS = 300
TILE_WIDTH = 200.0

# hydro_chain: 2 tiles of fill_depressions (256) and 5 of d8 (64)
DEM_ROWS = 272
DEM_COLS = 64

# knn_grid
N_BACKGROUND = 20_000
N_HOTSPOT = 20_000
N_SPOTS = 12
N_QUERIES = 4_000
K = 4


def fingerprint(*arrays: np.ndarray) -> str:
    """Short content hash of generated arrays (shape, dtype and bytes)."""
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(f"{a.dtype.str}{a.shape}".encode())
        h.update(a.tobytes())
    return h.hexdigest()[:16]


def star_polygons(seed: int, n: int = N_POLYGONS) -> list[dict]:
    """Star-shaped polygons (clockwise shells), every third with a
    counter-clockwise hexagonal hole; neighbours overlap freely."""
    rng = np.random.default_rng([seed, 1])
    k = np.arange(n)
    outer = rng.permutation(15.0 + 30.0 * k / (n - 1))
    inner_share = rng.permutation(0.35 + 0.35 * ((k * 7) % n) / (n - 1))
    spikes = rng.permutation(5 + k % 5)
    holed = rng.permutation(k % 3 == 0)
    polys = []
    for i in range(n):
        cx, cy = rng.uniform(60.0, 940.0, 2)
        step = math.pi / spikes[i]
        ang = rng.uniform(0.0, 2.0 * math.pi) - step * np.arange(2 * spikes[i])  # clockwise
        rad = np.where(np.arange(2 * spikes[i]) % 2 == 0, outer[i], outer[i] * inner_share[i])
        rad = rad * rng.uniform(0.9, 1.1, 2 * spikes[i])
        parts = [{"is_hole": False,
                  "ring": _closed(cx + rad * np.cos(ang), cy + rad * np.sin(ang))}]
        if holed[i]:
            # the inner vertices are the shell's points closest to the
            # centre, so half their smallest radius keeps the hole inside
            hr = 0.5 * float(rad[1::2].min())
            hang = rng.uniform(0.0, 2.0 * math.pi) + np.arange(6) * math.pi / 3
            parts.append({"is_hole": True,
                          "ring": _closed(cx + hr * np.cos(hang), cy + hr * np.sin(hang))})
        polys.append({"polygon_id": i + 1, "name": f"star-{i + 1}", "parts": parts})
    return polys


def _closed(xs: np.ndarray, ys: np.ndarray) -> list[tuple[float, float]]:
    ring = [(round(float(x), 3), round(float(y), 3)) for x, y in zip(xs, ys)]
    return ring + ring[:1]


def polygons_array(polys: list[dict]) -> np.ndarray:
    """(polygon_id, is_hole, x, y) per ring vertex, for fingerprinting."""
    return np.asarray([(p["polygon_id"], part["is_hole"], x, y)
                       for p in polys for part in p["parts"] for x, y in part["ring"]],
                      dtype=np.float64)


def dem(seed: int, rows: int = DEM_ROWS, cols: int = DEM_COLS) -> np.ndarray:
    """Tilted plane + seeded noise, with planted pits (bowls) and flats
    (constant rectangles); float64, rounded to 0.001.

    The pits and flats sit at the same places for every seed, and the
    noise (up to 0.003, against a slope of 0.025-0.04 per cell) is too
    small to reroute the drainage. Where depressions straddle tile edges
    and how long the flow paths between tiles are decide how many
    exchange and doubling rounds the tiled plans run, so a seeded layout
    would change the job count (37 to 62 here) from seed to seed. The
    seed draws the noise, which changes cell values and ties."""
    layout = np.random.default_rng(2)
    rng = np.random.default_rng([seed, 2])
    r, c = np.mgrid[0:rows, 0:cols].astype(np.float64)
    z = 100.0 + 0.04 * r + 0.025 * c + rng.uniform(0.0, 0.003, (rows, cols))
    for k in range(24):  # pits
        pr, pc = layout.uniform(0, rows), layout.uniform(0, cols)
        rad, depth = 3.0 + 11.0 * k / 23, 1.0 + 4.0 * ((k * 5) % 24) / 23
        d = np.hypot(r - pr, c - pc)
        z -= np.where(d < rad, depth * (1.0 - d / rad), 0.0)
    for k in range(10):  # flats
        h, w = 4 + (k * 3) % 16, 4 + (k * 7) % 16
        r0, c0 = int(layout.integers(0, rows - h)), int(layout.integers(0, cols - w))
        z[r0:r0 + h, c0:c0 + w] = round(float(z[r0:r0 + h, c0:c0 + w].mean()), 1)
    return np.round(z, 3)


def clustered_points(seed: int) -> np.ndarray:
    """(N, 2) points: Gaussian hot spots of fixed widths and sizes, one
    per cell of a 4x3 grid at a seeded place inside it, over a sparse
    uniform background, inside [0, 1000)^2; point id = row index."""
    rng = np.random.default_rng([seed, 3])
    bg = rng.uniform(0.0, 1000.0, (N_BACKGROUND, 2))
    gx, gy = np.meshgrid(np.arange(4), np.arange(3))
    cell = np.array([1000.0 / 4, 1000.0 / 3])
    centers = (np.column_stack([gx.ravel(), gy.ravel()]) + rng.uniform(0.35, 0.65, (N_SPOTS, 2))) * cell
    sigma = rng.permutation(np.linspace(15.0, 50.0, N_SPOTS))
    which = np.arange(N_HOTSPOT) % N_SPOTS
    hot = centers[which] + rng.normal(size=(N_HOTSPOT, 2)) * sigma[which, None]
    return np.round(np.clip(np.vstack([bg, hot]), 0.0, 999.999), 3)


def query_ids(seed: int, n_points: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 4])
    return np.sort(rng.choice(n_points, N_QUERIES, replace=False)).astype(np.int64)
