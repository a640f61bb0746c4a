"""Numpy oracles for every timed operation of the benchmark.

Written from the operations' definitions, not from the engine: nothing here
imports ``pyramidscheme_jl_spark``. Inputs are closed-form or seeded, so each
expected output is recomputed exactly on the driver.
"""

from __future__ import annotations

import numpy as np

TILE = 256


def tile_pattern(size: int = TILE) -> np.ndarray:
    x = np.arange(size, dtype=np.int64)[None, :]
    y = np.arange(size, dtype=np.int64)[:, None]
    return x ^ y


def image(gx: int, gy: int, off: int, size: int = TILE) -> np.ndarray:
    """Pixels of the image in grid slot (gx, gy) carrying offset ``off``."""
    return ((16 * (gx + gy) + tile_pattern(size) + off) % 256).astype(np.uint8)


def mosaic(offsets: np.ndarray, size: int = TILE) -> np.ndarray:
    """Base mosaic for a (gy, gx) grid of per-image offsets, as uint8."""
    gy, gx = np.indices(offsets.shape)
    add = 16 * (gx + gy) + offsets.astype(np.int64)
    m = (tile_pattern(size)[None, :, None, :] + add[:, None, :, None]) % 256
    ny, nx = offsets.shape
    return m.reshape(ny * size, nx * size).astype(np.uint8)


def mean_levels(base: np.ndarray, nlevels: int) -> list[np.ndarray]:
    """[base, level 1, ..., level nlevels]: level z holds the mean of each
    2^z x 2^z block of base pixels, which equals the mean of 2x2 blocks of
    level z-1. Computed from exact integer block sums; every mean is a
    dyadic rational with at most 18 significant bits, so it is exact in
    float32 and compares with ``==`` to float32 and float64 level tiles."""
    out = [base]
    s = base.astype(np.int64)
    for z in range(1, nlevels + 1):
        h, w = s.shape
        if h % 2 or w % 2:
            raise ValueError("oracle levels need even level shapes")
        s = s.reshape(h // 2, 2, w // 2, 2).sum(axis=(1, 3))
        out.append((s / float(4 ** z)).astype(np.float32))
    return out


def nlevels_for(size_px: int, tilesize: int = TILE) -> int:
    """Levels above the base until one tile covers the level."""
    n = 0
    while size_px > tilesize:
        size_px = (size_px + 1) // 2
        n += 1
    return n


def viewport(z: int, ox: int, oy: int, target=(1024, 512)):
    """Base-pixel extent whose level-``z`` window is exactly ``target``
    pixels starting at level pixel (ox, oy): the level a reader should pick
    is ``z`` and the expected crop is ``level[oy:oy+th, ox:ox+tw]``."""
    s = 1 << z
    return (float(ox * s), float(oy * s), float((ox + target[0]) * s), float((oy + target[1]) * s))


def check_tiles(level: np.ndarray, tiles, tilesize: int = TILE) -> None:
    """Compare decoded tiles ``(tx, ty, array)`` with the oracle level.
    Raises on a missing, extra or differing tile."""
    ny = -(-level.shape[0] // tilesize)
    nx = -(-level.shape[1] // tilesize)
    seen = set()
    for tx, ty, arr in tiles:
        if (tx, ty) in seen:
            raise AssertionError(f"duplicate tile ({tx}, {ty})")
        seen.add((tx, ty))
        want = level[ty * tilesize:(ty + 1) * tilesize, tx * tilesize:(tx + 1) * tilesize]
        if arr.shape != want.shape or not np.array_equal(arr, want):
            raise AssertionError(f"tile ({tx}, {ty}) differs from the oracle")
    if len(seen) != nx * ny:
        raise AssertionError(f"{len(seen)} tiles, expected {nx * ny}")


def even_odd(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd ray cast (+x direction) of points against a list of rings."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x1, y1 = r[:, 0], r[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        for a, b, c, d in zip(x1, y1, x2, y2):
            if b == d:
                continue
            crosses = (b > py) != (d > py)
            xint = a + (py - b) * (c - a) / (d - b)
            inside ^= crosses & (px < xint)
    return inside


def polygon_rings(poly: dict) -> list[np.ndarray]:
    """The rings of a ``{"ring": ...}`` polygon as a list of (n, 2) arrays."""
    g = poly["ring"]
    if np.asarray(g[0]).ndim == 1:
        return [np.asarray(g, dtype=np.float64)]
    return [np.asarray(r, dtype=np.float64) for r in g]


def pip_pairs(px, py, polygons) -> set[tuple[int, str]]:
    out = set()
    for p in polygons:
        hit = np.nonzero(even_odd(px, py, polygon_rings(p)))[0]
        out.update((int(i), p["polygon_id"]) for i in hit)
    return out


def zonal_masks(shape, polygons) -> dict[str, tuple[slice, slice, np.ndarray]]:
    """Per polygon: the bounding-box slices of a raster of ``shape`` and the
    mask of pixels whose centres fall inside it."""
    out = {}
    h, w = shape
    for p in polygons:
        rings = polygon_rings(p)
        pts = np.concatenate(rings)
        x0 = max(0, int(np.floor(pts[:, 0].min())))
        x1 = min(w, int(np.ceil(pts[:, 0].max())) + 1)
        y0 = max(0, int(np.floor(pts[:, 1].min())))
        y1 = min(h, int(np.ceil(pts[:, 1].max())) + 1)
        yy, xx = np.mgrid[y0:y1, x0:x1]
        mask = even_odd(xx.ravel() + 0.5, yy.ravel() + 0.5, rings).reshape(yy.shape)
        out[p["polygon_id"]] = (slice(y0, y1), slice(x0, x1), mask)
    return out


def zonal(base: np.ndarray, masks) -> dict[str, tuple[int, int, int, int]]:
    """Per polygon ``(n_px, sum, min, max)`` over the masked pixels."""
    out = {}
    for pid, (ys, xs, mask) in masks.items():
        v = base[ys, xs][mask].astype(np.int64)
        if v.size:
            out[pid] = (int(v.size), int(v.sum()), int(v.min()), int(v.max()))
    return out


def knn(qx, qy, dx, dy, k: int) -> np.ndarray:
    """Distances of the k nearest data points per query, ascending."""
    d = np.hypot(qx[:, None] - dx[None, :], qy[:, None] - dy[None, :])
    return np.sort(d, axis=1)[:, :k]


def extract(base: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Base pixel under each point (points lie inside the base)."""
    return base[np.floor(y).astype(np.int64), np.floor(x).astype(np.int64)]
