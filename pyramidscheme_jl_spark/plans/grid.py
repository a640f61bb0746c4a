"""Quadtree grid / level planning math.

Re-expresses the reference's level arithmetic (PyramidScheme.jl) as pure
Python/numpy driver-side planning functions:

- ``compute_nlevels``    <- /root/reference/src/PyramidScheme.jl:290-295
- ``level_shape``        <- /root/reference/src/PyramidScheme.jl:435 (ceil sizes)
- ``levelindex``         <- /root/reference/src/PyramidScheme.jl:161-164 (bit shift)
- ``agg_axis``           <- /root/reference/src/PyramidScheme.jl:297-304 (midpoints)
- ``select_level``       <- /root/reference/src/PyramidScheme.jl:447-467

Coordinate conventions (documented in SURVEY.md §1.5):

- World space == base-pixel space: pixel ``(x, y)`` of the base mosaic covers
  the world rectangle ``[x, x+1) x [y, y+1)``; pixel *centers* sit at
  ``x + 0.5``.
- Levels are bottom-up: ``z = 0`` is the base, ``z = n`` the coarsest
  (canonicalized like the reference *reader*, PyramidScheme.jl:66-73 — its
  writer is coarsest-first, a documented inconsistency we do not copy).
- A level-``z`` pixel covers a ``2^z x 2^z`` block of base pixels.
- Tiles are ``tilesize x tilesize`` pixel blocks of a level; tile ``(tx, ty)``
  at level z covers level-z pixels ``[tx*T, (tx+1)*T) x [ty*T, (ty+1)*T)``
  (clipped to the level shape -> ragged right/bottom edge tiles).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

DEFAULT_TILESIZE = 256  # matches compute_nlevels tilesize default (ref :295)


def compute_nlevels(shape: tuple[int, ...], tilesize: int = DEFAULT_TILESIZE) -> int:
    """Number of aggregation levels above the base.

    ``max(0, ceil(log2(max(shape) / tilesize)))`` — pinned values (reference
    test/runtests.jl:63-68): 1000 -> 2, (1000, 1025) -> 3, (10000, 8000) -> 6.
    """
    m = max(shape)
    if m <= 0:
        return 0
    return max(0, math.ceil(math.log2(m / tilesize)))


def level_shape(base_shape: tuple[int, int], z: int) -> tuple[int, int]:
    """Pixel shape (width, height) of level ``z``: ``ceil(base / 2^z)``.

    Matches ``pyramid_sizes`` (reference src/PyramidScheme.jl:435).
    """
    w, h = base_shape
    return (-(-w // (1 << z)), -(-h // (1 << z)))


def levelindex(z: int, i):
    """Base-pixel index -> level-z pixel index (0-based): ``i >> z``.

    Reference (1-based): ``(i - 1) >> z + 1`` (src/PyramidScheme.jl:161-164).
    Works on ints or numpy arrays.
    """
    return i >> z


def tile_count(base_shape: tuple[int, int], z: int, tilesize: int = DEFAULT_TILESIZE) -> tuple[int, int]:
    """Number of tiles (nx, ny) at level z."""
    w, h = level_shape(base_shape, z)
    return (-(-w // tilesize), -(-h // tilesize))


def tile_pixel_window(
    base_shape: tuple[int, int], z: int, tx: int, ty: int, tilesize: int = DEFAULT_TILESIZE
) -> tuple[int, int, int, int]:
    """(x0, y0, w, h) of tile (tx, ty) in level-z pixel coords, clipped.

    Ragged right/bottom tiles get w/h < tilesize (ceil semantics, ref :435).
    """
    lw, lh = level_shape(base_shape, z)
    x0 = tx * tilesize
    y0 = ty * tilesize
    return (x0, y0, max(0, min(tilesize, lw - x0)), max(0, min(tilesize, lh - y0)))


def tile_extent(
    base_shape: tuple[int, int], z: int, tx: int, ty: int, tilesize: int = DEFAULT_TILESIZE
) -> tuple[float, float, float, float]:
    """World (base-pixel-space) coverage extent (xmin, ymin, xmax, ymax).

    A level-z pixel covers 2^z base pixels; edge tiles are clipped to the base
    extent.
    """
    x0, y0, w, h = tile_pixel_window(base_shape, z, tx, ty, tilesize)
    s = float(1 << z)
    bw, bh = base_shape
    return (
        x0 * s,
        y0 * s,
        min((x0 + w) * s, float(bw)),
        min((y0 + h) * s, float(bh)),
    )


def agg_axis(values: np.ndarray, n: int) -> np.ndarray:
    """Aggregate a uniform coordinate axis by factor ``n``.

    Exact mirror of the reference's ``agg_axis``
    (src/PyramidScheme.jl:296-303): ``npoints = cld(len, n)``,
    ``half = step*(n-1)/2``, then ``LinRange(first + sgn*half,
    last - sgn*half, npoints)`` — i.e. the endpoints are pinned and the
    interior is evenly spaced (NOT an arithmetic progression of step*n when
    the length is not divisible by n; ADVICE r1 flagged the divergence).
    For divisible lengths this equals block midpoints. The reference notes
    this is "only correct for points not intervals" — same caveat applies.
    Reversed axes keep their direction (the sgn factor falls out of using
    first/last directly).
    """
    values = np.asarray(values, dtype=np.float64)
    if len(values) == 0 or n <= 1:
        return values
    step = values[1] - values[0] if len(values) > 1 else 1.0
    npoints = -(-len(values) // n)
    half = step * (n - 1) / 2.0
    start = values[0] + half
    stop = values[-1] - half
    return np.linspace(start, stop, npoints)


@dataclass(frozen=True)
class WindowPlan:
    """Plan for a viewport read: which level, which tiles, which pixel crop."""

    z: int
    px0: int  # level-z pixel window (inclusive start)
    py0: int
    px1: int  # exclusive end
    py1: int
    tx0: int  # tile range (inclusive)
    ty0: int
    tx1: int
    ty1: int


def select_level(
    base_shape: tuple[int, int],
    nlevels: int,
    extent: tuple[float, float, float, float],
    target_imsize: tuple[int, int] = (1024, 512),
) -> int:
    """Pick the pyramid level for a viewport query.

    Mirrors ``selectlevel`` (reference src/PyramidScheme.jl:447-467):
    ``basepixels = extent_fraction * size(base)``;
    ``dimlevels = log2(basepixels / target_imsize)``;
    ``z = clamp(ceil(max(dimlevels)), 0, nlevels)``.
    Invariant (reference test/runtests.jl:105-127): returned level size per
    dim is in ``[target/2, target]`` when the extent is the full dataset.
    """
    bw, bh = base_shape
    xmin, ymin, xmax, ymax = extent
    fx = max(0.0, min(xmax, bw) - max(xmin, 0.0)) / bw
    fy = max(0.0, min(ymax, bh) - max(ymin, 0.0)) / bh
    basepixels = (fx * bw, fy * bh)
    dimlevels = [
        math.log2(bp / t) if bp > 0 and t > 0 else float("-inf")
        for bp, t in zip(basepixels, target_imsize)
    ]
    n_agg = max(dimlevels)
    if n_agg == float("-inf"):
        return 0
    return int(min(max(math.ceil(n_agg), 0), nlevels))


def plan_window(
    base_shape: tuple[int, int],
    nlevels: int,
    extent: tuple[float, float, float, float],
    target_imsize: tuple[int, int] = (1024, 512),
    tilesize: int = DEFAULT_TILESIZE,
    min_level: int = 0,
) -> WindowPlan:
    """Full read plan: level choice + tile range + pixel crop for an extent.
    ``min_level`` floors the level choice (the finest level stored — a
    levels-only pyramid has no z=0)."""
    z = max(min_level, select_level(base_shape, nlevels, extent, target_imsize))
    lw, lh = level_shape(base_shape, z)
    s = float(1 << z)
    xmin, ymin, xmax, ymax = extent
    px0 = max(0, min(lw, int(math.floor(xmin / s))))
    py0 = max(0, min(lh, int(math.floor(ymin / s))))
    px1 = max(px0, min(lw, int(math.ceil(xmax / s))))
    py1 = max(py0, min(lh, int(math.ceil(ymax / s))))
    return WindowPlan(
        z=z,
        px0=px0,
        py0=py0,
        px1=px1,
        py1=py1,
        tx0=px0 // tilesize,
        ty0=py0 // tilesize,
        tx1=max(px0 // tilesize, (px1 - 1) // tilesize),
        ty1=max(py0 // tilesize, (py1 - 1) // tilesize),
    )


def extents_intersect(
    a: tuple[float, float, float, float], b: tuple[float, float, float, float]
) -> bool:
    """bbox overlap test — empty-result short-circuit (reference :456)."""
    return a[0] < b[2] and a[2] > b[0] and a[1] < b[3] and a[3] > b[1]
