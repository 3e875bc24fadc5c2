"""Vectorized planar geometry kernels (no geometry library — from-scratch).

Point-in-polygon uses even-odd ray casting over all rings, so holes from
the reference's ring-winding decomposition (reference shp.go:261-283) are
handled by crossing parity without any winding bookkeeping.  All kernels
are numpy-vectorized; they run inside pandas UDFs on executors or on the
driver for small polygon sets.
"""

from __future__ import annotations

import numpy as np


def rings_of(coords: np.ndarray, ends: list[int] | np.ndarray, stride: int = 2):
    """Yield (x, y) arrays per ring/part from flat coords + ends offsets."""
    prev = 0
    for end in ends:
        seg = coords[prev:end]
        yield seg[0::stride], seg[1::stride]
        prev = end


def point_in_polygon(px: np.ndarray, py: np.ndarray,
                     coords: np.ndarray, ends, stride: int = 2) -> np.ndarray:
    """Even-odd ray-cast PIP of N points against one (multi)polygon.

    Crossing parity over *all* rings of all constituent polygons: outer
    rings add containment, hole rings subtract it — exactly the semantics
    implied by the reference's CW-outer/CCW-hole model (shp.go:246-256).
    Returns a boolean array of length N.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for x, y in rings_of(np.asarray(coords, dtype=np.float64), ends, stride):
        x1, y1 = x[:-1], y[:-1]
        x2, y2 = x[1:], y[1:]
        # for each point, edges whose y-span straddles the point's y; the
        # crossing abscissa is computed for those pairs only (a few per
        # point), so no division ever sees y1 == y2
        pi, ei = np.nonzero(
            (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None]))
        xs = x1[ei] + (py[pi] - y1[ei]) / (y2 - y1)[ei] * (x2 - x1)[ei]
        crossings = np.bincount(pi[px[pi] < xs], minlength=len(px))
        inside ^= (crossings % 2).astype(bool)
    return inside


def point_in_polygon_chunked(px, py, coords, ends, stride: int = 2,
                             chunk: int = 4096) -> np.ndarray:
    """PIP with bounded memory: the straddle matrix is points × edges, so
    chunk the points axis (executor-memory awareness at scale)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.empty(px.shape, dtype=bool)
    for i in range(0, len(px), chunk):
        out[i:i + chunk] = point_in_polygon(px[i:i + chunk], py[i:i + chunk],
                                            coords, ends, stride)
    return out


def edge_bboxes(coords: np.ndarray, ends, stride: int = 2):
    """Per-edge bounding boxes (exmin, eymin, exmax, eymax) over all rings."""
    bxs, bys, bXs, bYs = [], [], [], []
    for x, y in rings_of(np.asarray(coords, dtype=np.float64), ends, stride):
        bxs.append(np.minimum(x[:-1], x[1:]))
        bXs.append(np.maximum(x[:-1], x[1:]))
        bys.append(np.minimum(y[:-1], y[1:]))
        bYs.append(np.maximum(y[:-1], y[1:]))
    return (np.concatenate(bxs), np.concatenate(bys),
            np.concatenate(bXs), np.concatenate(bYs))


def polygon_bbox(coords: np.ndarray, stride: int = 2):
    c = np.asarray(coords, dtype=np.float64)
    return (c[0::stride].min(), c[1::stride].min(),
            c[0::stride].max(), c[1::stride].max())
