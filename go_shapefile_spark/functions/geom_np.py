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


def ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """``arange(s, s + c)`` for every (start, count) pair, concatenated."""
    return np.arange(counts.sum()) + np.repeat(
        starts - (np.cumsum(counts) - counts), counts)


def points_in_polygons(px: np.ndarray, py: np.ndarray, pid: np.ndarray,
                       seg: np.ndarray, seg_pid: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast PIP of every point ``(px[i], py[i])`` against
    polygon ``pid[i]``, whose ring edges are the rows of ``seg`` (E, 4)
    ``[x1, y1, x2, y2]`` with ``seg_pid == pid[i]`` — batched over all
    polygons, and equal to ``point_in_polygon`` per polygon.

    Points are grouped by distinct (polygon, y): an edge straddles a
    group when ``min(y1, y2) <= y < max(y1, y2)`` (the ``(y1 > y) !=
    (y2 > y)`` test), and its crossing abscissa is computed once per
    (group, straddling edge) with ``point_in_polygon``'s float ops.  A
    sorted merge of abscissas and points then counts, per point, the
    abscissas east of it (``px < xs``).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    if not len(px):
        return np.zeros(0, dtype=bool)
    uy, yrank = np.unique(py, return_inverse=True)
    r = len(uy)
    gkey, grp = np.unique(np.asarray(pid, np.int64) * r + yrank,
                          return_inverse=True)
    gy = uy[gkey % r]
    x1, y1, x2, y2 = np.asarray(seg, dtype=np.float64).T
    base = np.asarray(seg_pid, np.int64) * r
    glo = np.searchsorted(gkey, base + np.searchsorted(uy, np.minimum(y1, y2)))
    ghi = np.searchsorted(gkey, base + np.searchsorted(uy, np.maximum(y1, y2)))
    cnt = ghi - glo
    ei = np.repeat(np.arange(len(cnt)), cnt)
    gi = ranges(glo, cnt)
    xs = x1[ei] + (gy[gi] - y1[ei]) / (y2 - y1)[ei] * (x2 - x1)[ei]
    # merge: within a group, abscissas sort before points of equal value,
    # so the abscissas at or before a point are exactly those <= px
    m = len(xs)
    kind = np.concatenate([np.zeros(m, np.int8), np.ones(len(px), np.int8)])
    order = np.lexsort((kind, np.concatenate([xs, px]),
                        np.concatenate([gi, grp])))
    is_x = kind[order] == 0
    at_or_before = np.cumsum(is_x)[~is_x]
    point = order[~is_x] - m
    group_end = np.cumsum(np.bincount(gi, minlength=len(gkey)))
    inside = np.empty(len(px), dtype=bool)
    inside[point] = (group_end[grp[point]] - at_or_before) % 2 == 1
    return inside
