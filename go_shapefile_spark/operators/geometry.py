"""Planar geometry measures + Douglas–Peucker simplification over the
flat-coordinate geometry model.

Area / perimeter / centroid per feature — the ST_Area / ST_Length /
ST_Centroid analog the engine's analytic layer needs (the reference
parses geometry but computes no measures; its winding primitive is
shp.go:246-256, mirrored by shapefile_core._double_area).

Measures and simplification are per-geometry kernels (like decode and
the numpy PIP): each feature is independent, so the distributed shape
is one Arrow-batched pass with no shuffle.  Shapefile winding (outer
rings clockwise, holes counter-clockwise,
shapefile_core.make_multipolygon_endss) means the standard CCW-positive
shoelace sum is negative for solid area; holes carry the opposite sign
and subtract automatically, so ``area = -Σ signed2 / 2`` over ALL rings
of a feature and the ring→polygon grouping (``rings``) never needs to
be consulted for measures.

Each kernel has a per-feature reference and one batched path:

* per-feature (``feature_measures`` / ``simplify_feature``) — the
  readable, independent reference the batched path is tested against;
* BATCHED (``measures_batch`` / ``dp_keep_mask_batch`` /
  ``simplify_batch``) — the canonical path.  A per-feature
  Python loop costs ~1 ms/feature in numpy call overhead (measured:
  1.3k features/s/core for 64-gon DP); the batched forms run the same
  arithmetic level-synchronously across EVERY ring of an Arrow batch
  at once (segmented reductions via ``np.*.reduceat`` over ring
  boundary arrays), so the cost per level is a handful of numpy calls
  regardless of feature count.  DP keep-masks are bit-identical
  between the two forms (same elementwise expressions, same
  first-max tie-break; tests assert equality on every ne_110m ring).
  Float SUMS differ in the last ulp (``ndarray.sum`` is pairwise,
  ``reduceat`` is sequential), so the batched form is canonical.

Each operator's Arrow batch function (``run_geom_measures``,
``run_geodesic_measures``, ``run_simplify``) is a module-level
function: Spark runs it through ``map_features``, and the DuckDB
oracles pin literals from the same function run on the driver over the
core parser's records (``sources.shapefile.map_records``).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from ..sources.shapefile import map_features
from ..sources.shapefile_core import (SHAPE_TYPE_POLYGON,
                                      SHAPE_TYPE_POLYGON_M,
                                      SHAPE_TYPE_POLYGON_Z,
                                      SHAPE_TYPE_POLYLINE,
                                      SHAPE_TYPE_POLYLINE_M,
                                      SHAPE_TYPE_POLYLINE_Z, STRIDES)
from . import local

_POLYGONS = {SHAPE_TYPE_POLYGON, SHAPE_TYPE_POLYGON_M, SHAPE_TYPE_POLYGON_Z}
_POLYLINES = {SHAPE_TYPE_POLYLINE, SHAPE_TYPE_POLYLINE_M,
              SHAPE_TYPE_POLYLINE_Z}
# the feature columns a kernel reads (``map_features``); simplify adds
# ``geometry.rings``
KERNEL_COLUMNS = ["fid", "shape_type", "geometry.layout", "geometry.coords",
                  "geometry.ends"]
SIMPLIFY_COLUMNS = KERNEL_COLUMNS + ["geometry.rings"]


def part_measures(coords: np.ndarray, ends, stride: int = 2):
    """Per-part (signed2, length, cx6, cy6) from the flat coords array.

    ``signed2`` is twice the signed shoelace area (CCW positive);
    ``cx6``/``cy6`` are the centroid numerators ``Σ (x_i+x_{i+1})·cross``
    (divide by ``3·Σ signed2`` for the area-weighted centroid — ring
    winding signs cancel in the ratio).  Rings arrive explicitly closed
    (first == last, per the spec; the golden suite guards the parser),
    so consecutive pairs already cover the full cycle.
    """
    out = []
    prev = 0
    for end in ends:
        x = coords[prev:end:stride]
        y = coords[prev + 1:end:stride]
        cross = x[:-1] * y[1:] - x[1:] * y[:-1]
        out.append((float(cross.sum()),
                    float(np.hypot(np.diff(x), np.diff(y)).sum()),
                    float(((x[:-1] + x[1:]) * cross).sum()),
                    float(((y[:-1] + y[1:]) * cross).sum())))
        prev = end
    return out


def feature_measures(shape_type: int, layout: str | None, coords,
                     ends) -> tuple[float, float, float, float]:
    """(area, length, cx, cy) for one feature.

    Polygons: positive planar area under shapefile winding, boundary
    length including holes, area-weighted centroid (vertex mean for
    degenerate zero-area features).  Polylines: area 0, total length,
    vertex mean.  Other shape types are rejected — point measures are
    trivially the point and a silent 0 would mask a caller bug.
    """
    st = int(shape_type)
    stride = STRIDES.get(layout or "XY", 2)
    coords = np.asarray(coords, dtype=np.float64)
    if st in _POLYLINES:
        parts = part_measures(coords, ends, stride)
        length = sum(p[1] for p in parts)
        return 0.0, length, float(coords[0::stride].mean()), \
            float(coords[1::stride].mean())
    if st not in _POLYGONS:
        raise ValueError(f"measures: unsupported shape type {st}")
    parts = part_measures(coords, ends, stride)
    signed2 = sum(p[0] for p in parts)
    length = sum(p[1] for p in parts)
    if signed2 == 0.0:
        return 0.0, length, float(coords[0::stride].mean()), \
            float(coords[1::stride].mean())
    cx = sum(p[2] for p in parts) / (3.0 * signed2)
    cy = sum(p[3] for p in parts) / (3.0 * signed2)
    return -signed2 / 2.0, length, cx, cy


def dp_keep_mask(x: np.ndarray, y: np.ndarray, eps: float) -> np.ndarray:
    """Douglas–Peucker keep-mask over one part (iterative, numpy).

    Distance metric is point-to-SEGMENT (t clamped to [0,1]), not
    point-to-infinite-line — robust when the two anchors coincide,
    which is exactly the closed-ring case: rings arrive closed
    (first == last), the first split degenerates to "farthest point
    from the shared anchor", and every later span is a normal segment,
    so ONE code path serves rings and open polylines.  Guarantee (the
    property tests assert it): every dropped vertex lies within
    ``eps`` of the kept segment spanning it.
    """
    n = x.size
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    e2 = eps * eps
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        dx, dy = x[j] - x[i], y[j] - y[i]
        px, py = x[i + 1:j] - x[i], y[i + 1:j] - y[i]
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            d2 = px * px + py * py
        else:
            t = np.clip((px * dx + py * dy) / l2, 0.0, 1.0)
            d2 = (px - t * dx) ** 2 + (py - t * dy) ** 2
        k = int(np.argmax(d2))
        if d2[k] > e2:
            k += i + 1
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return keep


def simplify_feature(shape_type: int, layout: str | None, coords, ends,
                     rings, eps: float):
    """Simplified (coords, ends, rings) for one feature, or ``None``
    when the whole feature collapses below tolerance.

    Polygons: each ring is simplified independently; a ring that keeps
    fewer than 4 points (under 3 distinct vertices) or simplifies to
    zero area is dropped — it is smaller than the tolerance.  Dropping
    a polygon's OUTER ring drops its holes too (a hole without its
    outer would re-enter the winding decomposition as a bogus island).
    Polylines: endpoints are always kept, parts never drop.  Dropped
    rings void the within-``eps`` guarantee only for their own points.
    """
    st = int(shape_type)
    stride = STRIDES.get(layout or "XY", 2)
    coords = np.asarray(coords, dtype=np.float64)
    pts = coords.reshape(-1, stride)
    if st in _POLYLINES:
        groups = [[e] for e in ends]          # each part stands alone
        closed = False
    elif st in _POLYGONS:
        groups, i = [], 0
        for n_rings in rings:
            groups.append(list(ends[i:i + int(n_rings)]))
            i += int(n_rings)
        closed = True
    else:
        raise ValueError(f"simplify: unsupported shape type {st}")

    kept_parts: list[np.ndarray] = []
    new_ends: list[int] = []
    new_rings: list[int] = []
    pos = 0
    for group in groups:
        group_parts: list[np.ndarray] = []
        outer_dropped = False
        for ring_idx, end in enumerate(group):
            prev = pos
            pos = end
            if outer_dropped:
                continue
            x = coords[prev:end:stride]
            y = coords[prev + 1:end:stride]
            m = dp_keep_mask(x, y, eps)
            if closed:
                xs, ys = x[m], y[m]
                degenerate = (m.sum() < 4 or
                              (xs[:-1] * ys[1:] - xs[1:] * ys[:-1]).sum() == 0.0)
                if degenerate:
                    if ring_idx == 0:
                        outer_dropped = True
                    continue
            group_parts.append(pts[prev // stride:end // stride][m])
        if not group_parts:
            continue
        for part in group_parts:
            kept_parts.append(part)
            new_ends.append((new_ends[-1] if new_ends else 0)
                            + part.size)
        if closed:
            new_rings.append(len(group_parts))
    if not kept_parts:
        return None
    return (np.concatenate(kept_parts).ravel(), new_ends, new_rings)


def run_geodesic_measures(batches):
    """The batch function of :func:`geodesic_measures`."""
    import pyarrow as pa

    for batch in batches:
        fid = batch.column(0).to_numpy(zero_copy_only=False)
        outs = []
        for sel, g, _rv, _rpr, closed, _l in _arrow_groups(
                batch, with_rings=False):
            area, ln = geodesic_measures_batch(g, polyline=not closed)
            outs.append((sel, area, ln))
        if not outs:
            continue
        sel = np.concatenate([o[0] for o in outs])
        yield pa.RecordBatch.from_arrays(
            [pa.array(fid[sel], pa.int64()),
             pa.array(np.concatenate([o[1] for o in outs]),
                      pa.float64()),
             pa.array(np.concatenate([o[2] for o in outs]),
                      pa.float64())],
            names=["fid", "geo_area_m2", "geo_length_m"])


def geodesic_measures(features: DataFrame) -> DataFrame:
    """(fid, geo_area_m2, geo_length_m) per feature — the spherical
    twin of :func:`geom_measures` for lon/lat corpora.  Same plan
    shape: one Arrow pass, no shuffle."""
    return map_features(
        features, KERNEL_COLUMNS, run_geodesic_measures,
        "fid long, geo_area_m2 double, geo_length_m double")


def run_simplify(batches, eps: float):
    """The batch function of :func:`simplify_features`."""
    import pyarrow as pa

    for batch in batches:
        fid = batch.column(0).to_numpy(zero_copy_only=False)
        st = batch.column(1).to_numpy(zero_copy_only=False)
        f_fid, f_st, f_layout = [], [], []
        f_cv, f_cc, f_ev, f_ec, f_rv, f_rc = [], [], [], [], [], []
        for sel, g, rings_vals, rings_per_row, closed, layout in \
                _arrow_groups(batch, with_rings=True):
            mask, kept, part_drop = simplify_batch(
                g, rings_vals, eps, closed)
            n_rows = g.parts_per_row.size
            row_part_starts = np.concatenate(
                ([0], np.cumsum(g.parts_per_row)[:-1]))
            pt_out = np.add.reduceat(kept, row_part_starts) \
                if kept.size else np.zeros(n_rows, np.int64)
            sp = ~part_drop
            sp_sizes = kept[sp] * g.stride
            sp_row = g.row_of_part[sp]
            gcum = np.cumsum(sp_sizes)
            row_sp_counts = np.bincount(sp_row, minlength=n_rows)
            row_first = np.concatenate(
                ([0], np.cumsum(row_sp_counts)[:-1]))
            base = np.concatenate(([0], gcum))[row_first]
            ends_out = gcum - np.repeat(base, row_sp_counts)
            if closed:
                grp_sizes = rings_vals
                grp_first = np.concatenate(
                    ([0], np.cumsum(grp_sizes)[:-1]))
                n_keep_grp = np.add.reduceat(
                    sp.astype(np.int64), grp_first) \
                    if sp.size else np.zeros(0, np.int64)
                grp_row = np.repeat(np.arange(n_rows), rings_per_row)
                live = n_keep_grp > 0
                rings_out = n_keep_grp[live]
                rings_counts = np.bincount(grp_row[live],
                                           minlength=n_rows)
            else:
                rings_out = np.zeros(0, np.int64)
                rings_counts = np.zeros(n_rows, np.int64)
            rk = pt_out > 0
            f_fid.append(fid[sel][rk])
            f_st.append(st[sel][rk])
            f_layout.extend([layout] * int(rk.sum()))
            f_cv.append(g.pts[mask].ravel())
            f_cc.append((pt_out * g.stride)[rk])
            f_ev.append(ends_out)
            f_ec.append(row_sp_counts[rk])
            f_rv.append(rings_out)
            f_rc.append(rings_counts[rk])
        if not f_fid:
            continue

        def _list_arr(vals_list, counts_list, typ):
            counts = np.concatenate(counts_list)
            offs = np.concatenate(([0], np.cumsum(counts)))
            return pa.ListArray.from_arrays(
                pa.array(offs.astype(np.int32)),
                pa.array(np.concatenate(vals_list), typ))

        geom = pa.StructArray.from_arrays(
            [pa.array(f_layout, pa.string()),
             _list_arr(f_cv, f_cc, pa.float64()),
             _list_arr([e.astype(np.int32) for e in f_ev], f_ec,
                       pa.int32()),
             _list_arr([r.astype(np.int32) for r in f_rv], f_rc,
                       pa.int32())],
            names=["layout", "coords", "ends", "rings"])
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(f_fid), pa.int64()),
             pa.array(np.concatenate(f_st), pa.int32()), geom],
            names=["fid", "shape_type", "geometry"])


def simplify_features(features: DataFrame, eps: float) -> DataFrame:
    """Douglas–Peucker simplification of a shapefile DataFrame — the
    ST_Simplify analog (``fid, shape_type, geometry`` out, same
    geometry struct as the source, so the result composes with
    :func:`geom_measures`, the GeoJSON exporter, and the writer).

    Features that collapse entirely below tolerance are filtered out.
    One Arrow pass with the batched level-synchronous DP kernel; the
    simplified geometry struct is reassembled as Arrow list buffers
    straight from numpy (offsets = cumsums of per-row kept counts) —
    no per-row Python on either side.  No shuffle, no driver state —
    parallel by input split at any corpus size.
    """
    if eps < 0:
        raise ValueError("eps must be non-negative")
    return map_features(
        features, SIMPLIFY_COLUMNS, partial(run_simplify, eps=eps),
        "fid long, shape_type int, geometry struct<layout:string, "
        "coords:array<double>, ends:array<int>, rings:array<int>>")


# --- batched kernels (canonical distributed path) ---------------------------


def _gather_ranges(vals: np.ndarray, starts: np.ndarray,
                   lengths: np.ndarray) -> np.ndarray:
    """Concatenate ``vals[starts[i]:starts[i]+lengths[i]]`` — vectorized
    (one fancy-index; no per-range Python)."""
    total = int(lengths.sum())
    if total == 0:
        return vals[:0]
    excl = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    return vals[np.repeat(starts - excl, lengths) + np.arange(total)]


class _BatchGeom:
    """Shared ragged layout of one uniform-(stride, class) row group.

    Everything is in GLOBAL point units over the concatenation of the
    group's rows: parts (rings) are contiguous, rows are contiguous, so
    part starts are simply the previous part's end.
    """

    def __init__(self, coords: np.ndarray, pt_per_row: np.ndarray,
                 part_ends: np.ndarray, parts_per_row: np.ndarray,
                 stride: int):
        self.stride = stride
        self.pts = coords.reshape(-1, stride)
        self.x = coords[0::stride]
        self.y = coords[1::stride]
        self.pt_per_row = pt_per_row
        self.row_starts = np.concatenate(
            ([0], np.cumsum(pt_per_row)[:-1])).astype(np.int64)
        self.part_ends = part_ends
        self.part_starts = np.concatenate(([0], part_ends[:-1]))
        self.parts_per_row = parts_per_row
        self.row_of_part = np.repeat(
            np.arange(parts_per_row.size), parts_per_row)

    @classmethod
    def from_lists(cls, coords_vals, coords_offs, ends_vals, ends_offs,
                   sel, stride: int) -> "_BatchGeom":
        """Build from Arrow list-column buffers for row subset ``sel``
        (absolute value-buffer offsets; gathers only when the subset is
        a true subset)."""
        n_rows = coords_offs.size - 1
        if sel.size == n_rows:
            coords = np.ascontiguousarray(coords_vals[
                coords_offs[0]:coords_offs[-1]])
            ends = ends_vals[ends_offs[0]:ends_offs[-1]].astype(np.int64)
            c_lens = np.diff(coords_offs)
            e_lens = np.diff(ends_offs)
        else:
            c_lens = (coords_offs[sel + 1] - coords_offs[sel])
            e_lens = (ends_offs[sel + 1] - ends_offs[sel])
            coords = _gather_ranges(coords_vals, coords_offs[sel], c_lens)
            ends = _gather_ranges(ends_vals, ends_offs[sel],
                                  e_lens).astype(np.int64)
        pt_per_row = (c_lens // stride).astype(np.int64)
        row_pt_off = np.concatenate(([0], np.cumsum(pt_per_row)[:-1]))
        part_ends = ends // stride + np.repeat(row_pt_off, e_lens)
        return cls(np.asarray(coords, np.float64), pt_per_row,
                   part_ends.astype(np.int64), e_lens.astype(np.int64),
                   stride)


def _part_boundary_zeroed(g: _BatchGeom):
    """(cross, seg) arrays of length n_points with the pair that would
    span a part boundary zeroed — segmented sums over any part- or
    row-aligned ``reduceat`` are then exact within-part sums (adding the
    interleaved zeros is float-exact)."""
    x, y = g.x, g.y
    n = x.size
    cross = np.zeros(n)
    seg = np.zeros(n)
    cross[:n - 1] = x[:-1] * y[1:] - x[1:] * y[:-1]
    seg[:n - 1] = np.hypot(np.diff(x), np.diff(y))
    b = g.part_ends - 1
    cross[b] = 0.0
    seg[b] = 0.0
    return cross, seg


def measures_batch(g: _BatchGeom, polyline: bool):
    """Per-row (area, length, cx, cy) arrays — one segmented-reduction
    pass, no per-feature loop.  Canonical float semantics (sequential
    per-segment sums; see module docstring)."""
    cross, seg = _part_boundary_zeroed(g)
    rs = g.row_starts
    counts = g.pt_per_row.astype(np.float64)
    length = np.add.reduceat(seg, rs)
    mean_x = np.add.reduceat(g.x, rs) / counts
    mean_y = np.add.reduceat(g.y, rs) / counts
    if polyline:
        zero = np.zeros_like(length)
        return zero, length, mean_x, mean_y
    a2 = np.add.reduceat(cross, rs)
    cx6 = np.add.reduceat((g.x[:-1] + g.x[1:]) * cross[:-1], rs) \
        if g.x.size > 1 else np.zeros_like(a2)
    cy6 = np.add.reduceat((g.y[:-1] + g.y[1:]) * cross[:-1], rs) \
        if g.x.size > 1 else np.zeros_like(a2)
    degen = a2 == 0.0
    safe = np.where(degen, 1.0, a2)
    area = np.where(degen, 0.0, -a2 / 2.0)
    cx = np.where(degen, mean_x, cx6 / (3.0 * safe))
    cy = np.where(degen, mean_y, cy6 / (3.0 * safe))
    return area, length, cx, cy


_EARTH_R = 6371008.8          # IUGG mean Earth radius, meters


def geodesic_measures_batch(g: _BatchGeom, polyline: bool):
    """Per-row (area_m2, length_m) on the sphere — haversine edge
    lengths and the Chamberlain–Duquette spherical-excess area (the
    formula turf.js / geojson-area ship for production geography; exact
    for equator-aligned rings, approximation error O(edge²) otherwise).

    Longitude deltas are wrapped to (−π, π] so rings split at the
    antimeridian (Natural Earth's convention) measure correctly.  Same
    winding convention as the planar kernel: shapefile CW outers yield
    a POSITIVE C–D sum (∮ sinφ dλ = +area/R² for CW in lon/lat), so
    ``area = Σ · R²/2``; CCW holes subtract.  One segmented-reduction
    pass, boundary-zeroed like :func:`measures_batch`.
    """
    lam = np.radians(g.x)
    phi = np.radians(g.y)
    n = lam.size
    seg = np.zeros(n)
    tri = np.zeros(n)
    if n > 1:
        dphi = phi[1:] - phi[:-1]
        dlam = lam[1:] - lam[:-1]
        h = (np.sin(dphi / 2) ** 2
             + np.cos(phi[:-1]) * np.cos(phi[1:]) * np.sin(dlam / 2) ** 2)
        seg[:n - 1] = 2.0 * _EARTH_R * np.arcsin(np.sqrt(np.clip(h, 0, 1)))
        wrapped = np.mod(dlam + np.pi, 2 * np.pi) - np.pi
        tri[:n - 1] = wrapped * (2.0 + np.sin(phi[:-1]) + np.sin(phi[1:]))
    b = g.part_ends - 1
    seg[b] = 0.0
    tri[b] = 0.0
    rs = g.row_starts
    length = np.add.reduceat(seg, rs)
    if polyline:
        return np.zeros_like(length), length
    area = np.add.reduceat(tri, rs) * (_EARTH_R * _EARTH_R / 2.0)
    return area, length


def dp_keep_mask_batch(x: np.ndarray, y: np.ndarray,
                       part_starts: np.ndarray, part_ends: np.ndarray,
                       eps: float) -> np.ndarray:
    """Douglas–Peucker keep-mask for EVERY part at once.

    Level-synchronous DP: at each step the still-active points
    partition into contiguous spans; one vectorized pass computes every
    point's segment distance to its span's anchors, a segmented max
    picks each span's farthest point (first-of-ties, matching
    ``np.argmax``), spans over tolerance split, spans under it drop
    their interior.  Work per level is a handful of numpy calls over
    the shrinking active set — independent of how many parts there are.
    Bit-identical to :func:`dp_keep_mask` run per part (tested).
    """
    n = x.size
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[part_starts] = True
    keep[part_ends - 1] = True
    sizes = part_ends - part_starts
    L = np.repeat(part_starts, sizes)
    R = np.repeat(part_ends - 1, sizes)
    idx = np.arange(n)
    active = (idx > L) & (idx < R)
    e2 = eps * eps
    while True:
        ai = np.flatnonzero(active)
        if ai.size == 0:
            break
        a, b = L[ai], R[ai]
        dx, dy = x[b] - x[a], y[b] - y[a]
        px, py = x[ai] - x[a], y[ai] - y[a]
        l2 = dx * dx + dy * dy
        t = np.clip(np.divide(px * dx + py * dy, l2,
                              out=np.zeros_like(l2), where=l2 != 0.0),
                    0.0, 1.0)
        d2 = np.where(l2 == 0.0, px * px + py * py,
                      (px - t * dx) ** 2 + (py - t * dy) ** 2)
        sb = np.flatnonzero(np.concatenate(
            ([True], (a[1:] != a[:-1]) | (b[1:] != b[:-1]))))
        span_n = np.diff(np.append(sb, ai.size))
        mx = np.maximum.reduceat(d2, sb)
        k = np.minimum.reduceat(
            np.where(d2 == np.repeat(mx, span_n), ai, n), sb)
        split = mx > e2
        keep[k[split]] = True
        k_pt = np.repeat(k, span_n)
        split_pt = np.repeat(split, span_n)
        active[ai[~split_pt | (ai == k_pt)]] = False
        lo = split_pt & (ai < k_pt)
        hi = split_pt & (ai > k_pt)
        R[ai[lo]] = k_pt[lo]
        L[ai[hi]] = k_pt[hi]
    return keep


def _arrow_groups(batch, with_rings: bool):
    """Split one Arrow batch into uniform (stride, closed) row groups.

    Yields ``(sel, g, rings_vals, rings_per_row, closed, layout)`` with
    ``g`` a :class:`_BatchGeom` over the selected rows.  Mixed batches
    only occur for unioned multi-type relations; the common single-type
    batch takes the zero-gather path.
    """
    cols = {f.name: batch.column(i) for i, f in enumerate(batch.schema)}
    st = np.asarray(cols["shape_type"].to_numpy(zero_copy_only=False),
                    np.int64)
    layouts = np.asarray(cols["layout"].to_pylist())
    closed_row = np.isin(st, list(_POLYGONS))
    bad = ~closed_row & ~np.isin(st, list(_POLYLINES))
    if bad.any():
        t = int(st[np.flatnonzero(bad)[0]])
        raise ValueError(f"measures: unsupported shape type {t}")
    coords_offs = np.asarray(cols["coords"].offsets, np.int64)
    coords_vals = np.asarray(cols["coords"].values, np.float64)
    ends_offs = np.asarray(cols["ends"].offsets, np.int64)
    ends_vals = np.asarray(cols["ends"].values, np.int64)
    if with_rings:
        rings_offs = np.asarray(cols["rings"].offsets, np.int64)
        rings_all = np.asarray(cols["rings"].values, np.int64)
    for layout in np.unique(layouts):
        stride = STRIDES.get(layout or "XY", 2)
        for closed in (True, False):
            sel = np.flatnonzero((layouts == layout)
                                 & (closed_row == closed))
            if sel.size == 0:
                continue
            g = _BatchGeom.from_lists(coords_vals, coords_offs,
                                      ends_vals, ends_offs, sel, stride)
            rings_vals = rings_per_row = None
            if with_rings and closed:
                r_lens = rings_offs[sel + 1] - rings_offs[sel]
                rings_vals = _gather_ranges(rings_all, rings_offs[sel],
                                            r_lens)
                rings_per_row = r_lens
            yield sel, g, rings_vals, rings_per_row, closed, layout


def simplify_batch(g: _BatchGeom, rings_per_row_vals: np.ndarray,
                   eps: float, closed: bool):
    """Apply DP + the ring-drop policy to a whole row group at once.

    Returns ``(point_mask, kept_pts_per_part, part_drop)`` — everything
    the Arrow assembly needs, all vectorized.  ``rings_per_row_vals``
    is the concatenated ``rings`` lists (polygon group sizes) of the
    group's rows; ignored for polylines.
    """
    keep = dp_keep_mask_batch(g.x, g.y, g.part_starts, g.part_ends, eps)
    n_parts = g.part_ends.size
    kc = np.add.reduceat(keep.astype(np.int64), g.part_starts) \
        if n_parts else np.zeros(0, np.int64)
    if not closed:
        part_drop = np.zeros(n_parts, dtype=bool)
    else:
        kx, ky = g.x[keep], g.y[keep]
        ks = np.concatenate(([0], np.cumsum(kc)[:-1]))
        nk = kx.size
        crossk = np.zeros(nk)
        crossk[:nk - 1] = kx[:-1] * ky[1:] - kx[1:] * ky[:-1]
        crossk[np.cumsum(kc) - 1] = 0.0
        a2k = np.add.reduceat(crossk, ks) if nk else np.zeros(0)
        degenerate = (kc < 4) | (a2k == 0.0)
        # polygon grouping: dropping an OUTER ring drops its holes
        grp_sizes = rings_per_row_vals.astype(np.int64)
        grp_first = np.concatenate(([0], np.cumsum(grp_sizes)[:-1]))
        grp_of_ring = np.repeat(np.arange(grp_sizes.size), grp_sizes)
        part_drop = degenerate | degenerate[grp_first][grp_of_ring]
    mask = keep & ~np.repeat(part_drop, g.part_ends - g.part_starts)
    kept_per_part = np.where(part_drop, 0, kc)
    return mask, kept_per_part, part_drop


def run_geom_measures(batches):
    """The batch function of :func:`geom_measures`."""
    import pyarrow as pa

    for batch in batches:
        fid = batch.column(0).to_numpy(zero_copy_only=False)
        outs = []
        for sel, g, _rv, _rpr, closed, _l in _arrow_groups(
                batch, with_rings=False):
            area, ln, cx, cy = measures_batch(g, polyline=not closed)
            outs.append((sel, area, ln, cx, cy))
        if not outs:
            continue
        sel = np.concatenate([o[0] for o in outs])
        yield pa.RecordBatch.from_arrays(
            [pa.array(fid[sel], pa.int64())] +
            [pa.array(np.concatenate([o[i] for o in outs]),
                      pa.float64()) for i in (1, 2, 3, 4)],
            names=["fid", "area", "perimeter", "cx", "cy"])


def geom_measures(features: DataFrame) -> DataFrame:
    """(fid, area, perimeter, cx, cy) per feature of a shapefile
    DataFrame (the ``read_shapefile_df`` schema).

    One Arrow pass with the batched kernel — coords go from the Arrow
    list buffer to segmented numpy reductions without touching per-row
    Python, and the plan is a scan + stateless projection regardless of
    corpus size, so a 10^9-feature table parallelizes by input split
    alone.
    """
    return map_features(
        features, KERNEL_COLUMNS, run_geom_measures,
        "fid long, area double, perimeter double, cx double, cy double")


# --- convex hull per group -------------------------------------------------

def monotone_chain_hull(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Indices of the convex-hull VERTICES of a point set (Andrew's
    monotone chain).  Pops only on STRICT right turns, so collinear
    boundary points stay on the hull — matching the relational hull
    definition (a point with a supporting half-plane is a vertex,
    cross products ≥ 0), which is also the convention the O(n³) oracle
    uses.  1- and 2-point sets are their own hull."""
    n = len(x)
    if n <= 2:
        return np.arange(n)
    order = np.lexsort((y, x))

    def chain(idx):
        out: list[int] = []
        for i in idx:
            while len(out) >= 2:
                ax, ay = x[out[-2]], y[out[-2]]
                bx, by = x[out[-1]], y[out[-1]]
                cross = (bx - ax) * (y[i] - ay) - (by - ay) * (x[i] - ax)
                if cross < 0:          # strict right turn: pop
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    lower = chain(order)
    upper = chain(order[::-1])
    return np.unique(np.array(lower[:-1] + upper[:-1], dtype=np.int64))


def convex_hull_groups(points: DataFrame, group_col: str = "u",
                       lon_col: str = "lon",
                       lat_col: str = "lat") -> DataFrame:
    """Per-group convex hull vertices (groups are small by contract —
    trajectory caps, cluster caps).  Returns every hull vertex row
    (group, lon, lat) — downstream rollups stay relational.

    Shape (r6 optimization): a JVM ``collect_list`` groupBy turns each
    group into one array row, and ONE ``mapInArrow`` stage hulls many
    groups per Arrow batch.  A per-group form (one Python invocation
    per group) dominated wall time on thousands-of-small-groups inputs
    (guide §4.2: batch the Python boundary).  The hull vertex
    SET is input-order independent (``monotone_chain_hull`` lexsorts
    internally), so ``collect_list`` order does not affect output."""
    from pyspark.sql import functions as F

    grouped = (points.select(group_col, lon_col, lat_col)
               .groupBy(group_col)
               .agg(F.collect_list(lon_col).alias("xs"),
                    F.collect_list(lat_col).alias("ys")))

    def hulls(batches):
        for rb in batches:
            gs: list[np.ndarray] = []
            lons: list[np.ndarray] = []
            lats: list[np.ndarray] = []
            for g, xs, ys in zip(*(local.values(rb.column(c))
                                   for c in (group_col, "xs", "ys"))):
                x = np.asarray(xs, dtype=np.float64)
                y = np.asarray(ys, dtype=np.float64)
                idx = monotone_chain_hull(x, y)
                gs.append(np.full(len(idx), g, dtype=np.int64))
                lons.append(x[idx])
                lats.append(y[idx])
            if gs:
                yield {group_col: np.concatenate(gs),
                       lon_col: np.concatenate(lons),
                       lat_col: np.concatenate(lats)}

    return local.map_arrow(
        grouped, hulls,
        f"{group_col} long, {lon_col} double, {lat_col} double")
