"""Vector-tile materialization: clip polygon features to cell tiles.

The vector-tile pipeline (the MVT/tippecanoe shape): every polygon
feature is cut against the rectangles of the E3 cell grid so each tile
carries exactly the geometry that intersects it — the per-tile payload a
map renderer (or a tile-local spatial operator) consumes.  The engine
analog of ST_ClipByBox2D run per tile.

Clipping is Sutherland–Hodgman against the axis-aligned tile box (four
half-plane passes).  Everything is BATCHED (the operators/geometry.py
discipline): one Arrow batch's worth of (ring x tile) pairs is clipped
simultaneously per pass — emit counts per vertex are computed
vectorized, output positions come from one cumsum, and every per-ring /
per-tile reduction uses ``np.bincount`` segment sums (empty-segment
safe, and accumulation stays inside each slot, so results are identical
under ANY batch partitioning — the property that lets the DuckDB oracle
pin literals from a driver run of the SAME batch function,
``run_vector_tiles``, over the core parser's records:
``sources.shapefile.map_records``).

Correctness notes (all tested):

- rings arrive CLOSED (first == last, parser-guaranteed); the kernel
  clips the OPEN cycle (cyclic prev index) and re-closes on emit;
- Sutherland–Hodgman is exact for any subject ring against a convex
  window.  A ring that fully encloses a tile collapses to the tile box
  (so interior tiles need no special "full cover" path — the kernel
  produces the box), and a hole enclosing a tile produces the same box
  with opposite winding, cancelling the area EXACTLY (same vertices,
  same magnitude) — tiles inside a donut hole net to zero;
- winding is preserved (shapefile convention: solid clockwise, holes
  counter-clockwise; ``area = -Σ signed2 / 2`` as in geometry.py), so
  per-tile area is one signed sum over all clipped rings — no ring
  grouping needed;
- disconnected intersections of a concave ring with one tile emit the
  classic S-H degenerate bridges along the window boundary; they are
  zero-area and harmless for area/rendering (documented standard
  behavior of production tilers);
- tiles whose net clipped area is <= 0 are dropped (fully outside, or
  fully inside a hole).  Z/M coordinates are dropped (tiles are 2-D).

Scale: tile fan-out happens INSIDE the Arrow kernel (the feature's
coords are gathered once per candidate tile within the batch — no
per-tile row duplication ever crosses Spark), so the stage stays a
scan + stateless mapInArrow with no shuffle and no Python rows; peak
memory is O(batch vertices x tiles per feature), bounded by
maxRecordsPerBatch and the tile resolution.  Candidate tiles come from
the feature's own coordinate extent — no index build, no join.

Reference analog: engine-layer operator (SURVEY.md §2.B, E8 family —
the raster tiles' vector twin).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from ..functions import cells as C
from ..sources.shapefile import map_features
from .geometry import (KERNEL_COLUMNS, _arrow_groups, _BatchGeom,
                       _gather_ranges)


def clip_ring_reference(x, y, box):
    """Readable per-ring Sutherland–Hodgman (open ring in, open list of
    (x, y) out) — the independent reference the batched kernel must
    match bit-for-bit.  ``box`` is (x0, y0, x1, y1)."""
    x0, y0, x1, y1 = box
    pts = list(zip(x, y))
    for axis_is_x, lower, b in ((True, True, x0), (True, False, x1),
                                (False, True, y0), (False, False, y1)):
        out = []
        for i in range(len(pts)):
            px, py = pts[i - 1]
            cx, cy = pts[i]
            pc = px if axis_is_x else py
            cc = cx if axis_is_x else cy
            dp = (pc - b) if lower else (b - pc)
            dc = (cc - b) if lower else (b - cc)
            if (dp >= 0.0) != (dc >= 0.0):
                t = dp / (dp - dc)
                if axis_is_x:
                    out.append((b, py + t * (cy - py)))
                else:
                    out.append((px + t * (cx - px), b))
            if dc >= 0.0:
                out.append((cx, cy))
        pts = out
        if not pts:
            break
    return pts


def _half_plane(x, y, lens, b_ring, axis_is_x: bool, lower: bool):
    """One S-H pass over all rings at once.  ``lens`` are open-ring
    point counts; ``b_ring`` the per-ring boundary value."""
    n_r = lens.size
    total = x.size
    if total == 0:
        return x, y, np.zeros(n_r, np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ring_of = np.repeat(np.arange(n_r), lens)
    b = b_ring[ring_of]
    coord = x if axis_is_x else y
    d = (coord - b) if lower else (b - coord)
    inside = d >= 0.0
    prev = np.arange(total) - 1
    nz = lens > 0
    prev[starts[nz]] = starts[nz] + lens[nz] - 1
    ip = inside[prev]
    has_int = ip != inside
    cnt = has_int.astype(np.int64) + inside
    offs = np.cumsum(cnt)
    st = offs - cnt
    out_total = int(offs[-1])
    ox = np.empty(out_total)
    oy = np.empty(out_total)
    ii = np.flatnonzero(has_int)
    if ii.size:
        pi = prev[ii]
        t = d[pi] / (d[pi] - d[ii])
        if axis_is_x:
            ox[st[ii]] = b[ii]
            oy[st[ii]] = y[pi] + t * (y[ii] - y[pi])
        else:
            ox[st[ii]] = x[pi] + t * (x[ii] - x[pi])
            oy[st[ii]] = b[ii]
    ci = np.flatnonzero(inside)
    pos = st[ci] + has_int[ci]
    ox[pos] = x[ci]
    oy[pos] = y[ci]
    new_lens = np.bincount(ring_of, weights=cnt,
                           minlength=n_r).astype(np.int64)
    return ox, oy, new_lens


def sh_clip_batch(x, y, lens, boxes):
    """Clip every (open) ring against its paired box — four half-plane
    passes.  ``boxes`` is (n_rings, 4) as (x0, y0, x1, y1)."""
    boxes = np.asarray(boxes, np.float64)
    for axis_is_x, lower, b in ((True, True, boxes[:, 0]),
                                (True, False, boxes[:, 2]),
                                (False, True, boxes[:, 1]),
                                (False, False, boxes[:, 3])):
        x, y, lens = _half_plane(x, y, np.asarray(lens, np.int64), b,
                                 axis_is_x, lower)
    return x, y, lens


def _ring_signed2(x, y, lens):
    """Cyclic shoelace Σ(x_{i-1} y_i − x_i y_{i-1}) per open ring (CCW
    positive — matches geometry.py's convention on closed rings)."""
    n_r = lens.size
    total = x.size
    if total == 0:
        return np.zeros(n_r)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ring_of = np.repeat(np.arange(n_r), lens)
    prev = np.arange(total) - 1
    nz = lens > 0
    prev[starts[nz]] = starts[nz] + lens[nz] - 1
    cross = x[prev] * y - x * y[prev]
    return np.bincount(ring_of, weights=cross, minlength=n_r)


def _excl(counts):
    """Exclusive cumsum, empty-safe (len(out) == len(counts))."""
    out = np.zeros(counts.size, np.int64)
    if counts.size > 1:
        out[1:] = np.cumsum(counts[:-1])
    return out


def clip_tiles_batch(g: _BatchGeom, res: int):
    """Clip one row group against its candidate tiles.

    Returns per-kept-tile arrays ``(row_idx, cell, lon0, lat0, n_rings,
    n_points, area, coords_list_lens, coords_vals, ends_list_lens,
    ends_vals)`` where coords are re-closed rings in the flat XY model.
    """
    # computed extent (not the header bbox): candidates derive from the
    # batch's own coords, wherever the batch was built; pairs are
    # (ring x tile), tile-major within each row
    (row_of_cell, cell_id, bx0, by0, bx1, by1, cell_of_pair,
     ring_of_pair) = _candidate_tiles(g, res)
    total_cells = cell_id.size

    open_lens = np.maximum(g.part_ends - g.part_starts - 1, 0)
    plens = open_lens[ring_of_pair]
    px = _gather_ranges(g.x, g.part_starts[ring_of_pair], plens)
    py = _gather_ranges(g.y, g.part_starts[ring_of_pair], plens)
    boxes = np.stack([bx0[cell_of_pair], by0[cell_of_pair],
                      bx1[cell_of_pair], by1[cell_of_pair]], axis=1)
    cx_, cy_, clens = sh_clip_batch(px, py, plens, boxes)

    s2 = _ring_signed2(cx_, cy_, clens)
    ring_ok = clens >= 3
    s2 = np.where(ring_ok, s2, 0.0)
    cell_s2 = np.bincount(cell_of_pair, weights=s2, minlength=total_cells)
    area = -cell_s2 / 2.0
    n_rings_cell = np.bincount(cell_of_pair, weights=ring_ok,
                               minlength=total_cells).astype(np.int64)
    n_pts_cell = np.bincount(cell_of_pair,
                             weights=np.where(ring_ok, clens + 1, 0),
                             minlength=total_cells).astype(np.int64)
    keep_cell = area > 0.0

    # geometry emit: kept rings of kept tiles, re-closed
    ring_keep = ring_ok & keep_cell[cell_of_pair]
    klens = clens[ring_keep]
    cstarts = _excl(clens)
    gx = _gather_ranges(cx_, cstarts[ring_keep], klens)
    gy = _gather_ranges(cy_, cstarts[ring_keep], klens)
    out_lens = klens + 1
    fstarts = _excl(out_lens)
    total_out = int(out_lens.sum()) if out_lens.size else 0
    fx = np.empty(total_out)
    fy = np.empty(total_out)
    ksrc = _excl(klens)
    pos = np.repeat(fstarts, klens) + (np.arange(int(klens.sum()))
                                       - np.repeat(ksrc, klens))
    fx[pos] = gx
    fy[pos] = gy
    fx[fstarts + klens] = gx[ksrc]
    fy[fstarts + klens] = gy[ksrc]
    coords_vals = np.empty(2 * total_out)
    coords_vals[0::2] = fx
    coords_vals[1::2] = fy

    # per-kept-ring coordinate-unit exclusive ends, relative to the tile
    cell_of_kept = cell_of_pair[ring_keep]
    csum = np.cumsum(out_lens * 2)
    ring_excl = csum - out_lens * 2
    if cell_of_kept.size:
        first_of_cell = np.concatenate(
            ([True], cell_of_kept[1:] != cell_of_kept[:-1]))
        base = np.repeat(ring_excl[first_of_cell],
                         np.diff(np.concatenate(
                             (np.flatnonzero(first_of_cell),
                              [cell_of_kept.size]))))
        ends_vals = (csum - base).astype(np.int32)
    else:
        ends_vals = np.zeros(0, np.int32)

    sel = np.flatnonzero(keep_cell)
    return (row_of_cell[sel], cell_id[sel], bx0[sel], by0[sel],
            n_rings_cell[sel], n_pts_cell[sel], area[sel],
            2 * n_pts_cell[sel], coords_vals, n_rings_cell[sel], ends_vals)


def clip_segments_reference(x, y, box):
    """Readable per-part Liang–Barsky polyline clip: returns the list of
    clipped sub-paths (each a list of (x, y)) of one OPEN path against
    ``box`` — the independent reference for the batched kernel."""
    x0, y0, x1, y1 = box
    paths, cur = [], []
    for i in range(len(x) - 1):
        ax, ay, bx, by = x[i], y[i], x[i + 1], y[i + 1]
        dx, dy = bx - ax, by - ay
        t0, t1 = 0.0, 1.0
        ok = True
        for p, q in ((-dx, ax - x0), (dx, x1 - ax),
                     (-dy, ay - y0), (dy, y1 - ay)):
            if p == 0.0:
                if q < 0.0:
                    ok = False
                    break
            else:
                r = q / p
                if p < 0.0:
                    t0 = max(t0, r)
                else:
                    t1 = min(t1, r)
        if not ok or t0 > t1:
            if cur:
                paths.append(cur)
                cur = []
            continue
        sx = ax + t0 * dx if t0 > 0.0 else ax
        sy = ay + t0 * dy if t0 > 0.0 else ay
        ex = ax + t1 * dx if t1 < 1.0 else bx
        ey = ay + t1 * dy if t1 < 1.0 else by
        if not cur or t0 > 0.0:
            if cur:
                paths.append(cur)
            cur = [(sx, sy)]
        cur.append((ex, ey))
        if t1 < 1.0:
            paths.append(cur)
            cur = []
    if cur:
        paths.append(cur)
    return paths


def lb_clip_segments(ax, ay, bx, by, boxes):
    """Batched Liang–Barsky: clip N independent segments against their
    paired boxes.  Returns ``(keep, sx, sy, ex, ey, enters, exits)`` —
    ``enters``/``exits`` flag t0 > 0 / t1 < 1 (the path-chaining
    signals).  Endpoint arithmetic matches the reference exactly
    (original endpoints are reused untouched when t is 0/1)."""
    dx = bx - ax
    dy = by - ay
    t0 = np.zeros(ax.size)
    t1 = np.ones(ax.size)
    ok = np.ones(ax.size, dtype=bool)
    for p, q in ((-dx, ax - boxes[:, 0]), (dx, boxes[:, 2] - ax),
                 (-dy, ay - boxes[:, 1]), (dy, boxes[:, 3] - ay)):
        par = p == 0.0
        ok &= ~(par & (q < 0.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        t0 = np.where(~par & (p < 0.0), np.maximum(t0, r), t0)
        t1 = np.where(~par & (p > 0.0), np.minimum(t1, r), t1)
    keep = ok & (t0 <= t1)
    enters = keep & (t0 > 0.0)
    exits = keep & (t1 < 1.0)
    sx = np.where(enters, ax + t0 * dx, ax)
    sy = np.where(enters, ay + t0 * dy, ay)
    ex = np.where(exits, ax + t1 * dx, bx)
    ey = np.where(exits, ay + t1 * dy, by)
    return keep, sx, sy, ex, ey, enters, exits


def _candidate_tiles(g: _BatchGeom, res: int):
    """Shared candidate-tile construction from the row coordinate
    extents: returns ``(row_of_cell, cell_id, bx0, by0, bx1, by1,
    cell_of_pair, ring_of_pair)`` with one (part x tile) pair per
    candidate, tile-major within each row."""
    n = 1 << res
    tw = 360.0 / n
    th = 180.0 / n
    rs = g.row_starts
    xmin = np.minimum.reduceat(g.x, rs)
    xmax = np.maximum.reduceat(g.x, rs)
    ymin = np.minimum.reduceat(g.y, rs)
    ymax = np.maximum.reduceat(g.y, rs)
    ix0, iy0 = C.xy_np(xmin, ymin, res)
    ix1, iy1 = C.xy_np(xmax, ymax, res)
    ny = iy1 - iy0 + 1
    nc_row = (ix1 - ix0 + 1) * ny
    n_rows = rs.size

    total_cells = int(nc_row.sum())
    row_of_cell = np.repeat(np.arange(n_rows), nc_row)
    ord_ = np.arange(total_cells) - _excl(nc_row)[row_of_cell]
    cix = ix0[row_of_cell] + ord_ // ny[row_of_cell]
    ciy = iy0[row_of_cell] + ord_ % ny[row_of_cell]
    cell_id = ((np.int64(res) << C._RES_SHIFT) | C._spread_np(cix)
               | (C._spread_np(ciy) << 1))
    bx0 = -180.0 + cix * tw
    by0 = -90.0 + ciy * th

    nr_row = g.parts_per_row
    pair_per_cell = nr_row[row_of_cell]
    total_pairs = int(pair_per_cell.sum())
    cell_of_pair = np.repeat(np.arange(total_cells), pair_per_cell)
    off_in_cell = np.arange(total_pairs) - _excl(pair_per_cell)[cell_of_pair]
    ring_of_pair = _excl(nr_row)[row_of_cell[cell_of_pair]] + off_in_cell

    # part-bbox x tile prefilter: a part whose own extent misses the
    # tile box clips to nothing (and cannot enclose the tile — enclosure
    # implies bbox overlap), so the pair is dropped BEFORE the coords
    # gather.  This is what keeps multi-part features whose parts sit in
    # different corners of the row extent from fanning every part out to
    # every candidate tile (measured 20x+ on such corpora); aggregates
    # and emitted geometry are unchanged (dropped pairs contribute
    # nothing).  Inclusive compares keep boundary touches (degenerate
    # zero-area output, same result either way).
    ps, pe = g.part_starts, g.part_ends
    pxmin = np.minimum.reduceat(g.x, ps)
    pxmax = np.maximum.reduceat(g.x, ps)
    pymin = np.minimum.reduceat(g.y, ps)
    pymax = np.maximum.reduceat(g.y, ps)
    del pe
    bx1 = bx0 + tw
    by1 = by0 + th
    keep_pair = ((pxmin[ring_of_pair] <= bx1[cell_of_pair])
                 & (pxmax[ring_of_pair] >= bx0[cell_of_pair])
                 & (pymin[ring_of_pair] <= by1[cell_of_pair])
                 & (pymax[ring_of_pair] >= by0[cell_of_pair]))
    return (row_of_cell, cell_id, bx0, by0, bx1, by1,
            cell_of_pair[keep_pair], ring_of_pair[keep_pair])


def clip_lines_batch(g: _BatchGeom, res: int):
    """Clip one POLYLINE row group against its candidate tiles.

    Segments clip independently (Liang–Barsky); consecutive clipped
    segments that stay connected chain back into sub-paths.  Returns
    per-kept-tile ``(row_idx, cell, lon0, lat0, n_paths, n_points,
    length)`` — aggregate form (the per-tile line payload; geometry
    emit follows the polygon path's assembly if a consumer needs it).
    """
    (row_of_cell, cell_id, bx0, by0, bx1, by1, cell_of_pair,
     part_of_pair) = _candidate_tiles(g, res)
    total_cells = cell_id.size

    part_lens = g.part_ends - g.part_starts
    seg_lens = np.maximum(part_lens - 1, 0)
    plens = seg_lens[part_of_pair]
    pstarts = g.part_starts[part_of_pair]
    ax = _gather_ranges(g.x, pstarts, plens)
    ay = _gather_ranges(g.y, pstarts, plens)
    bx = _gather_ranges(g.x, pstarts + 1, plens)
    by = _gather_ranges(g.y, pstarts + 1, plens)
    seg_cell = np.repeat(cell_of_pair, plens)
    seg_pair = np.repeat(np.arange(plens.size), plens)
    boxes = np.stack([bx0[seg_cell], by0[seg_cell],
                      bx1[seg_cell], by1[seg_cell]], axis=1)
    keep, sx, sy, ex, ey, enters, exits = lb_clip_segments(
        ax, ay, bx, by, boxes)

    # chain: a kept segment starts a new sub-path unless the previous
    # segment of the SAME pair was kept, exited nowhere, and this one
    # enters nowhere (shared original vertex => genuinely connected)
    nseg = keep.size
    first_in_pair = np.ones(nseg, dtype=bool)
    if nseg:
        first_in_pair[1:] = seg_pair[1:] != seg_pair[:-1]
    keep_prev = np.concatenate(([False], keep[:-1]))
    exits_prev = np.concatenate(([False], exits[:-1]))
    starts_path = keep & (first_in_pair | ~keep_prev | exits_prev | enters)

    seg_len_val = np.where(keep, np.hypot(ex - sx, ey - sy), 0.0)
    length_cell = np.bincount(seg_cell, weights=seg_len_val,
                              minlength=total_cells) if nseg else \
        np.zeros(total_cells)
    n_paths_cell = np.bincount(seg_cell, weights=starts_path,
                               minlength=total_cells).astype(np.int64) \
        if nseg else np.zeros(total_cells, np.int64)
    n_pts_cell = np.bincount(
        seg_cell, weights=keep.astype(np.int64) + starts_path,
        minlength=total_cells).astype(np.int64) if nseg else \
        np.zeros(total_cells, np.int64)
    sel = np.flatnonzero(n_paths_cell > 0)

    # geometry emit: each kept segment contributes its end point, plus
    # its (clipped) start point when it begins a new sub-path
    cnt = keep.astype(np.int64) + starts_path
    offs = np.cumsum(cnt)
    st = offs - cnt
    total_pts = int(offs[-1]) if nseg else 0
    fx = np.empty(total_pts)
    fy = np.empty(total_pts)
    si = np.flatnonzero(starts_path)
    fx[st[si]] = sx[si]
    fy[st[si]] = sy[si]
    ki = np.flatnonzero(keep)
    fx[st[ki] + starts_path[ki]] = ex[ki]
    fy[st[ki] + starts_path[ki]] = ey[ki]
    coords_vals = np.empty(2 * total_pts)
    coords_vals[0::2] = fx
    coords_vals[1::2] = fy

    # per-sub-path coordinate-unit exclusive ends, relative to the cell
    pts_per_path = np.bincount(
        np.cumsum(starts_path)[keep] - 1,
        weights=cnt[keep]).astype(np.int64) if nseg and keep.any() else \
        np.zeros(0, np.int64)
    cell_of_path = seg_cell[si]
    csum = np.cumsum(pts_per_path * 2)
    path_excl = csum - pts_per_path * 2
    if cell_of_path.size:
        first_of_cell = np.concatenate(
            ([True], cell_of_path[1:] != cell_of_path[:-1]))
        base = np.repeat(path_excl[first_of_cell],
                         np.diff(np.concatenate(
                             (np.flatnonzero(first_of_cell),
                              [cell_of_path.size]))))
        ends_vals = (csum - base).astype(np.int32)
    else:
        ends_vals = np.zeros(0, np.int32)

    return (row_of_cell[sel], cell_id[sel], bx0[sel], by0[sel],
            n_paths_cell[sel], n_pts_cell[sel], length_cell[sel],
            2 * n_pts_cell[sel], coords_vals, n_paths_cell[sel],
            ends_vals)


def run_vector_tiles_lines(batches, res: int):
    """The batch function of :func:`vector_tiles_lines`."""
    import pyarrow as pa

    for batch in batches:
        fid = batch.column(0).to_numpy(zero_copy_only=False)
        for sel, g, _rv, _rpr, closed, _layout in _arrow_groups(
                batch, with_rings=False):
            if closed:
                raise ValueError(
                    "vector_tiles_lines: polyline shape types only")
            (row, cell, lon0, lat0, npth, npts, ln, c_lens, c_vals,
             e_lens, e_vals) = clip_lines_batch(g, res)
            if row.size == 0:
                continue
            c_offs = np.concatenate(([0], np.cumsum(c_lens)))
            e_offs = np.concatenate(([0], np.cumsum(e_lens)))
            yield pa.RecordBatch.from_arrays([
                pa.array(fid[sel][row], pa.int64()),
                pa.array(cell, pa.int64()),
                pa.array(lon0, pa.float64()),
                pa.array(lat0, pa.float64()),
                pa.array(npth, pa.int64()),
                pa.array(npts, pa.int64()),
                pa.array(ln, pa.float64()),
                pa.ListArray.from_arrays(
                    pa.array(c_offs, pa.int32()),
                    pa.array(c_vals, pa.float64())),
                pa.ListArray.from_arrays(
                    pa.array(e_offs, pa.int32()),
                    pa.array(e_vals, pa.int32())),
            ], names=["fid", "cell", "lon0", "lat0", "n_paths",
                      "n_points", "length", "coords", "ends"])


def vector_tiles_lines(features: DataFrame, res: int) -> DataFrame:
    """Per-(feature, tile) clipped-polyline summary of a line corpus:
    ``(fid, cell, lon0, lat0, n_paths, n_points, length)``.  One Arrow
    pass, no shuffle — the polyline twin of :func:`vector_tiles`."""
    return map_features(
        features, KERNEL_COLUMNS, partial(run_vector_tiles_lines, res=res),
        "fid long, cell long, lon0 double, lat0 double, n_paths long, "
        "n_points long, length double, coords array<double>, ends array<int>")


def zoom_eps(z: int, eps_fraction: float = 1.0 / 256) -> float:
    """A pyramid level's simplification tolerance: ``eps_fraction`` of
    the height of a res-``z`` tile (1/256 is one pixel of a 256-px
    tile)."""
    return eps_fraction * (180.0 / (1 << z))


def _pyramid(features: DataFrame, min_res: int, max_res: int,
             eps_fraction: float, slot: str | None, clip) -> DataFrame:
    from .geometry import simplify_features
    from .pinning import fresh_pins

    if not 0 <= min_res <= max_res:
        raise ValueError(f"bad zoom range [{min_res}, {max_res}]")
    pinf = fresh_pins(features.sparkSession, slot)
    feats = pinf(features.select("fid", "shape_type", "geometry"))
    out = None
    for z in range(min_res, max_res + 1):
        lvl = clip(simplify_features(feats, zoom_eps(z, eps_fraction)),
                   res=z)
        out = lvl if out is None else out.unionByName(lvl)
    return out


def vector_tile_pyramid(features: DataFrame, min_res: int, max_res: int,
                        eps_fraction: float = 1.0 / 256,
                        slot: str | None = None) -> DataFrame:
    """Multi-zoom vector tiles (the tippecanoe pipeline): per zoom ``z``
    the corpus is Douglas–Peucker-simplified at one tile-pixel of
    tolerance (:func:`zoom_eps`) and then clipped to the res-``z``
    tiles.  Output rows are the union over zooms; the cell id encodes
    the resolution, so no extra level column is needed.

    The parsed features are pinned once (operators/pinning.py) and every
    level reads the pin — levels re-simplify (tolerance differs per
    zoom; that is the point of the pyramid) but never re-parse/re-scan
    the source.  Each level stays a shuffle-free mapInArrow chain.
    """
    return _pyramid(features, min_res, max_res, eps_fraction, slot,
                    vector_tiles)


def vector_tile_pyramid_lines(features: DataFrame, min_res: int,
                              max_res: int,
                              eps_fraction: float = 1.0 / 256,
                              slot: str | None = None) -> DataFrame:
    """Polyline twin of :func:`vector_tile_pyramid`: per zoom, DP-
    simplify at one tile-pixel tolerance then clip to that zoom's
    tiles; parse pinned once, levels unioned."""
    return _pyramid(features, min_res, max_res, eps_fraction, slot,
                    vector_tiles_lines)


def run_vector_tiles(batches, res: int):
    """The batch function of :func:`vector_tiles`."""
    import pyarrow as pa

    for batch in batches:
        fid = batch.column(0).to_numpy(zero_copy_only=False)
        for sel, g, _rv, _rpr, closed, _layout in _arrow_groups(
                batch, with_rings=False):
            if not closed:
                raise ValueError(
                    "vector_tiles: polygon shape types only")
            (row, cell, lon0, lat0, nr, npts, area, c_lens, c_vals,
             e_lens, e_vals) = clip_tiles_batch(g, res)
            if row.size == 0:
                continue
            c_offs = np.concatenate(([0], np.cumsum(c_lens)))
            e_offs = np.concatenate(([0], np.cumsum(e_lens)))
            yield pa.RecordBatch.from_arrays([
                pa.array(fid[sel][row], pa.int64()),
                pa.array(cell, pa.int64()),
                pa.array(lon0, pa.float64()),
                pa.array(lat0, pa.float64()),
                pa.array(nr, pa.int64()),
                pa.array(npts, pa.int64()),
                pa.array(area, pa.float64()),
                pa.ListArray.from_arrays(
                    pa.array(c_offs, pa.int32()),
                    pa.array(c_vals, pa.float64())),
                pa.ListArray.from_arrays(
                    pa.array(e_offs, pa.int32()),
                    pa.array(e_vals, pa.int32())),
            ], names=["fid", "cell", "lon0", "lat0", "n_rings",
                      "n_points", "area", "coords", "ends"])


def vector_tiles(features: DataFrame, res: int) -> DataFrame:
    """Per-(feature, tile) clipped geometry of a polygon corpus.

    Output: ``(fid, cell, lon0, lat0, n_rings, n_points, area, coords,
    ends)`` — one row per tile the feature actually covers (positive
    net clipped area), geometry re-closed in the flat XY model so the
    rows compose with geometry measures / GeoJSON export downstream.
    One Arrow pass, no shuffle; parallelism = input splits.
    """
    return map_features(
        features, KERNEL_COLUMNS, partial(run_vector_tiles, res=res),
        "fid long, cell long, lon0 double, lat0 double, n_rings long, "
        "n_points long, area double, coords array<double>, ends array<int>")
