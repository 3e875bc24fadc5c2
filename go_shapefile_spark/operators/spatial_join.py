"""Spatial join: points × polygons via broadcast cell-cover + PIP refine.

The engine pattern mandated by the north rule (SURVEY.md §2.B E4-E6):

1. **Cell cover** (driver/small side): every polygon is decomposed at
   resolution ``r`` into ``full`` cells (entirely inside) and ``partial``
   cells (boundary-crossing).  The polygon side is small (e.g. 177
   Natural Earth countries); the cover is a few thousand rows.
2. **Broadcast equi-join**: the huge point side gets a ``cell`` column
   (pure JVM-side expression — no Python) and equi-joins the broadcast
   cover on ``cell``.  Catalyst picks BroadcastHashJoin: no shuffle of
   the big side, the geometry theta-join became an equi-join.
3. **PIP refinement**: only rows landing in ``partial`` cells evaluate
   the crossing-parity predicate (JVM, whole-stage codegen);
   ``full``-cell rows skip geometry entirely.

Scale notes: the cover is O(polygons · cells/polygon) and broadcast once;
the big side is never shuffled; skew from hot cells only matters for
downstream aggregations (see operators/skew.py).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geom_np as G
from . import local


# Max clipped edges per join-cover row.  The crossing predicate is
# unrolled over UNROLL_K edges and folds into the BroadcastHashJoin
# condition, so it shares one generated method with the probe loop;
# HotSpot does not JIT a method above 8,000 bytecode bytes, and the
# stage leaves whole-stage codegen above spark.sql.codegen.maxFields
# (100) columns.  At 8 edges the largest method measured 4.6 KB on the
# countries_join query and 7.8 KB with 30 more point columns (BENCH.md).
UNROLL_K = 8
# Partial cells with more than UNROLL_K edges are quartered at most this
# many times; what is still above UNROLL_K joins through the
# interpreted aggregate() predicate (the ``wide`` side).
SPLIT_DEPTH = 4

# The cover's auxiliary columns carry a private prefix so they cannot
# collide with point-side columns; ``cell`` and ``polygon_fid`` are the
# join key and the output.
_EDGE = ("ax", "ay", "bx", "by")
ROWS_SCHEMA = ", ".join(
    ["cell long not null", "polygon_fid long not null",
     "_sj_full boolean not null"]
    + [f"_sj_{c} double not null"
       for c in ("x0", "x1", "y0", "y1", "rx", "ry")]
    + ["_sj_in boolean not null"]
    + [f"_sj_e{j}_{c} double not null" for j in range(UNROLL_K)
       for c in _EDGE]
    + [f"_sj_e{j}_s boolean not null" for j in range(UNROLL_K)])
WIDE_COLS = ["cell", "polygon_fid", "_sj_x0", "_sj_x1", "_sj_y0", "_sj_y1",
             "_sj_rx", "_sj_ry", "_sj_in", "_sj_edges"]
JOIN_SCHEMA = ROWS_SCHEMA + ", _sj_edges array<array<double>>"
WIDE_SCHEMA = ", ".join(
    [f for f in JOIN_SCHEMA.split(", ") if f.split()[0] in WIDE_COLS])


def _poly_dict(fid: int, layout: str, coords, ends) -> dict:
    """(fid, geometry fields) → planar polygon dict (XY ordinates only)."""
    stride = {"XY": 2, "XYM": 3, "XYZM": 4}[layout]
    coords = np.asarray(coords, dtype=np.float64)
    if stride != 2:
        xy = np.empty(2 * (len(coords) // stride))
        xy[0::2] = coords[0::stride]
        xy[1::2] = coords[1::stride]
        scale = 2 / stride
        ends = [int(e * scale) for e in ends]
        coords = xy
    else:
        ends = [int(e) for e in ends]
    return {"fid": int(fid), "coords": coords, "ends": ends}


def polygons_from_features(features_rows) -> list[dict]:
    """Collected ``features`` rows (fid, geometry) → polygon dicts."""
    return [_poly_dict(row.fid, row.geometry.layout, row.geometry.coords,
                       row.geometry.ends) for row in features_rows]


def _map_polygons(features: DataFrame, cover, schema: str) -> DataFrame:
    """``cover(polygons)`` per task over ``features`` rows (fid, geometry;
    NULL geometries skipped) — nothing is collected to the driver."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            polys = [_poly_dict(fid, g["layout"], g["coords"], g["ends"])
                     for fid, g in zip(pdf["fid"], pdf["geometry"])
                     if g is not None]
            if polys:
                yield cover(polys)

    # spread polygons across tasks — the cover build is CPU-bound per
    # polygon and input files may pack all polygons into one split
    return (features.select("fid", "geometry")
            .repartition(F.col("fid"))
            .mapInPandas(build, schema=schema))


COVER_SCHEMA = ("cell long, polygon_fid long, full boolean, rx double, "
                "ry double, ref_inside boolean, edges array<array<double>>, "
                "lon0 double, lat0 double")


def cell_cover_df(features: DataFrame, res: int) -> DataFrame:
    """Distributed cell-cover build: each task covers its share of the
    polygon corpus (mapInPandas over ``features`` rows) — nothing is
    collected to the driver, so a million-parcel polygon side builds its
    cover across the cluster instead of serially in driver Python.

    Input needs columns (fid, geometry); rows with NULL geometry are
    skipped.  Output matches ``polygon_cell_cover(with_edges=True)``.
    """
    def cover(polys: list[dict]) -> pd.DataFrame:
        out = polygon_cell_cover(polys, res, with_edges=True)
        out["edges"] = out["edges"].map(lambda e: e if e is not None else [])
        out = out.rename(columns={"fid": "polygon_fid"})
        return out[["cell", "polygon_fid", "full", "rx", "ry",
                    "ref_inside", "edges", "lon0", "lat0"]]

    return _map_polygons(features, cover, COVER_SCHEMA)


def _split_rects(box: np.ndarray, prow: np.ndarray, pe: np.ndarray,
                 ebox: np.ndarray, k: int):
    """Quarter every rectangle with more than ``k`` clipped edges,
    recursively, up to ``SPLIT_DEPTH`` times; vectorized per level.

    ``box`` is (n, 4) ``[x0, x1, y0, y1]``; ``prow, pe`` are the
    (rectangle, edge) incidences, sorted by rectangle with edges in ring
    order; ``ebox`` is (E, 4) edge bboxes ``[xmin, ymin, xmax, ymax]``.
    A child keeps the parent's edges whose bbox overlaps it (the strict
    test of the cell-level clip), so the segment from its centre to any
    point in it can only cross those.  Returns the leaves' boxes, the
    input rectangle each came from, and their incidences, sorted the
    same way.
    """
    owner = np.arange(len(box))
    leaves, lown, lrow, le = [], [], [], []
    n_out = 0
    for depth in range(SPLIT_DEPTH + 1):
        split = np.bincount(prow, minlength=len(box)) > k
        if depth == SPLIT_DEPTH:
            split[:] = False
        keep = ~split
        sel = keep[prow]
        leaves.append(box[keep])
        lown.append(owner[keep])
        lrow.append(n_out + (np.cumsum(keep) - 1)[prow[sel]])
        le.append(pe[sel])
        n_out += len(leaves[-1])
        if not split.any():
            break
        # children 4i+q of the i-th split rectangle: q bit 0 = east
        # half, q bit 1 = north half
        box = np.repeat(box[split], 4, axis=0)
        q = np.tile(np.arange(4), len(box) // 4)
        xm = (box[:, 0] + box[:, 1]) * 0.5
        ym = (box[:, 2] + box[:, 3]) * 0.5
        east, north = (q & 1) == 1, q >= 2
        box[east, 0] = xm[east]
        box[~east, 1] = xm[~east]
        box[north, 2] = ym[north]
        box[~north, 3] = ym[~north]
        owner = np.repeat(owner[split], 4)
        sel = split[prow]
        cr = 4 * (np.cumsum(split) - 1)[prow[sel]][:, None] + np.arange(4)
        ce = np.broadcast_to(pe[sel][:, None], cr.shape)
        cb, eb = box[cr], ebox[ce]
        hit = ((eb[..., 0] < cb[..., 1]) & (eb[..., 2] > cb[..., 0]) &
               (eb[..., 1] < cb[..., 3]) & (eb[..., 3] > cb[..., 2]))
        order = np.argsort(cr[hit], kind="stable")
        prow, pe = cr[hit][order], ce[hit][order]
    return (np.concatenate(leaves), np.concatenate(lown),
            np.concatenate(lrow), np.concatenate(le))


# Fallback references, as fractions of a row's rectangle: the R2
# low-discrepancy sequence, whose points are not dyadic, so they miss
# the grid-aligned edges that can run through a rectangle's centre.
_REF_FRACTIONS = [((0.5 + i * 0.7548776662466927) % 1.0,
                   (0.5 + i * 0.5698402909980532) % 1.0) for i in range(1, 17)]


def _move_refs_off_edges(box: np.ndarray, rx: np.ndarray, ry: np.ndarray,
                         prow: np.ndarray, seg: np.ndarray) -> None:
    """Move, in place, every reference point lying on one of its row's
    edges to a point of the row's rectangle lying on none.

    On an edge the two parity rules disagree: the ray cast that gives
    the reference its parity puts it east of the edge (strict ``px <
    xs``), the SQL predicate's half-open rule (``d1 = 0`` is not
    ``> 0``) puts it on the edge's right, and where they differ every
    point of the row gets the inverted answer.  ``prow, seg`` are the
    rows' (row, segment) incidences.
    """
    ax, ay, bx, by = seg.T

    def on_edge() -> np.ndarray:
        px, py = rx[prow], ry[prow]
        on = ((((bx - ax) * (py - ay) - (by - ay) * (px - ax)) == 0)
              & (px >= np.minimum(ax, bx)) & (px <= np.maximum(ax, bx))
              & (py >= np.minimum(ay, by)) & (py <= np.maximum(ay, by)))
        return np.unique(prow[on])

    bad = on_edge()
    for fx, fy in _REF_FRACTIONS:
        if not len(bad):
            return
        rx[bad] = box[bad, 0] + fx * (box[bad, 1] - box[bad, 0])
        ry[bad] = box[bad, 2] + fy * (box[bad, 3] - box[bad, 2])
        bad = on_edge()
    if len(bad):
        raise ValueError(f"no reference point off the edges for {len(bad)} "
                         "cover rows")


def _cover_arrays(polygons: list[dict], res: int, edge_chunk: int,
                  with_edges: bool, split_k: int | None) -> dict:
    """The cover kernel behind ``polygon_cell_cover`` and ``join_cover``:
    full rows, then partial rows, with ``cell fid full rx ry ref lon0
    lat0`` and the half-open membership ``bounds`` (n, 4) ``[x0, x1,
    y0, y1]`` (±inf on the cell's outer sides, so a point the cell id
    puts in the cell lands in exactly one of its rows); with edges, the
    (row, segment) incidences ``erow`` / ``seg`` sorted by row.

    ``split_k`` splits partial cells with more than that many edges
    into sub-rectangles (``_split_rects``, one call over every polygon);
    a sub-rectangle with no edge and its centre outside is dropped, as
    no point in it is inside.
    """
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    if not polygons:
        out = {c: np.zeros(0) for c in ("cell", "fid", "full", "rx", "ry",
                                        "ref", "lon0", "lat0", "erow")}
        out.update(bounds=np.zeros((0, 4)), seg=np.zeros((0, 4)))
        return out
    # Pass 1, per polygon: the bbox grid and the cells overlapping an
    # edge bbox (partial), with their (cell, edge) incidences.  Arrays
    # collect per polygon and concatenate once: a pandas frame per
    # polygon was ~80% of the build at 200k polygons (profiled); the
    # bbox grid range uses scalar math (same float64 ops as xy_np).
    grids, prow_l, pe_l, ebox_l, seg_l = [], [], [], [], []
    n_part = n_edge = 0
    for poly in polygons:
        coords, ends = poly["coords"], poly["ends"]
        x0, y0, x1, y1 = G.polygon_bbox(coords)
        ix0 = min(max(int(math.floor((x0 + 180.0) / 360.0 * n)), 0), n - 1)
        iy0 = min(max(int(math.floor((y0 + 90.0) / 180.0 * n)), 0), n - 1)
        ix1 = min(max(int(math.floor((x1 + 180.0) / 360.0 * n)), 0), n - 1)
        iy1 = min(max(int(math.floor((y1 + 90.0) / 180.0 * n)), 0), n - 1)
        ixs = np.arange(ix0, ix1 + 1)
        iys = np.arange(iy0, iy1 + 1)
        gx = np.tile(ixs, len(iys))
        gy = np.repeat(iys, len(ixs))
        lon0 = -180.0 + gx * w
        lat0 = -90.0 + gy * h

        ebox = G.edge_bboxes(coords, ends)
        exmin, eymin, exmax, eymax = ebox
        partial = np.zeros(gx.shape, dtype=bool)
        hit_cols: list[np.ndarray] = []
        for s in range(0, len(exmin), edge_chunk):
            e = slice(s, s + edge_chunk)
            hit = ((exmin[None, e] < lon0[:, None] + w) &
                   (exmax[None, e] > lon0[:, None]) &
                   (eymin[None, e] < lat0[:, None] + h) &
                   (eymax[None, e] > lat0[:, None]))
            partial |= hit.any(axis=1)
            if with_edges:
                hit_cols.append(hit)
        part = np.nonzero(partial)[0]
        grids.append((gx, gy, lon0, lat0, np.nonzero(~partial)[0], part))
        if with_edges and len(part):
            prow, pe = np.nonzero(np.concatenate(hit_cols, axis=1)[part])
            prow_l.append(prow + n_part)
            pe_l.append(pe + n_edge)
            ebox_l.append(np.column_stack(ebox))
            seg_l.append(_edge_segments(coords, ends))
            n_edge += len(exmin)
        n_part += len(part)

    pgx, pgy, plon0, plat0 = (np.concatenate([g[i][g[5]] for g in grids])
                              for i in range(4))
    pfid = np.repeat([p["fid"] for p in polygons],
                     [len(g[5]) for g in grids]).astype(np.int64)
    cell_box = np.column_stack([plon0, plon0 + w, plat0, plat0 + h])
    box, owner = cell_box, np.arange(n_part)
    prow = np.concatenate(prow_l) if prow_l else np.zeros(0, dtype=np.int64)
    pe = np.concatenate(pe_l) if pe_l else np.zeros(0, dtype=np.int64)
    if split_k is not None and len(prow):
        box, owner, prow, pe = _split_rects(box, prow, pe,
                                            np.concatenate(ebox_l), split_k)
        # leaves back in cell order, so each polygon's are one slice
        order = np.argsort(owner, kind="stable")
        rank = np.empty_like(order)
        rank[order] = np.arange(len(order))
        box, owner, prow = box[order], owner[order], rank[prow]
        order = np.argsort(prow, kind="stable")
        prow, pe = prow[order], pe[order]
    # a leaf's reference is its cell's centre unless it was split
    whole = (box == cell_box[owner]).all(axis=1)
    rx = np.where(whole, plon0[owner] + w / 2, (box[:, 0] + box[:, 1]) * 0.5)
    ry = np.where(whole, plat0[owner] + h / 2, (box[:, 2] + box[:, 3]) * 0.5)
    seg = np.concatenate(seg_l)[pe] if seg_l else np.zeros((0, 4))
    _move_refs_off_edges(box, rx, ry, prow, seg)

    # Pass 2, per polygon: ONE pointwise PIP of every reference point —
    # interior cell centres (full or outside) and the partial cells'
    # and sub-rectangles' centres (their parity)
    lo = np.searchsorted(owner, np.cumsum([0] + [len(g[5]) for g in grids]))
    full_l, ref = [], np.zeros(len(box), dtype=bool)
    for poly, g, a, b in zip(polygons, grids, lo, lo[1:]):
        gx, gy, lon0, lat0, interior, _ = g
        inside = G.point_in_polygon_chunked(
            np.concatenate([lon0[interior] + w / 2, rx[a:b]]),
            np.concatenate([lat0[interior] + h / 2, ry[a:b]]),
            poly["coords"], poly["ends"])
        keep = interior[inside[:len(interior)]]
        full_l.append((gx[keep], gy[keep], lon0[keep], lat0[keep],
                       np.full(len(keep), poly["fid"], dtype=np.int64)))
        ref[a:b] = inside[len(interior):]
    if split_k is not None:
        live = ref | (np.bincount(prow, minlength=len(box)) > 0)
        prow = (np.cumsum(live) - 1)[prow]
        box, owner, rx, ry, ref = (box[live], owner[live], rx[live],
                                   ry[live], ref[live])

    fgx, fgy, flon0, flat0, ffid = (np.concatenate([f[i] for f in full_l])
                                    for i in range(5))
    n_full = len(fgx)
    return {
        "cell": C.cell_from_xy(np.concatenate([fgx, pgx[owner]]),
                               np.concatenate([fgy, pgy[owner]]), res),
        "fid": np.concatenate([ffid, pfid[owner]]),
        "full": np.arange(n_full + len(box)) < n_full,
        "rx": np.concatenate([flon0 + w / 2, rx]),
        "ry": np.concatenate([flat0 + h / 2, ry]),
        "ref": np.concatenate([np.ones(n_full, dtype=bool), ref]),
        "lon0": np.concatenate([flon0, plon0[owner]]),
        "lat0": np.concatenate([flat0, plat0[owner]]),
        # membership bounds: a side on the cell's outer edge is open
        "bounds": np.concatenate([
            np.tile([-np.inf, np.inf, -np.inf, np.inf], (n_full, 1)),
            np.where(box == cell_box[owner],
                     np.array([-np.inf, np.inf, -np.inf, np.inf]), box)]),
        "erow": n_full + prow,
        "seg": seg,
    }


def polygon_cell_cover(polygons: list[dict], res: int,
                       edge_chunk: int = 512,
                       with_edges: bool = False) -> pd.DataFrame:
    """Classify grid cells at ``res`` against each polygon.

    Soundness: a cell whose rectangle overlaps NO edge bbox is uniformly
    inside or outside (no boundary crosses it), so a single center-PIP
    classifies it (``full``/drop).  Cells overlapping any edge bbox are
    conservatively ``partial`` — refinement stays correct, just does a
    little more PIP work.

    ``with_edges=True`` additionally attaches to every partial cell the
    data a crossing-parity refinement needs: ``rx, ry`` — the cell
    center (a reference point), ``ref_inside`` — the polygon parity at
    that reference, and ``edges`` — the clipped edge list (every polygon
    edge whose bbox overlaps the cell; a conservative superset of the
    edges that can cross a segment lying inside the cell) — plus the
    cell's SW corner ``lon0, lat0`` so consumers (the rasterizer) never
    decode the cell id in SQL (the Morton-decode expression inlined per
    pixel blows codegen up).

    Returns pandas DataFrame (cell:int64, fid:int64, full:bool
    [, rx, ry, ref_inside, edges, lon0, lat0]).
    """
    a = _cover_arrays(polygons, res, edge_chunk, with_edges, None)
    out = pd.DataFrame({"cell": a["cell"].astype(np.int64),
                        "fid": a["fid"].astype(np.int64),
                        "full": a["full"].astype(bool)})
    if with_edges:
        counts = np.bincount(a["erow"].astype(np.int64),
                             minlength=len(out))
        segs = np.split(a["seg"], np.cumsum(counts)[:-1]) if len(out) \
            else []
        out["rx"], out["ry"] = a["rx"], a["ry"]
        out["ref_inside"] = a["ref"].astype(bool)
        out["edges"] = pd.Series(
            [None if f else s.tolist() for f, s in zip(a["full"], segs)],
            dtype="object")
        out["lon0"], out["lat0"] = a["lon0"], a["lat0"]
    return out


def join_cover(polygons: list[dict], res: int) -> pd.DataFrame:
    """The join's cover rows (``JOIN_SCHEMA``) — the one build both
    ``PreparedCover`` paths run (driver, and per task in ``from_features``).

    Full cells carry ``_sj_full``.  Partial cells with more than
    ``UNROLL_K`` clipped edges are split into sub-rectangles
    (``_split_rects``), each with its own centre reference (moved off
    any edge through it, ``_move_refs_off_edges``), parity and edges; a
    row then holds its ≤ ``UNROLL_K`` edges as scalar columns
    ``_sj_e{j}_ax.._by`` plus ``_sj_e{j}_s``, the sign ``d1 > 0`` of the
    reference's orientation against the edge (cover columns only, so
    precomputed here with the operand order of the SQL predicate; numpy
    and the JVM both round per IEEE operation, so the sign is the one
    the predicate would compute).  Padding edges are zero-length
    (a = b = (0, 0)): ``d1 = d2 = 0`` contributes no crossing.  Rows still
    above ``UNROLL_K`` at ``SPLIT_DEPTH`` keep their edge list in
    ``_sj_edges`` (NULL elsewhere) and join through ``aggregate()``.
    """
    k = UNROLL_K
    a = _cover_arrays(polygons, res, 512, True, k)
    n = len(a["fid"])
    erow = a["erow"].astype(np.int64)
    counts = np.bincount(erow, minlength=n)
    starts = np.cumsum(counts) - counts
    pos = np.arange(len(erow)) - starts[erow]
    seg = a["seg"]
    ax, ay, bx, by = seg.T
    rx, ry = a["rx"][erow], a["ry"][erow]
    s1 = ((bx - ax) * (ry - ay) - (by - ay) * (rx - ax)) > 0
    wide = counts > k
    flat = ~wide[erow]
    edges = np.zeros((n, k, 4))
    signs = np.zeros((n, k), dtype=bool)
    edges[erow[flat], pos[flat]] = seg[flat]
    signs[erow[flat], pos[flat]] = s1[flat]
    out = {"cell": a["cell"].astype(np.int64),
           "polygon_fid": a["fid"].astype(np.int64),
           "_sj_full": a["full"].astype(bool)}
    for j, c in enumerate(("x0", "x1", "y0", "y1")):
        out[f"_sj_{c}"] = a["bounds"][:, j]
    out["_sj_rx"], out["_sj_ry"] = a["rx"], a["ry"]
    out["_sj_in"] = a["ref"].astype(bool)
    for j in range(k):
        for c, name in enumerate(_EDGE):
            out[f"_sj_e{j}_{name}"] = edges[:, j, c]
    for j in range(k):
        out[f"_sj_e{j}_s"] = signs[:, j]
    lists = np.full(n, None, dtype=object)
    for r in np.nonzero(wide)[0]:
        lists[r] = seg[starts[r]:starts[r] + counts[r]].tolist()
    out["_sj_edges"] = lists
    return pd.DataFrame(out)


def _edge_segments(coords: np.ndarray, ends) -> np.ndarray:
    """All ring edges as an (E, 4) array of [x1, y1, x2, y2]."""
    segs = []
    for x, y in G.rings_of(np.asarray(coords, dtype=np.float64), ends):
        segs.append(np.column_stack([x[:-1], y[:-1], x[1:], y[1:]]))
    return np.concatenate(segs) if segs else np.zeros((0, 4))


def _crossing_sql(p: str, q: str, rx: str, ry: str, edge: tuple,
                  d1_pos: str | None = None) -> str:
    """1L if polygon edge ``edge`` = (ax, ay, bx, by) crosses the segment
    from the reference (rx, ry) to the point (p, q), else 0L.

    The standard double-orientation segment intersection with a
    half-open sign rule (``d > 0`` vs ``d <= 0``), so a polygon vertex
    lying exactly on the reference→point segment — common with
    round-number grids — still counts exactly one crossing per true
    boundary pass.  ``d1`` reads no point column; ``d1_pos`` names a
    column holding its sign ``d1 > 0`` when the cover precomputes it.
    """
    ax, ay, bx, by = edge
    # orient(a,b,c) = (bx-ax)(cy-ay) - (by-ay)(cx-ax)
    d1 = d1_pos or f"((({bx}-{ax})*({ry}-{ay}) - ({by}-{ay})*({rx}-{ax})) > 0)"
    d2 = f"(({bx}-{ax})*({q}-{ay}) - ({by}-{ay})*({p}-{ax}))"
    d3 = f"(({p}-{rx})*({ay}-{ry}) - ({q}-{ry})*({ax}-{rx}))"
    d4 = f"(({p}-{rx})*({by}-{ry}) - ({q}-{ry})*({bx}-{rx}))"
    return f"IF({d1} != ({d2} > 0) AND ({d3} > 0) != ({d4} > 0), 1L, 0L)"


def parity_sql(ref: str, crossings: str) -> str:
    """Inside iff the reference's parity ``ref`` flips an odd number of
    ``crossings`` along the segment reference→point."""
    return f"({ref} != (pmod({crossings}, 2) = 1))"


def aggregate_crossings_sql(p: str, q: str, rx: str, ry: str,
                            edges: str) -> str:
    """Crossings over an edge-array column via ``aggregate()``: JVM, no
    Python worker, but higher-order functions are interpreted (not
    codegen'd) and allocation-heavy, so only rows above the unroll width
    take it."""
    term = _crossing_sql(p, q, rx, ry, ("e[0]", "e[1]", "e[2]", "e[3]"))
    return f"aggregate({edges}, 0L, (acc, e) -> acc + {term})"


def unrolled_crossings_sql(p: str, q: str, rx: str, ry: str, k: int,
                           prefix: str, d1_pos: bool = False) -> str:
    """Crossings over ``k`` scalar edge columns ``{prefix}{j}_ax.._by``
    (with ``d1_pos``, their precomputed signs ``{prefix}{j}_s``),
    statically unrolled so the predicate stays inside whole-stage
    codegen: no array access, no lambda, no per-row allocation."""
    return " + ".join(
        _crossing_sql(p, q, rx, ry, tuple(f"{prefix}{j}_{c}" for c in _EDGE),
                      f"{prefix}{j}_s" if d1_pos else None)
        for j in range(k))


def _join_filter_sql(p: str, q: str, unrolled: bool) -> str:
    """The join's refine predicate over a cover row: full cells pass; a
    split row's point must lie in its half-open sub-rectangle and be
    inside by crossing parity from the row's centre.  The ``unrolled``
    form reads ≤ UNROLL_K scalar edges (zero-length padding edges give
    ``d1 = d2 = 0`` and never count a crossing); the other form is the
    depth-cap rows' ``aggregate()`` over ``_sj_edges``."""
    crossings = (unrolled_crossings_sql(p, q, "_sj_rx", "_sj_ry", UNROLL_K,
                                        "_sj_e", d1_pos=True)
                 if unrolled else
                 aggregate_crossings_sql(p, q, "_sj_rx", "_sj_ry",
                                         "_sj_edges"))
    inside = (f"{p} >= _sj_x0 AND {p} < _sj_x1 AND "
              f"{q} >= _sj_y0 AND {q} < _sj_y1 AND "
              f"{parity_sql('_sj_in', crossings)}")
    return f"(_sj_full OR ({inside}))" if unrolled else f"({inside})"


class PreparedCover:
    """Session-lifetime cover artifact, built once and reused across
    joins — the pandas→Spark conversion is paid once per session, like
    building any index.

    ``rows`` is the one relation the join probes: full cells and the
    partial cells split to ≤ ``UNROLL_K`` edges per row (``join_cover``).
    ``full`` and ``narrow`` are its full and partial rows; ``wide``
    holds the depth-cap rows still above ``UNROLL_K`` edges, or is None.

    ``broadcast`` decides the join strategy downstream: True (cover
    within ``local.BROADCAST_ROWS``) broadcasts the cover; False
    shuffles both sides on ``cell`` — the right key when the polygon
    corpus is too big to broadcast.
    """

    broadcast: bool = True

    @classmethod
    def from_features(cls, features: DataFrame, res: int) -> "PreparedCover":
        """Build the cover of a ``features`` DataFrame (fid, geometry;
        NULL geometries skipped).

        A polygon side within ``local.COVER_FEATURES`` is collected
        (bounded) and covered on the driver; a bigger one builds
        DISTRIBUTED with no driver collect (VERDICT r1 #3): the cover job
        runs once (cached, and materialized by one grouped count, like an
        index build) and the sides are projections of the cached result.
        """
        cap = local.COVER_FEATURES
        rows = features.select("fid", "geometry").limit(cap + 1).collect()
        if local.within(len(rows), cap):
            return cls(features.sparkSession, polygons_from_features(
                [r for r in rows if r.geometry is not None]), res)
        self = cls.__new__(cls)
        self.res = res
        cover = _map_polygons(features, lambda polys: join_cover(polys, res),
                              JOIN_SCHEMA).cache()
        is_wide = F.col("_sj_edges").isNotNull()
        side = (F.when(is_wide, "wide").when(F.col("_sj_full"), "full")
                .otherwise("narrow").alias("side"))
        n = dict(cover.groupBy(side).count().collect())
        self.broadcast = local.within(sum(n.values()), local.BROADCAST_ROWS)
        self.rows = cover.where(~is_wide).drop("_sj_edges")
        self._has_narrow = "narrow" in n
        self.wide = (cover.where(is_wide).select(*WIDE_COLS)
                     if "wide" in n else None)
        return self

    def __init__(self, spark: SparkSession, polygons: list[dict], res: int):
        # columns are named in pandas: a Project (even a rename) over
        # the wide join relation costs every join against it ~0.8 s of
        # planning (measured on a 9,185-row, ~100-column relation)
        self.res = res
        cover = join_cover(polygons, res)
        self.broadcast = local.within(len(cover), local.BROADCAST_ROWS)
        is_wide = cover["_sj_edges"].notna()
        rows = cover[~is_wide].drop(columns="_sj_edges")
        self.rows = local.to_spark(spark, rows, ROWS_SCHEMA)
        self._has_narrow = not rows["_sj_full"].all()
        self.wide = None
        if is_wide.any():
            self.wide = spark.createDataFrame(cover.loc[is_wide, WIDE_COLS],
                                              schema=WIDE_SCHEMA)

    # ``full`` and ``narrow`` put a Filter (and a Project) over ``rows``,
    # which ConvertToLocalRelation re-evaluates row by row on every
    # optimizer pass over a driver-built cover: views for probes and
    # tests, never for a join on a hot path (the join reads ``rows``)
    @property
    def full(self) -> DataFrame:
        """Full-cell rows, ``cell, polygon_fid`` (probe/test view)."""
        return self.rows.where("_sj_full").select("cell", "polygon_fid")

    @property
    def narrow(self) -> DataFrame | None:
        """Partial rows split to ≤ UNROLL_K edges (probe/test view)."""
        return self.rows.where("NOT _sj_full") if self._has_narrow else None


def spatial_join_prepared(points: DataFrame, prepared: PreparedCover,
                          lon_col: str = "lon", lat_col: str = "lat",
                          keep_cols: list[str] | None = None) -> DataFrame:
    """JVM spatial join against a PreparedCover (see spatial_join).

    Points with a NULL coordinate join nothing.  Small covers broadcast
    (no shuffle of the point side at all); covers past
    ``local.BROADCAST_ROWS`` shuffle both sides on ``cell``, the correct
    co-location key for a huge polygon corpus, and hash the cover side
    (hinted, so a low size estimate cannot turn it back into a
    broadcast).  Point columns named ``_sj_*`` are reserved."""
    # One join over full cells and ≤ UNROLL_K-edge rows, the predicate
    # unrolled into the BroadcastHashJoin condition; the rare depth-cap
    # rows join through the interpreted aggregate() predicate.
    side = F.broadcast if prepared.broadcast else \
        (lambda df: df.hint("shuffle_hash"))
    # the predicate reads non-nullable copies of the coordinates
    # (_sj_px/_sj_py): with nullable inputs every operation in it carries
    # null branches, ~40% more bytecode in the one generated method
    pts = (points.where(F.col(lon_col).isNotNull()
                        & F.col(lat_col).isNotNull())
           .withColumns({
               "cell": F.expr(C.cell_sql(lon_col, lat_col, prepared.res)),
               "_sj_px": F.coalesce(F.col(lon_col).cast("double"), F.lit(0.0)),
               "_sj_py": F.coalesce(F.col(lat_col).cast("double"), F.lit(0.0))}))
    out = (pts.join(side(prepared.rows), "cell")
           .where(F.expr(_join_filter_sql("_sj_px", "_sj_py", True)))
           .drop("_sj_px", "_sj_py", *prepared.rows.columns[2:]))
    if prepared.wide is not None:
        refined_w = (pts.join(side(prepared.wide), "cell")
                     .where(F.expr(_join_filter_sql("_sj_px", "_sj_py",
                                                    False)))
                     .drop("_sj_px", "_sj_py", *WIDE_COLS[2:]))
        out = out.unionByName(refined_w)
    if keep_cols is not None:
        out = out.select(*keep_cols)
    return out


def spatial_join(spark: SparkSession, points: DataFrame, polygons: list[dict],
                 res: int, lon_col: str = "lon", lat_col: str = "lat",
                 keep_cols: list[str] | None = None) -> DataFrame:
    """points ⋈ polygons → rows (point cols..., polygon_fid).

    Implements E6: broadcast cell-cover equi-join + E5 PIP refinement on
    partial cells only — ``spatial_join_prepared`` against a driver-built
    ``PreparedCover``: the refinement is a codegen'd crossing-count
    predicate over clipped edges carried by the broadcast cover, so the
    entire join is Python-free.  ``spatial_join_bruteforce`` is its
    test oracle.
    """
    return spatial_join_prepared(
        points, PreparedCover(spark, polygons, res), lon_col=lon_col,
        lat_col=lat_col, keep_cols=keep_cols)


def spatial_join_bruteforce(points_pdf: pd.DataFrame, polygons: list[dict],
                            lon_col: str = "lon", lat_col: str = "lat") -> pd.DataFrame:
    """Tiny-scale PIP oracle (SURVEY.md §5): every point against every
    polygon, pure numpy — used by tests to validate the cell-cover path."""
    rows = []
    px = points_pdf[lon_col].to_numpy()
    py = points_pdf[lat_col].to_numpy()
    for poly in polygons:
        inside = G.point_in_polygon_chunked(px, py, poly["coords"], poly["ends"])
        sub = points_pdf[inside].copy()
        sub["polygon_fid"] = poly["fid"]
        rows.append(sub)
    if not rows:
        return points_pdf.iloc[0:0].assign(polygon_fid=np.int64(0))
    return pd.concat(rows, ignore_index=True)
