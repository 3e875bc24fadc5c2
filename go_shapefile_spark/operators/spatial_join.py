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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geom_np as G
from . import local
from .pinning import fresh_pins


# Max clipped edges per join-cover row.  The crossing predicate is
# unrolled over UNROLL_K edges and folds into the BroadcastHashJoin
# condition, so it shares one generated method with the probe loop;
# HotSpot does not JIT a method above 8,000 bytecode bytes, and the
# stage leaves whole-stage codegen above spark.sql.codegen.maxFields
# (100) columns.  At 8 edges, with the eight reference signs packed in
# one int column, the largest method measured 4.9 KB on the
# countries_join query and 7.9 KB on a 54-column point side, the widest
# that still fits the field limit (BENCH.md).
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
    + ["_sj_s int not null"])
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

    def run(batches):
        for rb in batches:
            polys = [_poly_dict(fid, g["layout"], g["coords"], g["ends"])
                     for fid, g in zip(rb.column("fid").to_pylist(),
                                       local.values(rb.column("geometry")))
                     if g is not None]
            if polys:
                yield cover(polys)

    # spread polygons across tasks — the cover build is CPU-bound per
    # polygon and input files may pack all polygons into one split
    return local.map_arrow(
        features.select("fid", "geometry").repartition(F.col("fid")), run,
        schema)


def _split_rects(box: np.ndarray, prow: np.ndarray, pe: np.ndarray,
                 ebox: np.ndarray, k: int):
    """Quarter every rectangle with more than ``k`` clipped edges,
    recursively, up to ``SPLIT_DEPTH`` times; vectorized per level.

    ``box`` is (n, 4) ``[x0, x1, y0, y1]``; ``prow, pe`` are the
    (rectangle, edge) incidences, sorted by rectangle with edges in ring
    order; ``ebox`` is (E, 4) edge bboxes ``[xmin, ymin, xmax, ymax]``,
    each overlapping its rectangle (strict tests).  A child keeps the
    parent's edges whose bbox overlaps it (the strict test of the
    cell-level clip), so the segment from its centre to any point in it
    can only cross those.  Returns the leaves' boxes, the
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
        par = (np.cumsum(split) - 1)[prow[sel]]
        # an edge overlaps its parent strictly, so the overlap test of a
        # child reduces to the parent's midlines
        eb, pm = ebox[pe[sel]], 4 * par
        w_, e_ = eb[:, 0] < xm[pm], eb[:, 2] > xm[pm]
        s_, n_ = eb[:, 1] < ym[pm], eb[:, 3] > ym[pm]
        hit = np.column_stack([w_ & s_, e_ & s_, w_ & n_, e_ & n_])
        cr = pm[:, None] + np.arange(4)
        ce = np.broadcast_to(pe[sel][:, None], cr.shape)
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


def _polygon_edges(polygons: list[dict]):
    """Every polygon's coordinate bbox (P, 4) ``[xmin, ymin, xmax, ymax]``
    and all ring edges, polygon by polygon in ring order: segments (E, 4)
    ``[x1, y1, x2, y2]`` and each edge's polygon index."""
    coords = [np.asarray(p["coords"], dtype=np.float64) for p in polygons]
    clen = np.array([len(c) for c in coords], dtype=np.int64)
    if not clen.all() or (clen % 2).any():
        raise ValueError("polygon coords must be a non-empty run of x, y pairs")
    xy = np.concatenate(coords)
    x, y = xy[0::2], xy[1::2]
    voff = np.cumsum(clen // 2) - clen // 2
    bbox = np.column_stack([np.minimum.reduceat(x, voff),
                            np.minimum.reduceat(y, voff),
                            np.maximum.reduceat(x, voff),
                            np.maximum.reduceat(y, voff)])
    if not np.isfinite(bbox).all():
        raise ValueError("polygon coordinates must be finite")
    ends = [np.asarray(p["ends"], dtype=np.int64) for p in polygons]
    nring = np.array([len(e) for e in ends])
    rpoly = np.repeat(np.arange(len(polygons)), nring)
    ends = np.concatenate(ends)
    prev = np.concatenate([[0], ends[:-1]])      # each ring's start
    prev[(np.cumsum(nring) - nring)[nring > 0]] = 0
    nvert = np.maximum((np.minimum(ends, clen[rpoly]) - prev) // 2, 0)
    nedge = np.maximum(nvert - 1, 0)
    first = voff[rpoly] + prev // 2
    v = G.ranges(first, nedge)
    seg = np.column_stack([x[v], y[v], x[v + 1], y[v + 1]])
    return bbox, seg, np.repeat(rpoly, nedge)


def _grid_span(lo: np.ndarray, hi: np.ndarray, origin: float, size: float,
               n: int) -> tuple[np.ndarray, np.ndarray]:
    """Per interval ``[lo, hi]``: the first and last grid index ``g`` with
    ``lo < origin + g*size + size`` and ``hi > origin + g*size``, the
    strict overlap test of a cell and an edge bbox, computed with those
    exact float ops.  Both tests are monotone in ``g``, so each bound is
    the floor estimate corrected by testing its neighbours."""
    def corner(g):
        return origin + g * size

    a0 = np.clip(np.floor((lo - origin) / size), -4, n + 4).astype(np.int64)
    b0 = np.clip(np.ceil((hi - origin) / size) - 1, -4, n + 4).astype(np.int64)
    a, b = a0 - 2, b0 - 3
    for d in range(-2, 3):
        a += ~(lo < corner(a0 + d) + size)
        b += hi > corner(b0 + d)
    return a, b


def _cover_arrays(polygons: list[dict], res: int, split_k: int) -> dict:
    """The cover kernel behind ``join_cover``, batched over every
    polygon: full rows, then partial rows, with ``cell fid full rx ry
    ref``, the half-open membership ``bounds`` (n, 4) ``[x0, x1, y0,
    y1]`` (±inf on the cell's outer sides, so a point the cell id puts
    in the cell lands in exactly one of its rows), and the (row,
    segment) incidences ``erow`` / ``seg`` sorted by row, edges in ring
    order.

    A cell overlapping no edge bbox is uniformly inside or outside, so
    one centre PIP makes it a full row or drops it; the others are
    partial, with every edge whose bbox overlaps them.  Partial cells
    with more than ``split_k`` edges are split into sub-rectangles
    (``_split_rects``); a sub-rectangle with no edge and its centre
    outside is dropped, as no point in it is inside.
    """
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    if not polygons:
        out = {c: np.zeros(0) for c in ("cell", "fid", "full", "rx", "ry",
                                        "ref", "erow")}
        out.update(bounds=np.zeros((0, 4)), seg=np.zeros((0, 4)))
        return out
    fids = np.array([p["fid"] for p in polygons], dtype=np.int64)
    bbox, segs, epoly = _polygon_edges(polygons)
    # each polygon's bbox grid, cells numbered globally: polygon by
    # polygon, row-major within one
    ix0, iy0, ix1, iy1 = (
        np.clip(np.floor((bbox[:, j] + o) / s * n), 0, n - 1).astype(np.int64)
        for j, o, s in ((0, 180.0, 360.0), (1, 90.0, 180.0),
                        (2, 180.0, 360.0), (3, 90.0, 180.0)))
    nx = ix1 - ix0 + 1
    size = nx * (iy1 - iy0 + 1)
    goff = np.cumsum(size) - size

    def decode(g):
        p = np.searchsorted(goff, g, side="right") - 1
        j = g - goff[p]
        return p, ix0[p] + j % nx[p], iy0[p] + j // nx[p]

    # Pass 1: the (cell, edge) incidences — every cell of an edge's
    # polygon grid overlapping the edge bbox (strict tests), generated
    # edge by edge, then stably sorted by cell: rows in cell order,
    # edges in ring order within a row
    ebox = np.column_stack([np.minimum(segs[:, 0], segs[:, 2]),
                            np.minimum(segs[:, 1], segs[:, 3]),
                            np.maximum(segs[:, 0], segs[:, 2]),
                            np.maximum(segs[:, 1], segs[:, 3])])
    ex0, ex1 = _grid_span(ebox[:, 0], ebox[:, 2], -180.0, w, n)
    ey0, ey1 = _grid_span(ebox[:, 1], ebox[:, 3], -90.0, h, n)
    ex0, ey0 = np.maximum(ex0, ix0[epoly]), np.maximum(ey0, iy0[epoly])
    cx = np.maximum(np.minimum(ex1, ix1[epoly]) - ex0 + 1, 0)
    cy = np.maximum(np.minimum(ey1, iy1[epoly]) - ey0 + 1, 0)
    cnt = cx * cy
    pe = np.repeat(np.arange(len(segs)), cnt)
    j = G.ranges(np.zeros_like(cnt), cnt)
    p = epoly[pe]
    gcell = goff[p] + ((ey0[pe] + j // cx[pe] - iy0[p]) * nx[p]
                       + ex0[pe] + j % cx[pe] - ix0[p])
    order = np.argsort(gcell, kind="stable")
    gcell, pe = gcell[order], pe[order]
    new = np.ones(len(gcell), dtype=bool)
    new[1:] = gcell[1:] != gcell[:-1]
    prow = np.cumsum(new) - 1
    interior = np.ones(int(size.sum()), dtype=bool)
    interior[gcell] = False
    ipoly, igx, igy = decode(np.flatnonzero(interior))
    ppoly, pgx, pgy = decode(gcell[new])
    plon0, plat0 = -180.0 + pgx * w, -90.0 + pgy * h
    n_part = len(pgx)

    cell_box = np.column_stack([plon0, plon0 + w, plat0, plat0 + h])
    box, owner = cell_box, np.arange(n_part)
    if len(prow):
        box, owner, prow, pe = _split_rects(box, prow, pe, ebox, split_k)
        # leaves back in cell order, the order of the output rows
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
    seg = segs[pe]
    _move_refs_off_edges(box, rx, ry, prow, seg)

    # Pass 2: ONE batched PIP of every reference point — interior cell
    # centres (full or outside) and the partial rows' references (their
    # parity)
    n_int = len(igx)
    inside = G.points_in_polygons(
        np.concatenate([-180.0 + igx * w + w / 2, rx]),
        np.concatenate([-90.0 + igy * h + h / 2, ry]),
        np.concatenate([ipoly, ppoly[owner]]), segs, epoly)
    full, ref = inside[:n_int], inside[n_int:]
    live = ref | (np.bincount(prow, minlength=len(box)) > 0)
    prow = (np.cumsum(live) - 1)[prow]
    box, owner, rx, ry, ref = (box[live], owner[live], rx[live], ry[live],
                               ref[live])

    fgx, fgy, ffid = igx[full], igy[full], fids[ipoly[full]]
    flon0, flat0 = -180.0 + fgx * w, -90.0 + fgy * h
    n_full = len(fgx)
    return {
        "cell": C.cell_from_xy(np.concatenate([fgx, pgx[owner]]),
                               np.concatenate([fgy, pgy[owner]]), res),
        "fid": np.concatenate([ffid, fids[ppoly[owner]]]),
        "full": np.arange(n_full + len(box)) < n_full,
        "rx": np.concatenate([flon0 + w / 2, rx]),
        "ry": np.concatenate([flat0 + h / 2, ry]),
        "ref": np.concatenate([np.ones(n_full, dtype=bool), ref]),
        # membership bounds: a side on the cell's outer edge is open
        "bounds": np.concatenate([
            np.tile([-np.inf, np.inf, -np.inf, np.inf], (n_full, 1)),
            np.where(box == cell_box[owner],
                     np.array([-np.inf, np.inf, -np.inf, np.inf]), box)]),
        "erow": n_full + prow,
        "seg": seg,
    }


def join_cover(polygons: list[dict], res: int) -> dict:
    """The join's cover columns (``JOIN_SCHEMA``) — the one build both
    ``PreparedCover`` paths run (driver, and per task in ``from_features``).

    Full cells carry ``_sj_full``.  Partial cells with more than
    ``UNROLL_K`` clipped edges are split into sub-rectangles
    (``_split_rects``), each with its own centre reference (moved off
    any edge through it, ``_move_refs_off_edges``), parity and edges; a
    row then holds its ≤ ``UNROLL_K`` edges as scalar columns
    ``_sj_e{j}_ax.._by`` plus, in bit ``j`` of the one int ``_sj_s``,
    the sign ``d1 > 0`` of the reference's orientation against edge
    ``j`` (cover columns only, so precomputed here with the operand
    order of the SQL predicate; numpy and the JVM both round per IEEE
    operation, so the sign is the one the predicate would compute).
    Padding edges are zero-length (a = b = (0, 0)): ``d1 = d2 = 0``
    contributes no crossing.  Rows still above ``UNROLL_K`` at
    ``SPLIT_DEPTH`` keep their edge list in ``_sj_edges`` (NULL
    elsewhere) and join through ``aggregate()``.
    """
    k = UNROLL_K
    a = _cover_arrays(polygons, res, k)
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
    out["_sj_s"] = (signs << np.arange(k)).sum(axis=1).astype(np.int32)
    lists = np.full(n, None, dtype=object)
    for r in np.nonzero(wide)[0]:
        lists[r] = seg[starts[r]:starts[r] + counts[r]].tolist()
    out["_sj_edges"] = lists
    return out


def _crossing_sql(p: str, q: str, rx: str, ry: str, edge: tuple,
                  d1_pos: str | None = None) -> str:
    """1L if polygon edge ``edge`` = (ax, ay, bx, by) crosses the segment
    from the reference (rx, ry) to the point (p, q), else 0L.

    The standard double-orientation segment intersection with a
    half-open sign rule (``d > 0`` vs ``d <= 0``), so a polygon vertex
    lying exactly on the reference→point segment — common with
    round-number grids — still counts exactly one crossing per true
    boundary pass.  ``d1`` reads no point column; ``d1_pos`` is a
    boolean SQL expression for its sign ``d1 > 0`` when the cover
    precomputes it.
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
                           prefix: str, signs: str | None = None) -> str:
    """Crossings over ``k`` scalar edge columns ``{prefix}{j}_ax.._by``
    (with ``signs``, an int column whose bit ``j`` holds edge ``j``'s
    precomputed sign ``d1 > 0``), statically unrolled so the predicate
    stays inside whole-stage codegen: no array access, no lambda, no
    per-row allocation."""
    return " + ".join(
        _crossing_sql(p, q, rx, ry, tuple(f"{prefix}{j}_{c}" for c in _EDGE),
                      f"(({signs} & {1 << j}) > 0)" if signs else None)
        for j in range(k))


def _join_filter_sql(p: str, q: str, unrolled: bool) -> str:
    """The join's refine predicate over a cover row: full cells pass; a
    split row's point must lie in its half-open sub-rectangle and be
    inside by crossing parity from the row's centre.  The ``unrolled``
    form reads ≤ UNROLL_K scalar edges (zero-length padding edges give
    ``d1 = d2 = 0`` and never count a crossing); the other form is the
    depth-cap rows' ``aggregate()`` over ``_sj_edges``."""
    crossings = (unrolled_crossings_sql(p, q, "_sj_rx", "_sj_ry", UNROLL_K,
                                        "_sj_e", signs="_sj_s")
                 if unrolled else
                 aggregate_crossings_sql(p, q, "_sj_rx", "_sj_ry",
                                         "_sj_edges"))
    inside = (f"{p} >= _sj_x0 AND {p} < _sj_x1 AND "
              f"{q} >= _sj_y0 AND {q} < _sj_y1 AND "
              f"{parity_sql('_sj_in', crossings)}")
    return f"(_sj_full OR ({inside}))" if unrolled else f"({inside})"


class PreparedCover:
    """Session-lifetime cover artifact, built once and reused across
    joins — the Arrow→Spark conversion is paid once per session, like
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
        runs once, pinned in an anonymous per-call slot like an index
        build (operators/pinning.py; ``release_pins`` frees it), and the
        sides are projections of the pinned result.
        """
        cap = local.COVER_FEATURES
        rows = features.select("fid", "geometry").limit(cap + 1).collect()
        if local.within(len(rows), cap):
            return cls(features.sparkSession, polygons_from_features(
                [r for r in rows if r.geometry is not None]), res)
        self = cls.__new__(cls)
        self.res = res
        cover = fresh_pins(features.sparkSession, None)(_map_polygons(
            features, lambda polys: join_cover(polys, res), JOIN_SCHEMA))
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
        # columns are named in the Arrow table: a Project (even a rename)
        # over the wide join relation costs every join against it ~0.8 s
        # of planning (measured on a 9,185-row, ~100-column relation)
        self.res = res
        cover = join_cover(polygons, res)
        self.broadcast = local.within(len(cover["cell"]),
                                      local.BROADCAST_ROWS)
        is_wide = np.not_equal(cover["_sj_edges"], None)
        rows = {k: v[~is_wide] for k, v in cover.items()
                if k != "_sj_edges"}
        self.rows = local.to_spark(spark, rows, ROWS_SCHEMA)
        self._has_narrow = not rows["_sj_full"].all()
        self.wide = None
        if is_wide.any():
            self.wide = local.to_spark(
                spark, {k: cover[k][is_wide] for k in WIDE_COLS}, WIDE_SCHEMA)

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
