"""The batched cell-cover kernel (``spatial_join._cover_arrays``) against
a per-polygon reference: the dense cells × edges overlap matrix and one
ray-cast PIP per polygon.  ``join_cover`` must come out bit-identical."""

import hashlib
import math
import os
import sys
from unittest import mock

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from go_shapefile_spark.functions import cells as C
from go_shapefile_spark.functions import geom_np as G
from go_shapefile_spark.operators import spatial_join as SJ

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


def _reference_split_rects(box, prow, pe, ebox, k):
    """Quartering with each child's overlap tested against its own box."""
    owner = np.arange(len(box))
    leaves, lown, lrow, le = [], [], [], []
    n_out = 0
    for depth in range(SJ.SPLIT_DEPTH + 1):
        split = np.bincount(prow, minlength=len(box)) > k
        if depth == SJ.SPLIT_DEPTH:
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


def _reference_cover_arrays(polygons, res, split_k):
    """Per-polygon cover: each polygon's bbox grid against all its edge
    bboxes as one dense matrix, the split testing every child's own box,
    then one PIP per polygon."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    grids, prow_l, pe_l, segs = [], [], [], []
    n_part = n_edge = 0
    for poly in polygons:
        coords, ends = poly["coords"], poly["ends"]
        rings = list(G.rings_of(np.asarray(coords, dtype=np.float64), ends))
        seg = np.concatenate([np.column_stack([x[:-1], y[:-1], x[1:], y[1:]])
                              for x, y in rings])
        ix0, iy0, ix1, iy1 = (
            min(max(int(math.floor((v + o) / s * n)), 0), n - 1)
            for v, o, s in ((coords[0::2].min(), 180.0, 360.0),
                            (coords[1::2].min(), 90.0, 180.0),
                            (coords[0::2].max(), 180.0, 360.0),
                            (coords[1::2].max(), 90.0, 180.0)))
        ixs, iys = np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1)
        gx, gy = np.tile(ixs, len(iys)), np.repeat(iys, len(ixs))
        lon0, lat0 = -180.0 + gx * w, -90.0 + gy * h
        exmin = np.minimum(seg[:, 0], seg[:, 2])
        exmax = np.maximum(seg[:, 0], seg[:, 2])
        eymin = np.minimum(seg[:, 1], seg[:, 3])
        eymax = np.maximum(seg[:, 1], seg[:, 3])
        hit = ((exmin[None, :] < lon0[:, None] + w) &
               (exmax[None, :] > lon0[:, None]) &
               (eymin[None, :] < lat0[:, None] + h) &
               (eymax[None, :] > lat0[:, None]))
        partial = hit.any(axis=1)
        part = np.nonzero(partial)[0]
        grids.append((gx, gy, lon0, lat0, np.nonzero(~partial)[0], part))
        prow, pe = np.nonzero(hit[part])
        prow_l.append(prow + n_part)
        pe_l.append(pe + n_edge)
        segs.append(seg)
        n_edge += len(seg)
        n_part += len(part)

    pgx, pgy, plon0, plat0 = (np.concatenate([g[i][g[5]] for g in grids])
                              for i in range(4))
    pfid = np.repeat([p["fid"] for p in polygons],
                     [len(g[5]) for g in grids]).astype(np.int64)
    segs = np.concatenate(segs)
    ebox = np.column_stack([np.minimum(segs[:, 0], segs[:, 2]),
                            np.minimum(segs[:, 1], segs[:, 3]),
                            np.maximum(segs[:, 0], segs[:, 2]),
                            np.maximum(segs[:, 1], segs[:, 3])])
    cell_box = np.column_stack([plon0, plon0 + w, plat0, plat0 + h])
    box, owner = cell_box, np.arange(n_part)
    prow, pe = np.concatenate(prow_l), np.concatenate(pe_l)
    if len(prow):
        box, owner, prow, pe = _reference_split_rects(box, prow, pe, ebox,
                                                      split_k)
        order = np.argsort(owner, kind="stable")
        rank = np.empty_like(order)
        rank[order] = np.arange(len(order))
        box, owner, prow = box[order], owner[order], rank[prow]
        order = np.argsort(prow, kind="stable")
        prow, pe = prow[order], pe[order]
    whole = (box == cell_box[owner]).all(axis=1)
    rx = np.where(whole, plon0[owner] + w / 2, (box[:, 0] + box[:, 1]) * 0.5)
    ry = np.where(whole, plat0[owner] + h / 2, (box[:, 2] + box[:, 3]) * 0.5)
    seg = segs[pe]
    SJ._move_refs_off_edges(box, rx, ry, prow, seg)

    lo = np.searchsorted(owner, np.cumsum([0] + [len(g[5]) for g in grids]))
    full_l, ref = [], np.zeros(len(box), dtype=bool)
    for poly, g, a, b in zip(polygons, grids, lo, lo[1:]):
        gx, gy, lon0, lat0, interior, _ = g
        inside = G.point_in_polygon(
            np.concatenate([lon0[interior] + w / 2, rx[a:b]]),
            np.concatenate([lat0[interior] + h / 2, ry[a:b]]),
            poly["coords"], poly["ends"])
        keep = interior[inside[:len(interior)]]
        full_l.append((gx[keep], gy[keep], lon0[keep], lat0[keep],
                       np.full(len(keep), poly["fid"], dtype=np.int64)))
        ref[a:b] = inside[len(interior):]
    live = ref | (np.bincount(prow, minlength=len(box)) > 0)
    prow = (np.cumsum(live) - 1)[prow]
    box, owner, rx, ry, ref = (box[live], owner[live], rx[live], ry[live],
                               ref[live])

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
        "bounds": np.concatenate([
            np.tile([-np.inf, np.inf, -np.inf, np.inf], (n_full, 1)),
            np.where(box == cell_box[owner],
                     np.array([-np.inf, np.inf, -np.inf, np.inf]), box)]),
        "erow": n_full + prow,
        "seg": seg,
    }


def _assert_frames_identical(got: pd.DataFrame, exp: pd.DataFrame):
    assert list(got.columns) == list(exp.columns)
    assert len(got) == len(exp)
    for c in got.columns:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        if a.dtype == object:
            assert [None if v is None else np.asarray(v).tobytes()
                    for v in a] == [None if v is None else
                                    np.asarray(v).tobytes() for v in b], c
        else:
            assert a.dtype == b.dtype and a.tobytes() == b.tobytes(), c


def _assert_covers_identical(polygons, res):
    got = pd.DataFrame(SJ.join_cover(polygons, res))
    with mock.patch.object(SJ, "_cover_arrays", _reference_cover_arrays):
        exp = pd.DataFrame(SJ.join_cover(polygons, res))
    _assert_frames_identical(got, exp)


def _ring(cx, cy, radii, step, clockwise):
    """A closed star ring around (cx, cy), vertices snapped to multiples
    of ``step`` (so they land on cell and split lines) and to ±180."""
    t = 2 * np.pi * np.arange(len(radii)) / len(radii)
    x = np.clip(np.round((cx + radii * np.cos(t) * 2) / step[0]) * step[0],
                -180.0, 180.0)
    y = np.clip(np.round((cy + radii * np.sin(t)) / step[1]) * step[1],
                -90.0, 90.0)
    if clockwise:
        x, y = x[::-1], y[::-1]
    ring = np.empty(2 * len(x) + 2)
    ring[0:-2:2], ring[1:-2:2] = x, y
    ring[-2:] = ring[:2]
    return ring


@st.composite
def polygon_sets(draw):
    res = draw(st.integers(min_value=2, max_value=6))
    w, h = 360.0 / (1 << res), 180.0 / (1 << res)
    polys = []
    for fid in range(draw(st.integers(min_value=1, max_value=4))):
        cx = draw(st.sampled_from([-180.0, -170.0, -3.3, 0.0, 41.7, 180.0]))
        cy = draw(st.floats(min_value=-70.0, max_value=70.0))
        size = draw(st.floats(min_value=0.3, max_value=3.0)) * w
        nv = draw(st.integers(min_value=3, max_value=60))
        radii = size * np.array(draw(st.lists(
            st.floats(min_value=0.5, max_value=1.0), min_size=nv,
            max_size=nv)))
        step = draw(st.sampled_from([(w / 16, h / 16), (w / 4, h / 4),
                                     (1e-3, 1e-3)]))
        cw = draw(st.booleans())
        rings = [_ring(cx, cy, radii, step, cw)]
        if draw(st.booleans()):      # a hole, wound the other way
            rings.append(_ring(cx, cy, radii * 0.3, step, not cw))
        if draw(st.booleans()):      # a second part
            rings.append(_ring(cx + 2.5 * size, cy, radii * 0.4, step, cw))
        polys.append({"fid": fid + 1, "coords": np.concatenate(rings),
                      "ends": list(np.cumsum([len(r) for r in rings]))})
    return polys, res


@given(polygon_sets())
@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_batched_cover_equals_per_polygon_reference(case):
    """Holes, multipart polygons, both windings, rings against ±180° and
    vertices on cell and split lines."""
    polygons, res = case
    _assert_covers_identical(polygons, res)


@pytest.mark.parametrize("seed", [1, 2])
def test_batched_cover_on_benchmark_corpora(seed):
    """The countries_join corpus of perfbench seeds 1 and 2, at the
    workload's resolution."""
    sys.path.insert(0, PERFBENCH)
    try:
        import gen
    finally:
        sys.path.remove(PERFBENCH)
    key = int.from_bytes(
        hashlib.sha256(b"countries_join").digest()[:4], "little")
    polys = gen.countries(np.random.default_rng([seed, key]))
    polygons = [{"fid": i + 1, "coords": p["coords"],
                 "ends": [int(e) for e in p["ends"]]}
                for i, p in enumerate(polys)]
    _assert_covers_identical(polygons, gen.JOIN_RES)


@pytest.mark.parametrize("coords, match", [
    (np.zeros(0), "x, y pairs"), (np.arange(7.0), "x, y pairs"),
    (np.array([0.0, 0.0, np.nan, 1.0, 1.0, 1.0, 0.0, 0.0]), "finite")])
def test_malformed_polygon_raises(coords, match):
    """An empty or odd-length coordinate run would shift every later
    polygon's x/y in the batched arrays; a NaN has no grid cell."""
    with pytest.raises(ValueError, match=match):
        SJ.join_cover([{"fid": 1, "coords": coords,
                        "ends": [len(coords)]}], 4)
