"""Vector-tile clipping: batched Sutherland-Hodgman vs independent
references, analytic cases, conservation, and Spark/driver parity (the
driver runs each kernel's own batch function over the core parser's
records, ``sources.shapefile.map_records``)."""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pytest

from go_shapefile_spark.operators.geometry import (
    KERNEL_COLUMNS, SIMPLIFY_COLUMNS, run_geom_measures, run_simplify)
from go_shapefile_spark.operators.vector_tiles import (
    _ring_signed2, clip_ring_reference, run_vector_tiles,
    run_vector_tiles_lines, sh_clip_batch, vector_tiles, zoom_eps)
from go_shapefile_spark.queries import (_LINE_TILE_NAMES, _TILE_NAMES,
                                        _kernel_rows, _pyramid_rows)
from go_shapefile_spark.sources.shapefile import map_records

COUNTRIES = "/root/reference/testdata/110m-admin-0-countries.zip"


def _read_countries():
    from go_shapefile_spark.sources.shapefile_core import read_zip
    if not os.path.exists(COUNTRIES):
        pytest.skip(f"fixture absent: {COUNTRIES}")
    return read_zip(COUNTRIES)


def _clip_rows(records, res):
    return _kernel_rows(records, KERNEL_COLUMNS,
                        partial(run_vector_tiles, res=res), _TILE_NAMES)


def _measures(records):
    """(area, perimeter, cx, cy) per feature, in fid order."""
    return _kernel_rows(records, KERNEL_COLUMNS, run_geom_measures,
                        ["area", "perimeter", "cx", "cy"])


def _simplified_measures(records, eps):
    """fid -> (area, perimeter) of each feature simplify keeps."""
    simp = map_records(records, SIMPLIFY_COLUMNS,
                       partial(run_simplify, eps=eps))
    return {fid: (a, ln) for fid, a, ln in _kernel_rows(
        simp, KERNEL_COLUMNS, run_geom_measures,
        ["fid", "area", "perimeter"])}


def test_batched_clip_bitwise_equals_reference():
    rng = np.random.default_rng(42)
    xs, ys, lens, boxes, refs = [], [], [], [], []
    for _ in range(500):
        m = int(rng.integers(3, 50))
        x, y = rng.uniform(-5, 5, m), rng.uniform(-5, 5, m)
        bx = np.sort(rng.uniform(-4, 4, 2))
        by = np.sort(rng.uniform(-4, 4, 2))
        box = (bx[0], by[0], bx[1], by[1])
        xs.append(x); ys.append(y); lens.append(m); boxes.append(box)
        refs.append(clip_ring_reference(x, y, box))
    cx, cy, clens = sh_clip_batch(np.concatenate(xs), np.concatenate(ys),
                                  np.array(lens), np.array(boxes))
    starts = np.concatenate(([0], np.cumsum(clens)[:-1]))
    for i, ref in enumerate(refs):
        got = np.stack([cx[starts[i]:starts[i] + clens[i]],
                        cy[starts[i]:starts[i] + clens[i]]], axis=1)
        exp = np.array(ref, dtype=np.float64).reshape(-1, 2)
        np.testing.assert_array_equal(got, exp)


def test_clip_analytic_cases():
    # CW unit-10 square (shapefile solid winding)
    sq_x = np.array([0.0, 0.0, 10.0, 10.0])
    sq_y = np.array([0.0, 10.0, 10.0, 0.0])

    # box strictly inside the ring -> collapses to the box exactly
    x, y, lens = sh_clip_batch(sq_x, sq_y, np.array([4]),
                               np.array([[2.0, 2.0, 3.0, 3.0]]))
    assert lens[0] == 4 and -_ring_signed2(x, y, lens)[0] / 2 == 1.0
    assert x.min() == 2.0 and x.max() == 3.0

    # box overlapping one corner -> intersection rectangle, exact area
    x, y, lens = sh_clip_batch(sq_x, sq_y, np.array([4]),
                               np.array([[8.0, 8.0, 12.0, 12.0]]))
    assert -_ring_signed2(x, y, lens)[0] / 2 == 4.0      # 2x2 corner

    # box fully outside -> empty
    x, y, lens = sh_clip_batch(sq_x, sq_y, np.array([4]),
                               np.array([[20.0, 20.0, 30.0, 30.0]]))
    assert lens[0] == 0 and x.size == 0

    # ring edge exactly ON the clip boundary is kept (>= semantics)
    x, y, lens = sh_clip_batch(sq_x, sq_y, np.array([4]),
                               np.array([[0.0, 0.0, 10.0, 10.0]]))
    assert lens[0] == 4 and -_ring_signed2(x, y, lens)[0] / 2 == 100.0


def test_donut_hole_tiles_cancel_exactly():
    # outer CW 0..10 square with CCW hole 2..8: a box inside the hole
    # nets EXACTLY zero area (same collapsed box, opposite winding)
    ox = np.array([0.0, 0.0, 10.0, 10.0])
    oy = np.array([0.0, 10.0, 10.0, 0.0])
    hx = np.array([2.0, 8.0, 8.0, 2.0])      # CCW
    hy = np.array([2.0, 2.0, 8.0, 8.0])
    box = [4.0, 4.0, 6.0, 6.0]
    x = np.concatenate([ox, hx]); y = np.concatenate([oy, hy])
    cx, cy, lens = sh_clip_batch(x, y, np.array([4, 4]),
                                 np.array([box, box]))
    s2 = _ring_signed2(cx, cy, lens)
    assert -(s2[0] + s2[1]) / 2 == 0.0
    # a box straddling the hole edge keeps the annulus part only
    box2 = [1.0, 4.0, 3.0, 6.0]              # 2x2, half in the annulus
    cx, cy, lens = sh_clip_batch(x, y, np.array([4, 4]),
                                 np.array([box2, box2]))
    s2 = _ring_signed2(cx, cy, lens)
    assert -(s2[0] + s2[1]) / 2 == 2.0


def test_countries_tiles_conserve_area_and_stay_in_bounds():
    sf = _read_countries()
    rows = _clip_rows(sf.shp.records, 4)
    assert len(rows) > 400
    per_fid: dict[int, float] = {}
    tw, th = 360.0 / 16, 180.0 / 16
    for fid, cell, x0, y0, nr, npts, area in rows:
        assert area > 0.0 and nr >= 1 and npts >= 4 * nr
        assert area <= tw * th * (1 + 1e-12)         # never exceeds a tile
        per_fid[fid] = per_fid.get(fid, 0.0) + area
    for i, (a, _l, _cx, _cy) in enumerate(_measures(sf.shp.records)):
        assert np.isclose(per_fid.get(i + 1, 0.0), a, rtol=1e-9), i + 1


def test_spark_matches_driver_twin_bitwise(spark):
    from go_shapefile_spark.sources.shapefile import read_shapefile_df
    sf = _read_countries()
    exp = sorted(_clip_rows(sf.shp.records, 4))
    df = vector_tiles(read_shapefile_df(spark, COUNTRIES), res=4)
    got = sorted((r.fid, r.cell, r.lon0, r.lat0, r.n_rings, r.n_points,
                  r.area) for r in df.collect())
    assert got == exp            # bit-exact, including the float areas


def test_emitted_geometry_is_closed_and_measures_match(spark):
    # the emitted per-tile coords/ends must re-measure to the emitted
    # area (composition with the measures kernel) and be closed rings
    # clamped to the tile box
    from go_shapefile_spark.sources.shapefile import read_shapefile_df
    from go_shapefile_spark.operators.geometry import part_measures
    df = vector_tiles(read_shapefile_df(spark, COUNTRIES), res=4)
    rows = df.where("fid IN (1, 4, 9, 33)").collect()
    assert rows
    tw, th = 360.0 / 16, 180.0 / 16
    for r in rows:
        coords = np.asarray(r.coords)
        ends = list(r.ends)
        assert len(ends) == r.n_rings and ends[-1] == coords.size
        x, y = coords[0::2], coords[1::2]
        assert x.min() >= r.lon0 and x.max() <= r.lon0 + tw
        assert y.min() >= r.lat0 and y.max() <= r.lat0 + th
        prev = 0
        s2 = 0.0
        for e in ends:
            ring = coords[prev:e]
            assert ring[0] == ring[-2] and ring[1] == ring[-1]  # closed
            prev = e
        s2 = sum(p[0] for p in part_measures(coords, ends))
        assert np.isclose(-s2 / 2.0, r.area, rtol=1e-12)


def test_vector_tiles_rejects_polylines(spark):
    # shape type 3 (PolyLine): clipping lines to boxes is a different
    # operator (open-path semantics) — must reject, not emit wrong area
    df = spark.createDataFrame(
        [(1, 3, ("XY", [0.0, 0.0, 5.0, 5.0], [4]))],
        "fid long, shape_type int, geometry struct<layout:string, "
        "coords:array<double>, ends:array<int>>")
    with pytest.raises(Exception, match="polygon shape types only"):
        vector_tiles(df, res=4).collect()


def test_vector_tiles_plan_no_shuffle_above_parse(spark, local_caps):
    # the clip runs inside the scan task: ONE mapInArrow over the
    # JVM-generated split ids (Range), so no Exchange anywhere above
    # the Range and no second Python stage.
    # SCAN_BYTES=0: the distributed scan, not a driver-local read
    from go_shapefile_spark.sources.shapefile import read_shapefile_df
    local_caps(SCAN_BYTES=0)
    df = vector_tiles(read_shapefile_df(spark, COUNTRIES), res=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan[:plan.index("Range")], plan
    assert "BatchEvalPython" not in plan


def test_batched_segment_clip_matches_reference_paths():
    from go_shapefile_spark.operators.vector_tiles import (
        clip_segments_reference, lb_clip_segments)
    rng = np.random.default_rng(3)
    for trial in range(300):
        m = int(rng.integers(2, 30))
        x, y = rng.uniform(-5, 5, m), rng.uniform(-5, 5, m)
        bx = np.sort(rng.uniform(-4, 4, 2))
        by = np.sort(rng.uniform(-4, 4, 2))
        box = (bx[0], by[0], bx[1], by[1])
        ref = clip_segments_reference(x, y, box)
        keep, sx, sy, ex, ey, enters, exits = lb_clip_segments(
            x[:-1], y[:-1], x[1:], y[1:], np.tile(np.array(box), (m - 1, 1)))
        # rebuild sub-paths from the batched chaining signals
        paths, cur = [], []
        for i in range(m - 1):
            if not keep[i]:
                if cur:
                    paths.append(cur); cur = []
                continue
            if not cur or enters[i]:
                if cur:
                    paths.append(cur)
                cur = [(sx[i], sy[i])]
            cur.append((ex[i], ey[i]))
            if exits[i]:
                paths.append(cur); cur = []
        if cur:
            paths.append(cur)
        assert [len(p) for p in paths] == [len(p) for p in ref], trial
        for pg, pr in zip(paths, ref):
            assert pg == pr, trial                 # bitwise


def test_line_tiles_conserve_length_and_match_spark(spark):
    from go_shapefile_spark.operators.vector_tiles import vector_tiles_lines
    from go_shapefile_spark.queries import ensure_lines_corpus
    from go_shapefile_spark.sources.shapefile import read_shapefile_df
    from go_shapefile_spark.sources.shapefile_core import read_shapefile

    base = ensure_lines_corpus()
    sf = read_shapefile(base)
    rows = _kernel_rows(sf.shp.records, KERNEL_COLUMNS,
                        partial(run_vector_tiles_lines, res=5),
                        _LINE_TILE_NAMES)
    # tiles partition the world: clipped lengths must sum back to each
    # feature's total length (new vertices only at tile boundaries)
    per_fid: dict[int, float] = {}
    for fid, cell, x0, y0, npth, npts, ln in rows:
        assert npts >= 2 * npth >= 2
        per_fid[fid] = per_fid.get(fid, 0.0) + ln
    meas = _measures(sf.shp.records)
    for i, (_a, ln, _cx, _cy) in enumerate(meas):
        assert np.isclose(per_fid.get(i + 1, 0.0), ln, rtol=1e-9), i + 1
    # Spark == the driver run of the same batch function, bit-exact
    got = sorted((r.fid, r.cell, r.lon0, r.lat0, r.n_paths, r.n_points,
                  r.length)
                 for r in vector_tiles_lines(
                     read_shapefile_df(spark, base), res=5).collect())
    assert got == sorted(rows)


def test_line_tiles_reject_polygons(spark):
    from go_shapefile_spark.operators.vector_tiles import vector_tiles_lines
    from go_shapefile_spark.sources.shapefile import read_shapefile_df
    df = vector_tiles_lines(read_shapefile_df(spark, COUNTRIES), res=4)
    with pytest.raises(Exception, match="polyline shape types only"):
        df.collect()


def test_pyramid_levels_conserve_simplified_area(spark):
    sf = _read_countries()
    rows = _pyramid_rows(sf.shp.records, 2, 4, run_vector_tiles,
                         _TILE_NAMES)
    # per zoom, the tile areas must sum to the area of the SIMPLIFIED
    # geometry at that zoom's tolerance (clipping conserves; the
    # simplification is what intentionally changes area between zooms)
    by_res: dict[int, dict[int, float]] = {}
    for fid, cell, x0, y0, nr, npts, area in rows:
        res = cell >> 52
        by_res.setdefault(res, {}).setdefault(fid, 0.0)
        by_res[res][fid] += area
    assert sorted(by_res) == [2, 3, 4]
    for z, per_fid in by_res.items():
        simp = _simplified_measures(sf.shp.records, zoom_eps(z))
        for fid, (a, _l) in simp.items():
            got = per_fid.get(fid, 0.0)
            assert np.isclose(got, a, rtol=1e-9, atol=1e-12), (z, fid)


def test_pyramid_spark_matches_driver_twin(spark):
    from go_shapefile_spark.operators.vector_tiles import vector_tile_pyramid
    from go_shapefile_spark.sources.shapefile import read_shapefile_df
    sf = _read_countries()
    exp = sorted(_pyramid_rows(sf.shp.records, 3, 4, run_vector_tiles,
                               _TILE_NAMES))
    df = vector_tile_pyramid(read_shapefile_df(spark, COUNTRIES), 3, 4)
    got = sorted((r.fid, r.cell, r.lon0, r.lat0, r.n_rings, r.n_points,
                  r.area) for r in df.collect())
    assert got == exp
    with pytest.raises(ValueError, match="bad zoom range"):
        vector_tile_pyramid(read_shapefile_df(spark, COUNTRIES), 5, 4)


def test_line_tiles_geometry_payload_consistent(spark):
    from go_shapefile_spark.operators.vector_tiles import vector_tiles_lines
    from go_shapefile_spark.queries import ensure_lines_corpus
    from go_shapefile_spark.sources.shapefile import read_shapefile_df

    df = vector_tiles_lines(
        read_shapefile_df(spark, ensure_lines_corpus()), res=5)
    rows = df.where("fid <= 40").collect()
    assert rows
    tw, th = 360.0 / 32, 180.0 / 32
    for r in rows:
        coords = np.asarray(r.coords)
        ends = list(r.ends)
        assert coords.size == 2 * r.n_points
        assert len(ends) == r.n_paths and ends[-1] == coords.size
        x, y = coords[0::2], coords[1::2]
        eps = 1e-9
        assert x.min() >= r.lon0 - eps and x.max() <= r.lon0 + tw + eps
        assert y.min() >= r.lat0 - eps and y.max() <= r.lat0 + th + eps
        total, prev = 0.0, 0
        for e in ends:
            px, py = coords[prev:e:2], coords[prev + 1:e:2]
            assert px.size >= 2                      # a path has >= 2 pts
            total += float(np.hypot(np.diff(px), np.diff(py)).sum())
            prev = e
        assert np.isclose(total, r.length, rtol=1e-12, atol=1e-12)


def test_line_pyramid_conserves_simplified_length(spark):
    from go_shapefile_spark.queries import ensure_lines_corpus
    from go_shapefile_spark.sources.shapefile_core import read_shapefile

    sf = read_shapefile(ensure_lines_corpus())
    rows = _pyramid_rows(sf.shp.records, 4, 5, run_vector_tiles_lines,
                         _LINE_TILE_NAMES)
    by_res: dict[int, dict[int, float]] = {}
    for fid, cell, x0, y0, npth, npts, ln in rows:
        by_res.setdefault(cell >> 52, {}).setdefault(fid, 0.0)
        by_res[cell >> 52][fid] += ln
    assert sorted(by_res) == [4, 5]
    for z, per_fid in by_res.items():
        simp = _simplified_measures(sf.shp.records, zoom_eps(z))
        for i in range(len(sf.shp.records)):
            s = simp.get(i + 1)
            assert s is not None        # polyline endpoints always kept
            _a, ln = s
            assert np.isclose(per_fid.get(i + 1, 0.0), ln,
                              rtol=1e-9), (z, i + 1)


def test_dissolve_tiles_conserves_group_area(spark):
    from go_shapefile_spark.queries import (dissolve_tiles_spark,
                                            q_dissolve_tiles_oracle)
    sf = _read_countries()
    rows = dissolve_tiles_spark(spark, "/root/testdata/sf0.001").collect()
    per_color: dict[int, int] = {}
    n_tiles = 0
    for r in rows:
        per_color[r.map_color] = per_color.get(r.map_color, 0) + r.area_u
        n_tiles += 1
    exp: dict[int, float] = {}
    meas = _measures(sf.shp.records)
    for i, (a, _l, _cx, _cy) in enumerate(meas):
        c = int(sf.record(i)[0]["MAP_COLOR"])
        exp[c] = exp.get(c, 0.0) + a
    assert set(per_color) == set(exp)
    for c, au in per_color.items():
        # quantized tile areas undercount by < 1 unit per tile
        assert 0 <= exp[c] * 1e9 - au <= n_tiles, c


def test_areal_interpolation_tail_analytic_and_conserves():
    """The transfer math on a hand-built tiles relation: a country
    split 1:3 across two tiles sends exactly 25%/75% of its value
    (in ppb); per-country shares sum to 1e9 within quantization."""
    import duckdb

    from go_shapefile_spark.queries import _areal_interp_tail

    tiles = ("(1, 100, 1.0), (1, 200, 3.0), "   # fid 1: 1:3 split
             "(2, 200, 5.0)")                    # fid 2: all in 200
    sql = (f"WITH tiles AS (SELECT * FROM (VALUES {tiles}) "
           f"AS t(fid, cell, area)),{_areal_interp_tail()}")
    con = duckdb.connect()
    rows = {int(r.cell): (int(r.pop_ppb), int(r.n_countries))
            for r in con.sql(sql).df().itertuples()}
    con.close()
    pop1 = (1 * 1 * 37) % 100000   # 37
    pop2 = (2 * 2 * 37) % 100000   # 148
    assert rows[100] == (pop1 * 250_000_000, 1)
    assert rows[200] == (pop1 * 750_000_000 + pop2 * 1_000_000_000, 2)

    # conservation on the real corpus: every country's quantized
    # shares sum to 1e9 ± (tiles-1) half-ulps of the ppb grid
    sf = _read_countries()
    per_fid: dict[int, list[float]] = {}
    for fid, cell, x0, y0, nr, npts, area in _clip_rows(
            sf.shp.records, 4):
        per_fid.setdefault(fid, []).append(area)
    assert len(per_fid) == 177
    for fid, areas in per_fid.items():
        tot = sum(areas)
        ppb = sum(round(a / tot * 1e9) for a in areas)
        assert abs(ppb - 1_000_000_000) <= len(areas), fid
