"""Geometry measures: analytic shapes, independent reference, Spark parity
(the driver runs each kernel's own batch function over the core
parser's records, ``sources.shapefile.map_records``)."""

import math
import os
from functools import partial

import numpy as np
import pytest

from go_shapefile_spark.operators.geometry import (
    KERNEL_COLUMNS, SIMPLIFY_COLUMNS, run_geodesic_measures,
    run_geom_measures, run_simplify)
from go_shapefile_spark.queries import REF_TESTDATA, _kernel_rows
from go_shapefile_spark.sources.shapefile import map_records

COUNTRIES = os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip")


def _countries():
    """ne_110m countries through the core parser."""
    from go_shapefile_spark.sources.shapefile_core import read_zip

    if not os.path.exists(COUNTRIES):
        pytest.skip(f"fixture absent: {COUNTRIES}")
    return read_zip(COUNTRIES)


def _measures(records):
    """(area, perimeter, cx, cy) per feature, in fid order."""
    return _kernel_rows(records, KERNEL_COLUMNS, run_geom_measures,
                        ["area", "perimeter", "cx", "cy"])


def _geodesic(records):
    return _kernel_rows(records, KERNEL_COLUMNS, run_geodesic_measures,
                        ["geo_area_m2", "geo_length_m"])


def _simplified(records, eps):
    """simplify's output batches and fid -> simplified geometry dict."""
    simp = map_records(records, SIMPLIFY_COLUMNS,
                       partial(run_simplify, eps=eps))
    return simp, {fid: g for rb in simp for fid, g in zip(
        rb.column("fid").to_pylist(), rb.column("geometry").to_pylist())}


def _ref_measures(coords, ends, stride=2):
    """Independent sequential pure-Python shoelace/length/centroid
    (different accumulation order and code path from the numpy kernel)."""
    a2 = per = cx6 = cy6 = 0.0
    prev = 0
    for end in ends:
        pts = [(coords[i], coords[i + 1]) for i in range(prev, end, stride)]
        for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
            cross = x0 * y1 - x1 * y0
            a2 += cross
            per += math.hypot(x1 - x0, y1 - y0)
            cx6 += (x0 + x1) * cross
            cy6 += (y0 + y1) * cross
        prev = end
    area = -a2 / 2.0
    if a2 == 0.0:
        xs = coords[0::stride]
        return area, per, float(np.mean(xs)), float(np.mean(coords[1::stride]))
    return area, per, cx6 / (3.0 * a2), cy6 / (3.0 * a2)


def test_square_with_hole_exact():
    from go_shapefile_spark.operators.geometry import feature_measures

    sq = [0, 0, 0, 1, 1, 1, 1, 0, 0, 0]                      # outer CW
    hole = [0.25, 0.25, 0.5, 0.25, 0.5, 0.5, 0.25, 0.5, 0.25, 0.25]  # CCW
    a, ln, cx, cy = feature_measures(5, "XY", np.array(sq + hole, float),
                                     [10, 20])
    assert a == 1.0 - 0.0625 and ln == 5.0
    # hole centered at (0.375, 0.375) pushes the centroid toward (1, 1)
    assert cx == cy and 0.5 < cx < 0.52


def test_polyline_and_rejection():
    from go_shapefile_spark.operators.geometry import feature_measures

    line = [0, 0, 3, 4, 3, 0]
    a, ln, cx, cy = feature_measures(3, "XY", np.array(line, float), [6])
    assert a == 0.0 and ln == 9.0 and cx == 2.0 and cy == pytest.approx(4 / 3)
    with pytest.raises(ValueError, match="unsupported shape type"):
        feature_measures(1, "XY", np.array([1.0, 2.0]), [2])


def test_measures_match_independent_reference_on_fixtures():
    """The vectorized kernel equals the sequential reference on every
    real ne_110m country (holes, multi-part, high vertex counts)."""
    from go_shapefile_spark.operators.geometry import feature_measures
    from go_shapefile_spark.sources.shapefile_core import read_zip

    sf = read_zip("/root/reference/testdata/110m-admin-0-countries.zip")
    for rec in sf.shp.records:
        got = feature_measures(rec.shape_type, rec.layout, rec.coords,
                               rec.ends)
        want = _ref_measures(rec.coords, rec.ends)
        for g, w in zip(got, want):
            assert g == pytest.approx(w, rel=1e-12, abs=1e-12)
        assert got[0] > 0          # shapefile winding ⇒ positive area


def _ref_dp(x, y, eps):
    """Independent recursive Douglas–Peucker (same segment-distance
    metric, different traversal/accumulation) returning kept indices."""
    def seg_d(px, py, ax, ay, bx, by):
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            return math.hypot(px - ax, py - ay)
        t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / l2))
        return math.hypot(px - (ax + t * dx), py - (ay + t * dy))

    def rec(i, j, out):
        if j <= i + 1:
            return
        ds = [seg_d(x[k], y[k], x[i], y[i], x[j], y[j])
              for k in range(i + 1, j)]
        k = max(range(len(ds)), key=lambda m: ds[m]) + i + 1
        if ds[k - i - 1] > eps:
            rec(i, k, out)
            out.append(k)
            rec(k, j, out)

    out = [0]
    rec(0, len(x) - 1, out)
    out.append(len(x) - 1)
    return out


def test_dp_mask_matches_recursive_reference_on_fixtures():
    from go_shapefile_spark.operators.geometry import dp_keep_mask
    from go_shapefile_spark.sources.shapefile_core import read_zip

    sf = read_zip("/root/reference/testdata/110m-admin-0-countries.zip")
    checked = 0
    for rec in sf.shp.records:
        prev = 0
        for end in rec.ends:
            x, y = rec.coords[prev:end:2], rec.coords[prev + 1:end:2]
            prev = end
            for eps in (0.05, 0.3):
                m = dp_keep_mask(x, y, eps)
                assert list(np.flatnonzero(m)) == _ref_dp(x, y, eps)
                checked += 1
    assert checked > 500


def test_dp_within_eps_guarantee():
    """Every dropped vertex of a kept ring is within eps of the
    simplified chain (brute-force min distance over all kept segments)."""
    from go_shapefile_spark.operators.geometry import dp_keep_mask
    from go_shapefile_spark.sources.shapefile_core import read_zip

    eps = 0.2
    sf = read_zip("/root/reference/testdata/110m-admin-0-countries.zip")
    for rec in sf.shp.records[:40]:
        prev = 0
        for end in rec.ends:
            x, y = rec.coords[prev:end:2], rec.coords[prev + 1:end:2]
            prev = end
            m = dp_keep_mask(x, y, eps)
            kx, ky = x[m], y[m]
            for i in np.flatnonzero(~m):
                ax, ay, bx, by = kx[:-1], ky[:-1], kx[1:], ky[1:]
                dx, dy = bx - ax, by - ay
                l2 = np.where(dx * dx + dy * dy == 0, 1.0,
                              dx * dx + dy * dy)
                t = np.clip(((x[i] - ax) * dx + (y[i] - ay) * dy) / l2,
                            0.0, 1.0)
                d = np.hypot(x[i] - (ax + t * dx), y[i] - (ay + t * dy))
                assert d.min() <= eps + 1e-12


def test_simplify_ring_drop_policies():
    from go_shapefile_spark.operators.geometry import simplify_feature

    sq = [0, 0, 0, 10, 10, 10, 10, 0, 0, 0]                    # outer CW
    tiny = [1, 1, 1.02, 1, 1.02, 1.02, 1, 1.02, 1, 1]          # small hole
    # hole below tolerance is dropped, outer survives
    c, e, rg = simplify_feature(5, "XY", np.array(sq + tiny, float),
                                [10, 20], [2], eps=0.1)
    assert e == [10] and rg == [1] and len(c) == 10
    # whole feature below tolerance -> None
    assert simplify_feature(5, "XY", np.array(tiny, float), [10], [1],
                            eps=0.1) is None
    # dropping the OUTER drops its hole; the second polygon survives
    tiny_h = [1.005, 1.005, 1.005, 1.015, 1.015, 1.015, 1.015, 1.005,
              1.005, 1.005]
    c2, e2, rg2 = simplify_feature(
        5, "XY", np.array(tiny + tiny_h + sq, float), [10, 20, 30],
        [2, 1], eps=0.1)
    assert e2 == [10] and rg2 == [1] and list(c2) == sq
    # polyline: endpoints kept, interior collinear points dropped
    c3, e3, rg3 = simplify_feature(
        3, "XY", np.array([0, 0, 1, 0.001, 2, 0, 5, 5, 6, 6], float),
        [6, 10], [], eps=0.01)
    assert e3 == [4, 8] and rg3 == [] and \
        list(c3) == [0, 0, 2, 0, 5, 5, 6, 6]
    with pytest.raises(ValueError, match="unsupported shape type"):
        simplify_feature(1, "XY", np.array([1.0, 2.0]), [2], [], eps=0.1)


def test_simplify_spark_composes_with_measures(spark):
    """simplify_features output feeds geom_measures; rows match the
    driver run of the same two batch functions, chained, on every
    surviving ne_110m feature."""
    from go_shapefile_spark.operators.geometry import (geom_measures,
                                                       simplify_features)
    from go_shapefile_spark.sources.shapefile import read_shapefile_df

    sf = _countries()
    simp = simplify_features(read_shapefile_df(spark, COUNTRIES), eps=0.1)
    got = {r.fid: (r.area, r.perimeter)
           for r in geom_measures(simp).collect()}
    recs = sf.shp.records
    simp_batches, live = _simplified(recs, 0.1)
    want = {fid: (a, ln) for fid, a, ln in _kernel_rows(
        simp_batches, KERNEL_COLUMNS, run_geom_measures,
        ["fid", "area", "perimeter"])}
    assert got == want and len(got) > 150
    # simplification actually simplified: strictly fewer vertices
    # overall (ne_110m is already generalized; eps=0.1 still trims ~20%)
    n_in = sum(len(r.coords) for r in recs)
    n_out = sum(len(g["coords"]) for g in live.values())
    assert n_out < 0.9 * n_in


def test_batched_mask_bitwise_equals_per_ring_on_fixtures():
    """dp_keep_mask_batch over ALL rings at once == dp_keep_mask per
    ring, bitwise, on every ne_110m ring at two tolerances."""
    from go_shapefile_spark.operators.geometry import (_arrow_groups,
                                                       dp_keep_mask,
                                                       dp_keep_mask_batch)

    sf = _countries()
    batch, = map_records(sf.shp.records, KERNEL_COLUMNS, lambda b: b)
    (_sel, g, _rv, _rpr, closed, _layout), = _arrow_groups(
        batch, with_rings=False)
    assert closed
    for eps in (0.05, 0.3):
        got = dp_keep_mask_batch(g.x, g.y, g.part_starts, g.part_ends, eps)
        want = np.concatenate([
            dp_keep_mask(g.x[s:e], g.y[s:e], eps)
            for s, e in zip(g.part_starts, g.part_ends)])
        assert np.array_equal(got, want)


def test_batched_measures_match_per_feature_kernel():
    """measures_batch (canonical, sequential segment sums) equals the
    per-feature reference within float reassociation tolerance, and the
    batched simplify structure equals the per-feature one EXACTLY."""
    from go_shapefile_spark.operators.geometry import (feature_measures,
                                                       simplify_feature)

    sf = _countries()
    recs = sf.shp.records
    for rec, got in zip(recs, _measures(recs)):
        want = feature_measures(rec.shape_type, rec.layout, rec.coords,
                                rec.ends)
        for gv, wv in zip(got, want):
            assert gv == pytest.approx(wv, rel=1e-12, abs=1e-12)
    _simp, live = _simplified(recs, 0.1)
    for fid, rec in enumerate(recs, 1):
        got = live.get(fid)
        rings = [len(e) for e in rec.endss] if rec.endss \
            else [1] * len(rec.ends)
        want = simplify_feature(rec.shape_type, rec.layout, rec.coords,
                                rec.ends, rings, 0.1)
        assert (got is None) == (want is None)
        if got is not None:
            assert np.array_equal(got["coords"], want[0])
            assert got["ends"] == want[1] and got["rings"] == want[2]


def test_batched_simplify_drop_cases_match_per_feature():
    """The vectorized drop policy (degenerate rings, outer-drops-holes,
    polylines) agrees with the per-feature kernel on crafted inputs."""
    from go_shapefile_spark.operators.geometry import (_BatchGeom,
                                                       simplify_batch,
                                                       simplify_feature)

    sq = [0, 0, 0, 10, 10, 10, 10, 0, 0, 0]
    tiny = [1, 1, 1.02, 1, 1.02, 1.02, 1, 1.02, 1, 1]
    tiny_h = [1.005, 1.005, 1.005, 1.015, 1.015, 1.015, 1.015, 1.005,
              1.005, 1.005]
    rows = [  # (coords, ends, rings) per feature, all polygons
        (sq + tiny, [10, 20], [2]),          # hole drops, outer lives
        (tiny, [10], [1]),                   # whole feature drops
        (tiny + tiny_h + sq, [10, 20, 30], [2, 1]),  # outer drop kills hole
        (sq, [10], [1]),                     # untouched
    ]
    coords = np.concatenate([np.array(c, float) for c, _, _ in rows])
    pt_per_row = np.array([len(c) // 2 for c, _, _ in rows])
    off = np.concatenate(([0], np.cumsum(pt_per_row)[:-1]))
    part_ends = np.concatenate(
        [np.array(e) // 2 + o for (_, e, _), o in zip(rows, off)])
    g = _BatchGeom(coords, pt_per_row, part_ends,
                   np.array([len(e) for _, e, _ in rows]), 2)
    rv = np.concatenate([r for _, _, r in rows])
    mask, kept, drop = simplify_batch(g, rv, 0.1, closed=True)
    # reconstruct per row and compare to the per-feature kernel
    p = 0
    for i, (c, e, r) in enumerate(rows):
        want = simplify_feature(5, "XY", np.array(c, float), e, r, 0.1)
        lo, hi = off[i], off[i] + pt_per_row[i]
        got_coords = g.pts[lo:hi][mask[lo:hi]].ravel()
        if want is None:
            assert got_coords.size == 0
        else:
            assert np.array_equal(got_coords, want[0])
            nd = ~drop[p:p + len(e)]
            assert list(np.cumsum((kept[p:p + len(e)] * 2)[nd])) == want[1]
        p += len(e)


def test_geom_measures_spark_matches_driver_kernel(spark):
    from go_shapefile_spark.operators.geometry import geom_measures
    from go_shapefile_spark.sources.shapefile import read_shapefile_df

    sf = _countries()
    got = {r.fid: (r.area, r.perimeter, r.cx, r.cy) for r in
           geom_measures(read_shapefile_df(spark, COUNTRIES)).collect()}
    assert len(got) == 177
    for i, want in enumerate(_measures(sf.shp.records)):
        assert got[i + 1] == want          # bit-exact: same batched kernel


def _geo_batch(rows):
    """(coords, ends) feature list → _BatchGeom (XY)."""
    from go_shapefile_spark.operators.geometry import _BatchGeom

    coords = np.concatenate([np.array(c, float) for c, _ in rows])
    ppr = np.array([len(c) // 2 for c, _ in rows], np.int64)
    off = np.concatenate(([0], np.cumsum(ppr)[:-1]))
    ends = np.concatenate(
        [np.array(e, np.int64) // 2 + o for (_, e), o in zip(rows, off)])
    return _BatchGeom(coords, ppr, ends,
                      np.array([len(e) for _, e in rows], np.int64), 2)


def test_geodesic_rectangle_exact():
    """CW lat-lon rectangle: C–D area is analytically exact (edges
    follow parallels/meridians, trapezoid on sinφ is exact) and
    haversine lengths match the closed forms."""
    from go_shapefile_spark.operators.geometry import (_EARTH_R,
                                                       geodesic_measures_batch)

    L, P = math.radians(30), math.radians(45)
    ring = [0, 0, 0, 45, 30, 45, 30, 0, 0, 0]     # CW outer
    area, ln = geodesic_measures_batch(_geo_batch([(ring, [10])]),
                                       polyline=False)
    assert area[0] == pytest.approx(_EARTH_R ** 2 * L * math.sin(P),
                                    rel=1e-15)
    # meridian edges: R·Δφ; parallel edges: 2R·asin(cosφ·sin(L/2))
    want = (2 * _EARTH_R * P
            + 2 * _EARTH_R * math.asin(math.sin(L / 2))
            * 0 + 2 * _EARTH_R * math.asin(math.cos(P) * math.sin(L / 2))
            + 2 * _EARTH_R * math.asin(math.cos(0.0) * math.sin(L / 2)))
    assert ln[0] == pytest.approx(want, rel=1e-12)


def test_geodesic_hole_and_winding():
    """CCW hole subtracts; a CW ring measured alone is positive."""
    from go_shapefile_spark.operators.geometry import geodesic_measures_batch

    outer = [0, 0, 0, 45, 30, 45, 30, 0, 0, 0]               # CW
    hole = [10, 10, 20, 10, 20, 20, 10, 20, 10, 10]          # CCW
    pts = list(zip(hole[0::2], hole[1::2]))[::-1]            # CW twin
    cw_hole = [v for p in pts for v in p]
    a_o, _ = geodesic_measures_batch(_geo_batch([(outer, [10])]), False)
    a_h, _ = geodesic_measures_batch(_geo_batch([(cw_hole, [10])]), False)
    a_both, _ = geodesic_measures_batch(
        _geo_batch([(outer + hole, [10, 20])]), False)
    assert a_o[0] > 0 and a_h[0] > 0
    assert a_both[0] == pytest.approx(a_o[0] - a_h[0], rel=1e-12)


def test_geodesic_antimeridian_wrap():
    """A ring hugging ±180° measures identically to its 180°-rotated
    twin at Greenwich (C–D deltas wrapped to (−π, π])."""
    from go_shapefile_spark.operators.geometry import geodesic_measures_batch

    at_180 = [170, 10, 170, 40, -170, 40, -170, 10, 170, 10]
    at_0 = [-10, 10, -10, 40, 10, 40, 10, 10, -10, 10]
    a1, l1 = geodesic_measures_batch(_geo_batch([(at_180, [10])]), False)
    a2, l2 = geodesic_measures_batch(_geo_batch([(at_0, [10])]), False)
    assert a1[0] == pytest.approx(a2[0], rel=1e-12) and a1[0] > 0
    assert l1[0] == pytest.approx(l2[0], rel=1e-12)


def test_geodesic_polyline_and_boundary_zeroing():
    """Polylines: zero area, exact meridian length; two parts never
    bridge (the boundary pair is zeroed)."""
    from go_shapefile_spark.operators.geometry import (_EARTH_R,
                                                       geodesic_measures_batch)

    two = [0, 0, 0, 30, 90, 0, 90, 45]        # two meridian segments
    area, ln = geodesic_measures_batch(_geo_batch([(two, [4, 8])]), True)
    assert area[0] == 0.0
    assert ln[0] == pytest.approx(
        _EARTH_R * (math.radians(30) + math.radians(45)), rel=1e-12)


def test_geodesic_countries_sane():
    """All 177 ne_110m countries positive; the total matches Earth's
    land area (~1.49e8 km²) and Russia is the largest (~1.7e7 km²)."""
    sf = _countries()
    res = _geodesic(sf.shp.records)
    areas = np.array([a for a, _ in res]) / 1e6      # km²
    assert (areas > 0).all()
    assert 1.3e8 < areas.sum() < 1.6e8
    assert 1.6e7 < areas.max() < 1.8e7


def test_geodesic_spark_matches_driver_kernel(spark):
    from go_shapefile_spark.operators.geometry import geodesic_measures
    from go_shapefile_spark.sources.shapefile import read_shapefile_df

    sf = _countries()
    got = {r.fid: (r.geo_area_m2, r.geo_length_m) for r in
           geodesic_measures(read_shapefile_df(spark, COUNTRIES)).collect()}
    assert len(got) == 177
    for i, want in enumerate(_geodesic(sf.shp.records)):
        assert got[i + 1] == want          # bit-exact: same batched kernel


def test_monotone_chain_hull_known_and_bruteforce():
    import numpy as np

    from go_shapefile_spark.operators.geometry import monotone_chain_hull

    # unit square + interior point: hull = the 4 corners
    x = np.array([0.0, 1.0, 1.0, 0.0, 0.5])
    y = np.array([0.0, 0.0, 1.0, 1.0, 0.5])
    assert set(monotone_chain_hull(x, y).tolist()) == {0, 1, 2, 3}

    # collinear boundary point stays (the relational-definition
    # convention the oracle uses)
    x = np.array([0.0, 2.0, 1.0, 1.0])
    y = np.array([0.0, 0.0, 0.0, 1.0])
    assert set(monotone_chain_hull(x, y).tolist()) == {0, 1, 2, 3}

    # 1- and 2-point sets are their own hull
    assert monotone_chain_hull(np.array([3.0]),
                               np.array([4.0])).tolist() == [0]
    assert set(monotone_chain_hull(np.array([0.0, 1.0]),
                                   np.array([0.0, 1.0])).tolist()) == {0, 1}

    # brute force: p is a vertex iff some q gives all crosses >= 0
    rng = np.random.default_rng(13)
    for _ in range(20):
        n = int(rng.integers(3, 40))
        x = rng.uniform(-5, 5, n)
        y = rng.uniform(-5, 5, n)
        got = set(monotone_chain_hull(x, y).tolist())
        want = set()
        for p in range(n):
            for q in range(n):
                if p == q:
                    continue
                cr = (x[q] - x[p]) * (y - y[p]) - (y[q] - y[p]) * (x - x[p])
                if cr.min() >= 0:
                    want.add(p)
                    break
        assert got == want
