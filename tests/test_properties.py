"""Property-based tests (hypothesis): invariants that must hold for ANY
input, not just fixtures."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from go_shapefile_spark.functions import cells as C
from go_shapefile_spark.functions import geom_np as G
from go_shapefile_spark.operators.spatial_join import UNROLL_K, join_cover

lon_st = st.floats(min_value=-180.0, max_value=179.999, allow_nan=False)
lat_st = st.floats(min_value=-90.0, max_value=89.999, allow_nan=False)


@given(st.lists(st.tuples(lon_st, lat_st), min_size=1, max_size=50),
       st.integers(min_value=0, max_value=26))
@settings(max_examples=200, deadline=None)
def test_cell_roundtrip_property(points, res):
    lon = np.array([p[0] for p in points])
    lat = np.array([p[1] for p in points])
    cell = C.cell_np(lon, lat, res)
    r, ix, iy = C.cell_decode_np(cell)
    assert (r == res).all()
    lon0, lat0, lon1, lat1 = C.cell_bounds_np(cell)
    # containment holds up to the binning arithmetic's rounding at cell
    # boundaries (a point one ULP left of a boundary may quantize right —
    # identically in all three engine twins, which is what matters)
    tol = 1e-7
    assert ((lon >= lon0 - tol) & (lon < lon1 + tol)).all()
    assert ((lat >= lat0 - tol) & (lat < lat1 + tol)).all()
    # re-encoding the cell center lands in the same cell
    c2 = C.cell_np((lon0 + lon1) / 2, (lat0 + lat1) / 2, res)
    np.testing.assert_array_equal(np.atleast_1d(c2), cell)


@st.composite
def convex_polygon(draw):
    """Random CW convex polygon via sorted angles around a center."""
    cx = draw(st.floats(min_value=-150, max_value=150))
    cy = draw(st.floats(min_value=-70, max_value=70))
    n = draw(st.integers(min_value=3, max_value=10))
    angles = sorted(draw(st.lists(
        st.floats(min_value=0, max_value=2 * np.pi - 0.01),
        min_size=n, max_size=n, unique=True)))
    if len(angles) < 3:
        angles = [0.1, 2.0, 4.0]
    r = draw(st.floats(min_value=1.0, max_value=20.0))
    xs = cx + r * np.cos(angles)
    ys = cy + r * np.sin(angles)
    # counter-clockwise by construction → reverse for CW outer ring
    xs, ys = xs[::-1], ys[::-1]
    ring = np.empty(2 * (len(xs) + 1))
    ring[0:-2:2], ring[1:-2:2] = xs, ys
    ring[-2], ring[-1] = xs[0], ys[0]
    return ring


def _pip_dense(px, py, ring):
    """The dense ray cast: every edge's crossing abscissa for every
    point, then masked — the reference ``G.point_in_polygon`` (which
    computes it for straddling pairs only) must equal bit for bit."""
    x, y = ring[0::2], ring[1::2]
    x1, y1, x2, y2 = x[:-1], y[:-1], x[1:], y[1:]
    straddle = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x1[None, :] + (py[:, None] - y1[None, :]) / \
            (y2[None, :] - y1[None, :]) * (x2[None, :] - x1[None, :])
    return ((straddle & (px[:, None] < xs)).sum(axis=1) % 2).astype(bool)


@given(st.lists(st.tuples(st.integers(-20, 20), st.integers(-20, 20)),
                min_size=3, max_size=30),
       st.lists(st.tuples(st.integers(-42, 42), st.integers(-42, 42)),
                min_size=1, max_size=60),
       st.floats(min_value=0.1, max_value=3.0))
@settings(max_examples=200, deadline=None)
def test_point_in_polygon_matches_dense_ray_cast(verts, points, scale):
    """Any ring (self-intersecting, horizontal edges, repeated vertices)
    and points on its vertices, edges and grid lines: same parity as the
    dense ray cast."""
    ring = np.array([c for v in verts + verts[:1] for c in v]) * scale
    px = np.array([p[0] for p in points]) * scale / 2
    py = np.array([p[1] for p in points]) * scale / 2
    np.testing.assert_array_equal(
        G.point_in_polygon(px, py, ring, [len(ring)]),
        _pip_dense(px, py, ring))


def _on_boundary(px, py, ring, eps=1e-12):
    """True where (px,py) lies exactly on a ring edge (or vertex) — the
    measure-zero set where inside/outside is convention-dependent and the
    engine promises nothing (a border point can land on either side)."""
    xs, ys = ring[0::2], ring[1::2]
    ax, ay, bx, by = xs[:-1], ys[:-1], xs[1:], ys[1:]
    cross = (bx - ax)[None, :] * (py[:, None] - ay[None, :]) - \
            (by - ay)[None, :] * (px[:, None] - ax[None, :])
    inx = (px[:, None] >= np.minimum(ax, bx) - eps) & \
          (px[:, None] <= np.maximum(ax, bx) + eps)
    iny = (py[:, None] >= np.minimum(ay, by) - eps) & \
          (py[:, None] <= np.maximum(ay, by) + eps)
    return ((np.abs(cross) <= eps) & inx & iny).any(axis=1)


@given(convex_polygon(),
       st.lists(st.tuples(lon_st, lat_st), min_size=20, max_size=100),
       st.integers(min_value=4, max_value=9))
@settings(max_examples=60, deadline=None)
def test_cover_classification_sound_property(ring, points, res):
    """For any convex polygon and any OFF-BOUNDARY points: PIP via the
    cover's full/partial classification must equal direct ray-cast PIP.
    Points exactly on the boundary are excluded — there the assignment
    is convention-dependent by design (either side is acceptable)."""
    poly = {"fid": 1, "coords": ring, "ends": [len(ring)]}
    cover = pd.DataFrame(join_cover([poly], res))
    lon = np.array([p[0] for p in points])
    lat = np.array([p[1] for p in points])
    off = ~_on_boundary(lon, lat, ring)
    lon, lat = lon[off], lat[off]
    points = list(zip(lon, lat))
    if not points:
        return
    truth = G.point_in_polygon_chunked(lon, lat, ring, [len(ring)])

    cells = C.cell_np(lon, lat, res)
    got = np.zeros(len(points), dtype=bool)
    for i, c in enumerate(cells):
        # the one row of the point's cell whose half-open rectangle
        # holds it, if any
        rows = cover[(cover["cell"] == c)
                     & (cover["_sj_x0"] <= lon[i]) & (lon[i] < cover["_sj_x1"])
                     & (cover["_sj_y0"] <= lat[i]) & (lat[i] < cover["_sj_y1"])]
        assert len(rows) <= 1
        row = None if rows.empty else rows.iloc[0]
        if row is None:
            got[i] = False
        elif row["_sj_full"]:
            got[i] = True
        else:
            # partial → crossing parity from the row's reference (its
            # zero-length padding edges never cross)
            rx, ry = row["_sj_rx"], row["_sj_ry"]
            ref = G.point_in_polygon_chunked(
                np.array([rx]), np.array([ry]), ring, [len(ring)])[0]
            edges = row["_sj_edges"]
            if edges is None:
                edges = [[row[f"_sj_e{j}_{x}"] for x in ("ax", "ay", "bx", "by")]
                         for j in range(UNROLL_K)]
            crossings = 0
            for e in edges:
                crossings += _segments_cross(rx, ry, lon[i], lat[i],
                                             e[0], e[1], e[2], e[3])
            got[i] = bool(ref) ^ (crossings % 2 == 1)
    np.testing.assert_array_equal(got, truth)


def _segments_cross(rx, ry, px, py, ax, ay, bx, by) -> int:
    d1 = (bx - ax) * (ry - ay) - (by - ay) * (rx - ax)
    d2 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    d3 = (px - rx) * (ay - ry) - (py - ry) * (ax - rx)
    d4 = (px - rx) * (by - ry) - (py - ry) * (bx - rx)
    # half-open sign rule — must match spatial_join._crossing_sql
    return 1 if ((d1 > 0) != (d2 > 0) and (d3 > 0) != (d4 > 0)) else 0


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=300, deadline=None)
def test_parsers_never_crash_property(data):
    """Arbitrary bytes must raise cleanly (ShapefileError/ValueError),
    never crash the process — the fuzz contract of the reference."""
    from go_shapefile_spark.sources.shapefile_core import (
        ShapefileError, parse_dbf, parse_shp, parse_shx_header)
    for fn in (parse_shp, parse_dbf):
        try:
            fn(data)
        except (ShapefileError, ValueError, OverflowError):
            pass
    try:
        parse_shx_header(data[:100], len(data))
    except (ShapefileError, ValueError):
        pass


# --- DBF column-kernel properties: fast decode == per-value reference ------

_dbf_numeric_text = st.one_of(
    st.just(""),
    st.integers(min_value=-10**12, max_value=10**12).map(str),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False).map(
        lambda v: f"{v:.4f}"),
    st.sampled_from(["1e5", "+7", "-0", ".5", "1.", "1_2", "--3", "1 2",
                     "abc", "NaN", "inf", "1.2.3", "0x10", " 42", "4 2 "]),
)


@given(st.lists(_dbf_numeric_text, min_size=1, max_size=60),
       st.integers(min_value=6, max_value=18),
       st.booleans())
@settings(max_examples=150, deadline=None)
def test_dbf_numeric_kernels_match_reference(values, width, as_float):
    """For ANY cell text (valid or junk): the vectorized int/float column
    kernels either produce exactly what parse_dbf_value produces, or fall
    back — they never silently accept what the reference rejects or
    change a value."""
    import numpy as np

    from go_shapefile_spark.sources import shapefile_core as core

    padded = []
    for v in values:
        b = v.encode()[:width]
        b = b.rjust(width) if len(b) <= width else b[:width]
        padded.append(b)
    sub = np.frombuffer(b"".join(padded), dtype=np.uint8).reshape(-1, width)
    kernel = core._parse_float_column if as_float else core._parse_int_column
    try:
        vals, blank = kernel(np.ascontiguousarray(sub))
    except core._FallbackDecode:
        return  # per-value path takes over — always correct
    ftype = "F" if as_float else "N"
    for i, raw in enumerate(padded):
        try:
            ref = core.parse_dbf_value(raw, ftype, "latin-1")
        except core.ShapefileError:
            raise AssertionError(
                f"kernel accepted {raw!r} which the reference rejects")
        if ref is None:
            assert blank[i]
        elif as_float:
            assert vals[i] == float(ref), (raw, vals[i], ref)
        else:
            assert not blank[i] and vals[i] == ref, (raw, vals[i], ref)


_dbf_text = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=255),
    min_size=0, max_size=14)


@given(st.lists(_dbf_text, min_size=1, max_size=40))
@settings(max_examples=150, deadline=None)
def test_dbf_text_kernel_matches_reference(values):
    """C-column fast decode (block decode + slicing) == per-value trim +
    decode for arbitrary byte soup, or falls back."""
    import numpy as np

    from go_shapefile_spark.sources import shapefile_core as core

    width = 14
    padded = [v.encode("latin-1")[:width].ljust(width) for v in values]
    sub = np.frombuffer(b"".join(padded), dtype=np.uint8).reshape(-1, width)
    try:
        got = core._decode_text_column_fast(np.ascontiguousarray(sub),
                                            "latin-1")
    except core._FallbackDecode:
        return
    for i, raw in enumerate(padded):
        assert got[i] == core.parse_dbf_value(raw, "C", "latin-1"), raw


@given(st.lists(st.tuples(st.floats(-170, 170), st.floats(-80, 80),
                          st.floats(0.001, 20), st.floats(0.001, 20)),
                min_size=1, max_size=12),
       st.booleans())
@settings(max_examples=25, deadline=None)
def test_record_bounds_quick_matches_decode_property(rects, as_points):
    """record_bounds_quick (raw header gather) equals the fully-decoded
    record bounds for arbitrary writer-generated polygon AND point files."""
    import tempfile

    import numpy as np

    from go_shapefile_spark.sources.shapefile import (
        _read_split_shp, plan_shapefile, record_bounds_quick)
    from go_shapefile_spark.sources import shapefile_core as core
    from go_shapefile_spark.sources.shapefile_writer import (
        write_points, write_polygons)

    with tempfile.TemporaryDirectory(prefix="rbq_") as d:
        base = d + "/g"
        if as_points:
            xs = np.array([r[0] for r in rects])
            ys = np.array([r[1] for r in rects])
            write_points(base, xs, ys)
        else:
            polys = []
            for cx, cy, w, h in rects:
                ring = [cx - w, cy - h, cx - w, cy + h, cx + w, cy + h,
                        cx + w, cy - h, cx - w, cy - h]
                polys.append({"coords": ring, "ends": [10]})
            write_polygons(base, polys)
        plan = plan_shapefile(base)
        buf, rel = _read_split_shp(plan, 1, plan.n_records + 1)
        quick = record_bounds_quick(buf, rel)
        recs = core.parse_shp_range(buf, rel,
                                    numbers=np.arange(1, plan.n_records + 1))
    for i, r in enumerate(recs):
        if r.shape_type in core.POINT_TYPES:
            exp = [r.coords[0], r.coords[1], r.coords[0], r.coords[1]]
        else:
            exp = list(r.bounds[:2]) + list(r.bounds[2:4])
        np.testing.assert_array_equal(quick[i], exp)


@given(st.lists(st.text(alphabet="abcdefgh ", min_size=1, max_size=60),
                min_size=1, max_size=6))
@settings(max_examples=20, deadline=None)
def test_winnowing_matches_pure_python_reference(spark, texts):
    """Third-implementation check: the dual-dialect winnowing SQL must
    equal an independent pure-python winnow (hashlib k-gram hashes,
    sliding-window minima, set semantics) on arbitrary text — and the
    chunked de-skew variant must equal it too at chunk sizes small
    enough that every text crosses chunk boundaries."""
    import hashlib

    import pandas as pd

    from go_shapefile_spark.operators.text import (
        winnow_fingerprint_chunked_sql, winnow_fingerprint_sql)

    k, w = 7, 4

    def py_winnow(text):
        n = max(1, len(text) - k + 1)
        hs = [int(hashlib.md5(text[i:i + k].encode()).hexdigest()[:8], 16)
              for i in range(n)]
        fps = {min(hs[i:i + w]) for i in range(len(hs))}
        return fps

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    spark.createDataFrame(pdf).createOrReplaceTempView("pydocs")
    variants = [winnow_fingerprint_sql("spark", rel="pydocs", k=k, window=w)]
    # chunk sizes chosen to hit boundary alignments: smaller than the
    # window, window-sized, and straddling typical text lengths
    variants += [winnow_fingerprint_chunked_sql("spark", rel="pydocs", k=k,
                                                window=w, chunk=c)
                 for c in (3, 4, 17)]
    for sql in variants:
        got = spark.sql(sql).toPandas()
        assert len(got) == len(texts)
        for r in got.itertuples(index=False):
            fps = py_winnow(texts[r.doc_id])
            assert r.n_fps == len(fps)
            assert r.min_fp == min(fps) and r.max_fp == max(fps)
            assert r.sum_fp == sum(fps)


coord_st = st.floats(min_value=-50.0, max_value=50.0,
                     allow_nan=False, allow_infinity=False)


@given(st.lists(st.tuples(coord_st, coord_st), min_size=1, max_size=25),
       st.tuples(coord_st, coord_st, coord_st, coord_st),
       st.sampled_from([0.0, 1e-12, 7.5]))
@settings(max_examples=250, deadline=None)
def test_sh_clip_batched_equals_reference_property(pts, raw_box, pad):
    """Sutherland-Hodgman batched pass == per-ring reference, bitwise,
    on arbitrary rings (incl. degenerate: repeated points, collinear
    runs, sub-3-point 'rings') and arbitrary boxes (incl. zero-area
    boxes via pad=0 on equal coords)."""
    import numpy as np

    from go_shapefile_spark.operators.vector_tiles import (
        clip_ring_reference, sh_clip_batch)

    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    x0, y0 = min(raw_box[0], raw_box[2]), min(raw_box[1], raw_box[3])
    x1, y1 = max(raw_box[0], raw_box[2]) + pad, max(raw_box[1],
                                                    raw_box[3]) + pad
    ref = clip_ring_reference(x, y, (x0, y0, x1, y1))
    cx, cy, lens = sh_clip_batch(x, y, np.array([len(pts)]),
                                 np.array([[x0, y0, x1, y1]]))
    got = list(zip(cx[:lens[0]], cy[:lens[0]]))
    assert got == ref


@given(st.lists(st.tuples(coord_st, coord_st), min_size=2, max_size=25),
       st.tuples(coord_st, coord_st, coord_st, coord_st))
@settings(max_examples=250, deadline=None)
def test_lb_clip_length_never_exceeds_original_property(pts, raw_box):
    """Liang-Barsky clipped pieces never exceed their segment's length,
    and clipped endpoints stay inside the box (within one ulp scale)."""
    import numpy as np

    from go_shapefile_spark.operators.vector_tiles import lb_clip_segments

    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    x0, y0 = min(raw_box[0], raw_box[2]), min(raw_box[1], raw_box[3])
    x1, y1 = max(raw_box[0], raw_box[2]), max(raw_box[1], raw_box[3])
    boxes = np.tile(np.array([x0, y0, x1, y1]), (len(pts) - 1, 1))
    keep, sx, sy, ex, ey, _en, _xx = lb_clip_segments(
        x[:-1], y[:-1], x[1:], y[1:], boxes)
    seg_len = np.hypot(np.diff(x), np.diff(y))
    clip_len = np.hypot(ex - sx, ey - sy)
    tol = 1e-9 * (1 + seg_len)
    assert np.all(clip_len[keep] <= seg_len[keep] + tol[keep])
    eps = 1e-9 * (1 + np.abs([x0, y0, x1, y1]).max())
    for arr, lo, hi in ((sx, x0, x1), (ex, x0, x1)):
        assert np.all(arr[keep] >= lo - eps) and np.all(arr[keep] <= hi + eps)
    for arr, lo, hi in ((sy, y0, y1), (ey, y0, y1)):
        assert np.all(arr[keep] >= lo - eps) and np.all(arr[keep] <= hi + eps)
