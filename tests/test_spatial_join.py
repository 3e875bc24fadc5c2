"""Spatial join + kNN vs brute-force numpy / SQL oracles (SURVEY.md §5)."""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_shapefile_spark.functions import cells as C
from go_shapefile_spark.operators.knn import knn_radius, knn_radius_oracle_sql
from go_shapefile_spark.operators.spatial_join import (
    join_cover, polygons_from_features, spatial_join,
    spatial_join_bruteforce,
)
from go_shapefile_spark.sources.shapefile import read_shapefile_df


@pytest.fixture(scope="module")
def countries(spark, ref_testdata):
    df = read_shapefile_df(
        spark, os.path.join(ref_testdata, "110m-admin-0-countries.zip"))
    rows = df.select("fid", "geometry").collect()
    return polygons_from_features(rows)


def _points(n=4000, seed=5):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "lon": rng.uniform(-180, 180, n),
        "lat": rng.uniform(-60, 75, n),
    })


def test_cell_cover_classification(countries):
    cover = pd.DataFrame(join_cover(countries[:20], res=6))
    assert len(cover) > 0
    assert cover["_sj_full"].any() or True  # small polygons may be all-partial
    # full cells: their centers must be inside their polygon
    from go_shapefile_spark.functions import geom_np as G
    by_fid = {p["fid"]: p for p in countries[:20]}
    full = cover[cover["_sj_full"]]
    for fid, grp in full.groupby("polygon_fid"):
        lon0, lat0, lon1, lat1 = C.cell_bounds_np(grp["cell"].to_numpy())
        cx, cy = (lon0 + lon1) / 2, (lat0 + lat1) / 2
        p = by_fid[fid]
        assert G.point_in_polygon_chunked(cx, cy, p["coords"], p["ends"]).all()


def test_spatial_join_matches_bruteforce(spark, countries):
    pts = _points()
    points_df = spark.createDataFrame(pts)
    got = (spatial_join(spark, points_df, countries, res=6)
           .select("id", "polygon_fid").toPandas()
           .sort_values(["id", "polygon_fid"]).reset_index(drop=True))
    exp = (spatial_join_bruteforce(pts, countries)[["id", "polygon_fid"]]
           .sort_values(["id", "polygon_fid"]).reset_index(drop=True))
    exp["polygon_fid"] = exp["polygon_fid"].astype(np.int64)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert len(got) > 500  # sanity: a real join happened


def test_spatial_join_res_invariance(spark, countries):
    """Join output must not depend on the cover resolution."""
    pts = _points(1500, seed=9)
    points_df = spark.createDataFrame(pts)
    a = (spatial_join(spark, points_df, countries[:40], res=5)
         .select("id", "polygon_fid").toPandas().sort_values(["id", "polygon_fid"]))
    b = (spatial_join(spark, points_df, countries[:40], res=8)
         .select("id", "polygon_fid").toPandas().sort_values(["id", "polygon_fid"]))
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_jvm_join_agrees_with_bruteforce(spark, countries):
    pts = _points(1200, seed=21)
    points_df = spark.createDataFrame(pts)
    a = (spatial_join(spark, points_df, countries, res=6)
         .select("id", "polygon_fid").toPandas()
         .sort_values(["id", "polygon_fid"]).reset_index(drop=True))
    b = (spatial_join_bruteforce(pts, countries)[["id", "polygon_fid"]]
         .sort_values(["id", "polygon_fid"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_jvm_join_plan_is_python_free(spark, countries):
    from go_shapefile_spark.plans.audit import assert_no_python_udf
    pts = spark.createDataFrame(_points(100))
    joined = spatial_join(spark, pts, countries[:30], res=6)
    assert_no_python_udf(joined)


def test_knn_matches_bruteforce(spark):
    pts = _points(3000, seed=13)
    df = spark.createDataFrame(pts)
    k, radius = 5, 2.0
    got = knn_radius(df, df, k=k, radius_deg=radius).toPandas() \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)

    con = duckdb.connect()
    con.register("pts", pts)
    exp = con.execute(
        knn_radius_oracle_sql("pts", "pts", k=k, radius_deg=radius)
    ).df().sort_values(["query_id", "rank"]).reset_index(drop=True)

    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["query_id", "neighbor_id", "rank"]],
        exp[["query_id", "neighbor_id", "rank"]], check_dtype=False)
    np.testing.assert_allclose(got["dist2"], exp["dist2"], rtol=0, atol=0)


def test_knn_exact_matches_bruteforce(spark):
    from go_shapefile_spark.operators.knn import knn_exact
    pts = _points(2000, seed=31)
    df = spark.createDataFrame(pts)
    k = 4
    got = knn_exact(df, df, k=k).toPandas() \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)

    # numpy brute-force oracle
    xy = pts[["lon", "lat"]].to_numpy()
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2, np.inf)
    exp_rows = []
    for i in range(len(pts)):
        order = np.lexsort((pts["id"].to_numpy(), d2[i]))[:k]
        for r, j in enumerate(order):
            exp_rows.append((i, int(pts["id"].iloc[j]), r + 1))
    exp = pd.DataFrame(exp_rows, columns=["query_id", "neighbor_id", "rank"]) \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["query_id", "neighbor_id", "rank"]].astype("int64"),
        exp.astype("int64"))


def test_knn_no_python_udf(spark):
    """The kNN plan must stay JVM-side: no Python/Pandas UDF nodes."""
    pts = spark.createDataFrame(_points(100))
    plan = knn_radius(pts, pts, k=3, radius_deg=5.0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _rect_features(spark, n=8, seed=21):
    """``n`` random lon/lat rectangles as polygon dicts and as a
    (fid, geometry) features DataFrame."""
    rng = np.random.default_rng(seed)
    polys, rows = [], []
    for fid in range(n):
        x0 = float(rng.uniform(-160, 110))
        y0 = float(rng.uniform(-70, 40))
        w, h = float(rng.uniform(15, 45)), float(rng.uniform(10, 30))
        ring = [x0, y0, x0, y0 + h, x0 + w, y0 + h, x0 + w, y0, x0, y0]
        polys.append({"fid": fid, "coords": np.array(ring), "ends": [10]})
        rows.append((fid, {"layout": "XY", "coords": ring,
                           "ends": [10], "rings": [1]}))
    features = spark.createDataFrame(
        rows, "fid long, geometry struct<layout:string, "
              "coords:array<double>, ends:array<int>, rings:array<int>>")
    return polys, features


def test_distributed_cover_matches_driver_cover(spark, local_caps):
    """PreparedCover.from_features (mapInPandas build, no driver collect)
    must produce the same join output as the driver-side PreparedCover."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from go_shapefile_spark.operators.geotag import with_lonlat_jvm
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)

    polys, features = _rect_features(spark)
    pts = with_lonlat_jvm(
        spark.range(20000).select(F.col("id").alias("idx"),
                                  F.xxhash64("id").alias("phash")))

    driver_cover = PreparedCover(spark, polys, res=6)
    local_caps(COVER_FEATURES=0)   # 8 features would build on the driver
    dist_cover = PreparedCover.from_features(features, res=6)
    assert dist_cover.broadcast is True
    a = (spatial_join_prepared(pts, driver_cover,
                               keep_cols=["idx", "polygon_fid"])
         .toPandas().sort_values(["idx", "polygon_fid"]).reset_index(drop=True))
    b = (spatial_join_prepared(pts, dist_cover,
                               keep_cols=["idx", "polygon_fid"])
         .toPandas().sort_values(["idx", "polygon_fid"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0

    # past the broadcast threshold the join flips to shuffle-on-cell
    local_caps(BROADCAST_ROWS=1)
    small = PreparedCover.from_features(features, res=6)
    assert small.broadcast is False
    shuffled = spatial_join_prepared(pts, small,
                                     keep_cols=["idx", "polygon_fid"])
    c = (shuffled.toPandas().sort_values(["idx", "polygon_fid"])
         .reset_index(drop=True))
    pd.testing.assert_frame_equal(a, c)
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan


def _ring(cx=30.0, cy=10.0, r=25.0, n=240) -> np.ndarray:
    """A dense ``n``-vertex clockwise ring (flat x, y coords): at res 4
    its cells hold far more than UNROLL_K clipped edges."""
    t = np.linspace(0, 2 * np.pi, n + 1)
    return np.column_stack([cx + r * np.cos(-t), cy + r * np.sin(-t)]).ravel()


def _staircase() -> np.ndarray:
    """A clockwise ring whose downward east edge x = 5.625 runs exactly
    through (5.625, 2.8125), the depth-1 centre of cell (0..22.5,
    0..11.25) at res 4; the teeth along y = 1..3 east of it put more
    than UNROLL_K edges in that cell, so it splits."""
    ring = [-10.0, 20.0, 5.625, 20.0, 5.625, 1.0]
    for x in np.arange(12.0, 19.5, 0.5):
        ring += [x, 1.0, x + 0.25, 3.0]
    return np.array(ring + [20.0, 1.0, 20.0, -20.0, -10.0, -20.0,
                            -10.0, 20.0])


def _with_polygon(spark, features, fid, coords):
    return features.unionByName(spark.createDataFrame(
        [(fid, {"layout": "XY", "coords": [float(c) for c in coords],
                "ends": [len(coords)], "rings": [1]})], features.schema))


def _pairs(df, cols=("idx", "polygon_fid")):
    return (df.select(*cols).toPandas().sort_values(list(cols))
            .reset_index(drop=True))


def test_small_polygon_side_covers_on_driver(spark, local_caps):
    """Within local.COVER_FEATURES, from_features builds the cover on the
    driver: the join relation is a bare LocalRelation (columns named in
    the Arrow table, no Project to plan through on every join), and the join
    equals the distributed build's."""
    from go_shapefile_spark.operators.geotag import with_lonlat_jvm
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)

    _, features = _rect_features(spark)
    features = _with_polygon(spark, features, 99, _ring())

    cover = PreparedCover.from_features(features, res=4)
    assert cover.broadcast is True
    assert cover.full is not None and cover.narrow is not None
    plan = cover.rows._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LocalRelation", plan.toString()

    pts = with_lonlat_jvm(
        spark.range(20000).select(F.col("id").alias("idx"),
                                  F.xxhash64("id").alias("phash")))
    a = (spatial_join_prepared(pts, cover, keep_cols=["idx", "polygon_fid"])
         .toPandas().sort_values(["idx", "polygon_fid"]).reset_index(drop=True))
    local_caps(COVER_FEATURES=0)
    dist = PreparedCover.from_features(features, res=4)
    assert dist.narrow.columns == cover.narrow.columns
    b = (spatial_join_prepared(pts, dist, keep_cols=["idx", "polygon_fid"])
         .toPandas().sort_values(["idx", "polygon_fid"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert a["polygon_fid"].eq(99).any()


def test_split_cover_matches_bruteforce(spark):
    """Partial cells above UNROLL_K edges split into half-open
    sub-rectangles; points exactly on split lines of every depth (cell
    edges among them) and at their crossings land in exactly one."""
    from go_shapefile_spark.operators.spatial_join import (
        SPLIT_DEPTH, PreparedCover, join_cover, spatial_join_prepared)

    res = 4
    polys = [{"fid": 99, "coords": _ring(), "ends": [482]},
             {"fid": 5, "coords": _ring(40.3, 20.1, 6.0, 90), "ends": [182]}]
    cover_pdf = pd.DataFrame(join_cover(polys, res))
    assert np.isfinite(cover_pdf["_sj_x0"]).any()      # some cell split
    assert cover_pdf["_sj_edges"].isna().all()         # none hit the cap

    # split lines at depth SPLIT_DEPTH are multiples of the cell size
    # over 2^SPLIT_DEPTH, exact in binary
    sx = 360.0 / (1 << res) / (1 << SPLIT_DEPTH)
    sy = 180.0 / (1 << res) / (1 << SPLIT_DEPTH)
    rng = np.random.default_rng(11)
    n = 6000
    on_x = -180.0 + rng.integers(100, 200, n) * sx
    on_y = -90.0 + rng.integers(80, 200, n) * sy
    free_x = rng.uniform(0, 60, n)
    free_y = rng.uniform(-20, 40, n)
    pts = pd.DataFrame({
        "idx": np.arange(4 * n, dtype=np.int64),
        "lon": np.concatenate([on_x, free_x, on_x, free_x]),
        "lat": np.concatenate([free_y, on_y, on_y, free_y])})
    got = _pairs(spatial_join_prepared(
        spark.createDataFrame(pts), PreparedCover(spark, polys, res)))
    exp = spatial_join_bruteforce(pts, polys)[["idx", "polygon_fid"]] \
        .sort_values(["idx", "polygon_fid"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert len(got) > 1000


def test_split_reference_off_edges(spark):
    """A sub-rectangle centre lying on an edge is not used as its row's
    reference: there the ray cast that gives the reference its parity
    and the SQL predicate's sign rule disagree about its side, and the
    whole sub-rectangle would get the inverted answer."""
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, join_cover, spatial_join_prepared)

    stairs = _staircase()
    polys = [{"fid": 6, "coords": stairs, "ends": [len(stairs)]}]
    cover_pdf = pd.DataFrame(join_cover(polys, 4))
    assert (cover_pdf["_sj_x1"] == 11.25).any()       # the cell split
    on_edge = (cover_pdf["_sj_rx"] == 5.625) & (cover_pdf["_sj_ry"] == 2.8125)
    assert not on_edge.any()

    rng = np.random.default_rng(5)
    n = 20000
    pts = pd.DataFrame({"idx": np.arange(n, dtype=np.int64),
                        "lon": rng.uniform(-5, 25, n),
                        "lat": rng.uniform(-5, 15, n)})
    got = _pairs(spatial_join_prepared(
        spark.createDataFrame(pts), PreparedCover(spark, polys, 4)))
    exp = spatial_join_bruteforce(pts, polys)[["idx", "polygon_fid"]] \
        .sort_values(["idx", "polygon_fid"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_depth_cap_rows_join_through_wide(spark, local_caps):
    """A vertex shared by more than UNROLL_K edges keeps its sub-rectangle
    above UNROLL_K at every depth: those rows take the aggregate()
    ``wide`` path, in both builds, and the join still equals the
    brute-force PIP."""
    from go_shapefile_spark.operators.spatial_join import (
        UNROLL_K, PreparedCover, spatial_join_prepared)

    # six triangular petals around one centre: 12 edges meet there
    cx, cy = 10.3, 20.7
    ring = []
    for a in np.radians(np.arange(0, 360, 60)):
        ring += [cx, cy,
                 cx + 5 * np.cos(a - 0.17), cy + 5 * np.sin(a - 0.17),
                 cx + 5 * np.cos(a + 0.17), cy + 5 * np.sin(a + 0.17)]
    ring = np.array(ring + [cx, cy])
    assert 12 > UNROLL_K
    polys, features = _rect_features(spark)
    polys.append({"fid": 77, "coords": ring, "ends": [len(ring)]})
    features = _with_polygon(spark, features, 77, ring)

    rng = np.random.default_rng(4)
    n = 20000
    pts = pd.DataFrame({
        "idx": np.arange(2 * n, dtype=np.int64),
        "lon": np.concatenate([cx + rng.uniform(-6, 6, n),
                               rng.uniform(-180, 180, n)]),
        "lat": np.concatenate([cy + rng.uniform(-6, 6, n),
                               rng.uniform(-90, 90, n)])})
    exp = spatial_join_bruteforce(pts, polys)[["idx", "polygon_fid"]] \
        .sort_values(["idx", "polygon_fid"]).reset_index(drop=True)
    assert exp["polygon_fid"].eq(77).sum() > 100
    points = spark.createDataFrame(pts)
    driver = PreparedCover.from_features(features, res=6)
    # the driver-built wide side is a bare LocalRelation too
    plan = driver.wide._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LocalRelation", plan.toString()
    local_caps(COVER_FEATURES=0)
    dist = PreparedCover.from_features(features, res=6)
    for cover in (driver, dist):
        assert cover.wide is not None
        got = _pairs(spatial_join_prepared(points, cover))
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_null_coordinates_join_nothing(spark):
    """A NULL lon or lat must not join: ``cell_sql``'s GREATEST/LEAST
    skip NULLs and clamp the point into an edge cell, where a full cell
    has no predicate to reject it."""
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)

    rect = [150.0, -80.0, 150.0, 80.0, 180.0, 80.0, 180.0, -80.0,
            150.0, -80.0]
    cover = PreparedCover(
        spark, [{"fid": 7, "coords": np.array(rect), "ends": [10]}], res=4)
    pts = spark.createDataFrame(
        [(1, None, 10.0), (2, 179.9, None), (3, None, None),
         (4, 170.0, 10.0)], "idx long, lon double, lat double")
    got = spatial_join_prepared(pts, cover).select("idx", "polygon_fid")
    assert [tuple(r) for r in got.collect()] == [(4, 7)]


def test_point_columns_named_like_cover_columns(spark):
    """Point columns named like the cover's layout (``rx``, ``ry``,
    ``ref_inside``, the sub-rectangle bounds, the edge columns) pass
    through the join untouched."""
    polys = [{"fid": 99, "coords": _ring(), "ends": [482]},
             {"fid": 5, "coords": np.array(
                 [-20.0, -10.0, -20.0, 5.0, 3.0, 5.0, 3.0, -10.0,
                  -20.0, -10.0]), "ends": [10]}]
    pdf = _points(3000, seed=3).rename(columns={"id": "idx"})
    extra = ["rx", "ry", "ref_inside", "x0", "y1", "full", "edges",
             "e0_ax", "e0_s"]
    for i, c in enumerate(extra):
        pdf[c] = pdf["idx"] * (i + 2)
    out = spatial_join(spark, spark.createDataFrame(pdf), polys, res=4)
    assert out.columns == ["cell", *pdf.columns, "polygon_fid"]
    got = out.toPandas()
    for i, c in enumerate(extra):
        assert (got[c] == got["idx"] * (i + 2)).all(), c
    exp = spatial_join_bruteforce(pdf, polys)[["idx", "polygon_fid"]] \
        .sort_values(["idx", "polygon_fid"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["idx", "polygon_fid"]].sort_values(["idx", "polygon_fid"])
        .reset_index(drop=True), exp, check_dtype=False)


def test_join_stage_stays_in_codegen(spark, local_caps):
    """The refine runs inside whole-stage codegen, in a method HotSpot
    compiles: with AQE off the join is ``*(n) BroadcastHashJoin`` and no
    generated method exceeds 8,000 bytecode bytes — for both cover
    builds, a wide point side, and the widest that fits: 54 point
    columns, with ``cell``, the two coordinate copies and the 43 cover
    columns, make the stage's 100 fields."""
    from go_shapefile_spark.operators.geotag import with_lonlat_jvm
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)
    from go_shapefile_spark.plans.audit import (
        HUGE_METHOD_BYTES, aqe_off, broadcast_joins_in_codegen,
        max_generated_method_bytes)

    _, features = _rect_features(spark)
    features = _with_polygon(spark, features, 99, _ring())
    pts = with_lonlat_jvm(
        spark.range(1000).select(F.col("id").alias("idx"),
                                 F.xxhash64("id").alias("phash")))
    wide_pts = pts.select(
        "*", *[(F.col("idx") + i).alias(f"c{i}") for i in range(24)])
    widest_pts = pts.select(
        "*", *[(F.col("idx") + i).alias(f"c{i}") for i in range(50)])
    assert len(widest_pts.columns) == 54
    driver = PreparedCover.from_features(features, res=4)
    local_caps(COVER_FEATURES=0)
    dist = PreparedCover.from_features(features, res=4)
    with aqe_off(spark):
        for cover, points, keep in (
                (driver, pts, ["idx", "polygon_fid"]),
                (dist, pts, ["idx", "polygon_fid"]),
                (driver, wide_pts, [*wide_pts.columns, "polygon_fid"]),
                (driver, widest_pts, [*widest_pts.columns, "polygon_fid"]),
                (dist, widest_pts, [*widest_pts.columns, "polygon_fid"])):
            joined = spatial_join_prepared(points, cover, keep_cols=keep)
            assert broadcast_joins_in_codegen(joined), \
                joined._jdf.queryExecution().executedPlan().toString()
            assert max_generated_method_bytes(joined) <= HUGE_METHOD_BYTES


def test_empty_polygon_side_joins_nothing(spark):
    """An empty features frame (e.g. a bbox read that prunes the whole
    file) builds an empty driver cover, and the join returns no rows."""
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)

    _, features = _rect_features(spark)
    cover = PreparedCover.from_features(features.where("fid < 0"), res=6)
    assert cover.narrow is None and cover.wide is None
    pts = spark.createDataFrame(_points(100))
    assert spatial_join_prepared(pts, cover).count() == 0


def test_knn_exact_plan_no_cartesian(spark):
    """knn_exact must plan without CartesianProduct/BNLJ — the terminal
    round is a res-0 equi-join, not a crossJoin fallback (VERDICT r1 #7)."""
    from go_shapefile_spark.operators.knn import knn_exact
    pts = spark.createDataFrame(_points(500, seed=7))
    out = knn_exact(pts, pts, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_exact_terminal_round_spreads_tasks(spark):
    """Adversarial all-remote query set (every query in an empty ocean of
    cells, so ALL of them reach the terminal round): the terminal salted
    join must spread candidates over >1 shuffle partition instead of
    funnelling through one res-0 cell key (VERDICT r2 #7), and stay
    exact vs brute force."""
    from pyspark.sql import functions as F

    from go_shapefile_spark.operators.knn import _terminal_topk, knn_exact

    rng = np.random.default_rng(17)
    # points clustered near (150, 60); queries far away near (-150, -60)
    pts = pd.DataFrame({"id": np.arange(500),
                        "lon": rng.uniform(149, 151, 500),
                        "lat": rng.uniform(59, 61, 500)})
    qs = pd.DataFrame({"id": np.arange(1000, 1040),
                       "lon": rng.uniform(-151, -149, 40),
                       "lat": rng.uniform(-61, -59, 40)})
    pdf, qdf = spark.createDataFrame(pts), spark.createDataFrame(qs)
    got = knn_exact(pdf, qdf, k=3).toPandas() \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    # brute force
    d2 = ((qs[["lon", "lat"]].to_numpy()[:, None, :]
           - pts[["lon", "lat"]].to_numpy()[None, :, :]) ** 2).sum(axis=2)
    exp_rows = []
    for i in range(len(qs)):
        order = np.lexsort((pts["id"].to_numpy(), d2[i]))[:3]
        for r, j in enumerate(order):
            exp_rows.append((int(qs["id"].iloc[i]), int(pts["id"].iloc[j]), r + 1))
    exp = pd.DataFrame(exp_rows, columns=["query_id", "neighbor_id", "rank"])
    pd.testing.assert_frame_equal(
        got[["query_id", "neighbor_id", "rank"]].astype("int64"),
        exp.astype("int64"))
    # the terminal JOIN stage is keyed on the 32-value salt (never one
    # constant cell key): candidate pairs land in >1 task
    from go_shapefile_spark.operators.knn import _terminal_pairs
    pairs = _terminal_pairs(pdf, qdf, "id", "lon", "lat", n_salts=32)
    n_parts = (pairs.withColumn("pid", F.spark_partition_id())
               .select("pid").distinct().count())
    assert n_parts > 1
    plan = _terminal_topk(pdf, qdf, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan and "CartesianProduct" not in plan


def test_knn_haversine_matches_numpy_oracle(spark):
    """Great-circle kNN equals a numpy haversine brute force."""
    from go_shapefile_spark.operators.knn import (
        EARTH_RADIUS_KM, knn_radius_haversine)

    pts = _points(1500, seed=44)
    pts = pts[pts["lat"].abs() <= 84].reset_index(drop=True)
    df = spark.createDataFrame(pts)
    queries = df.where("id % 37 = 0")
    k, radius_km = 4, 500.0
    got = (knn_radius_haversine(df, queries, k=k, radius_km=radius_km)
           .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))

    lon = np.radians(pts["lon"].to_numpy())
    lat = np.radians(pts["lat"].to_numpy())
    qi = pts.index[pts["id"] % 37 == 0]
    exp_rows = []
    for i in qi:
        d = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(
            np.sin((lat[i] - lat) / 2) ** 2 +
            np.cos(lat[i]) * np.cos(lat) * np.sin((lon[i] - lon) / 2) ** 2))
        d[i] = np.inf
        ids = pts["id"].to_numpy()
        order = np.lexsort((ids, d))
        taken = [(int(ids[j]), d[j]) for j in order if d[j] <= radius_km][:k]
        for r, (nid, dk) in enumerate(taken):
            exp_rows.append((int(pts["id"].iloc[i]), nid, r + 1, dk))
    exp = pd.DataFrame(exp_rows,
                       columns=["query_id", "neighbor_id", "rank", "dist_km"]) \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["query_id", "neighbor_id", "rank"]].astype("int64"),
        exp[["query_id", "neighbor_id", "rank"]].astype("int64"))
    np.testing.assert_allclose(got["dist_km"], exp["dist_km"], rtol=1e-9)


def test_knn_haversine_polar_cap_exact(spark):
    """Queries above max_abs_lat take the polar-cap path and still get
    exact results (r2 review finding: the ring cannot cover a disk that
    wraps every longitude near the pole)."""
    from go_shapefile_spark.operators.knn import (
        EARTH_RADIUS_KM, knn_radius_haversine)

    rng = np.random.default_rng(7)
    n = 400
    pts = pd.DataFrame({
        "id": np.arange(n),
        "lon": rng.uniform(-180, 180, n),
        # half the points clustered near the north pole
        "lat": np.concatenate([rng.uniform(80, 90, n // 2),
                               rng.uniform(-60, 60, n - n // 2)]),
    })
    df = spark.createDataFrame(pts)
    queries = df.where("lat > 86")   # all in the cap
    k, radius_km = 3, 700.0
    got = (knn_radius_haversine(df, queries, k=k, radius_km=radius_km)
           .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))

    lon = np.radians(pts["lon"].to_numpy())
    lat = np.radians(pts["lat"].to_numpy())
    exp_rows = []
    for i in pts.index[pts["lat"] > 86]:
        d = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(
            np.sin((lat[i] - lat) / 2) ** 2 +
            np.cos(lat[i]) * np.cos(lat) * np.sin((lon[i] - lon) / 2) ** 2))
        d[i] = np.inf
        order = np.lexsort((pts["id"].to_numpy(), d))
        taken = [(int(pts["id"].iloc[j]), d[j]) for j in order
                 if d[j] <= radius_km][:k]
        for r, (nid, dk) in enumerate(taken):
            exp_rows.append((int(pts["id"].iloc[i]), nid, r + 1))
    exp = pd.DataFrame(exp_rows, columns=["query_id", "neighbor_id", "rank"]) \
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(exp) > 0 and len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["query_id", "neighbor_id", "rank"]].astype("int64"),
        exp.astype("int64"))


def test_map_match_matches_numpy_bruteforce(spark):
    """The snap-to-segment gate equals a numpy brute-force replay:
    same md5-seam geometry, same same-16°-cell candidate contract,
    same clamped-projection distance, argmin with min-seg tie-break."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from go_shapefile_spark.queries import q_map_match

    def md5_32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    n_ev, n_seg = 400, 30
    ev = pd.DataFrame({"event_id": np.arange(n_ev, dtype=np.int64)})
    su = pd.DataFrame({"s_suppkey": np.arange(1, n_seg + 1,
                                              dtype=np.int64)})
    spark.createDataFrame(ev).createOrReplaceTempView("mm_events")
    spark.createDataFrame(su).createOrReplaceTempView("mm_segs")
    got = {r.seg: (r.n_snapped, r.sum_d2_e9, r.min_d2)
           for r in spark.sql(q_map_match(
               "spark", events_rel="mm_events",
               seg_rel="mm_segs")).collect()}

    # numpy replay
    pts = {}
    for i in range(n_ev):
        lon = (md5_32(f"{i}_lon") % 3600000) / 10000.0 - 180.0
        lat = (md5_32(f"{i}_lat") % 1800000) / 10000.0 - 90.0
        pts[i] = (lon, lat)
    segs = {}
    for k in range(1, n_seg + 1):
        ax = (md5_32(f"{k}_mx") % 3200000) / 10000.0 - 160.0
        ay = (md5_32(f"{k}_my") % 1600000) / 10000.0 - 80.0
        dx = (md5_32(f"{k}_mdx") % 20000) / 10000.0 - 1.0
        dy = (md5_32(f"{k}_mdy") % 20000) / 10000.0 - 1.0
        segs[k] = (ax, ay, ax + dx, ay + dy)
    want = {}
    for i, (px, py) in pts.items():
        best = None
        for k, (x1, y1, x2, y2) in segs.items():
            if (math.floor(px / 16.0), math.floor(py / 16.0)) != \
                    (math.floor(x1 / 16.0), math.floor(y1 / 16.0)):
                continue
            wx, wy, vx, vy = px - x1, py - y1, x2 - x1, y2 - y1
            t = min(max((wx * vx + wy * vy) / (vx * vx + vy * vy),
                        0.0), 1.0)
            d2 = (wx - t * vx) ** 2 + (wy - t * vy) ** 2
            if best is None or d2 < best[0] or \
                    (d2 == best[0] and k < best[1]):
                best = (d2, k)
        if best is not None:
            d2, k = best
            n, s, m = want.get(k, (0, 0, math.inf))
            want[k] = (n + 1, s + round(d2 * 1e9), min(m, d2))

    assert set(got) == set(want) and len(got) > 0
    for k, (n, s, m) in want.items():
        gn, gs, gm = got[k]
        assert (gn, gs) == (n, s)
        assert gm == m
