"""The feature-kernel seam (sources/shapefile.map_features): a kernel
over a distributed shapefile scan runs inside the scan task, and gives
the rows the two-stage ``select().mapInArrow()`` plan gives.  Its
driver side (``map_records``), which pins the DuckDB oracles, feeds a
kernel's batch function the batch the scan emits and gives Spark's
rows."""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
import pytest

from go_shapefile_spark.operators.geometry import (
    KERNEL_COLUMNS, SIMPLIFY_COLUMNS, geodesic_measures, geom_measures,
    run_geodesic_measures, run_geom_measures, run_simplify,
    simplify_features)
from go_shapefile_spark.operators.vector_tiles import (
    run_vector_tiles, run_vector_tiles_lines, vector_tile_pyramid,
    vector_tile_pyramid_lines, vector_tiles, vector_tiles_lines)
from go_shapefile_spark.plans.audit import executed_plan
from go_shapefile_spark.queries import (_LINE_TILE_NAMES, _TILE_NAMES,
                                        _pyramid_rows)
from go_shapefile_spark.sources.shapefile import (
    map_records, project_batch, read_shapefile_df, read_shapefile_dir)

_FIELDS = [("NAME", "C", 8), ("EAS_ID", "N", 6)]
_KERNELS = {
    "vector_tiles": lambda df: vector_tiles(df, res=3),
    "geom_measures": geom_measures,
    "geodesic_measures": geodesic_measures,
    "simplify_features": lambda df: simplify_features(df, eps=0.5),
}
_LINE_KERNELS = {
    "vector_tiles_lines": lambda df: vector_tiles_lines(df, res=3),
    "geom_measures": geom_measures,
    "geodesic_measures": geodesic_measures,
    "simplify_features": lambda df: simplify_features(df, eps=0.5),
}
# each kernel's (columns, batch function), as the operator binds them
_BATCH_FNS = {
    "vector_tiles": (KERNEL_COLUMNS, partial(run_vector_tiles, res=3)),
    "vector_tiles_lines": (KERNEL_COLUMNS,
                           partial(run_vector_tiles_lines, res=3)),
    "geom_measures": (KERNEL_COLUMNS, run_geom_measures),
    "geodesic_measures": (KERNEL_COLUMNS, run_geodesic_measures),
    "simplify_features": (SIMPLIFY_COLUMNS, partial(run_simplify, eps=0.5)),
}


def _ring(cx, cy, r, n, rng, clockwise):
    t = np.linspace(0, 2 * np.pi, n, endpoint=False)
    if clockwise:
        t = -t
    rr = r * rng.uniform(0.7, 1.0, n)
    xy = np.stack([cx + rr * np.cos(t), cy + rr * np.sin(t)], axis=1)
    return np.concatenate([xy, xy[:1]]).ravel().tolist()


def _polygons(n, seed):
    """Noisy rings spread over several res-3 tiles: a hole in every
    third polygon, a second part in every fourth."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
        r = rng.uniform(2, 30)
        coords = _ring(cx, cy, r, int(rng.integers(8, 40)), rng, True)
        ends = [len(coords)]
        if i % 3 == 0:
            coords += _ring(cx, cy, r / 3, 9, rng, False)
            ends.append(len(coords))
        if i % 4 == 0:
            coords += _ring(cx + 2.5 * r, cy, r / 2, 11, rng, True)
            ends.append(len(coords))
        out.append({"coords": coords, "ends": ends})
    return out


def _lines(n, seed):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        coords, ends = [], []
        for _ in range(1 + i % 2):
            m = int(rng.integers(2, 30))
            xy = np.cumsum(rng.normal(0, 6, (m, 2)), axis=0)
            xy += [rng.uniform(-150, 150), rng.uniform(-60, 60)]
            coords += xy.ravel().tolist()
            ends.append(len(coords))
        out.append({"coords": coords, "ends": ends})
    return out


@pytest.fixture(scope="module")
def kernel_corpus(tmp_path_factory):
    """Two polygon files (a directory) and a polyline file."""
    from go_shapefile_spark.sources.shapefile_writer import (
        write_polygons, write_polylines)

    d = tmp_path_factory.mktemp("kernels")
    (d / "polys").mkdir()
    for k, n in enumerate((40, 23)):
        write_polygons(str(d / "polys" / f"part{k}"), _polygons(n, 11 + k),
                       _FIELDS, [[f"p{i}", i] for i in range(n)])
    write_polylines(str(d / "lines"), _lines(30, 7), _FIELDS,
                    [[f"l{i}", i] for i in range(30)])
    return d


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _fused(df) -> bool:
    plan = executed_plan(df)
    return plan.count("MapInArrow") == 1 and "parse_and_map" in plan


def _reads(spark, corpus):
    polys = str(corpus / "polys" / "part0")
    return {
        "multi_split": read_shapefile_df(spark, polys,
                                         target_records_per_split=9),
        "dir": read_shapefile_dir(spark, str(corpus / "polys"),
                                  target_records_per_split=9),
        "bbox": read_shapefile_df(spark, polys, bbox=(-60, -40, 90, 50)),
    }


def test_fused_and_generic_paths_give_the_same_rows(spark, local_caps,
                                                    kernel_corpus):
    """All five kernels over a multi-split read, a directory scan and a
    bbox read: the fused kernel (one Python stage) equals the same
    kernel over a projection of the scan (the two-stage plan).  Small
    Arrow batches make the fused path slice every split."""
    local_caps(SCAN_BYTES=0)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "4")
    try:
        cases = [(name, df, _KERNELS)
                 for name, df in _reads(spark, kernel_corpus).items()]
        cases.append(("lines", read_shapefile_df(
            spark, str(kernel_corpus / "lines"),
            target_records_per_split=8), _LINE_KERNELS))
        for read, features, kernels in cases:
            for name, kernel in kernels.items():
                fused = kernel(features)
                generic = kernel(features.select("*"))
                assert _fused(fused), (read, name)
                assert not _fused(generic), (read, name)
                want = _rows(generic)
                assert _rows(fused) == want and want, (read, name)
    finally:
        spark.conf.set(conf, old)


def test_project_batch_nulls_children_of_null_structs():
    """A NULL struct row gives NULL children, as Spark's
    ``select("geometry.layout")`` does (``StructArray.field`` would
    return the child's own value)."""
    geom = pa.StructArray.from_arrays(
        [pa.array(["XY", "XY", "XYM"]),
         pa.array([[0.0, 1.0], [2.0, 3.0], [4.0, 5.0, 6.0]])],
        names=["layout", "coords"], mask=pa.array([False, True, False]))
    rb = pa.RecordBatch.from_arrays([pa.array([1, 2, 3], pa.int64()), geom],
                                    names=["fid", "geometry"])
    out = project_batch(rb.slice(1), ["fid", "geometry.layout",
                                      "geometry.coords"])
    assert out.schema.names == ["fid", "layout", "coords"]
    assert out.column(1).to_pylist() == [None, "XYM"]
    assert out.column(2).to_pylist() == [None, [4.0, 5.0, 6.0]]


def test_project_batch_matches_spark_select(spark):
    df = spark.createDataFrame(
        [(1, ("XY", [0.0, 1.0])), (2, None)],
        "fid long, geometry struct<layout:string, coords:array<double>>")
    cols = ["fid", "geometry.layout", "geometry.coords"]
    want = df.select(*cols).toArrow()
    got = project_batch(df.toArrow().combine_chunks().to_batches()[0], cols)
    assert got.to_pylist() == want.to_pylist()
    assert got.to_pylist()[1] == {"fid": 2, "layout": None, "coords": None}


def test_vector_tiles_over_a_scan_is_one_python_stage(spark, local_caps,
                                                      kernel_corpus):
    """The clip runs in the scan task: one ``MapInArrow`` over
    ``Range``, no Exchange and no row-at-a-time Python."""
    local_caps(SCAN_BYTES=0)
    df = vector_tiles(read_shapefile_df(
        spark, str(kernel_corpus / "polys" / "part0")), res=3)
    plan = executed_plan(df)
    assert plan.count("MapInArrow") == 1, plan
    assert "Range" in plan and "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_spread_read_keeps_fid_order_and_fuses(spark, local_caps,
                                               kernel_corpus):
    """A file over ``SCAN_BYTES`` spreads over a split per cap (here 3
    of the 4 slots): its fids come back 1..n in order, and the fused
    clip over it gives the two-stage plan's rows."""
    from go_shapefile_spark.sources.shapefile import plan_shapefile, scan_bytes

    base = str(kernel_corpus / "polys" / "part0")
    plan = plan_shapefile(base)
    local_caps(SCAN_BYTES=scan_bytes(plan) // 3)
    features = read_shapefile_df(spark, base)
    assert features.rdd.getNumPartitions() == 3
    assert [r.fid for r in features.collect()] == \
        list(range(1, plan.n_records + 1))
    fused = vector_tiles(features, res=3)
    generic = vector_tiles(features.select("*"), res=3)
    assert _fused(fused) and not _fused(generic)
    want = _rows(generic)
    assert _rows(fused) == want and want


def test_cached_and_filtered_features_take_the_generic_path(
        spark, local_caps, kernel_corpus):
    local_caps(SCAN_BYTES=0)
    base = str(kernel_corpus / "polys" / "part0")
    features = read_shapefile_df(spark, base)
    want = _rows(vector_tiles(features, res=3))
    filtered = features.where("fid > 0")
    assert not _fused(vector_tiles(filtered, res=3))
    assert _rows(vector_tiles(filtered, res=3)) == want
    cached = read_shapefile_df(spark, base).cache()
    try:
        out = vector_tiles(cached, res=3)
        assert "parse_and_map" not in executed_plan(out)
        assert _rows(out) == want
    finally:
        cached.unpersist()


def test_missing_kernel_column_fails_at_plan_time(spark, local_caps,
                                                  kernel_corpus):
    """A scan without the kernel's columns (a flat-point read has no
    ``geometry``) fails when the kernel is called, on the fused path
    as on the generic one."""
    from pyspark.errors import AnalysisException

    from go_shapefile_spark.sources.shapefile_writer import write_points

    local_caps(SCAN_BYTES=0)
    base = str(kernel_corpus / "pts")
    write_points(base, np.arange(5.0), np.arange(5.0), fields=_FIELDS,
                 rows=[[f"q{i}", i] for i in range(5)])
    flat = read_shapefile_df(spark, base, flat_points=True)
    for features in (flat, flat.select("*")):
        with pytest.raises(AnalysisException):
            geom_measures(features)


def _tuples(value):
    """Arrow ``to_pylist`` rows as the nested tuples Spark Rows are."""
    if isinstance(value, dict):
        return tuple(_tuples(v) for v in value.values())
    return value


def _corpora(kernel_corpus):
    return [(str(kernel_corpus / "polys" / "part0"), _KERNELS),
            (str(kernel_corpus / "lines"), _LINE_KERNELS)]


def test_driver_runner_feeds_the_batch_a_scan_emits(kernel_corpus):
    """``map_records`` over core-parser records hands a batch function
    what the scan's reader hands it: ``read_split``'s batch projected
    to the kernel columns."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from go_shapefile_spark.sources.shapefile import (
        features_schema, plan_shapefile, read_split)
    from go_shapefile_spark.sources.shapefile_core import read_shapefile

    for base, _kernels in _corpora(kernel_corpus):
        plan = plan_shapefile(base)
        scan = read_split(plan, 1, plan.n_records + 1,
                          to_arrow_schema(features_schema(plan)))
        want = project_batch(scan, SIMPLIFY_COLUMNS)
        got, = map_records(read_shapefile(base).shp.records,
                           SIMPLIFY_COLUMNS, lambda batches: batches)
        assert got.schema.equals(want.schema), base
        assert got.to_pylist() == want.to_pylist() and want.num_rows, base


def test_driver_runner_gives_the_spark_rows(spark, kernel_corpus):
    """All five kernels: the batch function run on the driver over the
    core parser's records gives the rows the operator gives in Spark."""
    from go_shapefile_spark.sources.shapefile_core import read_shapefile

    for base, kernels in _corpora(kernel_corpus):
        records = read_shapefile(base).shp.records
        features = read_shapefile_df(spark, base)
        for name, kernel in kernels.items():
            columns, fn = _BATCH_FNS[name]
            got = sorted(_tuples(row) for rb in map_records(
                records, columns, fn) for row in rb.to_pylist())
            want = _rows(kernel(features))
            assert got == want and want, (base, name)


def test_driver_pyramid_gives_the_spark_rows(spark, kernel_corpus):
    """Simplify's output batches chained into the clip's batch function
    on the driver give ``vector_tile_pyramid`` / ``_lines``' rows."""
    from go_shapefile_spark.sources.shapefile_core import read_shapefile

    cases = [("polys/part0", vector_tile_pyramid, run_vector_tiles,
              _TILE_NAMES),
             ("lines", vector_tile_pyramid_lines, run_vector_tiles_lines,
              _LINE_TILE_NAMES)]
    for path, pyramid, run_clip, names in cases:
        base = str(kernel_corpus / path)
        got = sorted(_pyramid_rows(read_shapefile(base).shp.records, 2, 4,
                                   run_clip, names))
        want = _rows(pyramid(read_shapefile_df(spark, base), 2, 4)
                     .select(*names))
        assert got == want and want, path
