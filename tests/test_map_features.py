"""The feature-kernel seam (sources/shapefile.map_features): a kernel
over a distributed shapefile scan runs inside the scan task, and gives
the rows the two-stage ``select().mapInArrow()`` plan gives."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from go_shapefile_spark.operators.geometry import (
    geodesic_measures, geom_measures, simplify_features)
from go_shapefile_spark.operators.vector_tiles import (
    vector_tiles, vector_tiles_lines)
from go_shapefile_spark.plans.audit import executed_plan
from go_shapefile_spark.sources.shapefile import (
    project_batch, read_shapefile_df, read_shapefile_dir)

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
