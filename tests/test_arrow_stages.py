"""Python stages take and yield Arrow batches: no pandas stage in the
package, and a NaN a stage or a driver-local finish emits stays NaN.
Relations materialize only through ``operators/pinning.py``."""

import ast
import math
from pathlib import Path

import numpy as np

import go_shapefile_spark

PANDAS_STAGES = {"mapInPandas", "applyInPandas", "pandas_udf"}
# pyspark has no Arrow stateful API: the stateful streaming operators
# keep applyInPandasWithState
STATEFUL = {"sessions.py", "trajectory.py", "funnel.py"}
MATERIALIZE = {"cache", "persist", "localCheckpoint", "checkpoint"}


def _names(node) -> list[str]:
    if isinstance(node, ast.Attribute):
        return [node.attr]
    if isinstance(node, ast.Name):
        return [node.id]
    if isinstance(node, ast.ImportFrom):
        return [a.name for a in node.names]
    return []


def test_no_pandas_python_stages():
    root = Path(go_shapefile_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        if path.parent.name == "streaming" and path.name in STATEFUL:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            found += [f"{path.relative_to(root)}:{node.lineno} {n}"
                      for n in _names(node) if n in PANDAS_STAGES]
    assert not found, found


def test_only_pinning_materializes():
    """No ``.cache()``, ``.persist()`` or checkpoint call outside the pin
    seam, so ``release_pins`` frees every materialized relation and the
    ``storage`` strategy reaches each of them."""
    root = Path(go_shapefile_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel == Path("operators", "pinning.py"):
            continue
        found += [f"{rel}:{node.lineno} {node.func.attr}"
                  for node in ast.walk(ast.parse(path.read_text()))
                  if isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Attribute)
                  and node.func.attr in MATERIALIZE]
    assert not found, found


def test_nan_survives_stage_and_to_spark(spark):
    """A NaN double, top level and inside an array, reads back NaN (not
    NULL) through a ported stage's pass-through columns, through a
    driver-local finish, and as a geometry ordinate a stage emits."""
    from go_shapefile_spark.functions.geojson import geojson_to_features
    from go_shapefile_spark.operators import local
    from go_shapefile_spark.sources.images import geotag_images

    schema = "phash long, x double, v array<double>"
    df = local.to_spark(spark, {"phash": [7, 8], "x": [np.nan, 1.0],
                                "v": [[1.0, np.nan], None]}, schema)
    tagged = geotag_images(df)
    for rows in (df.collect(), tagged.collect()):
        rows = sorted(rows, key=lambda r: r.phash)
        assert math.isnan(rows[0].x) and rows[1].x == 1.0
        assert rows[0].v[0] == 1.0 and math.isnan(rows[0].v[1])
        assert rows[1].v is None

    doc = '{"geometry": {"type": "Point", "coordinates": [NaN, 1.0]}}'
    [row] = geojson_to_features(spark.createDataFrame(
        [(1, doc)], "fid long, geojson string")).collect()
    x, y = row.geometry.coords
    assert math.isnan(x) and y == 1.0


def test_grouped_arrow_stage_is_a_python_node(spark):
    """``applyInArrow`` plans as FlatMapGroupsInArrow, which the plan
    audits count as a Python stage."""
    from go_shapefile_spark.operators.tiles import vectorize_raster
    from go_shapefile_spark.plans.audit import aqe_off, python_operators

    raster = spark.createDataFrame(
        [(1, 2, 0, 0), (1, 2, 1, 0), (1, 2, 0, 1)],
        "cell long, fid long, px int, py int")
    rects = vectorize_raster(raster, tile_px=4)
    with aqe_off(spark):
        assert python_operators(rects) == ["FlatMapGroupsInArrow"]
    assert sorted(map(tuple, rects.collect())) == [
        (1, 2, 0, 0, 1, 0), (1, 2, 0, 1, 0, 1)]


def test_values_keep_ordinates_numpy():
    """A kernel's input values: list fields (top level or in a struct)
    as numpy arrays, NULL rows and NULL lists as None."""
    import pyarrow as pa

    from go_shapefile_spark.operators.local import values

    coords = pa.array([[1.0, np.nan], None, [3.0]], pa.list_(pa.float64()))
    geom = pa.StructArray.from_arrays(
        [pa.array(["XY", "XY", "XY"]), coords], names=["layout", "coords"],
        mask=pa.array([False, False, True]))
    a, b, c = values(coords)
    assert isinstance(a, np.ndarray) and a[0] == 1.0 and np.isnan(a[1])
    assert b is None and list(c) == [3.0]
    g0, g1, g2 = values(geom)
    assert g0["layout"] == "XY" and isinstance(g0["coords"], np.ndarray)
    assert g1 == {"layout": "XY", "coords": None} and g2 is None
    assert values(pa.array([1, None])) == [1, None]
