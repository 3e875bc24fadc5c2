"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship engine path: Natural Earth ne_110m
polygons (parsed by the shapefile source) × deterministically geotagged
points → Morton cell cover → broadcast spatial join → per-country tile
rollup.  ``queries()``/``oracle_sql()`` expose every implemented operator
with DuckDB-checkable twins (see go_shapefile_spark/queries.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from go_shapefile_spark.queries import build_registry, register_tables

_REGISTRY = None


def _registry():
    global _REGISTRY
    if _REGISTRY is None:
        _REGISTRY = build_registry()
    return _REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: spatial join of geotagged
    events against ne_110m country polygons, rolled up per country."""
    from pyspark.sql import functions as F

    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)
    from go_shapefile_spark.queries import SPARK, geotagged_events_cte
    from go_shapefile_spark.sources.shapefile import read_shapefile_df

    sf_dir = "/root/testdata/sf0.001"
    register_tables(spark, sf_dir)
    pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} SELECT id, lon, lat FROM pts")

    countries_zip = "/root/reference/testdata/110m-admin-0-countries.zip"
    if os.path.exists(countries_zip):
        features = read_shapefile_df(spark, countries_zip)
        # 177 countries are within local.COVER_FEATURES: one bounded
        # collect, the cover builds on the driver
        cover = PreparedCover.from_features(
            features.select("fid", "geometry"), res=6)
        names = features.select("fid", "NAME")
        joined = spatial_join_prepared(pts, cover)
        return (joined.join(names, joined.polygon_fid == names.fid)
                .groupBy("NAME").agg(F.count(F.lit(1)).alias("n_points"))
                .orderBy(F.col("n_points").desc(), F.col("NAME")))
    # fallback: pure-relational flagship if the reference corpus is absent
    return _registry()[0]["q5_region_revenue"](spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family from SURVEY.md §2."""
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (identical algebra to the
    Spark side; generated from shared templates)."""
    return _registry()[1]
