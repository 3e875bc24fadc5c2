"""The workloads: one iteration's action sequence, its output check,
and the sub-layer probes of the traced run.

Every workload drives the engine only through its public functions.  An
iteration runs its actions one after another on the calling thread.
``counts`` holds the per-layer counts of the latest iteration or probe,
under their metric names.  ``nominal_s`` is the warm iteration time on
the machine in README.md; ``run.py`` derives the number of timed
iterations from it and ``--seconds``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen


def scan_probe(spark, tracer, base: str, counts: dict) -> None:
    """The shapefile source alone: parse every record into Spark rows."""
    from go_shapefile_spark.sources.shapefile import read_shapefile_df

    with tracer.span("sources.scan"):
        counts["sources.records"] = read_shapefile_df(spark, base).count()


class JoinWorkload:
    """read -> PreparedCover.from_features -> spatial_join_prepared ->
    count per NAME -> tile_counts over the same points."""

    nominal_s = 7.0

    def __init__(self, data_dir: str, expected: dict, out_dir: str):
        self.base = os.path.join(data_dir, "countries")
        self.points = os.path.join(data_dir, "points")
        self.expected = expected
        self.counts: dict = {}

    def _points(self, spark):
        from go_shapefile_spark.operators.geotag import with_lonlat_jvm
        return with_lonlat_jvm(spark.read.parquet(self.points)
                               .select("idx", "phash"))

    def iteration(self, spark, tracer) -> dict:
        from go_shapefile_spark.operators.spatial_join import (
            PreparedCover, spatial_join_prepared)
        from go_shapefile_spark.operators.tiles import tile_counts
        from go_shapefile_spark.sources.shapefile import read_shapefile_df

        features = read_shapefile_df(spark, self.base)
        with tracer.span("spatial_join.cover"):
            cover = PreparedCover.from_features(
                features.select("fid", "geometry"), gen.JOIN_RES)
        pts = self._points(spark)
        with tracer.span("spatial_join.probe"):
            joined = spatial_join_prepared(pts, cover,
                                           keep_cols=["idx", "polygon_fid"])
            names = features.select(F.col("fid").alias("polygon_fid"), "NAME")
            per_name = (joined.join(F.broadcast(names), "polygon_fid")
                        .groupBy("NAME").count().toPandas())
        with tracer.span("tiles.rollup"):
            tiles = tile_counts(pts, gen.TILE_RES).toPandas()
        self.counts["spatial_join.join_rows"] = int(per_name["count"].sum())
        self.counts["tiles.cells"] = len(tiles)
        return {"per_name": per_name, "tiles": tiles}

    def check(self, out: dict) -> list[str]:
        return checks.check_join(self.expected, out["per_name"], out["tiles"])

    def probes(self, spark, tracer) -> None:
        """Sub-layer actions of the traced run: the source scan alone, the
        geotag + cell column alone, and the rows that reach the crossing
        filter of a freshly built cover."""
        from go_shapefile_spark.functions.cells import cell_sql
        from go_shapefile_spark.operators.spatial_join import PreparedCover
        from go_shapefile_spark.sources.shapefile import read_shapefile_df

        c = self.counts
        scan_probe(spark, tracer, self.base, c)
        with tracer.span("geotag.cell"):
            (self._points(spark)
             .withColumn("cell", F.expr(cell_sql("lon", "lat", gen.JOIN_RES)))
             .write.format("noop").mode("overwrite").save())
        cover = PreparedCover.from_features(
            read_shapefile_df(spark, self.base).select("fid", "geometry"),
            gen.JOIN_RES)
        with tracer.span("spatial_join.refine"):
            pts = self._points(spark).withColumn(
                "cell", F.expr(cell_sql("lon", "lat", cover.res)))
            full_rows = pts.join(F.broadcast(cover.full), "cell").count()
            c["spatial_join.cover_rows"] = cover.full.count()
            c["spatial_join.refine_candidates"] = 0
            for side in ("narrow", "wide"):
                df = getattr(cover, side)
                n = df.count() if df is not None else 0
                c[f"spatial_join.cover_{side}_rows"] = n
                c["spatial_join.cover_rows"] += n
                if n:
                    c["spatial_join.refine_candidates"] += pts.join(
                        F.broadcast(df.select("cell")), "cell").count()
        kept = c["spatial_join.join_rows"] - full_rows
        c["spatial_join.refine_hit_ratio"] = (
            kept / c["spatial_join.refine_candidates"]
            if c["spatial_join.refine_candidates"] else 0.0)
        spark.catalog.clearCache()


class TilesRegistryWorkload:
    """vector_tiles over the parcels bundle, written out as parquet, then
    the registry queries of ``gen.REGISTRY_QUERIES``, collected."""

    nominal_s = 3.5

    def __init__(self, data_dir: str, expected: dict, out_dir: str):
        from go_shapefile_spark.queries import build_registry
        self.data_dir = data_dir
        self.base = os.path.join(data_dir, "parcels")
        self.vt_out = os.path.join(out_dir, "vector_tiles")
        self.expected = expected
        self.queries = build_registry()[0]
        self.counts: dict = {}

    def iteration(self, spark, tracer) -> dict:
        from go_shapefile_spark.operators.vector_tiles import vector_tiles
        from go_shapefile_spark.sources.shapefile import read_shapefile_df

        features = read_shapefile_df(spark, self.base)
        with tracer.span("vector_tiles.clip"):
            (vector_tiles(features, gen.PARCEL_TILE_RES)
             .write.mode("overwrite").parquet(self.vt_out))
        out = {}
        for name in gen.REGISTRY_QUERIES:
            with tracer.span(f"queries.{name}"):
                out[name] = self.queries[name](spark, self.data_dir).toPandas()
        return out

    def check(self, out: dict) -> list[str]:
        vt = pq.read_table(self.vt_out, columns=["fid", "area"])
        self.counts["vector_tiles.rows"] = vt.num_rows
        problems = checks.check_vector_tiles(
            self.expected, vt.column("fid").to_numpy().astype(np.int64),
            vt.column("area").to_numpy())
        return problems + [
            p for name in gen.REGISTRY_QUERIES
            for p in checks.check_query(self.expected, name, out[name])]

    def probes(self, spark, tracer) -> None:
        scan_probe(spark, tracer, self.base, self.counts)


WORKLOADS = {
    "countries_join": JoinWorkload,
    "tiles_registry": TilesRegistryWorkload,
}
