"""The end-to-end north-rule pipeline with per-partition lineage/resume.

Composes the engine's pieces the way a 10^12-image production run would:
the image table is processed in hash buckets of ``phash`` (the Iceberg
``bucket(phash)`` partition spec stand-in); each bucket runs geotag →
cell → broadcast spatial join and lands its matched rows in its own
output directory; a lineage row (stage, bucket, row_count, wall time)
is recorded only after the bucket's output is durable.  A killed run
resumes by skipping buckets whose lineage says done — tested by
kill-and-rerun equivalence against a single-shot join.

The per-bucket rollup is a two-phase aggregation: bucket outputs hold
partial per-polygon counts; the final rollup sums partials — so no
stage ever re-shuffles the full point set.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.lineage import LineageLog, run_stage, stage_output
from .operators.spatial_join import PreparedCover, spatial_join_prepared

STAGE_JOIN = "spatial_join"


def spatial_pipeline(spark: SparkSession, points_for_bucket: Callable[[int], DataFrame],
                     polygons: list[dict], out_root: str, n_buckets: int,
                     res: int = 7,
                     lon_col: str = "lon", lat_col: str = "lat",
                     snapshot_id: str = "v1") -> dict[str, int]:
    """Run the bucketed spatial join with lineage; returns per-bucket rows
    written THIS call (buckets already done at this ``snapshot_id`` are
    skipped — pass ``lineage.input_snapshot_id(...)`` of the point table
    so input changes invalidate the resume)."""
    lineage = LineageLog(f"{out_root}/_lineage")
    cover = PreparedCover(spark, polygons, res)

    def build(key: str) -> DataFrame:
        pts = points_for_bucket(int(key))
        joined = spatial_join_prepared(pts, cover, lon_col=lon_col,
                                       lat_col=lat_col)
        # partial per-polygon counts: the durable unit is small and the
        # final rollup never touches point-level rows again
        return joined.groupBy("polygon_fid").agg(
            F.count(F.lit(1)).alias("partial_n"))

    return run_stage(STAGE_JOIN, [str(b) for b in range(n_buckets)],
                     build, out_root, lineage, snapshot_id=snapshot_id)


def pipeline_rollup(spark: SparkSession, out_root: str) -> DataFrame:
    """Final phase of the two-phase aggregation over all bucket outputs."""
    return (stage_output(spark, out_root, STAGE_JOIN)
            .groupBy("polygon_fid")
            .agg(F.sum("partial_n").alias("n_points")))


def bucketed_points(df: DataFrame, n_buckets: int,
                    key_col: str = "phash") -> Callable[[int], DataFrame]:
    """Default bucket factory: pmod(xxhash64(key), n_buckets).  On a real
    layout the bucket is a partition directory and this becomes partition
    pruning instead of a filter."""
    def factory(bucket: int) -> DataFrame:
        return df.where(F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
                        == bucket)
    return factory
