"""The one bounded-local seam: when an operator finishes on the driver
instead of on the cluster.

An operator decides with one bounded collect (:func:`collect_within`,
at most ``cap + 1`` rows as Arrow).  Within the cap it finishes on the
driver with vectorized numpy, where distributed rounds would be pure
job latency; above it, it keeps its distributed path and pins only
then, so the collected bytes are bounded by the cap at any input scale.
(``connected_components`` tests :func:`within` on the exact count its
convergence checksum gives for free.)

Sizing rule: driver numpy is SINGLE-THREADED, so a cap must keep the
numpy pass small next to the shuffle latency it removes (a viewshed
evaluator lost 2x to the parallel SQL path that way and was reverted).

``COVER_FEATURES`` follows it.  The driver cell cover of ~400-vertex
polygons at res 8 costs ~3.2 ms of numpy per polygon (0.65 s for 180,
19,439 cover rows), against ~1.2 s of job latency it removes from the
distributed cover build (9 jobs -> 1).  Cover build plus one
per-polygon join count over 200k points, local[4], range of warm runs:
180 polygons 3.3-4.7 s driver vs 5.2-6.2 s distributed, 350 3.3-4.1 vs
3.9-4.6, 500 3.7-4.1 vs 4.0-4.6, 1,000 6.9-7.5 vs 5.0-6.0 — so the cap
sits at the 500-polygon break-even.

``BROADCAST_ROWS`` bounds the cover a join broadcasts: a bigger cover
joins by shuffling both sides on ``cell``.

``SCAN_BYTES`` bounds the single-split shapefile that
``read_shapefile_df`` decodes on the driver and hands to Spark as a
LocalRelation; the size is exact at plan time (the ``.shx`` record
lengths and headers plus the ``.dbf`` records).  Every Python scan task
pays a fixed start, while the driver decode plus the Arrow →
LocalRelation hand-off grows with the bytes.  Measured: 4-8-vertex
parcels read and fully materialized (a ``noop`` write), medians of 5
warm runs, local[4] — 0.93 MB 0.11 s on the driver vs 0.28 s through
the one-task scan, 1.86 MB 0.15 vs 0.31, 3.72 MB 0.22 vs 0.32, 7.43 MB
0.39 vs 0.42: break-even near 8 MB.  The cap sits at half of it, as
driver decode is single-threaded and blocks the caller.  That sizing
predates the engine's worker daemon (``_worker_daemon``), which cut
the start: a 1-task no-op ``mapInArrow`` job 0.32 → 0.15 s (medians,
against 0.07 s for a 1-task JVM job, local[4], BENCH.md); the
break-even was not re-measured since.

``SCAN_BYTES`` is also the split size of a bigger file: ``split_bounds``
cuts a range-reading file into one split per ``SCAN_BYTES``, up to the
session's slot count, so no scan task decodes less than the driver
would itself.  tiles_registry's 9.7 MB parcels take 2 splits, and its
``job_s`` fell 23 % with the daemon (BENCH.md); a probe of 3 and 4
splits cut it no further but raised ``peak_rss_mb`` by ~23 % (a Python
worker and more JVM heap per task).

The caps are read at call time; setting every name in :data:`CAPS` to
0 sends every operator down its distributed path (an empty input, 0
within 0, still finishes locally).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

CC_EDGES = 2_000_000          # connected_components live edges (~32 MB)
GRID_CELLS = 1_000_000        # distance / cost / flow occupied grid cells
TRIANGLE_EDGES = 2_000_000    # triangle_counts distinct edges
TRIANGLE_WEDGES = 25_000_000  # ... and oriented wedges, from degrees
COVER_FEATURES = 500          # polygons whose cell cover builds on the driver
BROADCAST_ROWS = 4_000_000    # cover rows a spatial join still broadcasts
SCAN_BYTES = 4 << 20          # shapefile bytes a read decodes here; split size

CAPS = ("CC_EDGES", "GRID_CELLS", "TRIANGLE_EDGES", "TRIANGLE_WEDGES",
        "COVER_FEATURES", "BROADCAST_ROWS", "SCAN_BYTES")


def within(n: int, cap: int) -> bool:
    """The exact-count test: go driver-local when ``n`` is at most
    ``cap``."""
    return n <= cap


def collect_within(df, cap: int):
    """``df`` as a ``pa.Table`` when it has at most ``cap`` rows, else
    None; at most ``cap + 1`` rows are collected."""
    table = df.limit(cap + 1).toArrow()
    return table if within(table.num_rows, cap) else None


def arrow_builder(schema):
    """The output builder of every Python stage and driver-local finish:
    ``schema`` (DDL or StructType), parsed here on the driver → a
    function from a mapping of columns (numpy arrays, lists or Arrow
    arrays) to a RecordBatch of exactly its Arrow types, which is what
    Spark reads (``int32`` under ``long`` fails in the JVM).  A NaN
    stays NaN; only ``None`` is NULL."""
    arrow = to_arrow_schema(DataType.fromDDL(schema)
                            if isinstance(schema, str) else schema)

    def build(columns) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [c.cast(f.type) if isinstance(c, pa.Array)
             else pa.array(c, type=f.type, from_pandas=False)
             for f in arrow for c in [columns[f.name]]], schema=arrow)
    return build


def values(col) -> list:
    """A column's per-row values for a Python kernel: lists as numpy
    arrays (a Python float per ordinate costs more than the kernels),
    structs as dicts of their fields' values, None for a NULL row."""
    if pa.types.is_struct(col.type):
        names = [f.name for f in col.type]
        return [dict(zip(names, r)) if ok else None for ok, r in zip(
            col.is_valid().to_pylist(), zip(*map(values, col.flatten())))]
    return list(col.to_numpy(zero_copy_only=False)) \
        if pa.types.is_list(col.type) else col.to_pylist()


def map_arrow(df, fn, schema):
    """``df.mapInArrow``: ``fn`` takes an iterator of RecordBatches and
    yields column mappings, each built into a batch of ``schema``."""
    build = arrow_builder(schema)
    return df.mapInArrow(lambda batches: map(build, fn(batches)), schema)


def apply_arrow(grouped, fn, schema):
    """``grouped.applyInArrow``: ``fn(key, table)``, the group key as
    Python values, returns the group's column mapping."""
    build = arrow_builder(schema)
    return grouped.applyInArrow(
        lambda key, table: pa.Table.from_batches(
            [build(fn(tuple(k.as_py() for k in key), table))]), schema)


def to_spark(spark, columns: dict, schema):
    """Driver-computed columns → a DataFrame with ``schema``, from one
    Arrow table whose columns are already named: a bare LocalRelation."""
    return spark.createDataFrame(
        pa.Table.from_batches([arrow_builder(schema)(columns)]), schema)
