"""The one bounded-local seam: when an iterative operator finishes on
the driver instead of on the cluster.

An operator that knows the EXACT size of its remaining work (a
convergence checksum, a 1-row agg on a pinned relation) finishes with
one bounded Arrow collect plus vectorized numpy when that size is
within its cap; at that size the distributed rounds are pure job
latency.  Larger inputs keep the distributed path, so the collected
bytes are bounded by the cap at any input scale.

Sizing rule: driver numpy is SINGLE-THREADED, so a cap must keep the
numpy pass small next to the shuffle latency it removes (a viewshed
evaluator lost 2x to the parallel SQL path that way and was reverted).

The caps are read at call time; setting every name in :data:`CAPS` to
0 sends every operator down its distributed path.
"""

from __future__ import annotations

CC_EDGES = 2_000_000          # connected_components live edges (~32 MB)
GRID_CELLS = 1_000_000        # distance / cost / flow occupied grid cells
TRIANGLE_EDGES = 2_000_000    # triangle_counts distinct edges
TRIANGLE_WEDGES = 25_000_000  # ... and oriented wedges, from degrees

CAPS = ("CC_EDGES", "GRID_CELLS", "TRIANGLE_EDGES", "TRIANGLE_WEDGES")


def within(n: int, cap: int) -> bool:
    """The exact-count test: go driver-local when ``n`` is at most
    ``cap``."""
    return n <= cap


def to_spark(spark, columns: dict, schema):
    """Driver-computed columns → a DataFrame with ``schema``; empty
    columns give an empty frame."""
    import pandas as pd

    pdf = pd.DataFrame(columns)
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pdf, schema)
