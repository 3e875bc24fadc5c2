"""Skew mitigation: salted two-phase aggregation (SURVEY.md §2.B E9).

Hot cells are structural in geospatial workloads (a few metro cells
receive most synthetic points; a few countries most of the matched
rows).  A single ``groupBy(cell)`` puts every hot cell's rows in one
reducer.  The salted pattern splits each key into ``n_salts`` subkeys,
aggregates partially (map-side combine already shrinks this), then
aggregates the partials — two small shuffles instead of one skewed one.

AQE's skew-join splitting handles the *join* side; this handles the
*aggregation* side, which AQE does not rebalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count(df: DataFrame, key_cols: list[str], n_salts: int = 16,
                 salt_src: str | Column | None = None) -> DataFrame:
    """count(*) per key via salted two-phase aggregation.

    ``salt_src``: a column/expression to derive the salt from (any
    high-cardinality column, e.g. ``phash``); defaults to a random-ish
    deterministic spread using ``spark_partition_id``.
    """
    if salt_src is None:
        salt = F.spark_partition_id() % n_salts
    else:
        col = F.col(salt_src) if isinstance(salt_src, str) else salt_src
        salt = F.pmod(F.xxhash64(col), F.lit(n_salts))
    partial = (df.withColumn("_salt", salt)
               .groupBy(*key_cols, "_salt")
               .agg(F.count(F.lit(1)).alias("_partial_n")))
    return (partial.groupBy(*key_cols)
            .agg(F.sum("_partial_n").alias("n")))

