"""Sketch-based statistics for 100-TB pipelines.

Exact ``COUNT(DISTINCT ...)`` and exact quantiles need a full shuffle of
every distinct value / every row to one place; sketches answer the same
questions with bounded per-group state and map-side mergeability:

* **HLL++** (``approx_count_distinct``) — distinct counts in O(kB) of
  state per group, merged associatively across partitions;
* **KLL/GK-style quantiles** (``percentile_approx``) — rank queries with
  bounded error, also merge-friendly.

Both are Spark-builtin JVM aggregates — nothing leaves whole-stage
codegen.  Sketches are approximate by nature, so the oracle gate pins a
CONTRACT rather than hash-equality of the estimates: the Spark side
computes the estimate AND the exact value in one pass, emits the exact
value plus a within-tolerance boolean per group, and the DuckDB oracle
reproduces the exact values with the booleans pinned TRUE (the
image-invariants gate pattern).  A broken sketch (or a silently changed
default rsd/accuracy) flips the gate red.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import hashes as H
from . import local


def heavy_hitters(tokens: DataFrame, col: str = "tok",
                  capacity: int = 64) -> DataFrame:
    """phi-heavy hitters via a per-partition Misra-Gries sketch plus an
    exact candidate recount — the bounded-memory answer to "which items
    exceed a frequency threshold" when the item cardinality is too
    large to shuffle (the 100-TB top-token / hot-key / hot-URL query).

    Pass 1 (sketch): every partition keeps at most ``capacity`` (c)
    counters.  Batches merge by value_counts; when the table exceeds c
    entries, subtract the (c+1)-th largest count m from every entry and
    drop the non-positive ones.  m is the (c+1)-th LARGEST, so >= c+1
    entries each lose exactly m: every unit of per-item decrement is
    matched by >= c+1 units of removed mass, hence total per-item
    decrement <= n_p/(c+1) (Misra & Gries 1982, batch form).  An item
    with global count > n/(c+1) must exceed n_p/(c+1) in at least one
    partition (pigeonhole), so it SURVIVES that partition's sketch: the
    union of partition candidates is a guaranteed superset of the true
    heavy hitters.  Sketch output is O(c x partitions) rows — the only
    thing that ever leaves a partition; the raw stream never shuffles.

    Pass 2 (exact): the tiny candidate set comes back as an ``isin``
    literal (JVM codegen — no Python in the recount scan), counts are
    exact, and the final filter ``cnt * (c+1) > n`` keeps exactly the
    items the guarantee covers.  The output is therefore EXACT and
    deterministic — independent of partitioning, batch boundaries, and
    every sketch-internal tie — which is what lets a DuckDB oracle
    check it relationally (q:heavy_hitters_tokens).

    Returns ``(item, cnt)`` with the input column's name preserved.
    """
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    c = int(capacity)
    if c < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")

    def sketch(batches):
        state: dict = {}
        n_seen = 0
        for rb in batches:
            toks = rb.column(col).drop_null()
            n_seen += len(toks)
            for vc in pc.value_counts(toks).to_pylist():
                state[vc["values"]] = state.get(vc["values"], 0) + vc["counts"]
            if len(state) > c:
                m = sorted(state.values(), reverse=True)[c]
                state = {t: v - m for t, v in state.items() if v > m}
        yield {col: list(state) + [None],
               "cnt": list(state.values()) + [n_seen]}

    sk = local.map_arrow(tokens.select(col), sketch,
                         f"{col} string, cnt long")
    rows = sk.collect()                      # <= (c+1) x partitions rows
    n = sum(r.cnt for r in rows if r[col] is None)
    cands = sorted({r[col] for r in rows if r[col] is not None})
    if not cands or n == 0:
        return (tokens.select(col).limit(0)
                .withColumn("cnt", F.lit(0).cast("long")))
    return (tokens.where(F.col(col).isin(cands))
            .groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") * (c + 1) > F.lit(n)))


def heavy_hitters_oracle_sql(dialect: str, capacity: int = 64,
                             rel: str = "documents") -> str:
    """Relational twin of :func:`heavy_hitters` over the token stream of
    ``{rel}.text`` — exact counts with the same strict threshold (the
    guarantee means the sketched path returns exactly this set)."""
    from ..functions import hashes as H
    return f"""
WITH toks AS (
  SELECT {H.split_tokens('text', dialect)} AS tok FROM {rel}),
clean AS (SELECT tok FROM toks WHERE tok <> ''),
tot AS (SELECT COUNT(*) AS n FROM clean)
SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
FROM clean, tot
GROUP BY tok, tot.n
HAVING COUNT(*) * {int(capacity) + 1} > tot.n
"""


def sketch_stats_spark_sql(rel: str = "documents",
                           rel_tol: float = 0.05) -> str:
    """Spark side: per-source doc stats — exact + sketched, one pass."""
    return f"""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT {rel}.text) AS exact_distinct,
       CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
       CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len,
       (ABS(approx_count_distinct(text, 0.01D)
            - COUNT(DISTINCT {rel}.text))
          <= {rel_tol} * COUNT(DISTINCT {rel}.text)) AS hll_ok,
       (percentile_approx(LENGTH(text), CAST(0.5 AS DOUBLE), 10000)
          BETWEEN MIN(LENGTH(text)) AND MAX(LENGTH(text))
        AND ABS(percentile_approx(LENGTH(text), CAST(0.5 AS DOUBLE), 10000)
                - MEDIAN(LENGTH(text))) <= GREATEST(1.0,
                    {rel_tol} * MEDIAN(LENGTH(text)))) AS p50_ok
FROM {rel}
GROUP BY source
"""


def sketch_stats_oracle_sql(rel: str = "documents") -> str:
    """DuckDB oracle: the exact columns recomputed relationally, the
    sketch-contract booleans pinned TRUE."""
    return f"""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT text) AS exact_distinct,
       CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
       CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len,
       TRUE AS hll_ok,
       TRUE AS p50_ok
FROM {rel}
GROUP BY source
"""


def kmv_overlap_sql(dialect: str, rel: str = "events",
                    group: str = "event_type", member: str = "user_id",
                    k: int = 64, union_tol: float = 0.15,
                    inter_tol: float = 0.25) -> str:
    """KMV (k-minimum-values) sketch SET OPERATIONS: estimated distinct
    union and intersection between every pair of groups — the "how many
    users in region A AND region B" query whose exact answer needs a
    full distinct shuffle per pair, answered from k-row mergeable
    sketches (Beyer et al., SIGMOD'07).

    Everything is relational and DETERMINISTIC: a group's sketch is the
    k smallest md5-derived member hashes (exact k-minima — a pure
    function of the set, no RNG), the union sketch is the k smallest of
    the two sketches' union, the estimators are arithmetic on those
    exact integers: D_union ≈ (k-1)·2^32/h_k, Jaccard ≈ (shared hashes
    in the union sketch)/k, D_inter ≈ Jaccard·D_union.  Like the HLL
    gate, the oracle pins the EXACT values plus within-tolerance
    booleans — a broken estimator or a changed hash flips the gate.

    Scale: sketches are k rows per group (mergeable, broadcastable);
    the pairwise stage runs on sketches only — pairs never touch the
    raw member stream.
    """
    return kmv_ctes_sql(dialect, rel, group, member, k) + f"""\
SELECT g1, g2, exact_union, exact_inter,
       (ABS(est_union - exact_union)
          <= GREATEST(CAST(3.0 AS DOUBLE),
                      {float(union_tol)!r} * exact_union)) AS union_ok,
       (ABS(jac_est * est_union - exact_inter)
          <= GREATEST(CAST(5.0 AS DOUBLE),
                      {float(inter_tol)!r} * exact_union)) AS inter_ok
FROM kfinal
"""


def kmv_ctes_sql(dialect: str, rel: str = "events",
                 group: str = "event_type", member: str = "user_id",
                 k: int = 64) -> str:
    """:func:`kmv_overlap_sql`'s CTEs, up to ``kfinal`` (per group pair:
    exact union/intersection and the KMV estimates)."""
    st = "STRING" if dialect == H.SPARK else "VARCHAR"
    h = H.h32(f"CAST(m AS {st})", dialect)
    two32 = float(1 << 32)
    return f"""
km AS (SELECT DISTINCT {group} AS g, {member} AS m FROM {rel}),
kh AS (SELECT g, {h} AS h FROM km),
ksk AS (
  SELECT g, h, rk FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
    FROM kh) t WHERE rk <= {int(k)}),
kgroups AS (SELECT g, COUNT(*) AS n_sk FROM ksk GROUP BY g),
kpairs AS (
  SELECT a.g AS g1, b.g AS g2
  FROM kgroups a JOIN kgroups b ON a.g < b.g),
kuh AS (
  SELECT p.g1, p.g2, s.h,
         MAX(CASE WHEN s.g = p.g1 THEN 1 ELSE 0 END) AS in1,
         MAX(CASE WHEN s.g = p.g2 THEN 1 ELSE 0 END) AS in2
  FROM kpairs p JOIN ksk s ON s.g = p.g1 OR s.g = p.g2
  GROUP BY p.g1, p.g2, s.h),
kur AS (
  SELECT g1, g2, h, in1, in2,
         ROW_NUMBER() OVER (PARTITION BY g1, g2 ORDER BY h) AS rk
  FROM kuh),
kest AS (
  SELECT g1, g2,
         COUNT(*) AS n_u,
         MAX(h) AS h_k,
         SUM(in1 * in2) AS n_shared
  FROM kur WHERE rk <= {int(k)}
  GROUP BY g1, g2),
kexact AS (
  SELECT a.g1, a.g2,
         CAST(COUNT(DISTINCT u.m) AS BIGINT) AS exact_union,
         CAST(COUNT(DISTINCT CASE WHEN ia.m IS NOT NULL
                                   AND ib.m IS NOT NULL THEN u.m END)
              AS BIGINT) AS exact_inter
  FROM kpairs a
  JOIN km u ON u.g = a.g1 OR u.g = a.g2
  LEFT JOIN km ia ON ia.g = a.g1 AND ia.m = u.m
  LEFT JOIN km ib ON ib.g = a.g2 AND ib.m = u.m
  GROUP BY a.g1, a.g2),
kfinal AS (
  SELECT e.g1, e.g2, x.exact_union, x.exact_inter,
         CASE WHEN e.n_u < {int(k)}
              THEN CAST(e.n_u AS DOUBLE)
              ELSE CAST({int(k) - 1} AS DOUBLE) * {two32!r}
                   / CAST(e.h_k AS DOUBLE) END AS est_union,
         CAST(e.n_shared AS DOUBLE) / CAST(e.n_u AS DOUBLE) AS jac_est
  FROM kest e JOIN kexact x ON e.g1 = x.g1 AND e.g2 = x.g2)
"""
