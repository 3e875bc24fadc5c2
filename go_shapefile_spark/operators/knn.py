"""Cell-local kNN via neighbor-ring expansion (SURVEY.md §2.B E7).

Radius-bounded kNN entirely in JVM-side built-ins: no Python in the hot
path, no cross join.  The query side explodes into its 3×3 cell
neighborhood at a resolution chosen so one cell is at least the radius
wide — the neighborhood then provably covers the query disk — and
equi-joins the point side on ``cell``.  Distance filter + window top-k
finish the job.  The shuffle key is ``cell`` (spatially local Morton
ids), so co-located points land in the same partitions.

Exactness: identical output to a brute-force cross join with the same
planar-degree distance and (dist², id) ordering — verified by the DuckDB
oracle at sf0.01 and a numpy oracle in tests.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells as C


def radius_resolution(radius_deg: float) -> int:
    """Largest resolution whose cell height (180/2^r) still ≥ radius, so a
    3×3 neighborhood covers a disk of ``radius_deg``."""
    if radius_deg <= 0:
        raise ValueError("radius must be positive")
    return max(0, min(C.MAX_RES, int(math.floor(math.log2(180.0 / radius_deg)))))


KM_PER_DEG = 111.19492664455873      # Earth mean radius · π/180
EARTH_RADIUS_KM = 6371.0088


def _ring_candidates(points: DataFrame, queries: DataFrame, res: int,
                     id_col: str, lon_col: str, lat_col: str) -> DataFrame:
    """Candidate pairs via the 3×3 cell-ring equi-join (the shared
    skeleton of both kNN metrics): (query_id, q_lon, q_lat, neighbor_id,
    n_lon, n_lat), self-pairs excluded.

    The neighborhood explodes from a literal offset array — a Generate
    node, not a join, so the plan stays free of BroadcastNestedLoopJoin;
    lon wraps, lat clamps.
    """
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    q = (queries
         .select(F.col(id_col).alias("query_id"),
                 F.col(lon_col).alias("q_lon"), F.col(lat_col).alias("q_lat"),
                 F.explode(offsets).alias("o"))
         .withColumn("n_lon", ((F.col("q_lon") + F.col("o.dx") * F.lit(w)
                                + 180.0 + 360.0) % 360.0) - 180.0)
         .withColumn("n_lat", F.greatest(F.lit(-90.0),
                                         F.least(F.lit(90.0 - h / 2),
                                                 F.col("q_lat") + F.col("o.dy") * F.lit(h))))
         .withColumn("cell", F.expr(C.cell_sql("n_lon", "n_lat", res)))
         .select("query_id", "q_lon", "q_lat", "cell")
         .dropDuplicates(["query_id", "cell"]))

    p = points.select(F.col(id_col).alias("neighbor_id"),
                      F.col(lon_col).alias("n_lon"), F.col(lat_col).alias("n_lat"),
                      F.expr(C.cell_sql(lon_col, lat_col, res)).alias("cell"))

    return (q.join(p, "cell")
            .where(F.col("neighbor_id") != F.col("query_id")))


def haversine_resolution(radius_km: float, max_abs_lat: float = 85.0) -> int:
    """Largest resolution whose 3×3 ring covers a great-circle disk of
    ``radius_km`` for any query with |lat| ≤ max_abs_lat.

    The disk spans ±radius/111.19 degrees of latitude; its maximum
    longitude half-span for a CENTER at latitude φ is
    ``asin(sin(r/R) / cos φ)`` (the spherical bounding-box formula), so
    both the cell height and width must cover those spans.  If the disk
    reaches the pole (sin(r/R) ≥ cos φ) every longitude is in range and
    only res 0 covers — callers handle such queries via the polar-cap
    path instead."""
    if radius_km <= 0:
        raise ValueError("radius must be positive")
    dlat = math.degrees(radius_km / EARTH_RADIUS_KM)
    s = math.sin(radius_km / EARTH_RADIUS_KM) / \
        math.cos(math.radians(max_abs_lat))
    dlon = 360.0 if s >= 1 else math.degrees(math.asin(s))
    return max(0, min(C.MAX_RES,
                      int(math.floor(math.log2(180.0 / dlat))),
                      int(math.floor(math.log2(360.0 / dlon)))))


def knn_radius_haversine(points: DataFrame, queries: DataFrame, k: int,
                         radius_km: float, id_col: str = "id",
                         lon_col: str = "lon", lat_col: str = "lat",
                         max_abs_lat: float = 85.0,
                         res: int | None = None) -> DataFrame:
    """Great-circle kNN: k nearest points within ``radius_km`` by
    haversine distance — exact for EVERY query latitude.

    Queries with |lat| ≤ max_abs_lat run the 3×3 ring equi-join (same
    shape as :func:`knn_radius`; cell resolution from the spherical
    bounding-box formula).  Polar-cap queries (|lat| > max_abs_lat),
    whose disks can wrap every longitude, join only against the points
    whose latitude is within reach of the cap (|lat| >
    max_abs_lat − Δlat) — a tiny fraction of any realistic corpus for
    radii below ~9,400 km.  Past that (Δlat ≥ max_abs_lat) the cap disk
    can cross the equator, hemisphere pruning stops being sound, and the
    in-reach filter passes everything: the join degrades to cap-queries ×
    ALL points — inherent for a near-global radius — salted over 32
    tasks so it is at least spread, never a one-task funnel.  Returns
    (query_id, neighbor_id, dist_km, rank).
    """
    if res is None:
        res = haversine_resolution(radius_km, max_abs_lat)
    dlat = math.degrees(radius_km / EARTH_RADIUS_KM)
    hav = (
        "2 * {R} * asin(sqrt("
        "pow(sin(radians(q_lat - n_lat) / 2), 2) + "
        "cos(radians(q_lat)) * cos(radians(n_lat)) * "
        "pow(sin(radians(q_lon - n_lon) / 2), 2)))"
    ).format(R=EARTH_RADIUS_KM)

    low_q = queries.where(F.abs(F.col(lat_col)) <= max_abs_lat)
    pairs = (_ring_candidates(points, low_q, res, id_col, lon_col, lat_col)
             .withColumn("dist_km", F.expr(hav))
             .where(F.col("dist_km") <= float(radius_km))
             .dropDuplicates(["query_id", "neighbor_id"])
             .select("query_id", "neighbor_id", "dist_km"))

    cap_q = (queries.where(F.abs(F.col(lat_col)) > max_abs_lat)
             .select(F.col(id_col).alias("query_id"),
                     F.col(lon_col).alias("q_lon"),
                     F.col(lat_col).alias("q_lat")))
    cap_pts = (points.where(F.abs(F.col(lat_col)) > max_abs_lat - dlat)
               .select(F.col(id_col).alias("neighbor_id"),
                       F.col(lon_col).alias("n_lon"),
                       F.col(lat_col).alias("n_lat")))
    if dlat >= max_abs_lat:
        # the cap disk can cross the equator (radius ≳ 9,300 km):
        # hemisphere pruning is no longer sound — and signum(0) = 0 rows
        # would never match — so join every in-reach candidate, salted
        # so the near-global fan-out spreads over tasks
        n_salts = 32
        cap_joined = (cap_q.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
            .join(cap_pts.withColumn(
                "salt", F.pmod(F.xxhash64("neighbor_id"),
                               F.lit(n_salts)).cast("int")), "salt")
            .drop("salt"))
    else:
        # sound because an opposite-hemisphere point is ≥ max_abs_lat
        # degrees of latitude away — farther than the radius
        cap_joined = cap_q.join(cap_pts,
                                F.signum("q_lat") == F.signum("n_lat"))
    cap_pairs = (cap_joined
                 .where(F.col("neighbor_id") != F.col("query_id"))
                 .withColumn("dist_km", F.expr(hav))
                 .where(F.col("dist_km") <= float(radius_km))
                 .select("query_id", "neighbor_id", "dist_km"))
    pairs = pairs.unionByName(cap_pairs)

    win = Window.partitionBy("query_id").orderBy(F.col("dist_km").asc(),
                                                 F.col("neighbor_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist_km",
                    F.col("rank").cast("long").alias("rank")))


def knn_radius(points: DataFrame, queries: DataFrame, k: int, radius_deg: float,
               id_col: str = "id", lon_col: str = "lon", lat_col: str = "lat",
               res: int | None = None) -> DataFrame:
    """For every query row: its k nearest points within ``radius_deg``.

    Returns (query_id, neighbor_id, dist2, rank).  Self-pairs (same id)
    are excluded.  Planar-degree euclidean distance by default (the
    reference stores raw coordinates and never does CRS math either,
    prj.go:15-24); great-circle distance: :func:`knn_radius_haversine`.
    """
    if res is None:
        res = radius_resolution(radius_deg)
    pairs = (_ring_candidates(points, queries, res, id_col, lon_col, lat_col)
             .withColumn("dist2",
                         (F.col("q_lon") - F.col("n_lon")) * (F.col("q_lon") - F.col("n_lon"))
                         + (F.col("q_lat") - F.col("n_lat")) * (F.col("q_lat") - F.col("n_lat")))
             .where(F.col("dist2") <= F.lit(float(radius_deg) ** 2))
             .dropDuplicates(["query_id", "neighbor_id"]))

    win = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                                 F.col("neighbor_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist2",
                    F.col("rank").cast("long").alias("rank")))


def _terminal_pairs(points: DataFrame, remaining: DataFrame,
                    id_col: str, lon_col: str, lat_col: str,
                    n_salts: int) -> DataFrame:
    """All (remaining query × point) candidate pairs, equi-joined on a
    deterministic point-side salt so the join stage spreads over
    ``n_salts`` partitions (split out of :func:`_terminal_topk` so tests
    can probe the join-stage parallelism directly)."""
    p = points.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(lon_col).alias("n_lon"), F.col(lat_col).alias("n_lat"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
         .cast("int").alias("salt"))
    q = remaining.select(
        F.col(id_col).alias("query_id"),
        F.col(lon_col).alias("q_lon"), F.col(lat_col).alias("q_lat"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"))
    return (q.join(p, "salt")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("dist2",
                        (F.col("q_lon") - F.col("n_lon")) * (F.col("q_lon") - F.col("n_lon"))
                        + (F.col("q_lat") - F.col("n_lat")) * (F.col("q_lat") - F.col("n_lat"))))


def _terminal_topk(points: DataFrame, remaining: DataFrame, k: int,
                   id_col: str = "id", lon_col: str = "lon",
                   lat_col: str = "lat", n_salts: int = 32) -> DataFrame:
    """Complete top-k of the still-unfinished queries against ALL points
    — the terminal round of :func:`knn_exact` — salted so the work
    spreads over ``n_salts`` shuffle partitions instead of funnelling
    through one res-0 cell key (VERDICT r2 #7).

    Points take a deterministic salt; the (typically tiny) query frontier
    replicates once per salt; the equi-join on ``salt`` gives every salt
    partition all queries × 1/n_salts of the points.  A per-(query, salt)
    top-k prunes before the global per-query top-k, so the final window
    sees ≤ k·n_salts rows per query.  Exact: each (query, point) pair
    appears in exactly one salt partition.
    """
    pairs = _terminal_pairs(points, remaining, id_col, lon_col, lat_col,
                            n_salts)
    w_salt = Window.partitionBy("query_id", "salt") \
        .orderBy(F.col("dist2").asc(), F.col("neighbor_id").asc())
    cand = (pairs.withColumn("r1", F.row_number().over(w_salt))
            .where(F.col("r1") <= k))
    win = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                                 F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist2",
                    F.col("rank").cast("long").alias("rank")))


def knn_exact(points: DataFrame, queries: DataFrame, k: int,
              id_col: str = "id", lon_col: str = "lon", lat_col: str = "lat",
              start_res: int = 6, max_rounds: int | None = None
              ) -> DataFrame:
    """Exact (unbounded) kNN via progressive neighbor-ring expansion.

    Round r runs radius-bounded kNN with radius = the ring-coverage
    guarantee of the current resolution (one cell height).  A query's
    result is FINAL when it has k neighbors within that radius — every
    unseen point is provably farther (outside the covered disk).
    Unfinished queries escalate to a coarser resolution (radius ×2);
    typically 1-2 rounds finish >99% of queries.  The terminal round
    (:func:`_terminal_topk`) joins the residual frontier against ALL
    points on a salt key, so even an adversarial all-remote query set
    spreads over n_salts tasks — no CartesianProduct/BNLJ anywhere
    (plan-tested), no single-partition funnel.

    The surviving-queries frontier is pinned each round
    (operators/pinning.py; the ``spark.graft.pin.strategy`` conf selects
    executor-local checkpoints by default, ``storage`` for durable
    multi-hour runs):
    lineage stays one round deep (no stacked anti-join recompute), and
    the pin job doubles as the emptiness probe, so the driver issues
    exactly one extra action per round regardless of data size.  Rounds
    are bounded by ``start_res + 1`` (res walks to 0), not by a fixed
    constant.  Exactness is oracle-tested against a cross-join top-k in
    pytest.
    """
    from .pinning import fresh_pins
    pinf = fresh_pins(points.sparkSession, None)  # per-call slot
    rounds = start_res + 1 if max_rounds is None else min(max_rounds,
                                                          start_res + 1)
    remaining = queries
    results = []
    res = start_res
    for i in range(rounds):
        last = res == 0 or i == rounds - 1
        if last:
            # terminal: complete top-k against all points, salted across
            # n_salts shuffle partitions (a res-0 single-cell equi-join
            # would put all remaining work in ONE task)
            results.append(_terminal_topk(points, remaining, k=k,
                                          id_col=id_col, lon_col=lon_col,
                                          lat_col=lat_col))
            break
        radius = 180.0 / (1 << res)          # covered by the 3x3 ring
        got = knn_radius(points, remaining, k=k, radius_deg=radius,
                         id_col=id_col, lon_col=lon_col, lat_col=lat_col,
                         res=res)
        counts = got.groupBy("query_id").agg(
            F.max("rank").alias("found"),
            F.max("dist2").alias("max_d2"))
        # final: k found AND kth distance within the guaranteed radius
        done_ids = counts.where(
            (F.col("found") >= k) & (F.col("max_d2") <= radius ** 2))
        results.append(got.join(done_ids.select("query_id"), "query_id"))
        remaining = pinf(remaining.join(
            done_ids.select("query_id").withColumnRenamed("query_id", id_col),
            id_col, "left_anti"))
        if remaining.count() == 0:
            break
        res -= 1
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def knn_radius_oracle_sql(points_rel: str, queries_rel: str, k: int,
                          radius_deg: float, id_col: str = "id",
                          lon_col: str = "lon", lat_col: str = "lat") -> str:
    """Brute-force cross-join oracle with identical distance + ordering —
    runnable by DuckDB (and Spark) for the correctness gate."""
    return f"""
WITH pairs AS (
  SELECT q.{id_col} AS query_id, p.{id_col} AS neighbor_id,
         (q.{lon_col} - p.{lon_col}) * (q.{lon_col} - p.{lon_col})
       + (q.{lat_col} - p.{lat_col}) * (q.{lat_col} - p.{lat_col}) AS dist2
  FROM {queries_rel} q JOIN {points_rel} p ON q.{id_col} <> p.{id_col}
), ranked AS (
  SELECT query_id, neighbor_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist2 ASC, neighbor_id ASC) AS rank
  FROM pairs WHERE dist2 <= {float(radius_deg) ** 2!r}
)
SELECT query_id, neighbor_id, dist2, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= {k}
"""
