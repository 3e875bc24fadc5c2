"""Named engine queries with dual-dialect SQL (Spark engine / DuckDB oracle).

This module backs ``__spark_entry__.py``: each entry produces (a) a
callable ``(spark, sf_dir) -> DataFrame`` running the Spark-side plan and
(b) the DuckDB oracle SQL string over the same parquet tables.  Wherever
possible both sides are generated from one template so the oracle checks
identical algebra (see functions/hashes.py for the dialect seams).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .functions import cells as C
from .functions import hashes as H
from .operators import clustering as CL
from .operators import dedup as D
from .operators import geotag as GT
from .operators import text as TX
from .operators import similarity as SIM
from .operators.knn import knn_radius

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SPARK, DUCK = H.SPARK, H.DUCK


_REGISTERED: dict[int, str] = {}  # id(session) -> sf_dir last registered

# Pinned-relation seam (operators/pinning.py): gates default to the
# executor-local strategy; a multi-hour cluster run sets
# spark.graft.pin.strategy=storage for durable pins.
from .operators.pinning import fresh_pins as _fresh_checkpoints  # noqa: E402
from .operators.pinning import pin_ctes  # noqa: E402


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata tables as temp views, once per (session,
    sf_dir).  Re-registering is pure driver overhead — each
    ``spark.read.parquet`` re-reads the file footer for schema inference
    (~1.4 s across the 10 tables), and temp views persist for the
    session — so repeated gate/bench queries skip it.

    Keyed by the SESSION object (temp views are session-scoped — a
    ``spark.newSession()`` shares the applicationId but starts with an
    empty view catalog), and the memo only short-circuits while every
    view still exists (a ``dropTempView`` in between re-registers)."""
    key = id(spark)
    if _REGISTERED.get(key) == sf_dir and \
            all(spark.catalog.tableExists(t) for t in TABLES
                if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))):
        return
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)
    _REGISTERED[key] = sf_dir


def _epoch_s(e: str, dialect: str) -> str:
    """Whole seconds since epoch (UTC), identical integer in both engines."""
    if dialect == SPARK:
        return f"unix_timestamp({e})"
    return f"CAST(FLOOR(epoch({e})) AS BIGINT)"


def _date_str(e: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"date_format({e}, 'yyyy-MM-dd')"
    return f"strftime({e}, '%Y-%m-%d')"


# --- relational suite ------------------------------------------------------


def q1_pricing_summary(dialect: str) -> str:
    return """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_revenue_topk(dialect: str) -> str:
    return f"""
WITH rev AS (
  SELECT l_orderkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         MIN({_date_str('o_orderdate', dialect)}) AS orderdate,
         MIN(o_orderpriority) AS priority
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = (SELECT MIN(c_mktsegment) FROM customer)
  GROUP BY l_orderkey
),
ranked AS (
  SELECT l_orderkey, revenue, orderdate, priority,
         ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rank
  FROM rev
)
SELECT l_orderkey, revenue, orderdate, priority, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 20
"""


def q5_region_revenue(dialect: str) -> str:
    return """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_top_events_per_user(dialect: str) -> str:
    return """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events
)
SELECT user_id, event_id, event_type, value, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3
"""


def q_event_sessions(dialect: str) -> str:
    ep = _epoch_s("ts", dialect)
    return f"""
WITH ordered AS (
  SELECT user_id, event_id, {ep} AS es,
         LAG({ep}) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_es
  FROM events
),
flags AS (
  SELECT user_id,
         CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM ordered
)
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM flags GROUP BY user_id
"""


def q_tumbling_windows(dialect: str) -> str:
    ep = _epoch_s("ts", dialect)
    return f"""
SELECT event_type,
       CAST(FLOOR({ep} / 300) * 300 AS BIGINT) AS window_start,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY event_type, CAST(FLOOR({ep} / 300) * 300 AS BIGINT)
"""


# --- spatial suite over geotagged demo tables ------------------------------

GEO_RES = 7

# deterministic-sampling gates: per-class keep rates (out of 10000)
# and the balanced per-stratum row cap
SAMPLE_RATES = {"view": 500, "click": 1000, "scroll": 1000,
                "signup": 5000, "purchase": 5000, "error": 10000}
BALANCED_K = 200


def geotagged_events_cte(dialect: str) -> str:
    return f"""
pts AS (
  SELECT event_id AS id,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat,
         event_type, value
  FROM events
)"""


def q_geofence_transitions(dialect: str, rel: str = "events") -> str:
    """Geofence enter/exit detection: per (user, fence) transition
    counts over the time-ordered event stream — the location-alerting
    primitive (enter = LAG(inside)=0 ∧ inside=1).  Fence bounds are
    INTEGER literals (int→double comparison promotes exactly in both
    engines — no bare-decimal DECIMAL/DOUBLE dialect trap); the fence
    relation is a 3-row VALUES table, so the pts×fences expansion is a
    broadcast fan-out of 3 and the windows partition by (user, fence)
    — shard-local sorts, no global ordering."""
    return f"""
WITH gfp AS (
  SELECT user_id, event_id,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM {rel}),
fences(fid, x0, x1, y0, y1) AS (
  VALUES (0, -30, 30, -20, 20),
         (1, 60, 120, 10, 50),
         (2, -120, -60, -50, 10)),
flags AS (
  SELECT p.user_id, f.fid, p.event_id,
         CASE WHEN p.lon BETWEEN f.x0 AND f.x1
               AND p.lat BETWEEN f.y0 AND f.y1
              THEN 1 ELSE 0 END AS inside
  FROM gfp p CROSS JOIN fences f),
trans AS (
  SELECT user_id, fid, event_id, inside,
         LAG(inside) OVER (PARTITION BY user_id, fid
                           ORDER BY event_id) AS prev
  FROM flags)
SELECT user_id, CAST(fid AS BIGINT) AS fid,
       CAST(SUM(CASE WHEN prev = 0 AND inside = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_enter,
       CAST(SUM(CASE WHEN prev = 1 AND inside = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exit,
       CAST(SUM(inside) AS BIGINT) AS n_inside,
       CAST(COALESCE(MIN(CASE WHEN inside = 1 THEN event_id END), -1)
            AS BIGINT) AS first_inside_event
FROM trans
GROUP BY user_id, fid
HAVING SUM(inside) > 0
"""


def q_map_match(dialect: str, events_rel: str = "events",
                seg_rel: str = "supplier") -> str:
    """Map matching (snap-to-segment): assign every event point to its
    nearest synthetic road segment within the same 16° anchor cell,
    then roll up per segment — the GPS→road-network alignment
    primitive.

    Segments are synthesized from the supplier key through the md5
    seam (anchor in [-160,160]×[-80,80], heading/length offsets in
    [-1,1)°), so both engines materialize the identical geometry, and
    segments broadcast (|supplier| rows).  The candidate prune is the
    same-anchor-cell contract as trajectory_hausdorff: segment length
    ≤ √2° ≪ the 16° cell, so candidate count scales with local
    density, never |points|×|segments|.

    Point→segment distance is the classic clamped projection
    t = clamp(w·v / v·v, 0, 1), d² = |w − t·v|²: +,−,*,/ on doubles
    are correctly rounded and both engines evaluate the SAME
    expression tree, so d² is bit-identical and the argmin join-back
    on d² = min(d²) is exact (ties broken by MIN(seg)).  Per-point
    snap distances are e9-quantized BEFORE the per-segment SUM
    (integer accumulation — float SUM order is not dual-engine
    stable); MIN(d²) stays a raw double (MIN/MAX-only rule).
    """
    def hmod(expr: str, salt: str, mod: int) -> str:
        s = (f"CAST({expr} AS STRING) || '_{salt}'" if dialect == SPARK
             else f"CAST({expr} AS VARCHAR) || '_{salt}'")
        return f"({H.h32(s, dialect)} % {mod})"

    def dbl(e: str) -> str:
        return f"CAST({e} AS DOUBLE) / CAST(10000.0 AS DOUBLE)"

    ax = f"({dbl(hmod('s_suppkey', 'mx', 3200000))} - CAST(160.0 AS DOUBLE))"
    ay = f"({dbl(hmod('s_suppkey', 'my', 1600000))} - CAST(80.0 AS DOUBLE))"
    dx = f"({dbl(hmod('s_suppkey', 'mdx', 20000))} - CAST(1.0 AS DOUBLE))"
    dy = f"({dbl(hmod('s_suppkey', 'mdy', 20000))} - CAST(1.0 AS DOUBLE))"
    return f"""
WITH mpts AS (
  SELECT event_id AS id,
         {GT.lon_sql('event_id', dialect)} AS px,
         {GT.lat_sql('event_id', dialect)} AS py
  FROM {events_rel}),
msegs AS (
  SELECT s_suppkey AS seg,
         {ax} AS x1, {ay} AS y1,
         {ax} + {dx} AS x2, {ay} + {dy} AS y2,
         CAST(FLOOR({ax} / CAST(16.0 AS DOUBLE)) AS BIGINT) AS cx,
         CAST(FLOOR({ay} / CAST(16.0 AS DOUBLE)) AS BIGINT) AS cy
  FROM {seg_rel}),
mcand AS (
  SELECT p.id, s.seg,
         p.px - s.x1 AS wx, p.py - s.y1 AS wy,
         s.x2 - s.x1 AS vx, s.y2 - s.y1 AS vy
  FROM mpts p
  JOIN msegs s
    ON CAST(FLOOR(p.px / CAST(16.0 AS DOUBLE)) AS BIGINT) = s.cx
   AND CAST(FLOOR(p.py / CAST(16.0 AS DOUBLE)) AS BIGINT) = s.cy),
md AS (
  SELECT id, seg,
         (wx - t * vx) * (wx - t * vx)
         + (wy - t * vy) * (wy - t * vy) AS d2
  FROM (
    SELECT id, seg, wx, wy, vx, vy,
           LEAST(GREATEST((wx * vx + wy * vy) / (vx * vx + vy * vy),
                          CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS t
    FROM mcand) c),
mbest AS (
  SELECT id, MIN(d2) AS mind2 FROM md GROUP BY id),
mchosen AS (
  SELECT d.id, MIN(d.seg) AS seg, MIN(d.d2) AS d2
  FROM md d JOIN mbest b ON b.id = d.id AND d.d2 = b.mind2
  GROUP BY d.id)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS n_snapped,
       CAST(SUM(CAST(ROUND(d2 * 1000000000) AS BIGINT)) AS BIGINT)
         AS sum_d2_e9,
       MIN(d2) AS min_d2
FROM mchosen GROUP BY seg
"""


# PageRank over the OD flow graph: weighted cell→cell transition
# edges (the od_matrix relation), K damped power iterations
# unrolled as CTEs.  All-integer: ranks are e9-scaled BIGINTs,
# each edge contributes (r·w) DIV out_w and damping is
# (85·Σ) DIV 100 — truncating integer division is identical in
# both engines (the float power iteration would NOT be: its SUM
# accumulation order differs).  Dangling (dst-only) cells leak
# their mass — the standard simplification, stated, deterministic.
# Scale posture: nodes are CELLS (4^res, not points); every
# iteration is one equi-join + groupBy on the cell key; exactness
# bound r·w < 2^63 holds while Σranks·max_w < 9e18 (≈e9-scale
# ranks × 4^res cells × 1e4 edge weight) — halve the scale on
# denser graphs, the ordering survives truncation.
def q_pagerank(dialect: str, iters: int = 4,
               scale: int = 1_000_000_000, top_k: int = 50) -> str:
    w = "PARTITION BY user_id ORDER BY ts, id"
    base = (15 * scale) // 100
    rounds = []
    for i in range(1, iters + 1):
        contrib = H.idiv("r.r * e.w", "o.w", dialect)
        damp = H.idiv(f"85 * COALESCE(c.m, 0)", "100", dialect)
        rounds.append(f"""
pr_r{i} AS (
  SELECT n.node, {base} + {damp} AS r
  FROM pr_nodes n LEFT JOIN (
SELECT e.dst AS node, SUM({contrib}) AS m
FROM pr_e e
JOIN pr_r{i - 1} r ON r.node = e.src
JOIN pr_out o ON o.node = e.src
GROUP BY e.dst) c ON c.node = n.node)""")
    return f"""
WITH pr_pts AS (
  SELECT event_id AS id, user_id, ts,
     {GT.lon_sql('event_id', dialect)} AS lon,
     {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
pr_seq AS (
  SELECT user_id, ts, id, {C.cell_sql('lon', 'lat', 4)} AS cell
  FROM pr_pts),
pr_tr AS (
  SELECT user_id, LAG(cell) OVER ({w}) AS src, cell AS dst
  FROM pr_seq),
pr_e AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM pr_tr WHERE src IS NOT NULL AND src <> dst
  GROUP BY src, dst),
pr_nodes AS (
  SELECT src AS node FROM pr_e UNION SELECT dst FROM pr_e),
pr_out AS (
  SELECT src AS node, SUM(w) AS w FROM pr_e GROUP BY src),
pr_r0 AS (
  SELECT node, CAST({scale} AS BIGINT) AS r FROM pr_nodes),
{','.join(rounds)},
pr_ranked AS (
  SELECT node, r,
     ROW_NUMBER() OVER (ORDER BY r DESC, node ASC) AS rk
  FROM pr_r{iters})
SELECT node, CAST(r AS BIGINT) AS r, CAST(rk AS BIGINT) AS rk
FROM pr_ranked WHERE rk <= {top_k}
"""


# 2-D pareto skyline over per-user (spend, activity): the
# multi-criteria "best users" query.  Spark runs the DISTRIBUTED
# skyline algorithm — a bucket-local pareto prune (skyline(S) is
# always a subset of the union of per-partition skylines, for ANY
# partitioning) followed by the same windowed pass over the tiny
# survivor set; each pass is one sort + two window maxes, never a
# self-join.  Dominance test via window algebra: a row is dominated
# iff MAX(y) over strictly-greater x is >= its y (integer sort key,
# so "strictly greater" is RANGE 1 FOLLOWING), or a same-x row has
# strictly larger y.  The oracle is the O(n^2) NOT EXISTS dominance
# definition — different algebra, identical rows.  All-integer.
def _skyline_pass(src: str, part: str) -> str:
    over = f"PARTITION BY {part} " if part else ""
    return f"""
  SELECT user_id, cents, n_events
  FROM (
    SELECT user_id, cents, n_events,
           MAX(n_events) OVER ({over}ORDER BY cents
             RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS mgt,
           MAX(n_events) OVER (PARTITION BY {part + ', ' if part else ''}cents)
             AS meq
    FROM {src}) f
  WHERE (mgt IS NULL OR n_events > mgt) AND n_events = meq"""


def q_skyline(dialect: str, rel: str = "events") -> str:
    base = f"""
sk_base AS (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM {rel} GROUP BY user_id)"""
    if dialect == DUCK:
        return f"""
WITH {base.lstrip()}
SELECT a.user_id, a.cents, a.n_events
FROM sk_base a
WHERE NOT EXISTS (
  SELECT 1 FROM sk_base b
  WHERE b.cents >= a.cents AND b.n_events >= a.n_events
    AND (b.cents > a.cents OR b.n_events > a.n_events))
"""
    bucket = H.h32("CAST(user_id AS STRING)", dialect) + " % 64"
    return f"""
WITH {base.lstrip()},
sk_b AS (
  SELECT user_id, cents, n_events, {bucket} AS b FROM sk_base),
sk_loc AS ({_skyline_pass('sk_b', 'b')})
{_skyline_pass('sk_loc', '')}
"""


# conversion funnel view -> click -> purchase: each stage is the
# user's FIRST qualifying event within 7 days of the previous
# stage's timestamp.  Three bounded equi-join + MIN rollups (one
# shuffle per stage, all keyed on user_id — co-partitioned after
# the first), then three scalar counts; conversion rates are
# truncating-integer ppb so the dual-engine compare is exact.
def q_funnel(dialect: str, window_s: int = 604800,
             rel: str = "events") -> str:
    ep = _epoch_s("ts", dialect)
    r21 = H.idiv("1000000000 * (SELECT c FROM n2)", "(SELECT c FROM n1)",
                 dialect)
    r32 = H.idiv("1000000000 * (SELECT c FROM n3)", "(SELECT c FROM n2)",
                 dialect)
    return f"""
WITH fe AS (
  SELECT user_id, event_type, {ep} AS ts_s FROM {rel}),
f1 AS (
  SELECT user_id, MIN(ts_s) AS t1
  FROM fe WHERE event_type = 'view' GROUP BY user_id),
f2 AS (
  SELECT e.user_id, MIN(e.ts_s) AS t2
  FROM fe e JOIN f1 ON f1.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND e.ts_s >= f1.t1 AND e.ts_s <= f1.t1 + {window_s}
  GROUP BY e.user_id),
f3 AS (
  SELECT e.user_id, MIN(e.ts_s) AS t3
  FROM fe e JOIN f2 ON f2.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts_s >= f2.t2 AND e.ts_s <= f2.t2 + {window_s}
  GROUP BY e.user_id),
n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM f1),
n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM f2),
n3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM f3)
SELECT CAST(1 AS BIGINT) AS stage, (SELECT c FROM n1) AS users,
       CAST(1000000000 AS BIGINT) AS conv_ppb
UNION ALL
SELECT CAST(2 AS BIGINT), (SELECT c FROM n2), CAST({r21} AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT), (SELECT c FROM n3), CAST({r32} AS BIGINT)
"""


# cohort retention: users grouped by first-seen day, activity
# counted at day offsets — the (cohort x offset) retention matrix.
# Day numbers are epoch DIV 86400 (non-negative, so truncation is
# floor in both engines); two user-keyed shuffles (first-seen MIN,
# then the distinct rollup).  The matrix is bounded by days^2, not
# by input rows — safe at any scale.
def q_cohort(dialect: str, rel: str = "events") -> str:
    ep = _epoch_s("ts", dialect)
    day = H.idiv("ts_s", "86400", dialect)
    return f"""
WITH ce AS (
  SELECT user_id, {day} AS day_num
  FROM (SELECT user_id, {ep} AS ts_s FROM {rel}) e),
cu AS (
  SELECT user_id, MIN(day_num) AS cohort_day FROM ce GROUP BY user_id)
SELECT cu.cohort_day, ce.day_num - cu.cohort_day AS day_offset,
       CAST(COUNT(DISTINCT ce.user_id) AS BIGINT) AS users
FROM ce JOIN cu ON cu.user_id = ce.user_id
GROUP BY cu.cohort_day, ce.day_num - cu.cohort_day
"""


# Triangle counting over the undirected OD transition graph — the
# graph-analytics cohesion primitive (clustering coefficient,
# community density).  The classic distributed algorithm: orient
# every edge from the lower-(degree, node) endpoint to the higher
# one, which makes the wedge join's fan-out per node O(sqrt(m))
# (arboricity bound) instead of O(max_degree) — the star-node u
# that would generate deg(u)^2 wedges generates none, because all
# its edges point INTO it.  Three equi-joins, no cartesian.  The
# total order is a ROW_NUMBER over the NODES relation (cells —
# bounded by 4^res regardless of input volume, the getis top-k
# precedent).  Per-node triangle participation via a 3-corner
# union; all-integer.
def q_triangles(dialect: str, res: int = 5) -> str:
    return f"""
WITH {_triangle_edges_ctes(dialect, res)},
{triangle_count_sql('tg_e', dialect)}
"""


def _triangle_edges_ctes(dialect: str, res: int = 5) -> str:
    """The undirected-distinct transition edge relation ``tg_e(a, b)``
    of :func:`q_triangles` (consecutive per-user res-``res`` cells)."""
    w = "PARTITION BY user_id ORDER BY ts, id"
    return f"""tg_pts AS (
  SELECT event_id AS id, user_id, ts,
     {GT.lon_sql('event_id', dialect)} AS lon,
     {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
tg_seq AS (
  SELECT user_id, ts, id, {C.cell_sql('lon', 'lat', res)} AS cell
  FROM tg_pts),
tg_tr AS (
  SELECT user_id, LAG(cell) OVER ({w}) AS src, cell AS dst
  FROM tg_seq),
tg_e AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM tg_tr WHERE src IS NOT NULL AND src <> dst)"""


def triangle_count_sql(edges_rel: str, dialect: str) -> str:
    """Counting core over an undirected-distinct edge relation (a, b)
    with a < b: orient by (degree, node), wedge join, close.

    Only the corner spelling differs by dialect: Spark explodes
    ``array(u, v, w)`` in one pass, because the 3-branch UNION inlines
    ``tg_tri`` (the dominant wedge join) once per corner; the multiset
    is the same.

    The REPARTITION hint on tg_oe is load-bearing: tg_ord's global
    ROW_NUMBER leaves the oriented-edge relation single-partition, and
    without the hint the wedge join (up to m·√(2m) rows — 38M at
    sf0.1's dense res-5 graph) inherits that ONE partition and runs on
    one core (~220 s); hinted it fans across the cluster (~6 s).
    DuckDB reads the hint as a comment (the /*+ MERGE */ precedent)."""
    corners = ("(SELECT explode(array(u, v, w)) AS node FROM tg_tri)"
               if dialect == SPARK else """(SELECT u AS node FROM tg_tri
      UNION ALL SELECT v AS node FROM tg_tri
      UNION ALL SELECT w AS node FROM tg_tri)""")
    return f"""tg_deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT a AS node FROM {edges_rel}
        UNION ALL SELECT b AS node FROM {edges_rel}) d
  GROUP BY node),
tg_ord AS (
  SELECT node, ROW_NUMBER() OVER (ORDER BY deg, node) AS rk
  FROM tg_deg),
tg_oe AS (
  SELECT /*+ REPARTITION(64, u) */
         CASE WHEN oa.rk < ob.rk THEN e.a ELSE e.b END AS u,
         CASE WHEN oa.rk < ob.rk THEN e.b ELSE e.a END AS v,
         CASE WHEN oa.rk < ob.rk THEN ob.rk ELSE oa.rk END AS rk_v
  FROM {edges_rel} e
  JOIN tg_ord oa ON oa.node = e.a
  JOIN tg_ord ob ON ob.node = e.b),
tg_tri AS (
  SELECT e1.u AS u, e1.v AS v, e2.v AS w
  FROM tg_oe e1
  JOIN tg_oe e2 ON e2.u = e1.u AND e2.rk_v > e1.rk_v
  JOIN tg_oe e3 ON e3.u = e1.v AND e3.v = e2.v)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
FROM {corners} corners
GROUP BY node"""


# D8 flow accumulation over the occupied density grid — the
# hydrology/terrain primitive, here with count-as-elevation and
# flow pointing UPHILL (steepest strictly-greater neighbor), so
# accumulation measures each hotspot's attraction basin: how many
# cells' ascent paths reach it within K hops.  Direction is an
# argmax over the 8-offset equi-join (ROW_NUMBER per cell —
# shard-local); counts strictly increase along dir, so the flow
# graph is acyclic and u_K(c) = 1 + sum of u_{K-1} over inflow
# cells counts each upstream cell exactly once (functional graph:
# one out-edge per cell).  K unrolled rounds, each one equi-join +
# groupBy on the CELLS relation (bounded by the grid, never by
# input rows); all-integer.  Final top-k window runs over the grid
# relation (getis precedent).
def flow_acc_sql(grid_rel: str, rounds: int = 8, k: int = 50) -> str:
    """Core over an occupied-grid relation (x, y, n); dialect-free."""
    # neighbor coordinates are precomputed BEFORE the b join: writing
    # `b.n > a.n` against the 3-relation join hands Catalyst an a–b
    # edge with only that inequality and it picks a quadratic BNLJ
    # (see grid_flow_accumulation — the Spark runner twin)
    parts = [f"""fa_dir AS (
  SELECT x, y, tx, ty FROM (
    SELECT c.x AS x, c.y AS y, b.x AS tx, b.y AS ty,
           ROW_NUMBER() OVER (PARTITION BY c.x, c.y
             ORDER BY b.n DESC, b.x, b.y) AS rk
    FROM (SELECT a.x, a.y, a.n, a.x + o.dx AS bx, a.y + o.dy AS by
          FROM {grid_rel} a
          CROSS JOIN (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                             (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)) o) c
    JOIN {grid_rel} b ON b.x = c.bx AND b.y = c.by
    WHERE b.n > c.n) cand
  WHERE rk = 1),
fa_u0 AS (SELECT x, y, CAST(1 AS BIGINT) AS u FROM {grid_rel})"""]
    for i in range(1, rounds + 1):
        parts.append(f"""fa_u{i} AS (
  SELECT g.x, g.y, 1 + COALESCE(s.m, 0) AS u
  FROM {grid_rel} g LEFT JOIN (
    SELECT d.tx AS x, d.ty AS y, CAST(SUM(p.u) AS BIGINT) AS m
    FROM fa_dir d JOIN fa_u{i - 1} p ON p.x = d.x AND p.y = d.y
    GROUP BY d.tx, d.ty) s ON s.x = g.x AND s.y = g.y)""")
    return ",\n".join(parts) + f"""
SELECT x, y, n, acc, rk FROM (
  SELECT g.x AS x, g.y AS y, g.n AS n, u.u AS acc,
         ROW_NUMBER() OVER (ORDER BY u.u DESC, g.x, g.y) AS rk
  FROM {grid_rel} g JOIN fa_u{rounds} u ON u.x = g.x AND u.y = g.y) t
WHERE rk <= {int(k)}"""


def q_flow_accumulation(dialect: str, rounds: int = 8, k: int = 50) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
grid AS (
  SELECT CAST(FLOOR(lon) AS BIGINT) AS x,
         CAST(FLOOR(lat) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY CAST(FLOOR(lon) AS BIGINT), CAST(FLOOR(lat) AS BIGINT)),
{flow_acc_sql('grid', rounds=rounds, k=k)}
"""


# GPS-glitch filtering — the trajectory-cleaning pass every movement
# pipeline runs before mining: a move is physically impossible when
# its implied speed exceeds 83 m/s (300 km/h).  The comparison stays
# ENTIRELY in the integer domain (dist_mm > 83000 * dt_s — never a
# float division), with per-move distances quantized exactly like
# od_matrix (ROUND(hav·1e6) BIGINT, the knn-haversine libm-seam
# precedent); zero-dt moves with positive distance are glitches by
# the same inequality.  One window per user (shard-local sort), one
# groupBy — no self-join.
def q_gps_glitches(dialect: str, max_mm_per_s: int = 83_000) -> str:
    from .operators.knn import EARTH_RADIUS_KM
    ep = _epoch_s("ts", dialect)
    hav = (f"2 * {EARTH_RADIUS_KM} * asin(sqrt("
           "pow(sin(radians(lat - plat) / 2), 2) + "
           "cos(radians(plat)) * cos(radians(lat)) * "
           "pow(sin(radians(lon - plon) / 2), 2)))")
    w = "PARTITION BY user_id ORDER BY ts_s, id"
    return f"""
WITH gg_pts AS (
  SELECT event_id AS id, user_id, {ep} AS ts_s,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
gg_tr AS (
  SELECT user_id, ts_s, lon, lat,
         LAG(ts_s) OVER ({w}) AS pts,
         LAG(lon) OVER ({w}) AS plon,
         LAG(lat) OVER ({w}) AS plat
  FROM gg_pts),
gg_mv AS (
  SELECT user_id, ts_s - pts AS dt_s,
         CAST(ROUND({hav} * 1000000.0) AS BIGINT) AS dist_mm
  FROM gg_tr WHERE pts IS NOT NULL)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(SUM(CASE WHEN dist_mm > {max_mm_per_s} * dt_s
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_glitches,
       CAST(SUM(CASE WHEN dist_mm > {max_mm_per_s} * dt_s
                     THEN 0 ELSE dist_mm END) AS BIGINT) AS clean_dist_mm
FROM gg_mv GROUP BY user_id
"""


# Viewshed over the density surface — the terrain line-of-sight
# analytic (cell c is visible from the observer o iff no sampled
# cell along the o→c line subtends a greater elevation angle).
# Everything stays in the integer domain: coordinates shift to
# non-negative (x+180, y+90) so the line-sample rounding
# round((ox·(d−s) + x·s)/d) can use the non-negative truncating
# form (2·num + d) DIV (2·d) — floor vs trunc never diverges —
# and the angle comparison cross-multiplies to
# (e_s − e_o)·d ≥ (e_c − e_o)·s instead of dividing.  The
# observer is the densest cell (deterministic tiebreak).  The
# step explode is GRID-bounded (cells × Chebyshev distance, never
# input rows); elevation lookups are one equi-join back to the
# grid; missing cells are sea level 0.  d=1 neighbors have no
# intermediate samples and are always visible (the d ≥ 2 guard
# also keeps Spark's sequence() away from empty ranges, the
# resample seam).
def q_viewshed(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
vs_grid AS (
  SELECT CAST(FLOOR(lon) AS BIGINT) + 180 AS x,
         CAST(FLOOR(lat) AS BIGINT) + 90 AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY CAST(FLOOR(lon) AS BIGINT), CAST(FLOOR(lat) AS BIGINT)),
{viewshed_sql('vs_grid', dialect)}
"""


def viewshed_sql(grid_rel: str, dialect: str,
                 x_off: int = 180, y_off: int = 90) -> str:
    """Line-of-sight core over a NON-NEGATIVE occupied-grid relation
    (x, y, n); emits every non-observer cell with its visible flag
    (coordinates shifted back by the offsets)."""
    xs_num = "o.ox * (t.d - t.s) * 2 + t.x * t.s * 2"
    ys_num = "o.oy * (t.d - t.s) * 2 + t.y * t.s * 2"
    xs = H.idiv(f"{xs_num} + t.d", "2 * t.d", dialect)
    ys = H.idiv(f"{ys_num} + t.d", "2 * t.d", dialect)
    return f"""vs_org AS (
  SELECT x AS ox, y AS oy, n AS oe FROM (
    SELECT x, y, n, ROW_NUMBER() OVER (ORDER BY n DESC, x, y) AS rk
    FROM {grid_rel}) r WHERE rk = 1),
vs_tgt AS (
  SELECT g.x, g.y, g.n,
         GREATEST(ABS(g.x - o.ox), ABS(g.y - o.oy)) AS d
  FROM {grid_rel} g CROSS JOIN vs_org o
  WHERE g.x <> o.ox OR g.y <> o.oy),
vs_steps AS (
  SELECT t.x, t.y, t.d, t.s, {xs} AS sx, {ys} AS sy
  FROM (SELECT x, y, d, {H.seq_1_to('d - 1', dialect)} AS s
        FROM vs_tgt WHERE d >= 2) t
  CROSS JOIN vs_org o),
vs_blocked AS (
  SELECT st.x, st.y,
         MAX(CASE WHEN (COALESCE(g.n, 0) - o.oe) * st.d
                       >= (t.n - o.oe) * st.s
                  THEN 1 ELSE 0 END) AS blocked
  FROM vs_steps st
  CROSS JOIN vs_org o
  JOIN vs_tgt t ON t.x = st.x AND t.y = st.y
  LEFT JOIN {grid_rel} g ON g.x = st.sx AND g.y = st.sy
  GROUP BY st.x, st.y)
SELECT t.x - {x_off} AS x, t.y - {y_off} AS y, t.n, t.d,
       CASE WHEN COALESCE(b.blocked, 0) = 0 THEN 1 ELSE 0 END AS visible
FROM vs_tgt t LEFT JOIN vs_blocked b ON b.x = t.x AND b.y = t.y
"""


# Planar k-means over the geotagged events, Lloyd's algorithm
# unrolled as CTE rounds (the pagerank pattern applied to
# clustering; IVF's spherical trainer is the embedding-space
# cousin, this is the integer-exact planar one).  Everything stays
# in the non-negative integer domain: coordinates quantize to
# shifted e6 µdeg (lon+180, lat+90 — the idiv floor/trunc seam
# never sees a negative operand), assignment is an argmin over the
# k-row broadcast centroid relation (exact BIGINT squared
# distances, min-centroid tiebreak via the map_match join-back
# shape), and the centroid update is a truncating integer mean.
# Init = the k rows with the smallest (md5, id) — a distributed
# TakeOrdered, never a global window over points.  Per-row d2 ≤
# 2.6e17 and SUM(x) ≤ n·3.6e8 bound exactness to ~2.5e10 points;
# beyond that quantize coarser (e5) — the assignment is invariant
# under common rescaling.  Inertia sums pre-scaled d2 DIV 1e6.
# Rounds caveat: the argmin join-back references each round's
# assignment TWICE, so CTE inlining makes the template ~2^rounds
# (fine at the gate's R=3, 8 s at sf0.1); larger R belongs in a
# pinned runner (the grid_flow_accumulation treatment).
def q_kmeans(dialect: str, k: int = 8, rounds: int = 3,
             rel: str = "events") -> str:
    h = H.h32("CAST(id AS STRING)", dialect)
    parts = [f"""km_pts AS (
  SELECT event_id AS id,
         CAST(ROUND(({GT.lon_sql('event_id', dialect)} + 180) * 1000000)
              AS BIGINT) AS x,
         CAST(ROUND(({GT.lat_sql('event_id', dialect)} + 90) * 1000000)
              AS BIGINT) AS y
  FROM {rel}),
km_c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, id) AS ck, x, y
  FROM (SELECT {h} AS h, id, x, y FROM km_pts
        ORDER BY 1, 2 LIMIT {k}) seeds)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""km_a{r} AS (
  SELECT p.id, p.x, p.y, c.ck,
         (p.x - c.x) * (p.x - c.x) + (p.y - c.y) * (p.y - c.y) AS d2
  FROM km_pts p CROSS JOIN km_c{r - 1} c),
km_b{r} AS (
  SELECT id, MIN(d2) AS md FROM km_a{r} GROUP BY id),
km_p{r} AS (
  SELECT a.id, a.x, a.y, MIN(a.ck) AS ck, MIN(a.d2) AS d2
  FROM km_a{r} a JOIN km_b{r} b ON b.id = a.id AND a.d2 = b.md
  GROUP BY a.id, a.x, a.y),
km_c{r} AS (
  SELECT c.ck,
         COALESCE({H.idiv('s.sx', 's.n', dialect)}, c.x) AS x,
         COALESCE({H.idiv('s.sy', 's.n', dialect)}, c.y) AS y
  FROM km_c{r - 1} c LEFT JOIN (
    SELECT ck, CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM km_p{r} GROUP BY ck) s ON s.ck = c.ck)""")
    inertia = H.idiv("d2", "1000000", dialect)
    return f"""
WITH {','.join(parts)}
SELECT p.ck,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(c.x) - 180000000 AS BIGINT) AS cx_e6,
       CAST(MIN(c.y) - 90000000 AS BIGINT) AS cy_e6,
       CAST(SUM({inertia}) AS BIGINT) AS inertia_e6
FROM km_p{rounds} p JOIN km_c{rounds} c ON c.ck = p.ck
GROUP BY p.ck
"""


# Movement direction rose — per-cell histogram of move bearings in
# 8 compass octants (the flow-map complement of od_matrix: not
# where flows GO but which way they POINT).  The octant comes from
# sign tests and |dx| vs |dy| comparisons only (the slope_aspect
# integer-octant precedent) — no atan2, no libm seam: N=0, NE=1,
# E=2, SE=3, S=4, SW=5, W=6, NW=7, with axis ties resolved to the
# diagonal (|dx| = |dy| → the NE/SE/SW/NW octant) and zero moves
# dropped by the src<>dst-cell filter upstream... here zero-length
# moves (same point) are excluded explicitly.  One window + one
# groupBy, grid-bounded output.
def q_direction_rose(dialect: str, res: int = 3) -> str:
    w = "PARTITION BY user_id ORDER BY ts, id"
    octant = """CASE
    WHEN ABS(dx) > ABS(dy) AND dx > 0 THEN 2
    WHEN ABS(dx) > ABS(dy) THEN 6
    WHEN ABS(dy) > ABS(dx) AND dy > 0 THEN 0
    WHEN ABS(dy) > ABS(dx) THEN 4
    WHEN dx > 0 AND dy > 0 THEN 1
    WHEN dx > 0 THEN 3
    WHEN dy > 0 THEN 7
    ELSE 5 END"""
    return f"""
WITH dr_pts AS (
  SELECT event_id AS id, user_id, ts,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
dr_tr AS (
  SELECT user_id,
         LAG(lon) OVER ({w}) AS flon, LAG(lat) OVER ({w}) AS flat,
         lon, lat
  FROM dr_pts),
dr_mv AS (
  SELECT {C.cell_sql('flon', 'flat', res)} AS cell,
         lon - flon AS dx, lat - flat AS dy
  FROM dr_tr WHERE flon IS NOT NULL
    AND (lon <> flon OR lat <> flat))
SELECT cell, CAST({octant} AS BIGINT) AS octant,
       CAST(COUNT(*) AS BIGINT) AS n
FROM dr_mv GROUP BY cell, {octant}
"""


# Space-time interaction bands (Knox-style contingency counts) —
# epidemiology/crime analytics: are events that are CLOSE IN SPACE
# also close in time?  Counts unordered event pairs by (space band,
# time band): same res-5 cell vs queen ring-1, same day vs ±1 day
# vs within a week.  The pair join is banded exactly like dbscan's
# neighbor search — a 9-offset equi-join on the cell key, never a
# distance self-join — and double-counting is killed by id0 < id1
# AFTER the symmetric fan-out.  Pairs beyond ring-1 or 7 days are
# out of scope by construction (the bands are the analytic).
# Scale levers: pair volume is Σ occupancy² over cells (~90M at
# sf0.1/res 5, 13 s across 64 tasks) — raise res to thin cells, or
# add a 7-day-band column to the join key (Δband ∈ {-1,0,1}) when
# the corpus time span dwarfs the window.
def q_spacetime_pairs(dialect: str, res: int = 5) -> str:
    day = H.idiv("ts_s", "86400", dialect)
    return f"""
WITH st_pts AS (
  SELECT event_id AS id, {_epoch_s('ts', dialect)} AS ts_s,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
st_c AS (
  -- REPARTITION is load-bearing (the triangle-wedge precedent): the
  -- events table is one parquet split at gate scale, so without it
  -- the pair fan-out (occupancy-squared — ~90M rows at sf0.1) would
  -- run in that ONE inherited partition; DuckDB reads the hint as a
  -- comment
  SELECT /*+ REPARTITION(64, ix, iy) */ id, {day} AS d,
         {C.ix_sql('lon', res)} AS ix, {C.iy_sql('lat', res)} AS iy
  FROM st_pts),
st_offs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                        (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)),
st_pairs AS (
  SELECT a.id AS id0, b.id AS id1,
         CASE WHEN o.dx = 0 AND o.dy = 0 THEN 0 ELSE 1 END AS space_band,
         ABS(a.d - b.d) AS dd
  FROM st_c a
  CROSS JOIN st_offs o
  JOIN st_c b ON b.ix = a.ix + o.dx AND b.iy = a.iy + o.dy
  WHERE a.id < b.id AND ABS(a.d - b.d) <= 7)
SELECT space_band,
       CASE WHEN dd = 0 THEN 0 WHEN dd = 1 THEN 1 ELSE 2 END AS time_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM st_pairs
GROUP BY space_band,
         CASE WHEN dd = 0 THEN 0 WHEN dd = 1 THEN 1 ELSE 2 END
"""


def q_spacetime_pairs_grouped(dialect: str, res: int = 5) -> str:
    """Spark-side restructure of :func:`q_spacetime_pairs` — identical
    output, never materializes the pair stream (guide §2.3: aggregate
    before you shuffle, taken to the limit).

    The template's bands depend ONLY on the two events' (cell, day), so
    every pair count is derivable from the (cell, day) occupancy table
    ``st_g``: same-cell/same-day pairs are C(n,2) per group, same-cell/
    different-day pairs are n_a·n_b per ordered day pair (d_b > d_a
    picks each unordered event pair once), and adjacent-cell pairs are
    n_a·n_b per HALF-plane directed offset — the 4 offsets (0,1),
    (1,-1), (1,0), (1,1) enumerate each unordered adjacent cell pair
    exactly once, so each cross-cell event pair (ids always distinct)
    is counted once regardless of id order, exactly like the template's
    ``a.id < b.id`` over the symmetric 9-offset fan-out.  A (band,
    band) combo appears iff it has ≥ 1 contributing row, and every
    contribution is ≥ 1 pair (the C(n,2) branch filters n ≥ 2), so the
    output row set matches the template's GROUP BY bit-for-bit.

    Work drops from Σ occupancy² pair rows (~90M at sf0.1) to the
    occupancy-table joins (|cells × days| rows); the DuckDB oracle
    keeps the pair-stream template, making this a genuinely different
    algorithm checked to the same answer."""
    day = H.idiv("ts_s", "86400", dialect)
    return f"""
WITH st_pts AS (
  SELECT event_id AS id, {_epoch_s('ts', dialect)} AS ts_s,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
st_g AS (
  SELECT d, ix, iy, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT {day} AS d,
               {C.ix_sql('lon', res)} AS ix, {C.iy_sql('lat', res)} AS iy
        FROM st_pts) c
  GROUP BY d, ix, iy),
st_contrib AS (
  SELECT 0 AS space_band, 0 AS dd, n * (n - 1) DIV 2 AS c
  FROM st_g WHERE n >= 2
  UNION ALL
  SELECT 0 AS space_band, CAST(b.d - a.d AS INT) AS dd, a.n * b.n AS c
  FROM st_g a JOIN st_g b
    ON b.ix = a.ix AND b.iy = a.iy AND b.d > a.d AND b.d - a.d <= 7
  UNION ALL
  -- neighbor coords are PRECOMPUTED before the b join (the
  -- flow-accumulation lesson): written directly, Catalyst takes the
  -- |Δday| inequality as the only a–b join edge and runs a quadratic
  -- BroadcastNestedLoopJoin over the occupancy table
  SELECT 1 AS space_band, CAST(ABS(q.d - b.d) AS INT) AS dd, q.n * b.n AS c
  FROM (SELECT a.d, a.n, a.ix + o.dx AS bx, a.iy + o.dy AS by
        FROM st_g a
        CROSS JOIN (SELECT * FROM (VALUES (0,1),(1,-1),(1,0),(1,1))
                    AS t(dx, dy)) o) q
  JOIN st_g b ON b.ix = q.bx AND b.iy = q.by
  WHERE ABS(q.d - b.d) <= 7)
SELECT space_band,
       CASE WHEN dd = 0 THEN 0 WHEN dd = 1 THEN 1 ELSE 2 END AS time_band,
       CAST(SUM(c) AS BIGINT) AS n_pairs
FROM st_contrib
GROUP BY space_band,
         CASE WHEN dd = 0 THEN 0 WHEN dd = 1 THEN 1 ELSE 2 END
"""


# Privacy-preserving tile release — the two standard mechanisms a
# location-data publisher runs before sharing aggregates:
# k-anonymity suppression (cells with n < k never appear) and
# additive two-sided-geometric noise (the discrete Laplace used by
# integer DP mechanisms).  The noise is DETERMINISTIC and
# log-free: a 4096-bucket inverse-CDF lookup table for
# P(noise=j) ∝ α^|j| (α=½, truncated at ±8, the residual tail
# mass folded into +8) precomputed in exact python floats and
# embedded as integer (noise, lo, hi) VALUES ranges; the bucket is
# h32(cell) % 4096, so both engines add the SAME noise (replayable
# release — rerunning the pipeline publishes identical numbers;
# for a fresh draw salt the hash).  Noisy counts floor at 0.
# One groupBy + one broadcast range-join against the 17-row LUT.
def q_private_tiles(dialect: str, res: int = 3, k_min: int = 5,
                    alpha: float = 0.5, max_noise: int = 8) -> str:
    probs = {0: (1 - alpha) / (1 + alpha)}
    for j in range(1, max_noise + 1):
        probs[j] = probs[-j] = (1 - alpha) / (1 + alpha) * alpha ** j
    B = 4096
    acc, ranges = 0.0, []
    for j in sorted(probs, key=lambda x: (abs(x), x)):
        lo = round(acc * B)
        acc += probs[j]
        hi = round(acc * B) - 1
        if hi >= lo:
            ranges.append((j, lo, hi))
    j, lo, _ = ranges[-1]
    ranges[-1] = (j, lo, B - 1)         # fold the truncated tail mass
    lut = ",".join(f"({j},{lo},{hi})" for j, lo, hi in ranges)
    # COALESCE makes the bucket provably non-null: without it the
    # optimizer infers isnotnull(b) from the range join and pushes
    # that predicate below the aggregate to the SCAN — inlining the
    # entire morton+geotag chain into a per-row filter (the CLAUDE.md
    # CollapseProject trap; measured 13 s vs 0.7 s at sf0.1)
    bucket = ("COALESCE(" + H.h32("CAST(cell AS STRING)", dialect)
              + " % 4096, 0)")
    return f"""
WITH {geotagged_events_cte(dialect)},
pv_g AS (
  SELECT {C.cell_sql('lon', 'lat', res)} AS cell,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY {C.cell_sql('lon', 'lat', res)}),
pv_k AS (
  SELECT cell, n, {bucket} AS b FROM pv_g WHERE n >= {k_min}),
pv_lut AS (
  SELECT * FROM (VALUES {lut}) AS t(noise, lo, hi))
SELECT p.cell, p.n,
       CAST(GREATEST(p.n + l.noise, 0) AS BIGINT) AS noisy_n,
       CAST(l.noise AS BIGINT) AS noise
FROM pv_k p JOIN pv_lut l ON p.b >= l.lo AND p.b <= l.hi
"""


# Last-touch attribution — the marketing-analytics twin of the asof
# join: every purchase attributes to the user's LATEST preceding
# click within the window (asof_union_window_sql — one union + one
# IGNORE-NULLS window per user, never a per-pair join), then rolls
# up by time-to-convert band.  Out-of-window and never-clicked
# purchases land in the -1 band (unattributed is data).  All
# integers.
def q_attribution(dialect: str, window_s: int = 604800,
                  rel: str = "events") -> str:
    from .operators.temporal import asof_union_window_sql
    ep = _epoch_s("ts", dialect)
    band = H.idiv("lag_s", "86400", dialect)
    return f"""
WITH at_ev AS (
  SELECT user_id, event_id, event_type, {ep} AS ts_s FROM {rel}),
probe AS (
  SELECT user_id, event_id, ts_s FROM at_ev
  WHERE event_type = 'purchase'),
dim AS (
  SELECT user_id, event_id, ts_s, CAST(ts_s AS BIGINT) AS click_ts
  FROM at_ev WHERE event_type = 'click'),
{asof_union_window_sql(dialect, probe_cte='probe', dim_cte='dim',
                       on=['user_id'], ts_col='ts_s',
                       id_col='event_id', value_col='click_ts',
                       out_col='attr_ts')},
at_lag AS (
  SELECT pid, user_id, ts_s,
         CASE WHEN attr_ts IS NULL
                   OR ts_s - attr_ts > {window_s} THEN NULL
              ELSE ts_s - attr_ts END AS lag_s
  FROM w WHERE is_dim = 0)
SELECT COALESCE({band}, -1) AS days_to_convert,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(COALESCE(lag_s, 0)) AS BIGINT) AS lag_sum_s
FROM at_lag
GROUP BY COALESCE({band}, -1)
"""


# Zonal majority — the categorical zonal statistic (modal land-cover
# class per zone, here modal event_type per nation rectangle): one
# containment join against the broadcastable zone relation, one
# (zone, class) rollup, argmax via ROW_NUMBER partitioned by zone
# (shard-local; ties break on the class string).  Complements
# zonal_image_stats (numeric) with the categorical form.
def q_zonal_majority(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
{nation_rects_cte(dialect)},
zm_hits AS (
  SELECT r.polygon_fid, p.event_type
  FROM pts p JOIN rects r
    ON p.lon > r.x0 AND p.lon < r.x1 AND p.lat > r.y0 AND p.lat < r.y1),
zm_counts AS (
  SELECT polygon_fid, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM zm_hits GROUP BY polygon_fid, event_type)
SELECT polygon_fid, event_type AS majority_type, n,
       CAST(total AS BIGINT) AS n_total
FROM (
  SELECT polygon_fid, event_type, n,
         SUM(n) OVER (PARTITION BY polygon_fid) AS total,
         ROW_NUMBER() OVER (PARTITION BY polygon_fid
                            ORDER BY n DESC, event_type ASC) AS rk
  FROM zm_counts) t
WHERE rk = 1
"""


# Activity profile — the seasonality matrix (hour-of-day ×
# day-of-week counts per event type) behind load forecasting and
# anomaly baselines.  Hour and weekday derive from epoch arithmetic
# only (hod = epoch DIV 3600 % 24, dow = (epoch DIV 86400 + 4) % 7,
# day 0 = Thursday) — the timezone/locale seams of hour()/dayofweek()
# never enter; all integers.
def q_activity_profile(dialect: str, rel: str = "events") -> str:
    ep = _epoch_s("ts", dialect)
    hod = H.idiv("ts_s", "3600", dialect) + " % 24"
    dow = "(" + H.idiv("ts_s", "86400", dialect) + " + 4) % 7"
    return f"""
WITH ap AS (
  SELECT event_type, {ep} AS ts_s FROM {rel})
SELECT event_type,
       CAST({dow} AS BIGINT) AS dow,
       CAST({hod} AS BIGINT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n
FROM ap GROUP BY event_type, {dow}, {hod}
"""


# Co-visitation lift — the market-basket association primitive on
# spatial cells (recommenders: "users who visit A also visit B"):
# baskets are (user, epoch-day) DISTINCT res-4 cells, pairs join
# WITHIN the basket key (never across the corpus — fan-out bounded
# by per-basket cell count²), and the score is the integer lift
# quotient lift_q = (c_uv · n_baskets · scale) DIV (c_u · c_v) —
# monotone in the real lift, log/float-free (the PMI precedent).
# Top-k by (lift_q, pair) with a min-support floor.
def q_covisit_lift(dialect: str, res: int = 4, min_support: int = 3,
                   scale: int = 1_000_000, top_k: int = 50) -> str:
    ep = _epoch_s("ts", dialect)
    day = H.idiv("ts_s", "86400", dialect)
    lift = H.idiv(f"p.c_uv * t.n_b * {scale}", "ca.c * cb.c", dialect)
    return f"""
WITH cv_pts AS (
  SELECT user_id, {ep} AS ts_s,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
cv_b AS (
  SELECT DISTINCT user_id, {day} AS d,
         {C.cell_sql('lon', 'lat', res)} AS cell
  FROM cv_pts),
cv_n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_b
  FROM (SELECT DISTINCT user_id, d FROM cv_b) bb),
cv_c AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS c FROM cv_b GROUP BY cell),
cv_p AS (
  SELECT a.cell AS ca, b.cell AS cb, CAST(COUNT(*) AS BIGINT) AS c_uv
  FROM cv_b a
  JOIN cv_b b ON b.user_id = a.user_id AND b.d = a.d
             AND a.cell < b.cell
  GROUP BY a.cell, b.cell
  HAVING COUNT(*) >= {int(min_support)})
SELECT ca, cb, c_uv, c_a, c_b, lift_q,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT p.ca, p.cb, p.c_uv, ca.c AS c_a, cb.c AS c_b,
         CAST({lift} AS BIGINT) AS lift_q,
         ROW_NUMBER() OVER (ORDER BY {lift} DESC, p.ca, p.cb) AS rk
  FROM cv_p p
  JOIN cv_c ca ON ca.cell = p.ca
  JOIN cv_c cb ON cb.cell = p.cb
  CROSS JOIN cv_n t) s
WHERE rk <= {int(top_k)}
"""


# Burst detection — the anomaly/alerting primitive (Kleinberg-lite):
# an hour is a burst in its cell when its count exceeds k× the
# trailing-24h hourly mean, tested entirely in integers
# (n·24 > k·trailing_sum — never a float mean).  The trailing frame
# is a RANGE over the integer hour index EXCLUDING the current hour
# (24 PRECEDING .. 1 PRECEDING), so sparse hours contribute zero by
# absence (the rolling_user_stats precedent handles the gap
# semantics); flagging requires ≥ min_hours of trailing history —
# without the warm-up, a near-empty baseline makes EVERY early hour
# trivially "k× the mean".  One groupBy + one cell-partitioned
# window.
def q_burst_cells(dialect: str, res: int = 2, k: int = 3,
                  min_hours: int = 12) -> str:
    # gate default res 2: dense enough per cell-hour at sf0.01 that
    # the 12-hour baseline exists and k=3 bursts actually occur (446
    # flagged) — res 3 at this density has no qualifying baselines
    ep = _epoch_s("ts", dialect)
    hour = H.idiv("ts_s", "3600", dialect)
    w = ("PARTITION BY cell ORDER BY h "
         "RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING")
    return f"""
WITH bc_pts AS (
  SELECT {ep} AS ts_s,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
bc_h AS (
  SELECT {C.cell_sql('lon', 'lat', res)} AS cell,
         CAST({hour} AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM bc_pts GROUP BY {C.cell_sql('lon', 'lat', res)},
                       CAST({hour} AS BIGINT)),
bc_w AS (
  SELECT cell, h, n,
         CAST(COALESCE(SUM(n) OVER ({w}), 0) AS BIGINT) AS trail,
         CAST(COUNT(n) OVER ({w}) AS BIGINT) AS trail_hours
  FROM bc_h)
SELECT cell, h, n, trail, trail_hours
FROM bc_w
WHERE trail_hours >= {int(min_hours)} AND n * 24 > {int(k)} * trail
"""


# Exact grouped percentiles — the deterministic integer twin of the
# approx-quantile sketch (sketch_stats): lower-median and lower-p90
# as "the smallest v whose cumulative count clears the threshold",
# computed with one per-group sort window over integer cents.  No
# percentile_disc/approx seam to reconcile: both engines run the
# identical cumulative-count algebra, and every value is BIGINT.
# The window partitions by event_type — shard-local sorts, no global
# ordering; for high-cardinality value domains the sketch is the
# scale path, this is the exact one (bounded group count).
def q_exact_percentiles(dialect: str, rel: str = "events") -> str:
    return f"""
WITH ep_v AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM {rel}),
ep_c AS (
  SELECT event_type, v,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ep_v)
SELECT event_type, CAST(MIN(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN 2 * cum >= n THEN v END) AS BIGINT)
         AS median_cents,
       CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN v END) AS BIGINT)
         AS p90_cents,
       CAST(MIN(v) AS BIGINT) AS min_cents,
       CAST(MAX(v) AS BIGINT) AS max_cents
FROM ep_c GROUP BY event_type
"""


# Semi-structured JSON property rollup — the schema-on-read path
# every event pipeline needs: extract a typed field from the JSON
# props column and aggregate it.  Spark's get_json_object is a
# JVM codegen-able expression (the parse stays inside whole-stage
# codegen — never a Python UDF); the decile bucketing keeps the
# output grid-bounded, and absent/invalid keys land in a sentinel
# bucket instead of being dropped (missingness is data).
def q_json_props(dialect: str, rel: str = "events") -> str:
    k = H.json_int("props", "k", dialect)
    bucket = H.idiv("k", "10", dialect)
    return f"""
WITH jp AS (
  SELECT event_type, {k} AS k FROM {rel})
SELECT event_type,
       COALESCE({bucket}, -1) AS k_decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM jp
GROUP BY event_type, COALESCE({bucket}, -1)
"""


def q_geotag_tiles(dialect: str) -> str:
    """Tile rollup: deterministic geotag → Morton cell → counts (E2+E3+E8)."""
    return f"""
WITH {geotagged_events_cte(dialect)}
SELECT {C.cell_sql('lon', 'lat', GEO_RES)} AS cell,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sum_value
FROM pts
GROUP BY {C.cell_sql('lon', 'lat', GEO_RES)}
"""


def nation_rects_cte(dialect: str) -> str:
    """25 synthetic nation rectangles tiling a lon/lat band (5×5 grid),
    deterministic from n_nationkey."""
    return """
rects AS (
  SELECT CAST(n_nationkey AS BIGINT) AS polygon_fid,
         -180.0 + (n_nationkey % 5) * 72.0 AS x0,
         -90.0 + CAST(FLOOR(n_nationkey / 5) AS BIGINT) * 36.0 AS y0,
         -180.0 + (n_nationkey % 5) * 72.0 + 64.8 AS x1,
         -90.0 + CAST(FLOOR(n_nationkey / 5) AS BIGINT) * 36.0 + 32.4 AS y1
  FROM nation
)"""


def _nation_polygons(spark: SparkSession, where: str = "") -> list[dict]:
    """The nation rectangles (``nation_rects_cte``, optionally filtered
    by a ``where`` condition) as closed CW ring polygon dicts (outer per
    reference winding, shp.go:246-256)."""
    import numpy as np

    sql = f"WITH {nation_rects_cte(SPARK)} SELECT * FROM rects"
    return [{"fid": int(r.polygon_fid),
             "coords": np.array([r.x0, r.y0, r.x0, r.y1, r.x1, r.y1,
                                 r.x1, r.y0, r.x0, r.y0]),
             "ends": [10]}
            for r in spark.sql(f"{sql} WHERE {where}" if where else sql)
            .collect()]


def q_grid_spatial_join_oracle(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
{nation_rects_cte(dialect)}
SELECT p.id, r.polygon_fid
FROM pts p JOIN rects r
  ON p.lon > r.x0 AND p.lon < r.x1 AND p.lat > r.y0 AND p.lat < r.y1
"""


def grid_spatial_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side runs the REAL engine path: rectangles as ring polygons →
    cell cover → broadcast join → PIP refine (E4/E5/E6)."""
    from .operators.spatial_join import spatial_join

    register_tables(spark, sf_dir)
    pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} SELECT * FROM pts")
    polygons = _nation_polygons(spark)
    return spatial_join(spark, pts, polygons, res=5,
                        keep_cols=["id", "polygon_fid"])


def spatial_antijoin_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial ANTI-join: events contained in NO polygon (the coverage
    -gap / outside-region query).  Spark runs the REAL engine join
    (cover + PIP refine) against a 9-rect subset of the nation grid,
    then left-anti joins the matches back; the oracle is the NOT
    EXISTS containment twin."""
    from pyspark.sql import functions as F

    from .operators.spatial_join import spatial_join

    register_tables(spark, sf_dir)
    pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} SELECT * FROM pts")
    polygons = _nation_polygons(spark, where="polygon_fid % 3 = 0")
    joined = spatial_join(spark, pts, polygons, res=5, keep_cols=["id"])
    return (pts.join(joined.select("id").distinct(), "id", "left_anti")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_outside")))


def q_spatial_antijoin_oracle(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
{nation_rects_cte(dialect)}
SELECT p.event_type, CAST(COUNT(*) AS BIGINT) AS n_outside
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM rects r
  WHERE r.polygon_fid % 3 = 0
    AND p.lon > r.x0 AND p.lon < r.x1 AND p.lat > r.y0 AND p.lat < r.y1)
GROUP BY p.event_type
"""


KNN_K, KNN_RADIUS, KNN_QUERY_MOD = 5, 1.5, 53


def knn_events_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} SELECT id, lon, lat FROM pts")
    queries = pts.where(pts.id % KNN_QUERY_MOD == 0)
    return knn_radius(pts, queries, k=KNN_K, radius_deg=KNN_RADIUS)


def q_knn_events_oracle(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
q AS (SELECT * FROM pts WHERE id % {KNN_QUERY_MOD} = 0),
pairs AS (
  SELECT q.id AS query_id, p.id AS neighbor_id,
         (q.lon - p.lon) * (q.lon - p.lon)
       + (q.lat - p.lat) * (q.lat - p.lat) AS dist2
  FROM q JOIN pts p ON q.id <> p.id
),
ranked AS (
  SELECT query_id, neighbor_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist2 ASC, neighbor_id ASC) AS rank
  FROM pairs WHERE dist2 <= {KNN_RADIUS ** 2!r}
)
SELECT query_id, neighbor_id, dist2, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= {KNN_K}
"""


def knn_exact_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded exact kNN gate: progressive ring expansion with the
    res-0 terminal round (E7 exact variant) vs a cross-join oracle."""
    from .operators.knn import knn_exact

    register_tables(spark, sf_dir)
    pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} SELECT id, lon, lat FROM pts")
    queries = pts.where(pts.id % KNN_QUERY_MOD == 0)
    return knn_exact(pts, queries, k=KNN_K, start_res=6)


def q_knn_exact_oracle(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
q AS (SELECT * FROM pts WHERE id % {KNN_QUERY_MOD} = 0),
pairs AS (
  SELECT q.id AS query_id, p.id AS neighbor_id,
         (q.lon - p.lon) * (q.lon - p.lon)
       + (q.lat - p.lat) * (q.lat - p.lat) AS dist2
  FROM q JOIN pts p ON q.id <> p.id
),
ranked AS (
  SELECT query_id, neighbor_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist2 ASC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, dist2, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


KNN_HAV_K, KNN_HAV_RADIUS_KM, KNN_HAV_MOD = 5, 250.0, 71


def knn_haversine_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle kNN gate: same ring-join engine path, haversine
    metric (E7 metric option)."""
    from pyspark.sql import functions as F

    from .operators.knn import knn_radius_haversine

    register_tables(spark, sf_dir)
    pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} SELECT id, lon, lat FROM pts")
    queries = pts.where(pts.id % KNN_HAV_MOD == 0)
    out = knn_radius_haversine(pts, queries, k=KNN_HAV_K,
                               radius_km=KNN_HAV_RADIUS_KM)
    return out.withColumn("dist_km", F.round("dist_km", 6))


def q_knn_haversine_oracle(dialect: str) -> str:
    from .operators.knn import EARTH_RADIUS_KM
    hav = (f"2 * {EARTH_RADIUS_KM} * asin(sqrt("
           "pow(sin(radians(q.lat - p.lat) / 2), 2) + "
           "cos(radians(q.lat)) * cos(radians(p.lat)) * "
           "pow(sin(radians(q.lon - p.lon) / 2), 2)))")
    return f"""
WITH {geotagged_events_cte(dialect)},
q AS (SELECT * FROM pts WHERE id % {KNN_HAV_MOD} = 0),
pairs AS (
  SELECT q.id AS query_id, p.id AS neighbor_id, {hav} AS dist_km
  FROM q JOIN pts p ON q.id <> p.id
),
ranked AS (
  SELECT query_id, neighbor_id, dist_km,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist_km ASC, neighbor_id ASC) AS rank
  FROM pairs WHERE dist_km <= {KNN_HAV_RADIUS_KM!r}
)
SELECT query_id, neighbor_id, ROUND(dist_km, 6) AS dist_km,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {KNN_HAV_K}
"""


# --- temporal joins (as-of / interval range) -------------------------------

RANGE_IV_MOD, RANGE_IV_SLOTS, RANGE_EPOCH = 3, 4000, 1704067200


def _asof_events_ctes(dialect: str) -> str:
    """Probe (non-purchase events) and dim (purchase → rate) relations in
    epoch seconds; shared by the operator gate and the oracle."""
    return f"""
ev AS (
  SELECT event_id, user_id, {_epoch_s('ts', dialect)} AS ts_s,
         event_type, value
  FROM events
),
probe AS (SELECT event_id, user_id, ts_s FROM ev
          WHERE event_type <> 'purchase'),
dim AS (SELECT user_id, ts_s, value AS rate, event_id FROM ev
        WHERE event_type = 'purchase')"""


def asof_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join gate: for every non-purchase event, the rate of the
    user's latest purchase at-or-before it — via the zero-join
    union+window operator (operators/temporal.py)."""
    from pyspark.sql import functions as F

    from .operators.temporal import asof_join

    register_tables(spark, sf_dir)
    out = asof_join(spark.sql(f"WITH {_asof_events_ctes(SPARK)} "
                              "SELECT * FROM probe"),
                    spark.sql(f"WITH {_asof_events_ctes(SPARK)} "
                              "SELECT * FROM dim"),
                    on=["user_id"], ts_col="ts_s", value_col="rate",
                    out_col="asof_rate", tiebreak_col="event_id")
    return out.select("event_id", "user_id", "ts_s",
                      F.coalesce("asof_rate", F.lit(-1.0)).alias("asof_rate"))


def q_asof_join_oracle(dialect: str) -> str:
    from .operators.temporal import asof_union_window_sql
    return f"""
WITH {_asof_events_ctes(dialect)},
{asof_union_window_sql(dialect, probe_cte='probe', dim_cte='dim',
                       on=['user_id'], ts_col='ts_s', id_col='event_id',
                       value_col='rate', out_col='asof_rate')}
SELECT pid AS event_id, user_id, ts_s,
       COALESCE(asof_rate, -1.0) AS asof_rate
FROM w WHERE is_dim = 0
"""


def _range_intervals_cte(dialect: str) -> str:
    """Deterministic time intervals from orders keys, mapped into the
    events month: every {RANGE_IV_MOD}rd order opens a 3–21 minute
    window on a 10-minute grid."""
    return f"""
iv AS (
  SELECT o_orderkey AS iv_id,
         {RANGE_EPOCH} + (o_orderkey % {RANGE_IV_SLOTS}) * 600 AS start_s,
         {RANGE_EPOCH} + (o_orderkey % {RANGE_IV_SLOTS}) * 600
           + ((o_orderkey % 7) + 1) * 180 AS end_s
  FROM orders WHERE o_orderkey % {RANGE_IV_MOD} = 0
)"""


def range_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join gate: events inside [start, end) order
    windows via the binned equi-join operator (never a nested-loop
    join; plan-guarded in tests/test_temporal.py)."""
    from .operators.temporal import range_join_binned

    register_tables(spark, sf_dir)
    pts = spark.sql(f"""WITH ev AS (
  SELECT event_id, {_epoch_s('ts', SPARK)} AS ts_s FROM events)
SELECT * FROM ev""")
    iv = spark.sql(f"WITH {_range_intervals_cte(SPARK)} SELECT * FROM iv")
    out = range_join_binned(pts, iv, point_ts="ts_s", start_col="start_s",
                            end_col="end_s", bin_width=900)
    return out.select("event_id", "iv_id")


def q_range_join_oracle(dialect: str) -> str:
    return f"""
WITH ev AS (
  SELECT event_id, {_epoch_s('ts', dialect)} AS ts_s FROM events),
{_range_intervals_cte(dialect)}
SELECT e.event_id, i.iv_id
FROM ev e JOIN iv i
  ON e.ts_s >= i.start_s AND e.ts_s < i.end_s
"""


def salted_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9: salted two-phase tile counts — same result as a plain groupBy
    (the oracle), robust to hot-cell skew."""
    from pyspark.sql import functions as F

    from .operators.skew import salted_count

    register_tables(spark, sf_dir)
    pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} SELECT * FROM pts")
    with_cell = pts.withColumn("cell", F.expr(C.cell_sql("lon", "lat", 4)))
    return salted_count(with_cell, ["cell"], n_salts=8, salt_src="id")


def q_salted_tiles_oracle(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)}
SELECT {C.cell_sql('lon', 'lat', 4)} AS cell, COUNT(*) AS n
FROM pts GROUP BY {C.cell_sql('lon', 'lat', 4)}
"""


# --- engine-operator gate queries (E8/E10/E11/E13) --------------------------

_CACHE_ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".cache")


def bucketed_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10: hash-bucketed zero-shuffle equi-join.  Both sides are written
    bucketed on the join key (the Iceberg bucket() spec stand-in), so the
    join plans without an Exchange (plan-asserted in pytest); the result
    must equal the plain join the oracle runs."""
    from pyspark.sql import functions as F

    from .operators.partitioning import write_bucketed

    register_tables(spark, sf_dir)
    write_bucketed(spark.table("orders"), "gate_orders_b", "o_custkey", 8)
    write_bucketed(spark.table("customer"), "gate_customer_b", "c_custkey", 8)
    o = spark.table("gate_orders_b")
    c = spark.table("gate_customer_b")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price")))


def q_bucketed_join_oracle(dialect: str) -> str:
    return """
SELECT c_nationkey, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def lineage_resume_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11: the bucketed spatial pipeline with per-partition lineage —
    geotagged events × nation rectangles in 4 phash buckets, each bucket
    checkpointed, final rollup from the durable partials.  The lineage
    ledger is snapshot-keyed on the events input, so re-runs resume (and
    input changes invalidate); the rollup must equal the oracle's
    single-shot join."""
    from .operators.lineage import input_snapshot_id
    from .pipeline import pipeline_rollup, spatial_pipeline

    register_tables(spark, sf_dir)
    pts = spark.sql(
        f"WITH {geotagged_events_cte(SPARK)} SELECT id, lon, lat FROM pts")
    polygons = _nation_polygons(spark)

    events_path = os.path.join(sf_dir, "events.parquet")
    snap = input_snapshot_id([events_path])
    out_root = os.path.join(_CACHE_ROOT, "gate_lineage",
                            os.path.basename(sf_dir.rstrip("/")), snap)

    def bucket_points(b: int) -> DataFrame:
        from pyspark.sql import functions as F
        return pts.where(F.pmod(F.col("id"), F.lit(4)) == b)

    spatial_pipeline(spark, bucket_points, polygons, out_root,
                     n_buckets=4, res=6, snapshot_id=snap)
    return pipeline_rollup(spark, out_root)


def q_lineage_resume_oracle(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
{nation_rects_cte(dialect)}
SELECT r.polygon_fid, COUNT(*) AS n_points
FROM pts p JOIN rects r
  ON p.lon > r.x0 AND p.lon < r.x1 AND p.lat > r.y0 AND p.lat < r.y1
GROUP BY r.polygon_fid
"""


IMG_GATE_N = 2000
IMG_GATE_N_PROG = 64     # planted progressive (SOF2) rows, strict-decoded


def _ensure_images_gate(spark: SparkSession) -> str:
    """Build (once) and return the invariants-gate image corpus: the
    deterministic PNG/JFIF table plus the planted progressive rows.
    The cache path carries the codec version so codec changes regenerate
    the corpus instead of replaying stale bytes."""
    from .sources.images import (CORPUS_TAG, plant_progressive_rows,
                                 write_images_table)

    path = os.path.join(
        _CACHE_ROOT,
        f"gate_images_n{IMG_GATE_N}_p{IMG_GATE_N_PROG}_{CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if not os.path.exists(marker):
        write_images_table(spark, path, IMG_GATE_N)
        plant_progressive_rows(spark, path, IMG_GATE_N, IMG_GATE_N_PROG)
        with open(marker, "w") as f:
            f.write(str(IMG_GATE_N + IMG_GATE_N_PROG))
    return path


def image_invariants_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13: per-row decoded-pixel + caption invariant over a deterministic
    image table (real PNG + baseline-JFIF bytes; north-rule input_hint),
    PLUS planted progressive-JPEG rows (real multi-scan SOF2 streams
    from the independent JVM codec) that must strict-decode through OUR
    progressive path (VERDICT r4 gap #1).  The Spark side decodes every
    image and compares pixels/captions; the oracle pins the contract:
    n rows checked, zero violations.  The cache path carries the codec
    version so codec changes regenerate the gate corpus instead of
    replaying stale bytes."""
    from pyspark.sql import functions as F

    from .sources.images import check_invariants

    path = _ensure_images_gate(spark)
    inv = check_invariants(spark.read.parquet(path))
    return inv.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(~F.col("pixels_ok") | ~F.col("caption_ok"), 1)
              .otherwise(0)).alias("n_bad"),
        F.sum(F.when(F.col("fmt") == "jpegp", 1)
              .otherwise(0)).alias("n_progressive"))


IMG_QUALITY_TAU = 6.75   # sharpness = lap_var / luma_var; measured
#                          populations on the gate corpus: smooth
#                          (low-freq cosine, jpegp) ≤ 5.98, sharp
#                          (splitmix64 noise, png+jpeg) ≥ 7.60 — 13%
#                          margin each side of 6.75


def image_quality_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image curation metrics (the image twin of q:quality_score):
    exact-BIGINT luma/Laplacian sums per image
    (multimodal.image_quality_stats), classified by the scale-free
    sharpness ratio Var(laplacian)/Var(luma) — ≈20 for iid noise,
    near 0 for smooth gradients, invariant to brightness and contrast.
    The gate corpus plants both populations (noise rows are sharp,
    low-frequency progressive rows are smooth), so the contract is the
    planted split.  Ratio is computed in doubles from exactly-converted
    BIGINTs; the threshold sits 13% from both populations."""
    from pyspark.sql import functions as F

    from .operators.multimodal import image_quality_stats

    path = _ensure_images_gate(spark)
    qs = image_quality_stats(spark.read.parquet(path))
    d = F.col  # noqa: E731 - terse columns below
    lap_var = (d("n_int").cast("double") * d("sum_lap2").cast("double")
               - d("sum_lap").cast("double") * d("sum_lap").cast("double")) \
        / (d("n_int").cast("double") * d("n_int").cast("double"))
    luma_var = (d("n_pix").cast("double") * d("sum_luma2").cast("double")
                - d("sum_luma").cast("double") * d("sum_luma").cast("double")) \
        / (d("n_pix").cast("double") * d("n_pix").cast("double"))
    sharp = lap_var > F.lit(IMG_QUALITY_TAU) * luma_var
    return qs.agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.sum(F.when(sharp, 1).otherwise(0)).cast("long").alias("n_sharp"),
        F.sum(F.when(~sharp, 1).otherwise(0)).cast("long").alias("n_smooth"))


LUMAHIST_N = 400


def _ensure_lumahist_table(spark: SparkSession) -> str:
    from .sources.images import CORPUS_TAG, IMAGES_SCHEMA, generate_batch

    path = os.path.join(_CACHE_ROOT,
                        f"gate_lumahist_n{LUMAHIST_N}_{CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if os.path.exists(marker):
        return path
    spark.createDataFrame(generate_batch(0, LUMAHIST_N),
                          schema=IMAGES_SCHEMA) \
        .repartition(8).write.mode("overwrite").parquet(path)
    with open(marker, "w") as f:
        f.write(str(LUMAHIST_N))
    return path


def _lumahist_reference() -> list:
    """Corpus-level luma-histogram rollup computed by the CORE codec +
    numpy twin on the driver (the render_tiles_reference discipline:
    an independent same-math implementation pins the oracle literals).
    Cached in .cache keyed by the codec version tag."""
    import json

    import numpy as np

    from .operators.multimodal import luma_hist_stack
    from .sources.images import CORPUS_TAG, decode_image, generate_batch

    path = os.path.join(_CACHE_ROOT,
                        f"oracle_lumahist_{LUMAHIST_N}_{CORPUS_TAG}.json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    pdf = generate_batch(0, LUMAHIST_N)
    tot = np.zeros(16, np.int64)
    nimg = np.zeros(16, np.int64)
    for r in pdf.itertuples(index=False):
        px = decode_image(r.bytes, r.fmt)
        h = luma_hist_stack(px[None])[0]
        tot += h
        nimg += (h > 0)
    rows = [(b, int(tot[b]), int(nimg[b])) for b in range(16)]
    os.makedirs(_CACHE_ROOT, exist_ok=True)
    with open(path, "w") as f:
        json.dump(rows, f)
    return rows


def image_luma_histogram_spark(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Corpus exposure profile: per-image 16-bin integer luma
    histograms (strict decode, PNG + JFIF) rolled up per bin —
    total pixel mass and how many images touch the bin."""
    from pyspark.sql import functions as F

    from .operators.multimodal import image_luma_histogram

    path = _ensure_lumahist_table(spark)
    hist = image_luma_histogram(spark.read.parquet(path))
    return hist.groupBy("bin").agg(
        F.sum("n").cast("long").alias("n_pixels"),
        F.sum(F.when(F.col("n") > 0, 1).otherwise(0)).cast("long")
        .alias("n_images")).selectExpr("CAST(bin AS BIGINT) AS bin",
                                       "n_pixels", "n_images")


def q_image_luma_histogram_oracle() -> str:
    rows = ",\n".join(
        f"(CAST({b} AS BIGINT), CAST({npx} AS BIGINT), "
        f"CAST({ni} AS BIGINT))" for b, npx, ni in _lumahist_reference())
    return ("SELECT * FROM (VALUES\n" + rows
            + "\n) AS t(bin, n_pixels, n_images)")


def image_metadata_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only corpus catalog: shape/channels/progressive/sampling
    per image WITHOUT entropy decode (marker walk / IHDR only), rolled
    up by (fmt, width, progressive, sampling).  The cataloging pass a
    100-TB image lake runs before any decode: route SOF2 rows to the
    progressive path, partition by shape for stacked kernels, drop
    undersized rows — at header-scan cost, not decode cost.  The
    oracle re-derives every group from the corpus GENERATORS (splitmix
    sizes + format rules) in numpy, independent of the parsers."""
    from pyspark.sql import functions as F

    from .operators.multimodal import image_metadata

    imgs = spark.read.parquet(_ensure_images_gate(spark))
    meta = image_metadata(imgs.select("image_id", "fmt", "bytes"))
    return meta.groupBy("fmt", "width", "progressive", "sampling").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.sum("n_comps").cast("long").alias("sum_comps"))


def q_image_metadata_oracle() -> str:
    """Generator twin: sizes from splitmix64(idx) exactly as
    images.generate_batch / plant_progressive_rows assign them; format
    rule i%10==9→jpeg else png for the base table, jpegp for planted
    rows; sampling pins the encoder contracts (ours 4:4:4, javax
    4:2:0), progressive pins SOF2 on exactly the planted rows."""
    import numpy as np

    from .operators.geotag import splitmix64

    groups: dict = {}
    for base, n, fmt_of in (
            (0, IMG_GATE_N,
             lambda i: "jpeg" if i % 10 == 9 else "png"),
            (IMG_GATE_N, IMG_GATE_N_PROG, lambda i: "jpegp")):
        idx = np.arange(base, base + n, dtype=np.int64)
        phash = splitmix64(idx).view(np.int64)
        sizes = 8 + (phash % 3).astype(np.int64) * 8
        for i, s in zip(idx, sizes):
            fmt = fmt_of(int(i))
            w = int(abs(s))
            prog = 1 if fmt == "jpegp" else 0
            samp = "2x2" if fmt == "jpegp" else "1x1"
            key = (fmt, w, prog, samp)
            cnt, comps = groups.get(key, (0, 0))
            groups[key] = (cnt + 1, comps + 3)
    rows = ",\n".join(
        f"('{fmt}', CAST({w} AS BIGINT), CAST({p} AS BIGINT), '{s}', "
        f"CAST({c} AS BIGINT), CAST({sc} AS BIGINT))"
        for (fmt, w, p, s), (c, sc) in sorted(groups.items()))
    return ("SELECT * FROM (VALUES\n" + rows
            + "\n) AS t(fmt, width, progressive, sampling, "
              "n_images, sum_comps)")


def q_image_quality_oracle() -> str:
    return (f"SELECT CAST({IMG_GATE_N + IMG_GATE_N_PROG} AS BIGINT) "
            f"AS n_images, CAST({IMG_GATE_N} AS BIGINT) AS n_sharp, "
            f"CAST({IMG_GATE_N_PROG} AS BIGINT) AS n_smooth")


def q_image_invariants_oracle(dialect: str) -> str:
    return (f"SELECT CAST({IMG_GATE_N + IMG_GATE_N_PROG} AS BIGINT) "
            f"AS n_checked, CAST(0 AS BIGINT) AS n_bad, "
            f"CAST({IMG_GATE_N_PROG} AS BIGINT) AS n_progressive")


def zonal_image_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster zonal statistics — the geospatial × image fusion gate.

    Every image in the deterministic gate corpus geotags from its phash
    (``lonlat_np``, E2's numpy twin), spatial-joins through the REAL
    engine path (E4 cell cover + E5 JVM PIP refine, same machinery as
    q:grid_spatial_join) against the 25 nation rectangles, and decodes
    with its real codec; per-zone aggregates carry an exact integer
    pixel checksum over the lossless (PNG) rows.  The oracle replicates
    geotags + PNG pixel sums with independent generator algebra (no
    decode — the checksum only matches if OUR decode is pixel-exact)
    and runs its own containment join in DuckDB, so both the spatial
    join and the decode are checked against independent twins.

    Scale posture: geotag + decode are embarrassingly parallel per row
    (one Arrow-batched pass, no shuffle); the zone cover broadcasts; the
    only shuffle is the final tiny per-zone aggregate — the same plan
    shape at 10^12 images."""
    from pyspark.sql import functions as F

    from .operators.multimodal import image_pixel_sums
    from .operators.spatial_join import spatial_join
    from .sources.images import geotag_images

    register_tables(spark, sf_dir)
    imgs = spark.read.parquet(_ensure_images_gate(spark))
    pts = (geotag_images(imgs.select("image_id", "phash", "fmt"))
           .join(image_pixel_sums(imgs), "image_id"))
    polygons = _nation_polygons(spark)
    joined = spatial_join(spark, pts, polygons, res=5,
                          keep_cols=["image_id", "polygon_fid", "fmt",
                                     "pix_sum", "n_px"])
    is_png = F.col("fmt") == "png"
    return joined.groupBy("polygon_fid").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(is_png, 1).otherwise(0)).alias("n_png"),
        F.sum(F.when(is_png, F.col("pix_sum")).otherwise(F.lit(0)))
         .alias("png_pix_sum"),
        F.sum(F.when(is_png, F.col("n_px")).otherwise(F.lit(0)))
         .alias("png_n_px"))


def q_zonal_image_stats_oracle(dialect: str) -> str:
    """Independent twin: re-derive (lon, lat, png pixel checksum) per
    image from the corpus generators in numpy — never touching the
    encoded bytes or the decoder — and let DuckDB run its own
    containment join against the dual-dialect nation rectangles.
    Float literals print with ``repr`` (shortest round-trip), so both
    engines compare the bit-identical double against the rect bounds."""
    import numpy as np

    from .operators.geotag import lonlat_np, splitmix64
    from .sources.images import pixels_from_phash

    idx = np.arange(IMG_GATE_N + IMG_GATE_N_PROG, dtype=np.int64)
    phash = splitmix64(idx).view(np.int64)
    sizes = 8 + (phash % 3).astype(np.int64) * 8
    is_png = (idx % 10 != 9) & (idx < IMG_GATE_N)
    lon, lat = lonlat_np(phash)
    rows = []
    for i in range(len(idx)):
        if is_png[i]:
            s = int(sizes[i])
            psum = int(pixels_from_phash(int(phash[i]), s, s)
                       .sum(dtype=np.int64))
            npx = s * s * 3
        else:
            psum = npx = 0
        # coordinates QUOTED (bare 17-digit literals DECIMAL-parse in
        # DuckDB and double-round one ulp off; see q_geom_measures_oracle)
        rows.append(f"(CAST('{lon[i]!r}' AS DOUBLE),"
                    f"CAST('{lat[i]!r}' AS DOUBLE),"
                    f"{int(is_png[i])},{psum},{npx})")
    vals = ",".join(rows)
    return f"""
WITH {nation_rects_cte(dialect)},
imgs(lon, lat, is_png, psum, npx) AS (VALUES {vals})
SELECT r.polygon_fid,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(i.is_png) AS BIGINT) AS n_png,
       CAST(SUM(i.psum) AS BIGINT) AS png_pix_sum,
       CAST(SUM(i.npx) AS BIGINT) AS png_n_px
FROM imgs i JOIN rects r
  ON i.lon > r.x0 AND i.lon < r.x1 AND i.lat > r.y0 AND i.lat < r.y1
GROUP BY r.polygon_fid
"""


IMG_PATCH_N, IMG_PATCH_P = 400, 8


def image_patches_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch extraction gate: every image in a deterministic
    corpus (real PNG + JFIF bytes, dims 8/16/24) decodes and shatters
    into 8×8 patches; the patch sums must exactly partition the
    independent whole-image checksum (integer conservation — a wrong
    reshape/transpose cannot fake it together with the unit tests'
    positional ramp check), every patch must be 192 bytes, and the
    total patch count is pinned by the oracle from the corpus's
    deterministic dimension stream."""
    from pyspark.sql import functions as F

    from .operators.multimodal import extract_patches, image_pixel_sums
    from .sources.images import CORPUS_TAG, write_images_table

    path = os.path.join(_CACHE_ROOT,
                        f"gate_patches_n{IMG_PATCH_N}_{CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if not os.path.exists(marker):
        write_images_table(spark, path, IMG_PATCH_N)
        with open(marker, "w") as f:
            f.write(str(IMG_PATCH_N))
    imgs = spark.read.parquet(path)
    plen = IMG_PATCH_P * IMG_PATCH_P * 3
    per_img = extract_patches(imgs, patch=IMG_PATCH_P).groupBy("image_id") \
        .agg(F.count(F.lit(1)).alias("n_patches"),
             F.sum("psum").alias("sum_psum"),
             F.sum(F.when(F.length("patch") != plen, 1)
                   .otherwise(0)).alias("bad_len"))
    joined = per_img.join(image_pixel_sums(imgs), "image_id")
    return joined.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_patches").alias("n_patches"),
        F.sum(F.when(F.col("sum_psum") != F.col("pix_sum"), 1)
              .otherwise(0)).alias("n_sum_mismatch"),
        F.sum("bad_len").alias("n_bad_len"))


def q_image_patches_oracle(dialect: str) -> str:
    """Pins the contract: the patch count derives from the corpus's
    deterministic dims (splitmix64 stream — replicated here in pure
    numpy, independent of the Spark path), mismatches pinned to zero."""
    import numpy as np

    from .operators.geotag import splitmix64

    idx = np.arange(IMG_PATCH_N, dtype=np.int64)
    sizes = 8 + (splitmix64(idx).view(np.int64) % 3) * 8
    n_patches = int(((sizes // IMG_PATCH_P) ** 2).sum())
    return (f"SELECT CAST({IMG_PATCH_N} AS BIGINT) AS n_images, "
            f"CAST({n_patches} AS BIGINT) AS n_patches, "
            f"CAST(0 AS BIGINT) AS n_sum_mismatch, "
            f"CAST(0 AS BIGINT) AS n_bad_len")


TILE_GATE_RES, TILE_GATE_PX = 4, 16


def tiles_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: rasterize→vectorize roundtrip checksum.  Nation rectangles are
    rasterized to pixel tiles, vectorized back to maximal rectangles, and
    the per-polygon covered-pixel area (from the RECTANGLES) must equal
    the analytically derived pixel count the oracle computes from the
    global pixel grid — so both directions are checked against
    independent SQL, not against each other."""
    from pyspark.sql import functions as F

    from .operators.tiles import rasterize_polygons, vectorize_raster

    register_tables(spark, sf_dir)
    polygons = _nation_polygons(spark)
    raster = rasterize_polygons(spark, polygons, res=TILE_GATE_RES,
                                tile_px=TILE_GATE_PX)
    rects = vectorize_raster(raster, tile_px=TILE_GATE_PX)
    area = (F.col("x1") - F.col("x0") + 1) * (F.col("y1") - F.col("y0") + 1)
    return (rects.groupBy(F.col("fid").alias("polygon_fid"))
            .agg(F.sum(area).alias("n_pixels")))


def q_tiles_roundtrip_oracle(dialect: str) -> str:
    n = (1 << TILE_GATE_RES) * TILE_GATE_PX   # global pixels per axis
    wpx, hpx = 360.0 / n, 180.0 / n
    xs = H.ints_0_to(n, dialect)
    ys = H.ints_0_to(n, dialect)
    return f"""
WITH {nation_rects_cte(dialect)},
xs AS (SELECT {xs} AS ix),
ys AS (SELECT {ys} AS iy),
pix AS (
  SELECT CAST(-180.0 AS DOUBLE) + (ix + 0.5) * {wpx!r} AS cx,
         CAST(-90.0 AS DOUBLE) + (iy + 0.5) * {hpx!r} AS cy
  FROM xs CROSS JOIN ys
)
SELECT r.polygon_fid, COUNT(*) AS n_pixels
FROM pix JOIN rects r
  ON cx > r.x0 AND cx < r.x1 AND cy > r.y0 AND cy < r.y1
GROUP BY r.polygon_fid
"""


STREAM_RES, STREAM_WINDOW_S = 5, 300


def _link_copies(src_file: str, dst_dir: str, copies: int) -> None:
    """Symlink one file into a stream source dir ``copies`` times
    (distinct names — planted at-least-once duplication)."""
    stem, ext = os.path.splitext(os.path.basename(src_file))
    for i in range(copies):
        name = f"{stem}_{i}{ext}" if copies > 1 else f"{stem}{ext}"
        os.symlink(src_file, os.path.join(dst_dir, name))


def _stream_source_dir(src_file: str, copies: int = 1) -> str:
    """Spark's file stream source wants a directory; the testdata tables
    are single parquet files — expose one through temp dir symlinks."""
    import tempfile

    d = tempfile.mkdtemp(prefix="gate_stream_src_")
    _link_copies(src_file, d, copies)
    return d


def streaming_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming front door, gated: readStream over the events parquet →
    JVM geotag → Morton cell → watermarked tumbling-window counts,
    drained with one availableNow trigger.  Backfill-equals-batch is the
    contract: the oracle computes the same rollup relationally."""
    import tempfile
    import uuid

    from .streaming.events import run_available_now, streaming_tile_counts

    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    out = streaming_tile_counts(
        spark, _stream_source_dir(src), schema, res=STREAM_RES,
        window=f"{STREAM_WINDOW_S} seconds", watermark="600 seconds")
    name = f"gate_stream_tiles_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="gate_stream_tiles_")
    run_available_now(out, ckpt, query_name=name)
    from pyspark.sql import functions as F
    return (spark.table(name)
            .select(F.unix_timestamp("window_start").cast("long")
                    .alias("window_start"),
                    "cell", "n"))


def streaming_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup, gated with PLANTED duplicates: the stream
    source directory exposes the events file TWICE, so every event
    arrives twice (at-least-once delivery simulated at the source);
    dropDuplicatesWithinWatermark must collapse them and the per-type
    rollup must equal the batch DISTINCT oracle over single events."""
    import tempfile
    import uuid

    from .streaming.events import run_available_now, streaming_dedup_counts

    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    out = streaming_dedup_counts(spark, _stream_source_dir(src, copies=2),
                                 schema)
    name = f"gate_stream_dedup_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="gate_stream_dedup_")
    run_available_now(out, ckpt, query_name=name)
    return spark.table(name)


def q_streaming_dedup_oracle(dialect: str) -> str:
    return """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


def streaming_spatial_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the headline spatial join (E6 over a stream):
    events stream → JVM geotag → broadcast cell-cover join vs nation
    rectangles → per-polygon counts, drained availableNow.  The oracle
    is the relational rectangle-containment rollup — streaming backfill
    must equal batch."""
    import tempfile
    import uuid

    from .operators.spatial_join import PreparedCover
    from .streaming.events import (
        run_available_now, streaming_spatial_join_counts)

    register_tables(spark, sf_dir)
    polygons = _nation_polygons(spark)
    prepared = PreparedCover(spark, polygons, res=5)
    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    out = streaming_spatial_join_counts(
        spark, _stream_source_dir(src), schema, prepared)
    name = f"gate_stream_join_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="gate_stream_join_")
    run_available_now(out, ckpt, query_name=name)
    return spark.table(name)


def q_streaming_spatial_join_oracle(dialect: str) -> str:
    return f"""
WITH {geotagged_events_cte(dialect)},
{nation_rects_cte(dialect)}
SELECT r.polygon_fid, COUNT(*) AS n_points
FROM pts p JOIN rects r
  ON p.lon > r.x0 AND p.lon < r.x1 AND p.lat > r.y0 AND p.lat < r.y1
GROUP BY r.polygon_fid
"""


def snapshot_incremental_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11/table format, oracle-gated: events are committed to a
    SnapshotTable in two atomic appends (even ids, then odd ids); the
    gate reads ONLY the second commit via the snapshot-diff incremental
    read and rolls it up.  The oracle computes the same rollup
    relationally from the odd-id slice — so snapshot isolation,
    manifests, and the incremental file diff are all on the hash-checked
    path, not just in pytest."""
    from pyspark.sql import functions as F

    from .sources import fsio
    from .sources.table_format import SnapshotTable

    register_tables(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(_CACHE_ROOT, f"gate_snaptbl_{tag}")
    # marker lives INSIDE the table root so `rm -rf <root>` self-heals
    # (a marker outliving the table would skip the rebuild forever)
    marker = os.path.join(root, "_GATE_BASE")
    if not os.path.exists(marker):
        fsio.rmtree(root)   # half-built leftover from a crashed run
        t = SnapshotTable(root)
        ev = spark.table("events")
        s1 = t.append(ev.where("event_id % 2 = 0"))
        t.append(ev.where("event_id % 2 = 1"))
        with open(marker, "w") as f:
            f.write(s1)
    with open(marker) as f:
        base = f.read().strip()
    inc = SnapshotTable(root).incremental(spark, base)
    return (inc.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))


def snapshot_merge_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE gate: base = events with id % 3 != 2 in two
    appends (multiple data files); the merge upserts every id % 7 == 3
    row with its value DOUBLED — ids also in the base replace in place,
    ids with % 3 == 2 insert.  The rollup over the merged table must
    equal the oracle's relational reconstruction, putting upsert
    row-replacement, partial-file rewrite, and the REPLACE snapshot on
    the hash-checked path."""
    from pyspark.sql import functions as F

    from .sources import fsio
    from .sources.table_format import SnapshotTable

    register_tables(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(_CACHE_ROOT, f"gate_snapmerge_{tag}")
    marker = os.path.join(root, "_GATE_BASE")
    if not os.path.exists(marker):
        fsio.rmtree(root)
        t = SnapshotTable(root)
        ev = spark.table("events")
        t.append(ev.where("event_id % 3 = 0"))
        t.append(ev.where("event_id % 3 = 1"))
        updates = ev.where("event_id % 7 = 3") \
            .withColumn("value", F.col("value") * 2)
        t.merge(spark, updates, ["event_id"])
        with open(marker, "w") as f:
            f.write("done")
    final = SnapshotTable(root).read(spark)
    return (final.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
                 .cast("long").alias("cents"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))


def q_snapshot_merge_oracle(dialect: str) -> str:
    return """
WITH final AS (
  SELECT event_id, event_type, value FROM events
  WHERE event_id % 3 <> 2 AND event_id % 7 <> 3
  UNION ALL
  SELECT event_id, event_type, value * 2 FROM events
  WHERE event_id % 7 = 3)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM final GROUP BY event_type
"""


def q_snapshot_incremental_oracle(dialect: str) -> str:
    return """
SELECT user_id, COUNT(*) AS n_events,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events WHERE event_id % 2 = 1
GROUP BY user_id
"""


def snapshot_compaction_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance, oracle-gated: events commit in two appends,
    the table COMPACTS (replace snapshot rewriting many small files into
    one), a third append lands after, then old snapshots expire.  The
    gate reads CURRENT and rolls up — the oracle computes the identical
    rollup relationally over all events, so the replace semantics
    (compaction must change no row) and post-expiry reads are on the
    hash-checked path."""
    from pyspark.sql import functions as F

    from .sources import fsio
    from .sources.table_format import SnapshotTable

    register_tables(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(_CACHE_ROOT, f"gate_snapcompact_{tag}")
    marker = os.path.join(root, "_GATE_BASE")
    if not os.path.exists(marker):
        fsio.rmtree(root)
        t = SnapshotTable(root)
        ev = spark.table("events")
        t.append(ev.where("event_id % 3 = 0").repartition(8))
        t.append(ev.where("event_id % 3 = 1").repartition(8))
        sc = t.compact(spark, target_file_bytes=1 << 30)
        assert sc is not None
        t.append(ev.where("event_id % 3 = 2").repartition(8))
        t.expire_snapshots(keep_last=2)
        with open(marker, "w") as f:
            f.write(sc)
    cur = SnapshotTable(root).read(spark)
    return (cur.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))


def q_snapshot_compaction_oracle(dialect: str) -> str:
    return """
SELECT user_id, COUNT(*) AS n_events,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events
GROUP BY user_id
"""


PYR_MAX_RES, PYR_MIN_RES = 6, 3


def tile_pyramid_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile pyramid (OLAP rollup over the cell
    hierarchy): the points are scanned ONCE at the base resolution and
    each coarser level rolls up from its children by parent-cell
    arithmetic; the oracle recomputes EVERY level directly from the raw
    points, so the parent arithmetic and the additivity of the rollup
    are both checked."""
    from .operators.tiles import tile_pyramid

    register_tables(spark, sf_dir)
    pts = spark.sql(
        f"WITH {geotagged_events_cte(SPARK)} SELECT id, lon, lat FROM pts")
    return tile_pyramid(pts, max_res=PYR_MAX_RES, min_res=PYR_MIN_RES)


def q_tile_pyramid_oracle(dialect: str) -> str:
    levels = []
    for r in range(PYR_MAX_RES, PYR_MIN_RES - 1, -1):
        levels.append(f"""
SELECT CAST({r} AS INT) AS res, {C.cell_sql('lon', 'lat', r)} AS cell,
       COUNT(*) AS n
FROM pts GROUP BY {C.cell_sql('lon', 'lat', r)}""")
    body = "\nUNION ALL\n".join(levels)
    return f"WITH {geotagged_events_cte(dialect)}\n{body}"


IMGDUP_N, IMGDUP_PLANTED, IMGDUP_MAX_HAMMING = 800, 40, 3


def _ensure_imgdup_table(spark: SparkSession) -> str:
    """Gate corpus: IMGDUP_N deterministic images + IMGDUP_PLANTED
    perturbed PNG copies (one pixel channel bumped, re-encoded) whose ids
    are 'dup-<original id>' — a known near-dup ground truth with real
    codec work on both sides."""
    import numpy as np

    from .sources.images import (
        CORPUS_TAG, IMAGES_SCHEMA, decode_image, encode_png,
        generate_batch)

    path = os.path.join(_CACHE_ROOT,
                        f"gate_imgdup_n{IMGDUP_N}_{CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if os.path.exists(marker):
        return path
    pdf = generate_batch(0, IMGDUP_N)
    png = pdf[pdf.fmt == "png"].reset_index(drop=True)
    step = max(1, len(png) // IMGDUP_PLANTED)
    origs = png.iloc[::step][:IMGDUP_PLANTED]
    assert len(origs) == IMGDUP_PLANTED
    rows = []
    for r in origs.itertuples(index=False):
        px = decode_image(r.bytes, "png")
        px[0, 0, 0] = np.uint8((int(px[0, 0, 0]) + 8) % 256)
        rows.append((f"dup-{r.image_id}", encode_png(px), r.w, r.h,
                     "png", r.caption, r.phash))
    import pandas as pd
    dup_pdf = pd.DataFrame(rows, columns=list(pdf.columns))
    full = pd.concat([pdf, dup_pdf], ignore_index=True)
    spark.createDataFrame(full, schema=IMAGES_SCHEMA) \
        .repartition(8).write.mode("overwrite").parquet(path)
    with open(marker, "w") as f:
        f.write(str(len(full)))
    return path


def image_neardup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup by perceptual hash over DECODED pixels (the image
    payload's SimHash analog): ahash → 16-bit-band candidates → Hamming
    verify.  The contract the oracle pins: every planted perturbed copy
    pairs with its original, and no unplanted pair appears."""
    from pyspark.sql import functions as F

    from .operators.multimodal import image_neardup_pairs

    path = _ensure_imgdup_table(spark)
    pairs = image_neardup_pairs(spark.read.parquet(path),
                                max_hamming=IMGDUP_MAX_HAMMING)
    planted = (F.col("image_b") == F.concat(F.lit("dup-"), F.col("image_a"))) | \
              (F.col("image_a") == F.concat(F.lit("dup-"), F.col("image_b")))
    return pairs.agg(
        F.sum(F.when(planted, 1).otherwise(0)).alias("n_planted_found"),
        F.sum(F.when(~planted, 1).otherwise(0)).alias("n_unexpected"))


def q_image_neardup_oracle(dialect: str) -> str:
    return (f"SELECT CAST({IMGDUP_PLANTED} AS BIGINT) AS n_planted_found, "
            f"CAST(0 AS BIGINT) AS n_unexpected")


PHASHDUP_N, PHASHDUP_PLANTED, PHASH_MAX_HAMMING = 800, 40, 10


def _ensure_phashdup_table(spark: SparkSession) -> str:
    """Gate corpus for the DCT-pHash near-dup: PHASHDUP_N deterministic
    images + PHASHDUP_PLANTED RESIZED re-renders (bilinear to w+8/h+8,
    re-encoded PNG) — the perturbation pHash is built for: block means
    drift under resampling, the low-frequency DCT signs survive
    (measured: planted ≤ 8 bits, unrelated ≥ 14, so max_hamming 10
    separates with ≥ 3 bits of margin on each side)."""
    import numpy as np

    from .operators.multimodal import resize_bilinear_stack
    from .sources.images import (
        CORPUS_TAG, IMAGES_SCHEMA, decode_image, encode_png,
        generate_batch)

    path = os.path.join(_CACHE_ROOT,
                        f"gate_phashdup_n{PHASHDUP_N}_{CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if os.path.exists(marker):
        return path
    pdf = generate_batch(0, PHASHDUP_N)
    png = pdf[pdf.fmt == "png"].reset_index(drop=True)
    step = max(1, len(png) // PHASHDUP_PLANTED)
    origs = png.iloc[::step][:PHASHDUP_PLANTED]
    assert len(origs) == PHASHDUP_PLANTED
    rows = []
    for r in origs.itertuples(index=False):
        px = decode_image(r.bytes, "png")
        big = resize_bilinear_stack(px[None], r.w + 8, r.h + 8)[0]
        rows.append((f"dup-{r.image_id}", encode_png(big), r.w + 8,
                     r.h + 8, "png", r.caption, r.phash))
    import pandas as pd
    dup_pdf = pd.DataFrame(rows, columns=list(pdf.columns))
    full = pd.concat([pdf, dup_pdf], ignore_index=True)
    spark.createDataFrame(full, schema=IMAGES_SCHEMA) \
        .repartition(8).write.mode("overwrite").parquet(path)
    with open(marker, "w") as f:
        f.write(str(len(full)))
    return path


def image_phash_neardup_spark(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """DCT-pHash near-dup with multi-probe banding (probe_radius=2 →
    exact recall to Hamming 11 > gate τ=10): every planted rescaled
    re-render pairs with its original, nothing else pairs."""
    from pyspark.sql import functions as F

    from .operators.multimodal import image_phash_neardup_pairs

    path = _ensure_phashdup_table(spark)
    pairs = image_phash_neardup_pairs(spark.read.parquet(path),
                                      max_hamming=PHASH_MAX_HAMMING,
                                      probe_radius=2)
    planted = (F.col("image_b") == F.concat(F.lit("dup-"), F.col("image_a"))) | \
              (F.col("image_a") == F.concat(F.lit("dup-"), F.col("image_b")))
    return pairs.agg(
        F.sum(F.when(planted, 1).otherwise(0)).alias("n_planted_found"),
        F.sum(F.when(~planted, 1).otherwise(0)).alias("n_unexpected"))


def q_image_phash_neardup_oracle(dialect: str) -> str:
    return (f"SELECT CAST({PHASHDUP_PLANTED} AS BIGINT) AS n_planted_found, "
            f"CAST(0 AS BIGINT) AS n_unexpected")


VIDEO_GATE_N, VIDEO_EVERY_N = 300, 5


def _ensure_video_table(spark: SparkSession) -> str:
    """Gate corpus: VIDEO_GATE_N deterministic MJPEG-AVI videos whose
    frame ``fi`` regenerates from ``phash + fi`` (images.py discipline)."""
    from .sources.images import CORPUS_TAG, generate_videos_df

    path = os.path.join(_CACHE_ROOT,
                        f"gate_videos_n{VIDEO_GATE_N}_{CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if not os.path.exists(marker):
        generate_videos_df(spark, VIDEO_GATE_N, rows_per_task=25) \
            .write.mode("overwrite").parquet(path)
        with open(marker, "w") as f:
            f.write(str(VIDEO_GATE_N))
    return path


def video_frame_sample_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video frame sampling, gated: MJPEG-AVI container walk +
    baseline-JPEG decode of every VIDEO_EVERY_N-th frame (STRICT mode —
    no stub fallback), then each sampled frame verifies PSNR ≥ 40 dB
    against its regenerated reference pixels.  The oracle pins the
    deterministic contract: every video sampled, the exact total frame
    count implied by the generator's n_frames law, zero violations."""
    import numpy as np
    from pyspark.sql import functions as F

    from .operators.local import map_arrow
    from .operators.multimodal import frame_sample
    from .sources.images import pixels_from_phash

    path = _ensure_video_table(spark)
    vids = spark.read.parquet(path)
    frames = frame_sample(vids, every_n=VIDEO_EVERY_N, stub_ok=False)
    joined = frames.join(vids.select("video_id", "phash", "w", "h"),
                         "video_id")

    def check(batches):
        for rb in batches:
            ok = []
            for r in rb.to_pylist():
                ref = pixels_from_phash(r["phash"] + r["frame_idx"],
                                        r["w"], r["h"])
                got = np.frombuffer(r["frame"], np.uint8).reshape(ref.shape)
                mse = float(np.mean((got.astype(np.float64) - ref) ** 2))
                psnr = float("inf") if mse == 0 else \
                    10.0 * np.log10(255.0 ** 2 / mse)
                ok.append(psnr >= 40.0)
            yield {"video_id": rb.column("video_id"), "ok": ok}

    checked = map_arrow(joined, check, "video_id string, ok boolean")
    return checked.agg(
        F.countDistinct("video_id").alias("n_videos"),
        F.count(F.lit(1)).alias("n_frames_sampled"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_bad"))


VDUP_N, VDUP_PLANTED, VDUP_MAX_HAMMING = 200, 30, 3


def _ensure_vdup_table(spark: SparkSession) -> str:
    """Gate corpus: VDUP_N deterministic MJPEG-AVI videos + VDUP_PLANTED
    near-dup copies re-encoded from the perturbed SOURCE frames (one
    pixel channel bumped per frame; ids 'dup-<original id>') — real
    container + codec work on both sides of every planted pair."""
    import numpy as np
    import pandas as pd

    from .sources.images import (CORPUS_TAG, JPEG_QUALITY, VIDEOS_SCHEMA,
                                 generate_videos_batch, pixels_from_phash)
    from .sources.video_codec import encode_avi_mjpeg

    path = os.path.join(_CACHE_ROOT, f"gate_vdup_n{VDUP_N}_{CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if os.path.exists(marker):
        return path
    pdf = generate_videos_batch(0, VDUP_N)
    step = max(1, len(pdf) // VDUP_PLANTED)
    origs = pdf.iloc[::step][:VDUP_PLANTED]
    assert len(origs) == VDUP_PLANTED
    rows = []
    for r in origs.itertuples(index=False):
        frames = []
        for fi in range(int(r.n_frames)):
            px = pixels_from_phash(int(r.phash) + fi, int(r.w), int(r.h))
            px[0, 0, 0] = np.uint8((int(px[0, 0, 0]) + 8) % 256)
            frames.append(px)
        rows.append((f"dup-{r.video_id}",
                     encode_avi_mjpeg(frames, quality=JPEG_QUALITY),
                     int(r.n_frames), int(r.w), int(r.h), r.fmt,
                     int(r.phash)))
    full = pd.concat([pdf, pd.DataFrame(rows, columns=list(pdf.columns))],
                     ignore_index=True)
    spark.createDataFrame(full, schema=VIDEOS_SCHEMA) \
        .repartition(8).write.mode("overwrite").parquet(path)
    with open(marker, "w") as f:
        f.write(str(len(full)))
    return path


def video_neardup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup: mean-of-sampled-frames ahash (chunk-walk
    sampling, shared ahash block math) through the banded
    spanning-edge engine.  Contract: every planted re-encoded copy
    pairs with its original (measured ≤ 1 bit apart vs ≥ 21 bits for
    unrelated videos), and no unplanted pair appears."""
    from pyspark.sql import functions as F

    from .operators.multimodal import video_neardup_pairs

    path = _ensure_vdup_table(spark)
    pairs = video_neardup_pairs(spark.read.parquet(path),
                                max_hamming=VDUP_MAX_HAMMING)
    planted = (F.col("video_b") == F.concat(F.lit("dup-"), F.col("video_a"))) | \
              (F.col("video_a") == F.concat(F.lit("dup-"), F.col("video_b")))
    return pairs.agg(
        F.sum(F.when(planted, 1).otherwise(0)).alias("n_planted_found"),
        F.sum(F.when(~planted, 1).otherwise(0)).alias("n_unexpected"))


def q_video_neardup_oracle(dialect: str) -> str:
    return (f"SELECT CAST({VDUP_PLANTED} AS BIGINT) AS n_planted_found, "
            f"CAST(0 AS BIGINT) AS n_unexpected")


def q_video_frame_sample_oracle(dialect: str) -> str:
    # the generator's n_frames law is deterministic (splitmix64 of the
    # row index), so the expected sampled-frame total is computable here
    import numpy as np

    from .operators.geotag import splitmix64

    idx = np.arange(VIDEO_GATE_N, dtype=np.int64)
    ph = splitmix64(idx).view(np.int64)
    nf = 6 + (np.abs(ph) % 10)
    n_frames = int(np.ceil(nf / VIDEO_EVERY_N).sum())
    return (f"SELECT CAST({VIDEO_GATE_N} AS BIGINT) AS n_videos, "
            f"CAST({n_frames} AS BIGINT) AS n_frames_sampled, "
            f"CAST(0 AS BIGINT) AS n_bad")


AUDIO_GATE_N = 2000


def _ensure_audio_table(spark: SparkSession) -> str:
    """Gate corpus: AUDIO_GATE_N deterministic WAV clips (half PCM16,
    half mu-law; waveform regenerates from ahash), built distributed
    and cached under the codec+generator version tag.  Before the
    success marker is written the build ASSERTS that every clip's
    spectral fingerprint is distinct — the streaming-dedup gate's
    contract depends on it, and a codec/generator bump regenerates the
    corpus, so the property must be re-proven per cache epoch rather
    than assumed (r5 review)."""
    from .operators.multimodal import audio_fingerprint
    from .sources.audio import AUDIO_CORPUS_TAG, generate_audio_df

    path = os.path.join(_CACHE_ROOT,
                        f"gate_audio_n{AUDIO_GATE_N}_{AUDIO_CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if not os.path.exists(marker):
        generate_audio_df(spark, AUDIO_GATE_N) \
            .write.mode("overwrite").parquet(path)
        n_fp = audio_fingerprint(spark.read.parquet(path)) \
            .select("afp").distinct().count()
        if n_fp != AUDIO_GATE_N:
            raise AssertionError(
                f"audio gate corpus has {AUDIO_GATE_N - n_fp} fingerprint "
                "collisions; the streaming dedup contract needs all-distinct")
        with open(marker, "w") as f:
            f.write(str(AUDIO_GATE_N))
    return path


def audio_metadata_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only audio catalog over the gate corpus, rolled up by
    (format_tag, sample_rate, n_samples): the pre-decode routing pass
    (PCM vs mu-law path, resample bucketing) at RIFF-chunk-header cost.
    The oracle re-derives every group from the GENERATOR laws (even
    rows PCM16/odd mu-law; n_samples = _LEN_CHOICES[|splitmix64(i)|%3])
    — independent of the parser."""
    from pyspark.sql import functions as F

    from .operators.multimodal import audio_metadata

    aud = spark.read.parquet(_ensure_audio_table(spark))
    meta = audio_metadata(aud.select("audio_id", "bytes"))
    return meta.groupBy("format_tag", "sample_rate", "n_samples").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum("bits").cast("long").alias("sum_bits"))


def q_audio_metadata_oracle() -> str:
    import numpy as np

    from .operators.geotag import splitmix64
    from .sources.audio import SAMPLE_RATE, _LEN_CHOICES

    idx = np.arange(AUDIO_GATE_N, dtype=np.int64)
    ahash = splitmix64(idx).view(np.int64)
    ns = _LEN_CHOICES[np.abs(ahash) % 3]
    groups: dict = {}
    for i, n in zip(idx, ns):
        tag, bits = (1, 16) if i % 2 == 0 else (7, 8)
        key = (tag, SAMPLE_RATE, int(n))
        c, b = groups.get(key, (0, 0))
        groups[key] = (c + 1, b + bits)
    rows = ",\n".join(
        f"(CAST({t} AS BIGINT), CAST({r} AS BIGINT), CAST({n} AS BIGINT), "
        f"CAST({c} AS BIGINT), CAST({sb} AS BIGINT))"
        for (t, r, n), (c, sb) in sorted(groups.items()))
    return ("SELECT * FROM (VALUES\n" + rows
            + "\n) AS t(format_tag, sample_rate, n_samples, "
              "n_clips, sum_bits)")


def video_metadata_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only video catalog over the gate corpus, rolled up by
    (codec, width, height, fps, n_frames) — the routing pass before
    any frame decodes.  Oracle = the generator laws (n_frames =
    6 + |splitmix64(i)| % 10, 16×16, fps 10, MJPG), independent of the
    parser."""
    from pyspark.sql import functions as F

    from .operators.multimodal import video_metadata

    vids = spark.read.parquet(_ensure_video_table(spark))
    meta = video_metadata(vids.select("video_id", "bytes"))
    return meta.groupBy("codec", "width", "height", "fps",
                        "n_frames").agg(
        F.count(F.lit(1)).cast("long").alias("n_videos"))


def q_video_metadata_oracle() -> str:
    import numpy as np

    from .operators.geotag import splitmix64

    idx = np.arange(VIDEO_GATE_N, dtype=np.int64)
    phash = splitmix64(idx).view(np.int64)
    nf = (6 + (np.abs(phash) % 10)).astype(np.int64)
    groups: dict = {}
    for n in nf:
        groups[int(n)] = groups.get(int(n), 0) + 1
    rows = ",\n".join(
        f"('MJPG', CAST(16 AS BIGINT), CAST(16 AS BIGINT), "
        f"CAST(10 AS BIGINT), CAST({n} AS BIGINT), CAST({c} AS BIGINT))"
        for n, c in sorted(groups.items()))
    return ("SELECT * FROM (VALUES\n" + rows
            + "\n) AS t(codec, width, height, fps, n_frames, n_videos)")


def audio_invariants_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality invariant gate: a deterministic WAV table (real
    PCM16 + G.711 mu-law bytes from sources/audio_codec.py, both
    interop-tested against javax.sound.sampled) strict-decodes per row
    and compares samples/transcripts against the regenerate-from-ahash
    reference (images/video discipline).  The oracle pins the contract:
    every row checked, zero violations, the exact lossy-row count from
    the generator's fmt law, and the law-derived total sample count
    (splitmix64 of the row index, computed independently in numpy —
    the video gate's n_frames pattern)."""
    from pyspark.sql import functions as F

    from .sources.audio import check_audio_invariants

    aud = spark.read.parquet(_ensure_audio_table(spark))
    inv = check_audio_invariants(aud).join(
        aud.select("audio_id", "n_samples"), "audio_id")
    return inv.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(~F.col("samples_ok") | ~F.col("transcript_ok"), 1)
              .otherwise(0)).alias("n_bad"),
        F.sum(F.when(F.col("fmt") == "wav-ulaw", 1)
              .otherwise(0)).alias("n_ulaw"),
        F.sum("n_samples").alias("total_samples"))


def q_audio_invariants_oracle(dialect: str) -> str:
    # the generator's n_samples law is deterministic (splitmix64 of the
    # row index), so the expected totals are computable here
    import numpy as np

    from .operators.geotag import splitmix64
    from .sources.audio import _LEN_CHOICES

    idx = np.arange(AUDIO_GATE_N, dtype=np.int64)
    ah = splitmix64(idx).view(np.int64)
    total = int(_LEN_CHOICES[np.abs(ah) % 3].sum())
    return (f"SELECT CAST({AUDIO_GATE_N} AS BIGINT) AS n_checked, "
            f"CAST(0 AS BIGINT) AS n_bad, "
            f"CAST({AUDIO_GATE_N // 2} AS BIGINT) AS n_ulaw, "
            f"CAST({total} AS BIGINT) AS total_samples")


AUDDUP_N, AUDDUP_PLANTED, AUDDUP_MAX_HAMMING = 1000, 30, 3


def _ensure_auddup_table(spark: SparkSession) -> str:
    """Gate corpus: AUDDUP_N deterministic clips + AUDDUP_PLANTED
    lossy re-encoded copies (the same waveform re-companded through
    G.711 mu-law) whose ids are 'dup-<original id>' — a known near-dup
    ground truth with real codec work on both sides (the audio analog
    of the perturbed-PNG image corpus)."""
    import pandas as pd

    from .sources.audio import (AUDIO_CORPUS_TAG, AUDIO_SCHEMA,
                                generate_audio_batch, make_mulaw_dups)

    # every gate parameter is in the path so tuning any of them
    # regenerates the corpus instead of replaying a stale one (r5
    # review), the same way AUDIO_CORPUS_TAG handles codec changes
    path = os.path.join(
        _CACHE_ROOT,
        f"gate_auddup_n{AUDDUP_N}_p{AUDDUP_PLANTED}_{AUDIO_CORPUS_TAG}")
    marker = os.path.join(path, "_SUCCESS_GATE")
    if os.path.exists(marker):
        return path
    pdf = generate_audio_batch(0, AUDDUP_N)
    full = pd.concat([pdf, make_mulaw_dups(pdf, AUDDUP_PLANTED)],
                     ignore_index=True)
    spark.createDataFrame(full, schema=AUDIO_SCHEMA) \
        .repartition(8).write.mode("overwrite").parquet(path)
    with open(marker, "w") as f:
        f.write(str(len(full)))
    return path


def audio_neardup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup by spectral fingerprint over DECODED samples
    (8x8 spectrogram grid, per-band time-mean bits) -> 16-bit-band
    candidates -> Hamming verify, via the banded spanning-edge engine
    shared with image near-dup.  The contract the oracle pins: every
    planted mu-law re-encode pairs with its original (measured <= 3
    bits), and no unplanted pair appears (unrelated clips measured
    >= 11 bits apart)."""
    from pyspark.sql import functions as F

    from .operators.multimodal import audio_neardup_pairs

    path = _ensure_auddup_table(spark)
    pairs = audio_neardup_pairs(spark.read.parquet(path),
                                max_hamming=AUDDUP_MAX_HAMMING)
    planted = (F.col("audio_b") == F.concat(F.lit("dup-"), F.col("audio_a"))) | \
              (F.col("audio_a") == F.concat(F.lit("dup-"), F.col("audio_b")))
    return pairs.agg(
        F.sum(F.when(planted, 1).otherwise(0)).alias("n_planted_found"),
        F.sum(F.when(~planted, 1).otherwise(0)).alias("n_unexpected"))


def q_audio_neardup_oracle(dialect: str) -> str:
    return (f"SELECT CAST({AUDDUP_PLANTED} AS BIGINT) AS n_planted_found, "
            f"CAST(0 AS BIGINT) AS n_unexpected")


def audio_dedup_groups_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio duplicate GROUPS: the full modality pipeline — strict WAV
    decode → spectral fingerprint → banded pair edges → connected
    components (large-star/small-star) → group rollup.  The oracle pins
    the planted structure: every lossy re-encode forms exactly one
    two-member group with its original, nothing merges beyond that
    (unrelated clips sit ≥ 11 bits apart, so no bridge edges exist)."""
    from .operators.multimodal import audio_neardup_pairs

    path = _ensure_auddup_table(spark)
    pairs = audio_neardup_pairs(spark.read.parquet(path),
                                max_hamming=AUDDUP_MAX_HAMMING)
    return _dedup_groups_rollup(pairs, "audio_a", "audio_b")


def _dedup_groups_rollup(pairs, a_col: str, b_col: str):
    """Shared tail of the modality dedup-groups gates: pair edges →
    connected components → (n_groups, n_members, max_group_size)."""
    from pyspark.sql import functions as F

    from .operators.graph import connected_components

    cc = connected_components(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")))
    groups = cc.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("size").alias("n_members"),
        F.max("size").alias("max_group_size"))


def image_dedup_groups_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image duplicate GROUPS — the image twin of audio_dedup_groups:
    strict decode → perceptual hash → banded pair edges → connected
    components → group rollup.  The oracle pins the planted structure:
    every perturbed copy forms exactly one two-member group with its
    original and nothing merges beyond that (the corpus is built so
    unplanted images sit far apart in ahash space)."""
    from .operators.multimodal import image_neardup_pairs

    path = _ensure_imgdup_table(spark)
    pairs = image_neardup_pairs(spark.read.parquet(path),
                                max_hamming=IMGDUP_MAX_HAMMING)
    return _dedup_groups_rollup(pairs, "image_a", "image_b")


def q_image_dedup_groups_oracle(dialect: str) -> str:
    return (f"SELECT CAST({IMGDUP_PLANTED} AS BIGINT) AS n_groups, "
            f"CAST({IMGDUP_PLANTED * 2} AS BIGINT) AS n_members, "
            f"CAST(2 AS BIGINT) AS max_group_size")


def q_audio_dedup_groups_oracle(dialect: str) -> str:
    return (f"SELECT CAST({AUDDUP_PLANTED} AS BIGINT) AS n_groups, "
            f"CAST({AUDDUP_PLANTED * 2} AS BIGINT) AS n_members, "
            f"CAST(2 AS BIGINT) AS max_group_size")


def _stream_table_dir(table_path: str, copies: int = 1) -> str:
    """Streaming twin of :func:`_stream_source_dir` for a parquet TABLE
    directory: symlink every part file (``copies`` times each) into a
    temp source dir, so the file stream source replays the whole table
    with planted at-least-once duplication."""
    import tempfile

    d = tempfile.mkdtemp(prefix="gate_stream_tbl_")
    for f in sorted(f for f in os.listdir(table_path)
                    if f.endswith(".parquet")):
        _link_copies(os.path.join(table_path, f), d, copies)
    return d


def streaming_audio_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multimodal dedup, gated with PLANTED duplication: the
    source dir exposes every part file of the audio gate corpus TWICE,
    the stream strict-decodes and fingerprints each clip (same kernel
    as the batch operator) and dropDuplicatesWithinWatermark on the
    fingerprint must collapse the replays — per-format counts equal
    the single corpus (every one of the 2000 clips has a distinct
    fingerprint; verified at corpus build)."""
    import tempfile
    import uuid

    from .streaming.events import (run_available_now,
                                   streaming_audio_dedup_counts)

    path = _ensure_audio_table(spark)
    schema = spark.read.parquet(path).schema
    out = streaming_audio_dedup_counts(
        spark, _stream_table_dir(path, copies=2), schema)
    name = f"gate_stream_auddedup_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="gate_stream_auddedup_")
    run_available_now(out, ckpt, query_name=name)
    return spark.table(name)


def q_streaming_audio_dedup_oracle(dialect: str) -> str:
    half = AUDIO_GATE_N // 2
    return (f"SELECT 'wav-pcm16' AS fmt, CAST({half} AS BIGINT) AS n "
            f"UNION ALL SELECT 'wav-ulaw' AS fmt, "
            f"CAST({half} AS BIGINT) AS n")


BPE_LEARN_MERGES = 20


def bpe_learn_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING, gated contract-style: the
    Spark side learns the merge sequence (one corpus pass → word-freq
    table → vocabulary-bounded iterative rounds, operators/bpe_train.py)
    AND replays the iterative phase through the independent pure-Python
    reference implementation over the same Spark-aggregated word
    frequencies; the deterministic tie-break (count desc, then
    lexicographic pair) makes the two sequences exactly comparable.
    The oracle pins the contract: the full merge budget was learned,
    the sequences are identical, and the APPLY side (tokenize the
    distinct-word vocabulary with the chained merge folds, broadcast-
    join arities back onto the corpus) reproduces the reference
    tokenizer's corpus token total."""
    from pyspark.sql import functions as F

    from .operators.bpe_train import (bpe_reference, bpe_token_counts,
                                      learn_bpe, tokenize_word_reference,
                                      word_frequencies)

    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    merges = learn_bpe(docs, n_merges=BPE_LEARN_MERGES, min_freq=2)
    wf = [(r["word"], r["freq"])
          for r in word_frequencies(docs).collect()]   # vocab-bounded
    ref = bpe_reference(wf, n_merges=BPE_LEARN_MERGES, min_freq=2,
                        from_frequencies=True)
    total = bpe_token_counts(docs, merges) \
        .agg(F.sum("n_tokens")).collect()[0][0]
    ref_total = sum(f * len(tokenize_word_reference(w, ref))
                    for w, f in wf)
    return spark.createDataFrame(
        [(len(merges), bool(merges == ref),
          bool(int(total) == int(ref_total)))],
        "n_merges long, matches_reference boolean, tokens_match boolean")


def q_bpe_learn_oracle(dialect: str) -> str:
    return (f"SELECT CAST({BPE_LEARN_MERGES} AS BIGINT) AS n_merges, "
            f"TRUE AS matches_reference, TRUE AS tokens_match")


def q_streaming_tiles_oracle(dialect: str) -> str:
    ep = _epoch_s("ts", dialect)
    return f"""
WITH pts AS (
  SELECT event_id,
         CAST(FLOOR({ep} / {STREAM_WINDOW_S}) * {STREAM_WINDOW_S} AS BIGINT)
           AS window_start,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events
)
SELECT window_start, {C.cell_sql('lon', 'lat', STREAM_RES)} AS cell,
       COUNT(*) AS n
FROM pts
GROUP BY window_start, {C.cell_sql('lon', 'lat', STREAM_RES)}
"""


def streaming_sessions_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionizer (applyInPandasWithState), gated:
    drain the bounded events source, keep each user's final running
    totals (update-mode emissions are monotonic).  The oracle is the
    batch sessionization SQL."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from .streaming.events import run_available_now
    from .streaming.sessions import sessionize_stream

    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    out = sessionize_stream(spark, _stream_source_dir(src), schema, gap_s=1800)
    name = f"gate_stream_sessions_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="gate_stream_sessions_")
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name).groupBy("user_id")
            .agg(F.max("n_sessions").alias("n_sessions"),
                 F.max("n_events").alias("n_events")))


def streaming_glitch_filter_spark(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Stateful streaming GPS-glitch filter (applyInPandasWithState),
    gated: drain the bounded events source, keep each user's final
    running totals (update-mode emissions are monotonic).  The oracle
    is the BATCH glitch SQL (q_gps_glitches) — the all-integer state
    makes backfill == batch exact."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from .streaming.trajectory import glitch_filter_stream

    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    out = glitch_filter_stream(spark, _stream_source_dir(src), schema)
    name = f"gate_stream_glitch_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="gate_stream_glitch_")
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .where(F.col("n_moves") > 0)
            .groupBy("user_id")
            .agg(F.max("n_moves").alias("n_moves"),
                 F.max("n_glitches").alias("n_glitches"),
                 F.max("clean_dist_mm").alias("clean_dist_mm")))


def streaming_funnel_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming funnel drained availableNow; per-user depths
    are monotonic so MAX-per-user equals the batch semantics, and the
    final three stage rows (users + truncating-ppb conversion) are
    EXACTLY the batch q_funnel oracle."""
    import tempfile
    import uuid

    from .streaming.funnel import funnel_stream

    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    out = funnel_stream(spark, _stream_source_dir(src), schema)
    name = f"gate_stream_funnel_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="gate_stream_funnel_")
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    r21 = H.idiv("1000000000 * (SELECT c FROM n2)", "(SELECT c FROM n1)",
                 SPARK)
    r32 = H.idiv("1000000000 * (SELECT c FROM n3)", "(SELECT c FROM n2)",
                 SPARK)
    return spark.sql(f"""
WITH fd AS (
  SELECT user_id, MAX(depth) AS depth FROM {name} GROUP BY user_id),
n1 AS (SELECT CAST(SUM(CASE WHEN depth >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS c FROM fd),
n2 AS (SELECT CAST(SUM(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS c FROM fd),
n3 AS (SELECT CAST(SUM(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS c FROM fd)
SELECT CAST(1 AS BIGINT) AS stage, (SELECT c FROM n1) AS users,
       CAST(1000000000 AS BIGINT) AS conv_ppb
UNION ALL
SELECT CAST(2 AS BIGINT), (SELECT c FROM n2), CAST({r21} AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT), (SELECT c FROM n3), CAST({r32} AS BIGINT)
""")


# --- shapefile-source gate queries -----------------------------------------

REF_TESTDATA = "/root/reference/testdata"
_TILE_NAMES = ["fid", "cell", "lon0", "lat0", "n_rings", "n_points", "area"]
_LINE_TILE_NAMES = ["fid", "cell", "lon0", "lat0", "n_paths", "n_points",
                    "length"]


def _kernel_rows(records, columns: list[str], fn,
                 names: list[str]) -> list[tuple]:
    """The ``names`` columns of a feature kernel's batch function run on
    the driver over core-parser records (``map_records``), as row
    tuples in output order — the rows the kernel gives in Spark."""
    from .sources.shapefile import map_records

    return [row for rb in map_records(records, columns, fn)
            for row in zip(*(rb.column(n).to_pylist() for n in names))]


def _pyramid_rows(records, min_res: int, max_res: int, run_clip,
                  names: list[str]) -> list[tuple]:
    """``vector_tile_pyramid`` on the driver: per zoom, simplify's
    output batches chain into the clip's batch function, as in Spark."""
    from functools import partial

    from .operators.geometry import (KERNEL_COLUMNS, SIMPLIFY_COLUMNS,
                                     run_simplify)
    from .operators.vector_tiles import zoom_eps
    from .sources.shapefile import map_records

    rows = []
    for z in range(min_res, max_res + 1):
        simp = map_records(records, SIMPLIFY_COLUMNS,
                           partial(run_simplify, eps=zoom_eps(z)))
        rows += _kernel_rows(simp, KERNEL_COLUMNS, partial(run_clip, res=z),
                             names)
    return rows


def _countries_tiles() -> list[tuple]:
    """ne_110m countries clipped to res-4 tiles by ``vector_tiles``'
    batch function over the core parser's records."""
    from functools import partial

    from .operators.geometry import KERNEL_COLUMNS
    from .operators.vector_tiles import run_vector_tiles
    from .sources.shapefile_core import read_zip

    sf = read_zip(os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    return _kernel_rows(sf.shp.records, KERNEL_COLUMNS,
                        partial(run_vector_tiles, res=4), _TILE_NAMES)


def geojson_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON interchange, gated contract-style: the countries corpus
    exports to RFC 7946 Features, parses back, and every coordinate /
    ring end / polygon grouping must be bit-identical.  The oracle pins
    (n_features, n_bad = 0)."""
    from pyspark.sql import functions as F

    from .functions.geojson import features_to_geojson, geojson_to_features
    from .sources.shapefile import read_shapefile_df

    feats = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    gj = features_to_geojson(feats, props=["NAME"])
    back = geojson_to_features(gj)
    joined = (feats.select("fid", F.col("geometry").alias("g0"))
              .join(back.select("fid", F.col("geometry").alias("g1")),
                    "fid"))
    same = ((F.col("g0.coords") == F.col("g1.coords")) &
            (F.col("g0.ends").cast("array<int>") == F.col("g1.ends")) &
            (F.col("g0.rings").cast("array<int>") == F.col("g1.rings")))
    return joined.agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum(F.when(~same, 1).otherwise(0)).alias("n_bad"))


def q_geojson_roundtrip_oracle(dialect: str) -> str:
    return ("SELECT CAST(177 AS BIGINT) AS n_features, "
            "CAST(0 AS BIGINT) AS n_bad")


def shapefile_poly_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the reference's poly fixture through the Spark source and
    emit attributes + a WKT digest per record (regression-locks the
    parser inside the driver gate; ground truth is the golden pytest
    suite vs reference shapefile_test.go:122-132)."""
    from pyspark.sql import types as T

    from .functions.wkt import wkt_from_struct
    from .operators import local
    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(spark, os.path.join(REF_TESTDATA, "poly"))
    keep = ["fid", "AREA", "EAS_ID", "PRFEDEA"]
    schema = T.StructType([df.schema[c] for c in keep]
                          + [T.StructField("wkt_md5", T.StringType())])

    def wkt_md5(batches):
        import hashlib

        for rb in batches:
            digests = [
                hashlib.md5(wkt_from_struct(
                    st, g["layout"], g["coords"], g["ends"],
                    g["rings"]).encode()).hexdigest()
                for st, g in zip(rb.column("shape_type").to_pylist(),
                                 local.values(rb.column("geometry")))]
            yield {**{c: rb.column(c) for c in keep}, "wkt_md5": digests}

    return local.map_arrow(df.select(*keep, "shape_type", "geometry"),
                           wkt_md5, schema)


def shapefile_poly_oracle() -> str:
    """Literal oracle computed from the (golden-tested) core parser."""
    import hashlib

    from .functions.wkt import to_wkt
    from .sources.shapefile_core import read_shapefile

    sf = read_shapefile(os.path.join(REF_TESTDATA, "poly"))
    rows = []
    for i, rec in enumerate(sf.shp.records):
        area, eas_id, prfedea = sf.dbf.records[i]
        digest = hashlib.md5(to_wkt(rec).encode()).hexdigest()
        rows.append(f"SELECT CAST({i + 1} AS BIGINT) AS fid, "
                    f"CAST({area!r} AS DOUBLE) AS AREA, "
                    f"CAST({eas_id} AS BIGINT) AS EAS_ID, '{prfedea}' AS PRFEDEA, "
                    f"'{digest}' AS wkt_md5")
    return "\nUNION ALL\n".join(rows)


def vector_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-tile materialization: every ne_110m country clipped
    (Sutherland–Hodgman, batched) to the res-4 cell tiles it covers —
    per (feature, tile): tile origin, clipped ring/point counts and the
    clipped planar area.  The oracle pins literals from the kernel's
    own batch function run on the driver over the golden core parser
    (``map_records``; bit-exact — tested); the kernel itself is proven in
    tests/test_vector_tiles.py against an independent per-ring
    Sutherland–Hodgman reference, analytic boxes, and per-feature area
    conservation across the tile decomposition."""
    from .operators.vector_tiles import vector_tiles
    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    return vector_tiles(df, res=4).select(
        "fid", "cell", "lon0", "lat0", "n_rings", "n_points", "area")


def q_vector_tiles_oracle() -> str:
    rows = []
    # quoted literals: see q_geom_measures_oracle (bare 17-digit
    # literals DECIMAL-parse in DuckDB and double-round one ulp off)
    for fid, cell, x0, y0, nr, npts, area in _countries_tiles():
        rows.append(f"(CAST({fid} AS BIGINT), CAST({cell} AS BIGINT), "
                    f"CAST('{x0!r}' AS DOUBLE), CAST('{y0!r}' AS DOUBLE), "
                    f"CAST({nr} AS BIGINT), CAST({npts} AS BIGINT), "
                    f"CAST('{area!r}' AS DOUBLE))")
    return ("SELECT * FROM (VALUES\n" + ",\n".join(rows)
            + "\n) AS t(fid, cell, lon0, lat0, n_rings, n_points, area)")


def _areal_interp_tail() -> str:
    """Shared (dialect-free) tail of the areal-interpolation query over
    a ``tiles(fid, cell, area)`` relation: a per-country value is
    transferred to tiles proportionally to clipped area (the classic
    population-reaggregation operator between zone systems).

    The per-tile rollup is an INTEGER sum: each (fid, tile) share is
    quantized to parts-per-billion first (the idw_surface lesson —
    float SUM accumulation order is not dual-engine stable, integer
    sums are; products stay ≤ 1e14, far from the int64 ANSI ceiling).
    The per-row double division and ROUND are deterministic in both
    engines.  The synthetic value (fid²·37 mod 100000) keeps the gate
    self-contained — no external attribute needed.
    """
    return """
vals AS (
  SELECT fid, (fid * fid * 37) % 100000 AS pop
  FROM (SELECT DISTINCT fid FROM tiles) f),
tot AS (SELECT fid, SUM(area) AS fid_area FROM tiles GROUP BY fid),
shares AS (
  SELECT t.cell, v.pop,
         CAST(ROUND(t.area / g.fid_area
                    * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS share_ppb
  FROM tiles t
  JOIN tot g ON t.fid = g.fid
  JOIN vals v ON v.fid = t.fid)
SELECT cell, CAST(SUM(pop * share_ppb) AS BIGINT) AS pop_ppb,
       CAST(COUNT(*) AS BIGINT) AS n_countries
FROM shares GROUP BY cell"""


def areal_interpolation_spark(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Areal interpolation (area-weighted zone transfer): ne_110m
    countries clipped to res-4 tiles by the batched Sutherland–Hodgman
    kernel, a per-country value reaggregated onto the tile system
    proportional to clipped area.  Geometry is the proven clip kernel
    (oracle pins the areas of its batch function run on the driver);
    the transfer math is dual-engine SQL."""
    from .operators.vector_tiles import vector_tiles
    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    return pin_ctes(
        spark, "WITH" + _areal_interp_tail(), [],
        tiles=vector_tiles(df, res=4).select("fid", "cell", "area"))[0]


def q_areal_interpolation_oracle() -> str:
    rows = []
    for fid, cell, x0, y0, nr, npts, area in _countries_tiles():
        rows.append(f"(CAST({fid} AS BIGINT), CAST({cell} AS BIGINT), "
                    f"CAST('{area!r}' AS DOUBLE))")
    return (f"WITH tiles AS (SELECT * FROM (VALUES\n"
            + ",\n".join(rows)
            + f"\n) AS t(fid, cell, area)),{_areal_interp_tail()}")


def vector_tile_pyramid_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom vector tiles (tippecanoe pipeline): ne_110m countries
    simplified at one tile-pixel tolerance per zoom, then clipped to
    that zoom's tiles, zooms 2-4 unioned (cell ids encode the level).
    Oracle pins literals from the simplify and clip batch functions
    chained on the driver (``_pyramid_rows``)."""
    from .operators.vector_tiles import vector_tile_pyramid
    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    return vector_tile_pyramid(df, 2, 4, slot="vector_tile_pyramid") \
        .select("fid", "cell", "lon0", "lat0", "n_rings", "n_points",
                "area")


def q_vector_tile_pyramid_oracle() -> str:
    from .operators.vector_tiles import run_vector_tiles
    from .sources.shapefile_core import read_zip

    sf = read_zip(os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    rows = [f"(CAST({fid} AS BIGINT), CAST({cell} AS BIGINT), "
            f"CAST('{x0!r}' AS DOUBLE), CAST('{y0!r}' AS DOUBLE), "
            f"CAST({nr} AS BIGINT), CAST({npts} AS BIGINT), "
            f"CAST('{area!r}' AS DOUBLE))"
            for fid, cell, x0, y0, nr, npts, area
            in _pyramid_rows(sf.shp.records, 2, 4, run_vector_tiles,
                             _TILE_NAMES)]
    return ("SELECT * FROM (VALUES\n" + ",\n".join(rows)
            + "\n) AS t(fid, cell, lon0, lat0, n_rings, n_points, area)")


def ensure_lines_corpus() -> str:
    """Deterministic 500-polyline gate corpus (seeded random walks,
    1-3 parts each) written once to .cache as a real PolyLine shapefile
    — versioned path, regenerable like the audio/image gate corpora."""
    import numpy as np

    base = os.path.join(_CACHE_ROOT, "gate_lines_n500_v2", "lines")
    marker = base + "._SUCCESS_GATE"
    if not os.path.exists(marker):
        os.makedirs(os.path.dirname(base), exist_ok=True)
        from .sources.shapefile_writer import write_polylines
        rng = np.random.default_rng(21)
        lines = []
        for _ in range(500):
            coords, ends, pos = [], [], 0
            # parts cluster around one feature origin (a real line
            # layer's parts are near each other; v1 scattered parts
            # world-wide, which made every feature's bbox near-global)
            fx = rng.uniform(-170, 170)
            fy = rng.uniform(-80, 80)
            for _p in range(int(rng.integers(1, 4))):
                m = int(rng.integers(4, 40))
                x0 = fx + rng.uniform(-2.0, 2.0)
                y0 = fy + rng.uniform(-2.0, 2.0)
                steps = rng.uniform(-0.4, 0.4, (m - 1, 2))
                pts = np.concatenate(([[x0, y0]],
                                      [[x0, y0]] + np.cumsum(steps, 0)))
                coords.extend(pts.ravel().tolist())
                pos += 2 * m
                ends.append(pos)
            lines.append({"coords": coords, "ends": ends})
        write_polylines(base, lines)
        with open(marker, "w") as f:
            f.write("ok")      # write-after-data: a killed generation
    return base                # regenerates instead of parsing a stub


def vector_tiles_lines_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline vector tiles: the deterministic 500-line corpus clipped
    (batched Liang–Barsky + path re-chaining) to res-5 cell tiles —
    per (feature, tile): sub-path/point counts and clipped length.  The
    oracle pins literals from the kernel's batch function run on the
    driver over the core parser's records; the
    segment clip itself is proven against an independent per-part
    reference in tests/test_vector_tiles.py."""
    from .operators.vector_tiles import vector_tiles_lines
    from .sources.shapefile import read_shapefile_df

    return vector_tiles_lines(
        read_shapefile_df(spark, ensure_lines_corpus(),
                          target_records_per_split=64), res=5).select(
        "fid", "cell", "lon0", "lat0", "n_paths", "n_points", "length")


def q_vector_tiles_lines_oracle() -> str:
    from functools import partial

    from .operators.geometry import KERNEL_COLUMNS
    from .operators.vector_tiles import run_vector_tiles_lines
    from .sources.shapefile_core import read_shapefile

    sf = read_shapefile(ensure_lines_corpus())
    rows = []
    for fid, cell, x0, y0, npth, npts, ln in _kernel_rows(
            sf.shp.records, KERNEL_COLUMNS,
            partial(run_vector_tiles_lines, res=5), _LINE_TILE_NAMES):
        rows.append(f"(CAST({fid} AS BIGINT), CAST({cell} AS BIGINT), "
                    f"CAST('{x0!r}' AS DOUBLE), CAST('{y0!r}' AS DOUBLE), "
                    f"CAST({npth} AS BIGINT), CAST({npts} AS BIGINT), "
                    f"CAST('{ln!r}' AS DOUBLE))")
    return ("SELECT * FROM (VALUES\n" + ",\n".join(rows)
            + "\n) AS t(fid, cell, lon0, lat0, n_paths, n_points, length)")


def dissolve_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve-by-attribute for a NON-OVERLAPPING layer (the classic
    admin-boundary dissolve), per tile: countries clip to res-4 tiles,
    then tiles group by MAP_COLOR — for disjoint inputs the union of
    clipped geometries is their concatenation, so per-(group, tile)
    area is a sum and the dissolve is exact.  Per-tile areas quantize
    to integer 1e-9 deg² units BEFORE the group sum (float SUM
    accumulation order is not dual-engine stable; integer sums are) —
    the IDW/heatmap discipline.  Oracle pins literals from the clip's
    batch function run on the driver, grouped in Python."""
    from pyspark.sql import functions as F

    from .operators.vector_tiles import vector_tiles
    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    tiles = vector_tiles(df.select("fid", "shape_type", "geometry"),
                         res=4)
    colors = df.select("fid", F.col("MAP_COLOR").cast("long")
                       .alias("map_color"))
    return (tiles
            .withColumn("area_u", F.expr(
                "CAST(FLOOR(area * CAST(1000000000.0 AS DOUBLE)) "
                "AS BIGINT)"))
            .join(F.broadcast(colors), "fid")
            .groupBy("map_color", "cell")
            .agg(F.count(F.lit(1)).alias("n_features"),
                 F.sum("n_rings").alias("n_rings"),
                 F.sum("area_u").alias("area_u")))


def q_dissolve_tiles_oracle() -> str:
    import math

    from .sources.shapefile_core import read_zip

    sf = read_zip(os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    color_of = {i + 1: int(sf.record(i)[0]["MAP_COLOR"])
                for i in range(sf.num_records())}
    acc: dict = {}
    for fid, cell, _x0, _y0, nr, _npts, area in _countries_tiles():
        key = (color_of[fid], cell)
        n, rings, au = acc.get(key, (0, 0, 0))
        acc[key] = (n + 1, rings + nr,
                    au + math.floor(area * 1000000000.0))
    rows = [f"(CAST({c} AS BIGINT), CAST({cell} AS BIGINT), "
            f"CAST({n} AS BIGINT), CAST({rings} AS BIGINT), "
            f"CAST({au} AS BIGINT))"
            for (c, cell), (n, rings, au) in sorted(acc.items())]
    return ("SELECT * FROM (VALUES\n" + ",\n".join(rows)
            + "\n) AS t(map_color, cell, n_features, n_rings, area_u)")


def geom_measures_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry measures (planar area / perimeter / area-weighted
    centroid) for every ne_110m country, computed distributed over the
    Spark shapefile source — the ST_Area/ST_Length/ST_Centroid analog.
    The oracle pins literals from the kernel's batch function run on
    the driver over the golden core parser (bit-exact — the gate proves
    the distributed plumbing and
    Spark-source parse parity); the kernel itself is proven in
    tests/test_geometry.py against analytic shapes and an independent
    sequential pure-Python reference."""
    from .operators.geometry import geom_measures
    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    return geom_measures(df)


def simplify_countries_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas–Peucker simplification (ST_Simplify analog) of every
    ne_110m country at eps=0.1°, summarized per feature: vertex/ring
    counts before and after plus measures of the SIMPLIFIED geometry —
    exercising the simplify_features → geom_measures composition over
    the shared geometry struct.  The oracle pins literals from the two
    kernels' batch functions chained on the driver over the golden core
    parser; the DP kernel itself is proven
    in tests/test_geometry.py against an independent recursive
    reference and the within-eps guarantee."""
    from pyspark.sql import functions as F

    from .operators.geometry import geom_measures, simplify_features
    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    simp = simplify_features(df, eps=0.1)
    before = df.select(
        "fid",
        (F.size("geometry.coords") / 2).cast("bigint").alias("pts_in"),
        F.size("geometry.ends").cast("bigint").alias("rings_in"))
    after = simp.select(
        "fid",
        (F.size("geometry.coords") / 2).cast("bigint").alias("pts_out"),
        F.size("geometry.ends").cast("bigint").alias("rings_out"))
    meas = geom_measures(simp).select("fid", "area", "perimeter")
    return before.join(after, "fid").join(meas, "fid") \
        .select("fid", "pts_in", "rings_in", "pts_out", "rings_out",
                "area", "perimeter")


def q_simplify_countries_oracle() -> str:
    from functools import partial

    from .operators.geometry import (KERNEL_COLUMNS, SIMPLIFY_COLUMNS,
                                     run_geom_measures, run_simplify)
    from .sources.shapefile import map_records
    from .sources.shapefile_core import read_zip

    sf = read_zip(os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    recs = sf.shp.records
    simp = map_records(recs, SIMPLIFY_COLUMNS, partial(run_simplify, eps=0.1))
    # measures of the simplified geometry: simplify's output chained
    # into the measures batch function, as the Spark composition runs
    # (literals quoted — see q_geom_measures_oracle)
    geoms = {fid: g for rb in simp for fid, g in zip(
        rb.column("fid").to_pylist(), rb.column("geometry").to_pylist())}
    rows = []
    for fid, a, ln in _kernel_rows(simp, KERNEL_COLUMNS, run_geom_measures,
                                   ["fid", "area", "perimeter"]):
        rec, g = recs[fid - 1], geoms[fid]
        rows.append(f"SELECT CAST({fid} AS BIGINT) AS fid, "
                    f"CAST({len(rec.coords) // 2} AS BIGINT) AS pts_in, "
                    f"CAST({len(rec.ends)} AS BIGINT) AS rings_in, "
                    f"CAST({len(g['coords']) // 2} AS BIGINT) AS pts_out, "
                    f"CAST({len(g['ends'])} AS BIGINT) AS rings_out, "
                    f"CAST('{a!r}' AS DOUBLE) AS area, "
                    f"CAST('{ln!r}' AS DOUBLE) AS perimeter")
    return "\nUNION ALL\n".join(rows)


def geodesic_measures_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical measures (haversine perimeter + Chamberlain–Duquette
    spherical-excess area, meters) for every ne_110m country — the
    geography-type ST_Area/ST_Length analog for lon/lat corpora.  Same
    one-Arrow-pass plan as geom_measures; the oracle pins literals from
    the kernel's batch function run on the driver over the golden core
    parser, and the kernel itself
    is proven in tests/test_geometry.py against analytic closed forms
    (exact lat-lon rectangle, meridian arcs, antimeridian wrap) and
    Earth's land-area total."""
    from .operators.geometry import geodesic_measures
    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    return geodesic_measures(df)


def q_geodesic_measures_oracle() -> str:
    from .operators.geometry import KERNEL_COLUMNS, run_geodesic_measures
    from .sources.shapefile_core import read_zip

    sf = read_zip(os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    rows = []
    # literals quoted for correctly-rounded string → DOUBLE parse (see
    # q_geom_measures_oracle)
    for fid, a, ln in _kernel_rows(
            sf.shp.records, KERNEL_COLUMNS, run_geodesic_measures,
            ["fid", "geo_area_m2", "geo_length_m"]):
        rows.append(f"SELECT CAST({fid} AS BIGINT) AS fid, "
                    f"CAST('{a!r}' AS DOUBLE) AS geo_area_m2, "
                    f"CAST('{ln!r}' AS DOUBLE) AS geo_length_m")
    return "\nUNION ALL\n".join(rows)


def q_geom_measures_oracle() -> str:
    from .operators.geometry import KERNEL_COLUMNS, run_geom_measures
    from .sources.shapefile_core import read_zip

    sf = read_zip(os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    rows = []
    # literals pinned from the batch function Spark runs (segmented
    # sums are batch-partitioning-independent) and QUOTED: a
    # bare 17-digit literal parses as DECIMAL first in DuckDB and
    # double-rounds one ulp off; the string → DOUBLE parse is correctly
    # rounded (shortest-repr roundtrip)
    for fid, a, ln, cx, cy in _kernel_rows(
            sf.shp.records, KERNEL_COLUMNS, run_geom_measures,
            ["fid", "area", "perimeter", "cx", "cy"]):
        rows.append(f"SELECT CAST({fid} AS BIGINT) AS fid, "
                    f"CAST('{a!r}' AS DOUBLE) AS area, "
                    f"CAST('{ln!r}' AS DOUBLE) AS perimeter, "
                    f"CAST('{cx!r}' AS DOUBLE) AS cx, "
                    f"CAST('{cy!r}' AS DOUBLE) AS cy")
    return "\nUNION ALL\n".join(rows)


def shapefile_countries_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate summary of the ne_110m zip parsed via the Spark source."""
    from pyspark.sql import functions as F

    from .sources.shapefile import read_shapefile_df

    df = read_shapefile_df(
        spark, os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    return df.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("bbox.xmin").alias("xmin"), F.min("bbox.ymin").alias("ymin"),
        F.max("bbox.xmax").alias("xmax"), F.max("bbox.ymax").alias("ymax"),
        F.sum(F.size("geometry.ends")).alias("total_rings"),
        F.sum(F.size("geometry.rings")).alias("total_polygons"),
        F.sum(F.col("LabelRank")).alias("sum_labelrank"))


def shapefile_countries_oracle() -> str:
    from .sources.shapefile_core import read_zip

    sf = read_zip(os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip"))
    n = len(sf.shp.records)
    xmin = min(r.bounds[0] for r in sf.shp.records)
    ymin = min(r.bounds[1] for r in sf.shp.records)
    xmax = max(r.bounds[2] for r in sf.shp.records)
    ymax = max(r.bounds[3] for r in sf.shp.records)
    total_rings = sum(len(r.ends) for r in sf.shp.records)
    total_polygons = sum(len(r.endss) for r in sf.shp.records)
    lr = next(i for i, f in enumerate(sf.dbf.fields) if f.name == "LabelRank")
    sum_lr = sum(rec[lr] for rec in sf.dbf.records)
    return (f"SELECT CAST({n} AS BIGINT) AS n_records, "
            f"CAST({xmin!r} AS DOUBLE) AS xmin, CAST({ymin!r} AS DOUBLE) AS ymin, "
            f"CAST({xmax!r} AS DOUBLE) AS xmax, CAST({ymax!r} AS DOUBLE) AS ymax, "
            f"CAST({total_rings} AS BIGINT) AS total_rings, "
            f"CAST({total_polygons} AS BIGINT) AS total_polygons, "
            f"CAST({sum_lr} AS BIGINT) AS sum_labelrank")


# --- registry --------------------------------------------------------------


def _sql_runner(sql_fn: Callable[[str], str]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(sql_fn(SPARK))
    return run


def build_registry():
    """Returns (queries dict, oracle dict) for __spark_entry__."""
    dual = {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_revenue_topk": q3_revenue_topk,
        "q5_region_revenue": q5_region_revenue,
        "top_events_per_user": q_top_events_per_user,
        "event_sessions": q_event_sessions,
        "tumbling_windows": q_tumbling_windows,
        "geotag_tiles": q_geotag_tiles,
        "dedup_exact": lambda d: D.exact_dedup_sql(d),
        "dedup_minhash_lsh": lambda d: D.minhash_lsh_sql(d),
        # stop-shingle variant: the low-entropy-corpus mitigation found
        # by the r5 scale rehearsal (gate corpus is word salad over 31
        # words — globally-common shingles merge the LSH buckets; the
        # filter keeps candidates proportional to true near-dups)
        "dedup_minhash_stopfiltered":
            lambda d: D.minhash_lsh_sql(d, max_doc_freq=0.5),
        "simhash_signatures": lambda d: D.simhash_sql(d),
        "simhash_pairs": lambda d: D.simhash_pairs_sql(d),
        "ngram_jaccard_pairs": lambda d: D.ngram_jaccard_sql(d),
        "token_stats": lambda d: TX.token_stats_sql(d),
        "bpe_token_stats": lambda d: TX.bpe_token_stats_sql(d),
        "quality_score": lambda d: TX.quality_score_sql(d),
        "langid": lambda d: TX.langid_sql(d),
        "fingerprint": lambda d: TX.fingerprint_sql(d),
        "fingerprint_winnow": lambda d: TX.winnow_fingerprint_sql(d),
        "fingerprint_winnow_chunked":
            lambda d: TX.winnow_fingerprint_chunked_sql(d, chunk=64),
        # MOSS-style contiguous-overlap detector (winnowed-fingerprint
        # equi-join; df guard per the r5 quadratic-candidates finding)
        "fingerprint_overlap_pairs":
            lambda d: TX.fingerprint_overlap_pairs_sql(
                d, min_shared=4, max_doc_freq=0.02),
        # the pre-tokenization filter composition (quality floor +
        # language gate + exact-dedup keep-one) as one relational query
        "corpus_curation": lambda d: TX.corpus_curation_sql(d),
        # the single-token-pass fusion (2 scans instead of 4)
        "corpus_curation_fused": lambda d: TX.corpus_curation_fused_sql(d),
        # retrieval scoring: rational-idf BM25 top-k (see docstring for
        # why the final LN is omitted in the dual-engine template)
        "bm25_topk": lambda d: TX.bm25_topk_sql(d),
        # eval-set decontamination: word-5-gram overlap vs a held-out
        # benchmark split, hashed-int join keys, broadcast bench side
        "decontam_overlap": lambda d: TX.decontam_overlap_sql(d),
        # Gopher-style repetition signals (top-2-gram fraction +
        # duplicate-5-gram position fraction) in one scan/one explode
        "repetition_quality": lambda d: TX.repetition_stats_sql(d),
        # collocation mining: top-k bigrams by PMI — log-free integer
        # ranking (monotone rational), vocab-bounded scoring join
        "pmi_bigrams": lambda d: TX.pmi_bigrams_sql(d),
        # boilerplate n-gram curation: df-filtered hot grams as the
        # SMALL join side, per-doc coverage ppb (short docs score 0,
        # never dropped)
        "boilerplate_ngrams": lambda d: TX.boilerplate_ngrams_sql(d),
        # ExactSubstr-style duplicate-span cut list: cross-doc repeated
        # 8-gram windows merged to maximal spans (gaps-and-islands over
        # flagged positions with a running-max window)
        "duplicate_spans": lambda d: TX.duplicate_spans_sql(d),
        # bigram-LM document scoring (the model-based quality filter):
        # ppb-quantized conditional probs, broadcastable vocab² model;
        # low_q at the gate corpus's ~30th percentile so the band
        # verdict actually splits
        "lm_likelihood": lambda d: TX.lm_likelihood_sql(
            d, low_q=33_500_000),
        # deterministic 80/10/10 split + sqrt-temperature source
        # sampling (integer-domain quotas; see docstring)
        "corpus_split_sample": lambda d: TX.split_sample_sql(d),
        # GPT-style sequence packing: shard-local concat-then-chunk
        # accounting, all-integer outputs, no global sort
        "pack_sequences": lambda d: TX.pack_sequences_sql(d),
        # PII detect + redact (planted spans; global-replace seam)
        "pii_redact": lambda d: TX.pii_redact_sql(d),
        # RAG chunking: fixed windows + overlap, hash-reduced slices
        # (text never rides the explode)
        "chunk_documents": lambda d: TX.chunk_documents_sql(
            d, size=64, overlap=16),
        "cosine_topk": lambda d: SIM.cosine_topk_sql(d),
        "embedding_neardup": lambda d: SIM.embedding_neardup_sql(d, threshold=0.25),
        "embedding_neardup_bucketed":
            lambda d: SIM.embedding_neardup_bucketed_sql(d, threshold=0.25),
    }
    queries = {name: _sql_runner(fn) for name, fn in dual.items()}
    oracles = {name: fn(DUCK) for name, fn in dual.items()}

    # Engine-path queries whose Spark side is DataFrame-API operators.
    queries["grid_spatial_join"] = grid_spatial_join_spark
    queries["spatial_antijoin"] = spatial_antijoin_spark
    oracles["spatial_antijoin"] = q_spatial_antijoin_oracle(DUCK)
    oracles["grid_spatial_join"] = q_grid_spatial_join_oracle(DUCK)
    queries["knn_events"] = knn_events_spark
    oracles["knn_events"] = q_knn_events_oracle(DUCK)
    queries["knn_events_haversine"] = knn_haversine_spark
    oracles["knn_events_haversine"] = q_knn_haversine_oracle(DUCK)
    queries["knn_events_exact"] = knn_exact_spark
    oracles["knn_events_exact"] = q_knn_exact_oracle(DUCK)
    queries["salted_tile_counts"] = salted_tiles_spark
    oracles["salted_tile_counts"] = q_salted_tiles_oracle(DUCK)
    queries["asof_join_rates"] = asof_join_spark
    oracles["asof_join_rates"] = q_asof_join_oracle(DUCK)
    queries["range_join_intervals"] = range_join_spark
    oracles["range_join_intervals"] = q_range_join_oracle(DUCK)
    queries["bucketed_join_rollup"] = bucketed_join_spark
    oracles["bucketed_join_rollup"] = q_bucketed_join_oracle(DUCK)
    queries["lineage_resume_rollup"] = lineage_resume_spark
    oracles["lineage_resume_rollup"] = q_lineage_resume_oracle(DUCK)
    queries["image_invariants"] = image_invariants_spark
    oracles["image_invariants"] = q_image_invariants_oracle(DUCK)
    queries["tiles_roundtrip"] = tiles_roundtrip_spark
    oracles["tiles_roundtrip"] = q_tiles_roundtrip_oracle(DUCK)
    queries["streaming_tile_rollup"] = streaming_tiles_spark
    oracles["streaming_tile_rollup"] = q_streaming_tiles_oracle(DUCK)
    queries["streaming_sessions"] = streaming_sessions_spark
    oracles["streaming_sessions"] = q_event_sessions(DUCK)
    queries["streaming_dedup"] = streaming_dedup_spark
    oracles["streaming_dedup"] = q_streaming_dedup_oracle(DUCK)

    def sketch_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Sketch statistics (HLL distinct + approx quantiles), gated
        contract-style: Spark computes estimate AND exact in one pass,
        emits exact values + within-tolerance booleans; the oracle
        reproduces the exact side with the booleans pinned TRUE."""
        from .operators.sketches import sketch_stats_spark_sql

        register_tables(spark, sf_dir)
        return spark.sql(sketch_stats_spark_sql())

    from .operators.sketches import sketch_stats_oracle_sql
    queries["sketch_stats"] = sketch_stats_spark
    oracles["sketch_stats"] = sketch_stats_oracle_sql()
    queries["streaming_spatial_join"] = streaming_spatial_join_spark
    oracles["streaming_spatial_join"] = q_streaming_spatial_join_oracle(DUCK)
    queries["snapshot_incremental_rollup"] = snapshot_incremental_spark
    oracles["snapshot_incremental_rollup"] = q_snapshot_incremental_oracle(DUCK)
    queries["snapshot_compaction_rollup"] = snapshot_compaction_spark
    oracles["snapshot_compaction_rollup"] = q_snapshot_compaction_oracle(DUCK)
    queries["snapshot_merge_rollup"] = snapshot_merge_spark
    oracles["snapshot_merge_rollup"] = q_snapshot_merge_oracle(DUCK)
    queries["image_quality"] = image_quality_spark
    oracles["image_quality"] = q_image_quality_oracle()
    queries["image_luma_histogram"] = image_luma_histogram_spark
    oracles["image_luma_histogram"] = q_image_luma_histogram_oracle()
    queries["image_metadata"] = image_metadata_spark
    oracles["image_metadata"] = q_image_metadata_oracle()
    queries["image_neardup"] = image_neardup_spark
    oracles["image_neardup"] = q_image_neardup_oracle(DUCK)
    queries["image_phash_neardup"] = image_phash_neardup_spark
    oracles["image_phash_neardup"] = q_image_phash_neardup_oracle(DUCK)
    queries["image_patches"] = image_patches_spark
    oracles["image_patches"] = q_image_patches_oracle(DUCK)
    queries["zonal_image_stats"] = zonal_image_stats_spark
    oracles["zonal_image_stats"] = q_zonal_image_stats_oracle(DUCK)
    queries["video_frame_sample"] = video_frame_sample_spark
    oracles["video_frame_sample"] = q_video_frame_sample_oracle(DUCK)
    queries["video_neardup"] = video_neardup_spark
    oracles["video_neardup"] = q_video_neardup_oracle(DUCK)
    queries["audio_invariants"] = audio_invariants_spark
    oracles["audio_invariants"] = q_audio_invariants_oracle(DUCK)
    queries["audio_metadata"] = audio_metadata_spark
    oracles["audio_metadata"] = q_audio_metadata_oracle()
    queries["video_metadata"] = video_metadata_spark
    oracles["video_metadata"] = q_video_metadata_oracle()
    queries["audio_neardup"] = audio_neardup_spark
    oracles["audio_neardup"] = q_audio_neardup_oracle(DUCK)
    queries["audio_dedup_groups"] = audio_dedup_groups_spark
    oracles["audio_dedup_groups"] = q_audio_dedup_groups_oracle(DUCK)
    queries["image_dedup_groups"] = image_dedup_groups_spark
    oracles["image_dedup_groups"] = q_image_dedup_groups_oracle(DUCK)
    queries["streaming_audio_dedup"] = streaming_audio_dedup_spark
    oracles["streaming_audio_dedup"] = q_streaming_audio_dedup_oracle(DUCK)
    queries["bpe_learn"] = bpe_learn_spark
    oracles["bpe_learn"] = q_bpe_learn_oracle(DUCK)
    queries["tile_pyramid"] = tile_pyramid_spark
    oracles["tile_pyramid"] = q_tile_pyramid_oracle(DUCK)

    # simhash_pairs / dedup_minhash_lsh: same algebra, but the Spark side
    # materializes the self-joined CTE once (Spark inlines CTEs, so the
    # signature/shingle subtree would otherwise recompute per reference).
    def simhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        # localCheckpoint, not cache(): see minhash_cached — the banded
        # self-join defeats CacheManager substitution (the planned tree
        # carried 8 parquet scans / 8 Generates with the signature
        # subtree inlined per band), so pin the signatures as a
        # LogicalRDD leaf that cannot recompute.
        pin = _fresh_checkpoints(spark, "simhash_pairs")
        return pin_ctes(spark, D.simhash_pairs_sql(SPARK), ["sig"], pin)[0]
    queries["simhash_pairs"] = simhash_pairs_cached

    def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Near-dup GROUPS: connected components over the simhash pair
        edges (the clustering step the spanning edge sets exist for).
        Spark runs the iterative large-star/small-star operator; the
        oracle computes the same components in DuckDB with a recursive
        CTE — two genuinely different algorithms, identical labels."""
        from pyspark.sql import functions as F

        from .operators.graph import connected_components

        pairs = simhash_pairs_cached(spark, sf_dir)
        cc = connected_components(
            pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst")))
        return cc.select(F.col("node").alias("doc_id"),
                         F.col("component"))
    queries["neardup_components"] = neardup_components
    oracles["neardup_components"] = f"""
WITH RECURSIVE pairs AS (
{D.simhash_pairs_sql(DUCK)}
),
cedges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a AS src, a AS node FROM cedges
  UNION
  SELECT r.src, e.b FROM reach r JOIN cedges e ON e.a = r.node
)
SELECT src AS doc_id, MIN(node) AS component
FROM reach GROUP BY src
"""

    def ngram_jaccard_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        # same checkpoint treatment as minhash_cached: the subset
        # shingle subtree is referenced by sizes + both sides of the
        # intersection self-join (4 inlined copies otherwise)
        pin = _fresh_checkpoints(spark, "ngram_jaccard_pairs")
        return pin_ctes(spark, D.ngram_jaccard_sql(SPARK), ["shingles"],
                        pin)[0]
    queries["ngram_jaccard_pairs"] = ngram_jaccard_cached

    def embedding_neardup_bucketed_cached(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        # checkpoint the bucket signatures before the self-join: the
        # planes→q(64× explode)→sig→buckets subtree is the expensive
        # part and CTE inlining recomputes it per join side (same
        # CacheManager failure as minhash_cached — cache() silently
        # does not substitute into the self-joined composition)
        pin = _fresh_checkpoints(spark, "embedding_neardup_bucketed")
        return pin_ctes(
            spark, SIM.embedding_neardup_bucketed_sql(SPARK, threshold=0.25),
            ["buckets"], pin)[0]
    queries["embedding_neardup_bucketed"] = embedding_neardup_bucketed_cached

    def minhash_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        # localCheckpoint, NOT cache(): in this composed query (band
        # union over mh over shingles, then a self-join, then two more
        # shingle joins) CacheManager substitution silently fails — the
        # planned tree carried 10 parquet scans and 12 copies of the
        # md5 chain with ZERO InMemoryTableScans even though
        # isCached() reported true for every view.  A checkpointed
        # DataFrame is a LogicalRDD leaf: references physically cannot
        # recompute the subtree.
        # The candidate pairs pin too (r6): the Spark verify spelling
        # references cand three times (join side + two semi filters).
        # The documents table is a single parquet file at small SFs —
        # spread the shingle/md5 chain across tasks before exploding.
        pin = _fresh_checkpoints(spark, "dedup_minhash_lsh")
        return pin_ctes(
            spark, D.minhash_lsh_sql(SPARK, rel="documents_rep"),
            ["shingles", "mh", "cand"], pin,
            documents_rep=spark.table("documents").repartition(32))[0]
    queries["dedup_minhash_lsh"] = minhash_cached

    def minhash_stopfiltered_cached(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
        """Same pinning treatment as minhash_cached for the stop-
        filtered variant (r5 review: the raw template re-runs the
        signature aggregation per band reference): pin the shingles,
        the df-filtered shingles, and the signatures as plan leaves."""
        register_tables(spark, sf_dir)
        pin = _fresh_checkpoints(spark, "dedup_minhash_stopfiltered")
        return pin_ctes(
            spark, D.minhash_lsh_sql(SPARK, rel="documents_rep",
                                     max_doc_freq=0.5),
            ["shingles", "shingles_kept", "mh", "cand"], pin,
            documents_rep=spark.table("documents").repartition(32))[0]
    queries["dedup_minhash_stopfiltered"] = minhash_stopfiltered_cached

    def duplicate_spans_pinned(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
        """Spark side pins the hashed-position relation ``ds_pos``: it
        is referenced by both the df groupBy and the flag join, and CTE
        inlining re-runs the tokenize + explode + per-position md5 per
        reference (r6 optimization).  Oracle unchanged."""
        register_tables(spark, sf_dir)
        pin = _fresh_checkpoints(spark, "duplicate_spans")
        return pin_ctes(spark, TX.duplicate_spans_sql(SPARK), ["ds_pos"],
                        pin)[0]
    queries["duplicate_spans"] = duplicate_spans_pinned

    def boilerplate_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Same treatment for ``bp_pos`` (hot-gram df groupBy + coverage
        join both re-ran the tokenize/md5 explode).  Oracle unchanged."""
        register_tables(spark, sf_dir)
        pin = _fresh_checkpoints(spark, "boilerplate_ngrams")
        return pin_ctes(spark, TX.boilerplate_ngrams_sql(SPARK), ["bp_pos"],
                        pin)[0]
    queries["boilerplate_ngrams"] = boilerplate_pinned

    def overlap_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Pin the winnowed-fingerprint relation before the self-join:
        CTE inlining otherwise recomputes the whole windowed winnow
        pipeline per join side (4 Window + 8 Generate nodes in the r5
        probe's plan).  Pinning alone does NOT fix the join strategy —
        checkpointed LogicalRDDs preserve the origin plan's Statistics
        (23.1 MiB for the 22M-row rehearsal relation), so the planner
        still broadcast the build side and OOM'd an 8g JVM; the MERGE
        hint baked into the shared template forces the shuffle join."""
        register_tables(spark, sf_dir)
        pin = _fresh_checkpoints(spark, "fingerprint_overlap_pairs")
        return pin_ctes(
            spark, TX.fingerprint_overlap_pairs_sql(
                SPARK, min_shared=4, max_doc_freq=0.02, chunk=4096),
            ["fps_j"], pin)[0]
    queries["fingerprint_overlap_pairs"] = overlap_pairs_cached

    def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end dedup composition: minhash LSH pairs → connected
        components → keep-one-representative corpus accounting.  The
        single output row (corpus size, duplicate groups, documents
        kept) is what a training-data pipeline reports after its dedup
        stage; the oracle recomputes it in DuckDB from the same pair
        SQL with a recursive-CTE closure."""
        from pyspark.sql import functions as F

        from .operators.graph import connected_components

        pairs = minhash_cached(spark, sf_dir)
        cc = connected_components(
            pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst")))
        stats = cc.agg(
            F.count(F.lit(1)).alias("nodes"),
            F.countDistinct("component").alias("groups")).collect()[0]
        n_docs = spark.table("documents").count()
        row = [(int(n_docs), int(stats.groups),
                int(n_docs - stats.nodes + stats.groups))]
        return spark.createDataFrame(
            row, "n_docs long, n_dup_groups long, n_docs_kept long")
    queries["dedup_pipeline"] = dedup_pipeline
    oracles["dedup_pipeline"] = f"""
WITH RECURSIVE pairs AS (
{D.minhash_lsh_sql(DUCK)}
),
cedges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a AS src, a AS node FROM cedges
  UNION
  SELECT r.src, e.b FROM reach r JOIN cedges e ON e.a = r.node
),
comp AS (
  SELECT src AS doc_id, MIN(node) AS component FROM reach GROUP BY src
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_dup_groups,
       (SELECT COUNT(*) FROM documents) - COUNT(*)
         + COUNT(DISTINCT component) AS n_docs_kept
FROM comp
"""

    # Shapefile-source regression queries (skipped if the reference
    # fixture corpus is not present in the environment).
    if os.path.exists(os.path.join(REF_TESTDATA, "poly.shp")):
        queries["shapefile_poly"] = shapefile_poly_spark
        oracles["shapefile_poly"] = shapefile_poly_oracle()
    if os.path.exists(os.path.join(REF_TESTDATA, "110m-admin-0-countries.zip")):
        queries["shapefile_countries_summary"] = shapefile_countries_spark
        oracles["shapefile_countries_summary"] = shapefile_countries_oracle()
        queries["geom_measures_countries"] = geom_measures_spark
        oracles["geom_measures_countries"] = q_geom_measures_oracle()
        queries["geodesic_measures_countries"] = geodesic_measures_spark
        oracles["geodesic_measures_countries"] = q_geodesic_measures_oracle()
        queries["simplify_countries"] = simplify_countries_spark
        oracles["simplify_countries"] = q_simplify_countries_oracle()
        queries["vector_tiles_countries"] = vector_tiles_spark
        oracles["vector_tiles_countries"] = q_vector_tiles_oracle()
        queries["areal_interpolation"] = areal_interpolation_spark
        oracles["areal_interpolation"] = q_areal_interpolation_oracle()
        queries["vector_tile_pyramid"] = vector_tile_pyramid_spark
        oracles["vector_tile_pyramid"] = q_vector_tile_pyramid_oracle()
        queries["dissolve_tiles"] = dissolve_tiles_spark
        oracles["dissolve_tiles"] = q_dissolve_tiles_oracle()
        queries["geojson_roundtrip"] = geojson_roundtrip_spark
        oracles["geojson_roundtrip"] = q_geojson_roundtrip_oracle(DUCK)
    # polyline tiles use a self-generated deterministic corpus — no
    # dependency on the reference fixtures being present
    queries["vector_tiles_lines"] = vector_tiles_lines_spark
    oracles["vector_tiles_lines"] = q_vector_tiles_lines_oracle()

    def vector_tile_pyramid_lines_spark(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
        """Polyline pyramid: the line corpus simplified at one
        tile-pixel per zoom then clipped, zooms 4-5 unioned."""
        from .operators.vector_tiles import vector_tile_pyramid_lines
        from .sources.shapefile import read_shapefile_df

        df = read_shapefile_df(spark, ensure_lines_corpus(),
                               target_records_per_split=64)
        return vector_tile_pyramid_lines(
            df, 4, 5, slot="vector_tile_pyramid_lines").select(
            "fid", "cell", "lon0", "lat0", "n_paths", "n_points",
            "length")

    def q_line_pyramid_oracle() -> str:
        from .operators.vector_tiles import run_vector_tiles_lines
        from .sources.shapefile_core import read_shapefile

        sf = read_shapefile(ensure_lines_corpus())
        rows = [f"(CAST({fid} AS BIGINT), CAST({cell} AS BIGINT), "
                f"CAST('{x0!r}' AS DOUBLE), CAST('{y0!r}' AS DOUBLE), "
                f"CAST({npth} AS BIGINT), CAST({npts} AS BIGINT), "
                f"CAST('{ln!r}' AS DOUBLE))"
                for fid, cell, x0, y0, npth, npts, ln
                in _pyramid_rows(sf.shp.records, 4, 5,
                                 run_vector_tiles_lines, _LINE_TILE_NAMES)]
        return ("SELECT * FROM (VALUES\n" + ",\n".join(rows)
                + "\n) AS t(fid, cell, lon0, lat0, n_paths, n_points, "
                "length)")

    queries["vector_tile_pyramid_lines"] = vector_tile_pyramid_lines_spark
    oracles["vector_tile_pyramid_lines"] = q_line_pyramid_oracle()

    # Approximate ANN, oracle-gated on its recall contract (VERDICT r2
    # #3, image_invariants pattern): Spark runs the approximate top-k AND
    # the exact top-k, computes recall@k in-plan, and the oracle pins
    # (n_queries from the table, recall_pass = 1).  A recall regression
    # or a query that silently drops out flips the gate red.  Two index
    # types share the gate scaffold: hyperplane LSH and KMeans IVF.
    ANN_QUERY_MOD = 50   # shared by the ANN call, the filter, the oracle

    def _ann_recall_gate(ann_fn):
        def gate(spark: SparkSession, sf_dir: str) -> DataFrame:
            from pyspark.sql import functions as F

            register_tables(spark, sf_dir)
            emb = spark.table("embeddings")
            ann = ann_fn(emb)
            exact = spark.sql(
                SIM.cosine_topk_sql(SPARK, query_mod=ANN_QUERY_MOD)) \
                .select("query_id", "neighbor_id")
            # one action computes both counts (a separate exact.count()
            # would re-run the O(n²) brute-force sub-plan from scratch)
            stats = (exact.join(ann.select("query_id", "neighbor_id",
                                           F.lit(1).alias("hit")),
                                ["query_id", "neighbor_id"], "left_outer")
                     .agg(F.count(F.lit(1)).alias("n_exact"),
                          F.count("hit").alias("n_hits"))
                     .collect()[0])
            n_queries = emb.where(
                F.col("vec_id") % ANN_QUERY_MOD == 0).count()
            recall = (stats.n_hits / stats.n_exact) if stats.n_exact else 1.0
            return spark.createDataFrame(
                [(n_queries, int(recall >= 0.7))],
                schema="n_queries long, recall_pass long")
        return gate

    recall_oracle = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS recall_pass
FROM embeddings WHERE vec_id % {ANN_QUERY_MOD} = 0
"""
    queries["ann_recall"] = _ann_recall_gate(
        lambda emb: SIM.lsh_ann_topk(emb, query_mod=ANN_QUERY_MOD))
    oracles["ann_recall"] = recall_oracle
    queries["ivf_recall"] = _ann_recall_gate(
        lambda emb: SIM.ivf_ann_topk(emb, query_mod=ANN_QUERY_MOD))
    oracles["ivf_recall"] = recall_oracle
    # PQ gate probes a larger fraction (24/64) than the IVF gate: ADC
    # with refine re-ranking loses nothing past the coarse stage
    # (measured equal to IVF recall at the same probes), so the coarse
    # recall on this random near-orthogonal corpus is the whole budget
    queries["pq_recall"] = _ann_recall_gate(
        lambda emb: SIM.pq_ann_topk(emb, query_mod=ANN_QUERY_MOD,
                                    n_probe=24))
    oracles["pq_recall"] = recall_oracle

    # grid-DBSCAN over the geotagged events: eps-grid 9-key equi-join
    # for the neighbor search, groupBy core classification, connected
    # components (large-star/small-star) for the clusters.  The oracle
    # runs the SAME base chain (shared template) but closes the
    # core-core edges with a recursive CTE — different algorithm,
    # identical deterministic labels (min core id per cluster,
    # min-core-neighbor border assignment, -1 noise).
    DBSCAN_EPS, DBSCAN_MIN_PTS = 2.0, 4

    def dbscan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.clustering import dbscan

        register_tables(spark, sf_dir)
        pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} "
                        f"SELECT id, lon, lat FROM pts")
        return dbscan(pts, DBSCAN_EPS, DBSCAN_MIN_PTS, slot="dbscan_events")
    queries["dbscan_events"] = dbscan_events
    oracles["dbscan_events"] = CL.dbscan_oracle_sql(
        DUCK, DBSCAN_EPS, DBSCAN_MIN_PTS,
        geotagged_events_cte(DUCK).strip())

    # grid distance transform: multi-source BFS through occupied
    # pixels (dist-to-nearest-'error'-cell along the observed
    # corridor).  Spark = fixed-round frontier iteration (no per-round
    # driver action); oracle = recursive-CTE walk — two algorithms,
    # one function.
    DTX_ROUNDS = 8

    def distance_transform_events(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        pts = spark.sql(
            f"WITH {geotagged_events_cte(SPARK)} "
            "SELECT lon, lat, CASE WHEN event_type = 'error' "
            "THEN 1 ELSE 0 END AS is_src FROM pts")
        return CL.grid_distance_transform(pts, rounds=DTX_ROUNDS,
                                          slot="distance_transform")
    # weighted sibling: chamfer 2-3 cost distance (min-plus rounds
    # with a delta frontier; oracle = recursive ≤R-edge-path walk —
    # Bellman-Ford after R rounds IS that minimum, so the two
    # algorithms agree by construction)
    def cost_distance_events(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        pts = spark.sql(
            f"WITH {geotagged_events_cte(SPARK)} "
            "SELECT lon, lat, CASE WHEN event_type = 'error' "
            "THEN 1 ELSE 0 END AS is_src FROM pts")
        return CL.grid_cost_distance(pts, rounds=DTX_ROUNDS,
                                     slot="cost_distance")
    queries["cost_distance"] = cost_distance_events
    oracles["cost_distance"] = CL.cost_distance_oracle_sql(
        DTX_ROUNDS,
        pts_cte=(geotagged_events_cte(DUCK).strip() + """,
csrc AS (
  SELECT lon, lat, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
         AS is_src
  FROM pts)"""),
        pts="csrc")

    queries["distance_transform"] = distance_transform_events
    oracles["distance_transform"] = CL.distance_transform_oracle_sql(
        DTX_ROUNDS,
        pts_cte=(geotagged_events_cte(DUCK).strip() + """,
dsrc AS (
  SELECT lon, lat, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
         AS is_src
  FROM pts)"""),
        pts="dsrc")

    # KDE heatmap raster: 3x3 binomial-kernel splat, one shuffle,
    # all-integer intensities (bit-stable dual-engine; mass conservation
    # SUM(intensity) == 16*n is asserted in tests)
    from .operators import tiles as TI

    def q_heatmap(dialect: str) -> str:
        return (f"WITH {geotagged_events_cte(dialect)},"
                f"{TI.heatmap_body(dialect, ppd=1)}")

    def heatmap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_heatmap(SPARK))
    queries["heatmap_events"] = heatmap_events
    oracles["heatmap_events"] = q_heatmap(DUCK)

    def streaming_heatmap_spark(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
        """Streaming KDE splat (9-way stateless kernel explode, one
        pixel-keyed stateful aggregation) drained availableNow;
        all-integer, so the backfill equals the BATCH heatmap oracle
        exactly."""
        import tempfile
        import uuid

        from .streaming.events import (run_available_now,
                                       streaming_heatmap_counts)

        src = os.path.join(sf_dir, "events.parquet")
        schema = spark.read.parquet(src).schema
        out = streaming_heatmap_counts(
            spark, _stream_source_dir(src), schema, ppd=1)
        name = f"gate_stream_heatmap_{uuid.uuid4().hex[:8]}"
        ckpt = tempfile.mkdtemp(prefix="gate_stream_heatmap_")
        run_available_now(out, ckpt, query_name=name)
        return (spark.table(name)
                .selectExpr("x", "y",
                            "CAST(intensity AS BIGINT) AS intensity",
                            "CAST(n_centered AS BIGINT) AS n_centered"))
    queries["streaming_heatmap"] = streaming_heatmap_spark
    oracles["streaming_heatmap"] = q_heatmap(DUCK)

    # raster region labeling (blob detection): threshold the KDE
    # raster, label 4-connected regions, roll up per region — the
    # map-algebra "polygonize-labels" primitive.  Spark = the
    # large-star/small-star components operator; oracle = recursive
    # closure over the SAME shared edge template (the dbscan_events
    # discipline).
    BLOB_TAU = 6

    def raster_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.clustering import label_blobs

        register_tables(spark, sf_dir)
        px = spark.sql(q_heatmap(SPARK)) \
            .selectExpr("x", "y", "intensity AS v")
        return label_blobs(px, BLOB_TAU, slot="raster_blobs")
    queries["raster_blobs"] = raster_blobs
    oracles["raster_blobs"] = CL.blob_oracle_sql(
        BLOB_TAU,
        pixels_cte=(geotagged_events_cte(DUCK).strip() + f""",
bpix AS (
  SELECT x, y, intensity AS v FROM (
    WITH {TI.heatmap_body(DUCK, ppd=1).strip()}
  ) hm)"""))

    # Misra-Gries heavy hitters: bounded-memory sketch candidates +
    # exact recount.  The guarantee (candidates ⊇ every item with
    # cnt*(c+1) > n) makes the sketched output EXACTLY the relational
    # threshold query, so the oracle is plain GROUP BY ... HAVING.
    def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.sketches import heavy_hitters

        register_tables(spark, sf_dir)
        toks = spark.sql(
            f"SELECT {H.split_tokens('text', SPARK)} AS tok "
            f"FROM documents").where("tok <> ''")
        return heavy_hitters(toks, col="tok", capacity=64)
    queries["heavy_hitters_tokens"] = heavy_hitters_tokens
    from .operators.sketches import heavy_hitters_oracle_sql
    oracles["heavy_hitters_tokens"] = heavy_hitters_oracle_sql(DUCK, 64)

    # hotspot extraction: heatmap -> threshold -> raster-to-vector
    # rectangles (E8's vectorizer over the KDE raster) — "draw polygons
    # around the hot areas".  The rectangle decomposition is algorithm-
    # specific, so the gate pins the INVARIANT instead: the rectangles
    # cover exactly the hot pixel set (conservation, exact integers).
    HOTSPOT_TAU = 24

    def hotspot_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        from .operators.tiles import vectorize_raster

        register_tables(spark, sf_dir)
        hm = spark.sql(q_heatmap(SPARK))
        hot = hm.where(F.col("intensity") >= HOTSPOT_TAU)
        tiled = hot.selectExpr(
            "CAST(FLOOR(CAST(x AS DOUBLE) / 16) AS BIGINT) AS tx",
            "CAST(FLOOR(CAST(y AS DOUBLE) / 16) AS BIGINT) AS ty",
            "x", "y")
        raster = tiled.selectExpr(
            "(tx + 16384) * 32768 + (ty + 16384) AS cell",
            "CAST(1 AS BIGINT) AS fid",
            "CAST(x - tx * 16 AS INT) AS px",
            "CAST(y - ty * 16 AS INT) AS py")
        rects = vectorize_raster(raster, tile_px=16)
        covered = rects.agg(
            F.coalesce(F.sum((F.col("x1") - F.col("x0") + 1)
                             * (F.col("y1") - F.col("y0") + 1)),
                       F.lit(0)).cast("long").alias("covered_pixels"))
        n_hot = hot.agg(F.count(F.lit(1)).cast("long").alias("n_hot"))
        return (n_hot.crossJoin(covered)
                .withColumn("covered_ok",
                            F.col("covered_pixels") == F.col("n_hot")))
    queries["hotspot_rects"] = hotspot_rects
    oracles["hotspot_rects"] = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_hot,
       CAST(COUNT(*) AS BIGINT) AS covered_pixels,
       TRUE AS covered_ok
FROM ({q_heatmap(DUCK)}) h WHERE intensity >= {HOTSPOT_TAU}
"""

    # stay-point detection (gaps-and-islands): maximal runs of
    # consecutive same-cell events per user — the classic islands
    # trick: run id = row_number over time minus row_number over
    # (time within cell), constant exactly within a run.  The
    # trajectory "dwell" primitive; pure relational, all-integer.
    def q_stay_points(dialect: str, min_run: int = 3) -> str:
        ep = _epoch_s("ts", dialect)
        return f"""
WITH sp AS (
  SELECT user_id, event_id, {ep} AS ts_s,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
sc AS (
  SELECT user_id, event_id, ts_s,
         {C.cell_sql('lon', 'lat', 2)} AS cell
  FROM sp),
runs AS (
  SELECT user_id, cell, ts_s,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts_s, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, cell
                              ORDER BY ts_s, event_id) AS grp
  FROM sc)
SELECT user_id, cell,
       CAST(MIN(ts_s) AS BIGINT) AS start_s,
       CAST(MAX(ts_s) AS BIGINT) AS end_s,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM runs
GROUP BY user_id, cell, grp
HAVING COUNT(*) >= {int(min_run)}
"""

    def stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_stay_points(SPARK))
    queries["stay_points"] = stay_points
    oracles["stay_points"] = q_stay_points(DUCK)

    queries["geofence_transitions"] = _sql_runner(q_geofence_transitions)
    oracles["geofence_transitions"] = q_geofence_transitions(DUCK)

    queries["map_match_segments"] = _sql_runner(q_map_match)
    oracles["map_match_segments"] = q_map_match(DUCK)

    # spatial autocorrelation: global Moran's I + Geary's C over the
    # occupied 1-degree grid with queen (8-neighbor) contiguity.  The
    # neighbor relation is an 8-offset fan-out + equi-join on the cell
    # key — never an O(N^2) distance join — so it scales like any other
    # banded join here.  All sums are BIGINT-exact: deviations are
    # scaled by n_cells (d_i = N*n_i - S, integer), which multiplies
    # num and den by N^2 alike; both statistics are invariant under
    # linear rescaling of the variable, so a 100-TB run can pre-divide
    # counts by a constant if the exact-integer sums would overflow —
    # the statistic is unchanged.  Final doubles are products/quotients
    # of exactly-converted BIGINTs (one rounding each) rounded at 1e-9
    # and emitted as scaled BIGINTs (the od_matrix libm-seam precedent).
    def q_spatial_autocorr(dialect: str) -> str:
        return f"""
WITH {geotagged_events_cte(dialect)},
grid AS (
  SELECT CAST(FLOOR(lon) AS BIGINT) AS x,
         CAST(FLOOR(lat) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY CAST(FLOOR(lon) AS BIGINT), CAST(FLOOR(lat) AS BIGINT)),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(n) AS BIGINT) AS s
  FROM grid),
dev AS (
  SELECT g.x, g.y, g.n, t.n_cells * g.n - t.s AS d
  FROM grid g CROSS JOIN tot t),
offs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                        (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)),
pairs AS (
  SELECT a.d AS da, b.d AS db, a.n AS na, b.n AS nb
  FROM dev a CROSS JOIN offs o
  JOIN dev b ON b.x = a.x + o.dx AND b.y = a.y + o.dy),
den AS (
  SELECT CAST(SUM(d * d) AS BIGINT) AS ss FROM dev),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS w_sum,
         CAST(SUM(da * db) AS BIGINT) AS num_moran,
         CAST(SUM((na - nb) * (na - nb)) AS BIGINT) AS num_geary
  FROM pairs)
SELECT t.n_cells, t.s AS n_points, a.w_sum, d.ss,
       a.num_moran, a.num_geary,
       CAST(ROUND(CAST(1000000000 AS DOUBLE)
                  * (CAST(t.n_cells AS DOUBLE) * CAST(a.num_moran AS DOUBLE))
                  / (CAST(a.w_sum AS DOUBLE) * CAST(d.ss AS DOUBLE)))
            AS BIGINT) AS moran_i_e9,
       CAST(ROUND(CAST(1000000000 AS DOUBLE)
                  * ((CAST(t.n_cells AS DOUBLE) - CAST(1 AS DOUBLE))
                     * CAST(t.n_cells AS DOUBLE) * CAST(t.n_cells AS DOUBLE)
                     * CAST(a.num_geary AS DOUBLE))
                  / (CAST(2 AS DOUBLE) * CAST(a.w_sum AS DOUBLE)
                     * CAST(d.ss AS DOUBLE)))
            AS BIGINT) AS geary_c_e9
FROM tot t CROSS JOIN agg a CROSS JOIN den d
"""

    def spatial_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_spatial_autocorr(SPARK))
    queries["spatial_autocorr"] = spatial_autocorr
    oracles["spatial_autocorr"] = q_spatial_autocorr(DUCK)

    # Getis-Ord Gi* local hot-spot z-scores over the same occupied
    # grid (queen contiguity INCLUDING self).  Every aggregate the
    # z-score needs (local sum L_i, neighborhood size W_i, global S,
    # sum-of-squares) is BIGINT-exact; the z expression is then
    # products/quotients of exactly-converted doubles and TWO
    # correctly-rounded SQRTs — an identical expression tree over
    # identical inputs is bit-identical dual-engine (the sparse-cosine
    # SQRT precedent).  z = (N*L_i - S*W_i) * sqrt(N-1)
    #                      / sqrt((N*SS - S^2) * (N*W_i - W_i^2)).
    # Top-k hottest cells; ties broken on the integer cell key.  The
    # global top-k window runs over the GRID relation, whose size is
    # bounded by the grid itself (<= 64,800 cells at 1 degree) no
    # matter the input volume — safe at any scale.
    def q_getis_ord(dialect: str, k: int = 50) -> str:
        return f"""
WITH {geotagged_events_cte(dialect)},
grid AS (
  SELECT CAST(FLOOR(lon) AS BIGINT) AS x,
         CAST(FLOOR(lat) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY CAST(FLOOR(lon) AS BIGINT), CAST(FLOOR(lat) AS BIGINT)),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(n) AS BIGINT) AS s,
         CAST(SUM(n * n) AS BIGINT) AS ss
  FROM grid),
offs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                        (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)),
loc AS (
  SELECT a.x, a.y, a.n,
         CAST(COUNT(b.n) AS BIGINT) AS w_i,
         CAST(SUM(b.n) AS BIGINT) AS l_i
  FROM grid a CROSS JOIN offs o
  JOIN grid b ON b.x = a.x + o.dx AND b.y = a.y + o.dy
  GROUP BY a.x, a.y, a.n),
z AS (
  SELECT l.x, l.y, l.n, l.w_i, l.l_i,
         CAST(ROUND(CAST(1000000000 AS DOUBLE)
              * CAST(t.n_cells * l.l_i - t.s * l.w_i AS DOUBLE)
              * SQRT(CAST(t.n_cells - 1 AS DOUBLE))
              / SQRT(CAST(t.n_cells * t.ss - t.s * t.s AS DOUBLE)
                     * CAST(t.n_cells * l.w_i - l.w_i * l.w_i AS DOUBLE)))
              AS BIGINT) AS z_e9
  FROM loc l CROSS JOIN tot t)
SELECT x, y, n, w_i, l_i, z_e9
FROM (SELECT z.*, ROW_NUMBER() OVER (ORDER BY z_e9 DESC, x, y) AS rk
      FROM z) ranked
WHERE rk <= {int(k)}
"""

    def getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_getis_ord(SPARK))
    queries["getis_ord_hotspots"] = getis_ord_hotspots
    oracles["getis_ord_hotspots"] = q_getis_ord(DUCK)

    # geohash rollup: the standard base32 interchange cell (every
    # external geo system speaks it).  The interleaved Morton value is
    # computed ONCE in a CTE column; char extraction references that
    # column, not the spread expression (the CollapseProject bloat
    # rule).  Counts per precision-4 geohash, dual-engine identical.
    def q_geohash(dialect: str, precision: int = 4) -> str:
        m = C.geohash_morton_sql("lon", "lat", precision)
        gh = C.geohash_chars_sql("m", precision)
        return f"""
WITH {geotagged_events_cte(dialect)},
gm AS (SELECT {m} AS m, value FROM pts)
SELECT {gh} AS geohash,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM gm GROUP BY m
"""

    def geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_geohash(SPARK))
    queries["geohash_rollup"] = geohash_rollup
    oracles["geohash_rollup"] = q_geohash(DUCK)

    # Hilbert-curve rollup: the locality-improved space-filling index
    # (fewer scan intervals per window than Morton — measured in
    # test_cells).  The per-bit state machine runs as res broadcast
    # equi-joins against the 16-row LUT, NOT nested CASE expressions
    # (which would 4x the expression tree per level — the
    # CollapseProject codegen blowup).
    HILBERT_RES = 8

    def q_hilbert(dialect: str) -> str:
        ixe = C.ix_sql("lon", HILBERT_RES)
        iye = C.iy_sql("lat", HILBERT_RES)
        return f"""
WITH {geotagged_events_cte(dialect)},
hsrc AS (
  SELECT ix, iy, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM (SELECT {ixe} AS ix, {iye} AS iy, value FROM pts) t
  GROUP BY ix, iy),
{C.hilbert_cte(HILBERT_RES, carry=("n", "cents"))}
SELECT hd AS hilbert_d, ix, iy, n, cents FROM hilb
"""

    def hilbert_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_hilbert(H.SPARK))
    queries["hilbert_rollup"] = hilbert_rollup
    oracles["hilbert_rollup"] = q_hilbert(H.DUCK)

    # deterministic sampling (training-data curation): hash-threshold
    # stratified rates + balanced per-stratum top-k.  Both are pure
    # relational templates on the md5 seam, so the sample REPLAYS
    # bit-identically under any partitioning, retry, or engine — the
    # property a reproducible training run needs (rand() samples
    # don't survive a retry).  Rates per class downweight the common
    # strata; the balanced variant takes exactly min(k, n) rows per
    # stratum by hash order (hash = an unbiased deterministic shuffle).
    def q_stratified(dialect: str) -> str:
        s = ("CAST(event_id AS STRING)" if dialect == H.SPARK
             else "CAST(event_id AS VARCHAR)")
        h = H.h32(f"{s} || '_samp'", dialect)
        rate = " ".join(
            f"WHEN '{t}' THEN {r}" for t, r in sorted(SAMPLE_RATES.items()))
        return f"""
WITH kept AS (
  SELECT event_type, value FROM events
  WHERE ({h} % 10000) < CASE event_type {rate} ELSE 0 END)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM kept GROUP BY event_type
"""

    def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_stratified(SPARK))
    queries["stratified_sample"] = stratified_sample
    oracles["stratified_sample"] = q_stratified(DUCK)

    def q_balanced(dialect: str) -> str:
        s = ("CAST(event_id AS STRING)" if dialect == H.SPARK
             else "CAST(event_id AS VARCHAR)")
        h = H.h32(f"{s} || '_bal'", dialect)
        return f"""
WITH ranked AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY {h}, event_id) AS rk
  FROM events)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM ranked WHERE rk <= {BALANCED_K} GROUP BY event_type
"""

    def balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_balanced(SPARK))
    queries["balanced_sample"] = balanced_sample
    oracles["balanced_sample"] = q_balanced(DUCK)

    # emerging hot spots: per-cell Mann-Kendall trend over the
    # day-bucketed count series (the space-time analytic ESRI ships as
    # "emerging hot spot analysis").  S = Σ_{i<j} sign(n_j − n_i) over
    # the DENSE day grid (absent days count 0 — a cell that went quiet
    # must trend down); S is a pure integer statistic, so the
    # dual-engine compare is exact.  Work = cells × days² (30-day
    # fixed span ⇒ 435 pairs/cell at any SF; the day-pair self-join is
    # an equi-join on the cell key).  |S| ≥ 2σ_MK(30 days) ≈ 112
    # classifies the trend.
    EHS_RES, EHS_TAU = 4, 112

    def q_emerging(dialect: str) -> str:
        ep = _epoch_s("ts", dialect)
        cell = C.cell_sql(
            GT.lon_sql("event_id", dialect),
            GT.lat_sql("event_id", dialect), EHS_RES)
        return f"""
WITH ebins AS (
  SELECT {cell} AS cell,
         CAST(FLOOR(CAST({ep} AS DOUBLE) / 86400.0) AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
ecells AS (SELECT DISTINCT cell FROM ebins),
edays AS (SELECT DISTINCT day FROM ebins),
edense AS (
  SELECT g.cell, g.day, COALESCE(b.n, 0) AS n
  FROM (SELECT c.cell, d.day FROM ecells c CROSS JOIN edays d) g
  LEFT JOIN ebins b ON b.cell = g.cell AND b.day = g.day),
epairs AS (
  SELECT a.cell,
         CASE WHEN b.n > a.n THEN 1
              WHEN b.n < a.n THEN -1 ELSE 0 END AS sgn
  FROM edense a JOIN edense b
    ON a.cell = b.cell AND b.day > a.day)
SELECT cell, CAST(SUM(sgn) AS BIGINT) AS s_stat,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CASE WHEN SUM(sgn) >= {EHS_TAU} THEN 'rising'
            WHEN SUM(sgn) <= -{EHS_TAU} THEN 'falling'
            ELSE 'flat' END AS trend
FROM epairs GROUP BY cell
"""

    def emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_emerging(SPARK))
    queries["emerging_hotspots"] = emerging_hotspots
    oracles["emerging_hotspots"] = q_emerging(DUCK)

    # hexagonal binning: the hexbin viz aggregation (H3-adjacent
    # aesthetics on the from-scratch mandate).  Cube-rounded axial
    # coords from PINNED double constants — +,*,/ and round-half-away
    # only, so assignment is bit-identical in both engines.
    def q_hexbin(dialect: str) -> str:
        return (f"WITH {geotagged_events_cte(dialect)},"
                f"{C.hexbin_body(dialect, size=2.0)}")

    def hexbin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_hexbin(SPARK))
    queries["hexbin_events"] = hexbin_events
    oracles["hexbin_events"] = q_hexbin(DUCK)

    # CUBE grouping-sets rollup: every (event_type x coarse-cell)
    # subtotal combination in one pass — the OLAP cube over the
    # spatial dimension.  All-integer measures; NULL group keys
    # COALESCE to sentinels so the dual-engine hash compare is
    # dtype-stable.
    def q_cube(dialect: str) -> str:
        cell = C.cell_sql("lon", "lat", 2)
        return f"""
WITH {geotagged_events_cte(dialect)},
cb AS (
  SELECT event_type, {cell} AS cell,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM pts)
SELECT COALESCE(event_type, '(all)') AS event_type,
       COALESCE(cell, -1) AS cell,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(cell) AS BIGINT) AS g_cell,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS BIGINT) AS cents
FROM cb
GROUP BY CUBE(event_type, cell)
"""

    def cube_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_cube(SPARK))
    queries["cube_rollup_events"] = cube_rollup_events
    oracles["cube_rollup_events"] = q_cube(DUCK)

    # rolling time-window aggregates: trailing-24h per-user activity
    # via a RANGE frame over epoch seconds — the sliding-window feature
    # (fraud velocity, rate limits).  All-integer (cents), and RANGE
    # frames include timestamp peers, so the result is deterministic
    # under any partitioning in both engines.
    def q_rolling(dialect: str) -> str:
        ep = _epoch_s("ts", dialect)
        w = ("PARTITION BY user_id ORDER BY ts_s "
             "RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW")
        return f"""
WITH rr AS (
  SELECT user_id, event_id, {ep} AS ts_s,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events)
SELECT user_id, event_id,
       CAST(COUNT(*) OVER ({w}) AS BIGINT) AS n_24h,
       CAST(SUM(v) OVER ({w}) AS BIGINT) AS cents_24h
FROM rr
"""

    def rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_rolling(SPARK))
    queries["rolling_user_stats"] = rolling_user_stats
    oracles["rolling_user_stats"] = q_rolling(DUCK)

    # origin-destination matrix: per-user event sequences -> cell
    # transitions (LAG over the time order) with great-circle move
    # lengths.  Movement analytics: the flow-map / commute-matrix
    # rollup.  Per-move distances ROUND to 1e-6 km before the integer
    # sum (the knn-haversine precedent absorbs the libm ulp seam; the
    # SUM itself is BIGINT — order-independent).
    def q_od_matrix(dialect: str) -> str:
        from .operators.knn import EARTH_RADIUS_KM
        hav = (f"2 * {EARTH_RADIUS_KM} * asin(sqrt("
               "pow(sin(radians(lat - flat) / 2), 2) + "
               "cos(radians(flat)) * cos(radians(lat)) * "
               "pow(sin(radians(lon - flon) / 2), 2)))")
        w = "PARTITION BY user_id ORDER BY ts, id"
        return f"""
WITH od_pts AS (
  SELECT event_id AS id, user_id, ts,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
od_seq AS (
  SELECT user_id, ts, id, lon, lat,
         {C.cell_sql('lon', 'lat', 4)} AS cell
  FROM od_pts),
od_tr AS (
  SELECT user_id,
         LAG(cell) OVER ({w}) AS from_cell, cell AS to_cell,
         LAG(lon) OVER ({w}) AS flon, LAG(lat) OVER ({w}) AS flat,
         lon, lat
  FROM od_seq)
SELECT from_cell, to_cell,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(SUM(CAST(ROUND({hav} * 1000000.0) AS BIGINT)) AS BIGINT)
         AS dist_sum_mm_km
FROM od_tr
WHERE from_cell IS NOT NULL AND from_cell <> to_cell
GROUP BY from_cell, to_cell
"""

    def od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_od_matrix(SPARK))
    queries["od_matrix"] = od_matrix
    oracles["od_matrix"] = q_od_matrix(DUCK)

    queries["pagerank_cells"] = _sql_runner(q_pagerank)
    oracles["pagerank_cells"] = q_pagerank(DUCK)

    # temporal gap-fill: dense per-key grid + LOCF (operators/temporal.py)
    def gap_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.temporal import gap_fill_sql

        register_tables(spark, sf_dir)
        return spark.sql("WITH " + gap_fill_sql(SPARK).lstrip())

    queries["gap_fill_events"] = gap_fill_events
    from .operators.temporal import gap_fill_sql as _gf
    oracles["gap_fill_events"] = "WITH " + _gf(DUCK).lstrip()

    # KMV sketch set operations: distinct union/intersection estimates
    # between group pairs from k-minima sketches (deterministic — exact
    # k smallest hashes); contract gate, HLL pattern
    def kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.sketches import kmv_overlap_sql

        register_tables(spark, sf_dir)
        return spark.sql("WITH " + kmv_overlap_sql(SPARK))
    queries["kmv_overlap"] = kmv_overlap

    def q_kmv_oracle() -> str:
        from .operators.sketches import kmv_ctes_sql
        return ("WITH " + kmv_ctes_sql(DUCK)
                + "SELECT g1, g2, exact_union, exact_inter, "
                  "TRUE AS union_ok, TRUE AS inter_ok FROM kfinal")
    oracles["kmv_overlap"] = q_kmv_oracle()

    # Z-order range query: the bbox window decomposes to Morton id
    # intervals (functions/cells.z_ranges) + the exact residual bbox
    # predicate — the data-skipping shape (BETWEENs map to contiguous
    # storage on a cell-sorted table, so min/max stats prune).  The
    # oracle is the plain bbox predicate: equality proves the range
    # cover has no false negatives on real data.
    ZQ = (10.0, -20.0, 60.0, 30.0)

    def zorder_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        ranges = C.z_ranges(*ZQ, res=8, max_ranges=32)
        # ranges as an inline TABLE, not an OR chain: a predicate chain
        # inlines the multi-KB Morton encode per BETWEEN branch (the
        # CLAUDE.md fat-predicate codegen blowup — measured: the OR
        # form hung); the tiny broadcast join evaluates `cell` once per
        # row.  Ranges are disjoint, so the join cannot duplicate ids.
        vals = ",".join(f"({lo},{hi})" for lo, hi in ranges)
        return spark.sql(f"""
WITH {geotagged_events_cte(SPARK)},
zr AS (SELECT * FROM (VALUES {vals}) AS t(lo, hi)),
zcells AS (
  SELECT id, lon, lat, {C.cell_sql('lon', 'lat', 8)} AS cell FROM pts)
SELECT id FROM zcells JOIN zr
  ON zcells.cell >= zr.lo AND zcells.cell <= zr.hi
WHERE lon >= CAST('{ZQ[0]!r}' AS DOUBLE) AND lon <= CAST('{ZQ[2]!r}' AS DOUBLE)
  AND lat >= CAST('{ZQ[1]!r}' AS DOUBLE) AND lat <= CAST('{ZQ[3]!r}' AS DOUBLE)
""")
    queries["zorder_range_query"] = zorder_range_query
    oracles["zorder_range_query"] = f"""
WITH {geotagged_events_cte(DUCK)}
SELECT id FROM pts
WHERE lon >= CAST('{ZQ[0]!r}' AS DOUBLE) AND lon <= CAST('{ZQ[2]!r}' AS DOUBLE)
  AND lat >= CAST('{ZQ[1]!r}' AS DOUBLE) AND lat <= CAST('{ZQ[3]!r}' AS DOUBLE)
"""

    # Hilbert twin of the z-order window query: same window, intervals
    # from the state-carrying quadrant planner (hilbert_ranges) — the
    # curve never teleports, so the SAME window needs ~half the
    # intervals Morton does (measured in test_cells); same sound
    # cover + exact residual shape.
    def hilbert_range_query(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        ranges = C.hilbert_ranges(*ZQ, res=8, max_ranges=32)
        vals = ",".join(f"({lo},{hi})" for lo, hi in ranges)
        return spark.sql(f"""
WITH {geotagged_events_cte(SPARK)},
hsrc AS (
  SELECT id, lon, lat, {C.ix_sql('lon', 8)} AS ix,
         {C.iy_sql('lat', 8)} AS iy
  FROM pts),
{C.hilbert_cte(8, carry=("id", "lon", "lat"))},
hr AS (SELECT * FROM (VALUES {vals}) AS t(lo, hi))
SELECT id FROM hilb JOIN hr ON hilb.hd >= hr.lo AND hilb.hd <= hr.hi
WHERE lon >= CAST('{ZQ[0]!r}' AS DOUBLE) AND lon <= CAST('{ZQ[2]!r}' AS DOUBLE)
  AND lat >= CAST('{ZQ[1]!r}' AS DOUBLE) AND lat <= CAST('{ZQ[3]!r}' AS DOUBLE)
""")
    queries["hilbert_range_query"] = hilbert_range_query
    oracles["hilbert_range_query"] = oracles["zorder_range_query"]

    # sparse-cosine similarity join (inverted index): integer dots and
    # norms, one correctly-rounded SQRT — dual-engine exact floats; the
    # kept-tf relation pins before the self-join (CTE inlining)
    def sparse_cosine_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        pin = _fresh_checkpoints(spark, "sparse_cosine_pairs")
        return pin_ctes(spark, "WITH " + TX.sparse_cosine_pairs_sql(
            SPARK, min_cosine=0.95), ["kept_tf"], pin)[0]
    queries["sparse_cosine_pairs"] = sparse_cosine_cached
    oracles["sparse_cosine_pairs"] = \
        "WITH " + TX.sparse_cosine_pairs_sql(DUCK, min_cosine=0.95)

    # IDW interpolation surface: integer-quantized weights make the
    # weighted sums exact BIGINT arithmetic (order-independent — the
    # dual-engine answer to float-SUM nondeterminism); one double
    # division of exact integers at the end
    def q_idw(dialect: str) -> str:
        return (f"WITH {geotagged_events_cte(dialect)},"
                f"{TI.idw_body(dialect)}")

    def idw_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_idw(SPARK))
    queries["idw_surface"] = idw_surface
    oracles["idw_surface"] = q_idw(DUCK)

    # per-tile sketch statistics: the sketch_stats contract gate keyed
    # by the spatial cell — the 100-TB "distinct users per tile" query
    # (HLL state is bounded and mergeable per cell; exact values +
    # within-tolerance booleans, oracle pins the booleans TRUE)
    def _tile_sketch_pts(dialect: str) -> str:
        return (f"tpts AS (SELECT user_id, "
                f"{GT.lon_sql('event_id', dialect)} AS lon, "
                f"{GT.lat_sql('event_id', dialect)} AS lat FROM events)")

    def tile_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(f"""
WITH {_tile_sketch_pts(SPARK)}
SELECT {C.cell_sql('lon', 'lat', 3)} AS cell,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS exact_users,
       (ABS(approx_count_distinct(user_id, 0.02)
            - COUNT(DISTINCT user_id))
          <= GREATEST(2.0, 0.05 * COUNT(DISTINCT user_id))) AS hll_ok
FROM tpts
GROUP BY {C.cell_sql('lon', 'lat', 3)}
""")
    queries["tile_sketch_stats"] = tile_sketch_stats
    oracles["tile_sketch_stats"] = f"""
WITH {_tile_sketch_pts(DUCK)}
SELECT {C.cell_sql('lon', 'lat', 3)} AS cell,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS hll_ok
FROM tpts
GROUP BY {C.cell_sql('lon', 'lat', 3)}
"""

    # adaptive quadtree tiling: shallowest cell holding <= k points —
    # top-down splitting collapsed to one relational query (counts are
    # non-increasing in res, so leaf = min{r: count <= k}); same
    # template both engines, integer-division dialect seam only
    def q_adaptive(dialect: str) -> str:
        return (f"WITH {geotagged_events_cte(dialect)},"
                f"{TI.adaptive_cells_body(dialect, max_res=8, k=50)}")

    def adaptive_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_adaptive(SPARK))
    queries["adaptive_tiles"] = adaptive_tiles
    oracles["adaptive_tiles"] = q_adaptive(DUCK)

    # tile-server render: geotag → JVM heatmap splat → per-tile PNG
    # (real codec) → md5.  Fixed 10k-id corpus (sf-independent); the
    # oracle pins (tile, md5) literals from the driver twin — the full
    # pipeline re-run in numpy/hashlib, byte-deterministic because the
    # raster is all-integer and the PNG encode is filter-0/zlib-6.
    def render_heatmap_tiles_gate(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
        from .operators.render import render_heatmap_tiles
        return render_heatmap_tiles(spark).select(
            "tx", "ty", "n_px", "sum_intensity", "png_md5")

    def q_render_tiles_oracle() -> str:
        from .operators.render import render_tiles_reference
        rows = [f"(CAST({tx} AS BIGINT), CAST({ty} AS BIGINT), "
                f"CAST({npx} AS BIGINT), CAST({si} AS BIGINT), '{md5}')"
                for tx, ty, npx, si, md5 in render_tiles_reference()]
        return ("SELECT * FROM (VALUES\n" + ",\n".join(rows)
                + "\n) AS t(tx, ty, n_px, sum_intensity, png_md5)")

    queries["render_heatmap_tiles"] = render_heatmap_tiles_gate
    oracles["render_heatmap_tiles"] = q_render_tiles_oracle()

    # hillshade tiles: shaded relief of the blurred density surface —
    # separable blur + Horn gradient splat stay JVM/exact-integer; the
    # trig shading runs in the SHARED numpy helper on both executors
    # and the driver twin, so tile bytes are identical by construction.
    def render_hillshade_gate(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
        from .operators.render import render_hillshade_tiles
        return render_hillshade_tiles(spark).select(
            "tx", "ty", "n_px", "png_md5")

    def q_render_hillshade_oracle() -> str:
        from .operators.render import hillshade_reference
        rows = [f"(CAST({tx} AS BIGINT), CAST({ty} AS BIGINT), "
                f"CAST({npx} AS BIGINT), '{md5}')"
                for tx, ty, npx, md5 in hillshade_reference()]
        return ("SELECT * FROM (VALUES\n" + ",\n".join(rows)
                + "\n) AS t(tx, ty, n_px, png_md5)")

    queries["render_hillshade_tiles"] = render_hillshade_gate
    oracles["render_hillshade_tiles"] = q_render_hillshade_oracle()

    # ---- raster map-algebra family (operators/raster.py) ----
    # Focal convolution, iso-contours, slope/aspect over the sparse
    # pixel relation.  The blur gate is the separability proof: Spark
    # runs the two-pass separable form (2 shuffles, O(2k) kernel rows),
    # the DuckDB oracle the direct 25-way splat — exact-integer equal.
    from .operators import raster as RA

    def q_blur(dialect: str, form: str) -> str:
        return (f"WITH {geotagged_events_cte(dialect)},"
                f"{RA.pixel_grid_cte()},"
                f"{RA.blur5_body(form)}")

    def focal_blur(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_blur(H.SPARK, "separable"))
    queries["focal_blur"] = focal_blur
    oracles["focal_blur"] = q_blur(H.DUCK, "direct")

    # streaming twin: the stream gets ONE stateful aggregation, so it
    # runs the direct 25-way splat — the separability identity the
    # batch gate proves is exactly what makes the two bit-equal.
    def streaming_blur_spark(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
        import tempfile
        import uuid

        from .streaming.events import (run_available_now,
                                       streaming_blur_counts)

        src = os.path.join(sf_dir, "events.parquet")
        schema = spark.read.parquet(src).schema
        out = streaming_blur_counts(
            spark, _stream_source_dir(src), schema, ppd=1)
        name = f"gate_stream_blur_{uuid.uuid4().hex[:8]}"
        ckpt = tempfile.mkdtemp(prefix="gate_stream_blur_")
        run_available_now(out, ckpt, query_name=name)
        return (spark.table(name)
                .selectExpr("x", "y", "CAST(v AS BIGINT) AS v"))
    queries["streaming_focal_blur"] = streaming_blur_spark
    oracles["streaming_focal_blur"] = q_blur(H.DUCK, "direct")

    # iso-contour extraction: marching squares at threshold tau over
    # the blurred density surface (the "draw the density isolines"
    # viz primitive).  Both engines chain blur->contours; Spark again
    # takes the separable blur, the oracle the direct form.
    CONTOUR_TAU = 64

    def q_contours(dialect: str, form: str) -> str:
        return (f"WITH {geotagged_events_cte(dialect)},"
                f"{RA.pixel_grid_cte()},"
                f"{RA.blur5_body(form, out='rblur')},"
                f"{RA.marching_squares_body(CONTOUR_TAU, grid='rblur')}")

    def contour_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_contours(H.SPARK, "separable"))
    queries["contour_segments"] = contour_segments
    oracles["contour_segments"] = q_contours(H.DUCK, "direct")

    # slope/aspect (Horn stencil) over the same smoothed surface —
    # the DEM terrain classification, splat-transposed to one shuffle;
    # all-integer gradient numerators, octant + magnitude-class rollup.
    def q_slope(dialect: str, form: str) -> str:
        return (f"WITH {geotagged_events_cte(dialect)},"
                f"{RA.pixel_grid_cte()},"
                f"{RA.blur5_body(form, out='rblur')},"
                f"{RA.slope_aspect_body(grid='rblur')}")

    def slope_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(q_slope(H.SPARK, "separable"))
    queries["slope_aspect"] = slope_aspect
    oracles["slope_aspect"] = q_slope(H.DUCK, "direct")

    # trajectory similarity: symmetric Hausdorff distance between
    # per-user tracks.  Tracks are synthesized deterministically from
    # the md5 seam (per-user anchor ± per-event jitter, so users DO
    # cluster); candidate pairs are users anchored in the same 16-deg
    # cell (the spatial-prune contract — pair count scales with local
    # density^2, not users^2); per-pair work is capped at 32 points a
    # side.  d2 is per-row double arithmetic and the aggregation is
    # MIN/MAX only — order-independent, dual-engine stable (the float
    # SUM rule from BENCH.md does not bite).  The 2-row dir table
    # computes BOTH directed Hausdorff halves from one pass over the
    # point-pair relation; symmetric H = MAX over both.
    def _traj_cte(dialect: str) -> str:
        """Anchored synthetic tracks (shared by the Hausdorff and
        convex-hull gates): per-user md5 anchor ± per-event jitter,
        capped at 32 points, with the anchor carried for the spatial
        candidate prune.  Emits ``tr(u, lon, lat, alon, alat, rn)``."""
        def hmod(expr: str, salt: str, mod: int) -> str:
            s = (f"CAST({expr} AS STRING) || '_{salt}'" if dialect == H.SPARK
                 else f"CAST({expr} AS VARCHAR) || '_{salt}'")
            return f"({H.h32(s, dialect)} % {mod})"

        def dbl(e: str) -> str:
            return f"CAST({e} AS DOUBLE) / CAST(10000.0 AS DOUBLE)"

        alon = (f"({dbl(hmod('user_id', 'alon', 3200000))}"
                f" - CAST(160.0 AS DOUBLE))")
        alat = (f"({dbl(hmod('user_id', 'alat', 1600000))}"
                f" - CAST(80.0 AS DOUBLE))")
        jlon = (f"({dbl(hmod('event_id', 'jlon', 20000))}"
                f" - CAST(1.0 AS DOUBLE))")
        jlat = (f"({dbl(hmod('event_id', 'jlat', 20000))}"
                f" - CAST(1.0 AS DOUBLE))")
        return f"""
tr0 AS (
  SELECT user_id AS u,
         {alon} + {jlon} AS lon,
         {alat} + {jlat} AS lat,
         {alon} AS alon, {alat} AS alat,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events),
tr AS (SELECT * FROM tr0 WHERE rn <= 32)"""

    def q_traj_hausdorff(dialect: str) -> str:
        return f"""
WITH {_traj_cte(dialect).lstrip()},
anch AS (
  SELECT u,
         CAST(FLOOR(MIN(alon) / CAST(16.0 AS DOUBLE)) AS BIGINT) AS cx,
         CAST(FLOOR(MIN(alat) / CAST(16.0 AS DOUBLE)) AS BIGINT) AS cy
  FROM tr GROUP BY u),
cand AS (
  SELECT a.u AS u, b.u AS v
  FROM anch a JOIN anch b ON a.cx = b.cx AND a.cy = b.cy AND a.u < b.u),
pp AS (
  SELECT c.u, c.v, p.rn AS arn, q.rn AS brn,
         (p.lon - q.lon) * (p.lon - q.lon)
         + (p.lat - q.lat) * (p.lat - q.lat) AS d2
  FROM cand c
  JOIN tr p ON p.u = c.u
  JOIN tr q ON q.u = c.v),
dd AS (
  SELECT u, v, d.dir,
         CASE WHEN d.dir = 0 THEN arn ELSE brn END AS idx,
         MIN(d2) AS md
  FROM pp CROSS JOIN (VALUES (0), (1)) AS d(dir)
  GROUP BY u, v, d.dir, CASE WHEN d.dir = 0 THEN arn ELSE brn END)
SELECT u, v, MAX(md) AS hausdorff_sq
FROM dd GROUP BY u, v
"""

    def trajectory_hausdorff(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
        """Spark side pins the track relation: ``tr`` is referenced
        three times (anchor groupBy + both point sides of the pair
        join) and CTE inlining re-ran the md5 geotag + window per
        reference (r6 optimization).  Oracle unchanged."""
        register_tables(spark, sf_dir)
        pin = _fresh_checkpoints(spark, "trajectory_hausdorff")
        return pin_ctes(spark, q_traj_hausdorff(H.SPARK), ["tr"], pin)[0]
    queries["trajectory_hausdorff"] = trajectory_hausdorff
    oracles["trajectory_hausdorff"] = q_traj_hausdorff(H.DUCK)

    # per-user convex hulls: Spark runs Andrew's monotone chain per
    # group (one mapInArrow over collect_list rows — groups capped at 32
    # points, one shuffle on the group key); the oracle is the O(n³)
    # RELATIONAL hull definition (p is a vertex iff some supporting
    # half-plane through p and another point has every point on one side
    # — all cross products ≥ 0).  Two algorithms, one function; identical
    # doubles in both engines, vertex sums quantized to e6 BIGINTs.
    def convex_hulls(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        from .operators.geometry import convex_hull_groups

        register_tables(spark, sf_dir)
        tr = spark.sql(f"WITH {_traj_cte(H.SPARK).lstrip()} "
                       "SELECT u, lon, lat FROM tr")
        hull = convex_hull_groups(tr)
        return hull.groupBy("u").agg(
            F.count(F.lit(1)).cast("long").alias("n_hull"),
            F.sum(F.expr("CAST(ROUND(lon * 1000000) AS BIGINT)"))
            .cast("long").alias("sum_lon_e6"),
            F.sum(F.expr("CAST(ROUND(lat * 1000000) AS BIGINT)"))
            .cast("long").alias("sum_lat_e6"))
    queries["convex_hulls"] = convex_hulls
    oracles["convex_hulls"] = f"""
WITH {_traj_cte(H.DUCK).lstrip()},
cnt AS (SELECT u, COUNT(*) AS c FROM tr GROUP BY u),
pq AS (
  SELECT a.u AS u, a.rn AS p,
         MIN((b.lon - a.lon) * (r.lat - a.lat)
             - (b.lat - a.lat) * (r.lon - a.lon)) AS mn
  FROM tr a
  JOIN tr b ON b.u = a.u AND b.rn <> a.rn
  JOIN tr r ON r.u = a.u
  GROUP BY a.u, a.rn, b.rn),
verts AS (
  SELECT DISTINCT u, p FROM pq WHERE mn >= 0
  UNION
  SELECT u, CAST(1 AS BIGINT) AS p FROM cnt WHERE c = 1)
SELECT t.u AS u, CAST(COUNT(*) AS BIGINT) AS n_hull,
       CAST(SUM(CAST(ROUND(t.lon * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_lon_e6,
       CAST(SUM(CAST(ROUND(t.lat * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_lat_e6
FROM verts v JOIN tr t ON t.u = v.u AND t.rn = v.p
GROUP BY t.u
"""

    queries["skyline_events"] = _sql_runner(q_skyline)
    oracles["skyline_events"] = q_skyline(DUCK)

    def triangles_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
        """When the distinct edge relation ``tg_e`` and its wedge count
        are bounded, the identical orient/wedge/close algebra runs
        vectorized on the driver over one bounded collect of ``tg_e``
        (operators/graph.py) — the global-rank window and the 4.8M-row
        wedge join were ~1.6 s of shuffle latency at sf0.1.  Unbounded
        graphs pin ``tg_e`` and the oriented-edge relation and run the
        distributed wedge join: ``tg_oe`` is referenced three times, and
        CTE inlining would re-run the whole upstream (events scan → md5
        geotag → window → DISTINCT → degree rank join) once per
        reference (the pinned relation keeps the REPARTITION(64, u)
        distribution the hint establishes).  Oracle unchanged."""
        register_tables(spark, sf_dir)
        from .operators.graph import triangle_counts_local

        tg_e = spark.sql("WITH " + _triangle_edges_ctes(SPARK)
                         + "\nSELECT * FROM tg_e")
        local = triangle_counts_local(tg_e)
        if local is not None:
            return local
        pin = _fresh_checkpoints(spark, "triangle_counts")
        return pin_ctes(spark, "WITH " + triangle_count_sql("tg_e", SPARK),
                        ["tg_oe"], pin, tg_e=pin(tg_e))[0]
    queries["triangle_counts"] = triangles_pinned
    oracles["triangle_counts"] = q_triangles(DUCK)

    # Spark side runs the PINNED-round runner (CTE inlining makes the
    # unrolled template O(rounds²) on Spark — measured 523 s vs ~3 s
    # at sf0.1, see grid_flow_accumulation); the DuckDB oracle keeps
    # the template (DuckDB evaluates the chain fine at gate scale).
    def flow_accumulation_events(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        pts = spark.sql(f"WITH {geotagged_events_cte(SPARK)} "
                        "SELECT lon, lat FROM pts")
        return CL.grid_flow_accumulation(pts, rounds=8, k=50,
                                         slot="flow_accumulation")
    queries["flow_accumulation"] = flow_accumulation_events
    oracles["flow_accumulation"] = q_flow_accumulation(DUCK)

    queries["gps_glitch_filter"] = _sql_runner(q_gps_glitches)
    oracles["gps_glitch_filter"] = q_gps_glitches(DUCK)

    queries["json_props_rollup"] = _sql_runner(q_json_props)
    oracles["json_props_rollup"] = q_json_props(DUCK)

    queries["streaming_glitch_filter"] = streaming_glitch_filter_spark
    oracles["streaming_glitch_filter"] = q_gps_glitches(DUCK)

    # trajectory resampling: per-user linear interpolation at the
    # hourly grid (operators/temporal.py resample_sql — gap_fill's
    # moving cousin); source = the geotagged event stream
    def q_resample(dialect: str) -> str:
        from .operators.temporal import resample_sql
        ep = _epoch_s("ts", dialect)
        return f"""
WITH rs_src AS (
  SELECT user_id, {ep} AS es, event_id AS id,
         {GT.lon_sql('event_id', dialect)} AS lon,
         {GT.lat_sql('event_id', dialect)} AS lat
  FROM events),
{resample_sql(dialect).lstrip()}
"""

    queries["trajectory_resample"] = _sql_runner(q_resample)
    oracles["trajectory_resample"] = q_resample(DUCK)

    def viewshed_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Spark side pins the occupancy grid before the line-of-sight
        chain: ``vs_grid`` is referenced three times (origin pick,
        targets, the per-step elevation lookup) and CTE inlining
        re-runs the md5 geotag + groupBy per reference (r6
        optimization).  Oracle unchanged."""
        register_tables(spark, sf_dir)
        pin = _fresh_checkpoints(spark, "viewshed_cells")
        # NOTE (r6 second pass): a driver-side numpy LOS evaluator
        # (CL.viewshed_grid_los) was tried here and REVERTED for the
        # gate: row-identical and ~0.5 s faster in quiet windows, but
        # its ~5M-step single-threaded pass is hostage to host
        # single-core noise bursts (measured 1.9 s quiet vs 6.5 s in
        # a degraded window where the 32-way SQL path held ~2.7 s) —
        # the distributed template has the better worst case.
        return pin_ctes(spark, q_viewshed(SPARK), ["vs_grid"], pin)[0]
    queries["viewshed_cells"] = viewshed_pinned
    oracles["viewshed_cells"] = q_viewshed(DUCK)

    queries["exact_percentiles"] = _sql_runner(q_exact_percentiles)
    oracles["exact_percentiles"] = q_exact_percentiles(DUCK)

    # Spark side runs the PINNED Lloyd runner (the template's argmin
    # join-back doubles per round under CTE inlining — ~2^rounds,
    # 8 s at sf0.1 vs ~2 s pinned); the DuckDB oracle keeps the
    # template.
    def kmeans_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        pts = spark.sql(f"""
SELECT event_id AS id,
       CAST(ROUND(({GT.lon_sql('event_id', SPARK)} + 180) * 1000000)
            AS BIGINT) AS x,
       CAST(ROUND(({GT.lat_sql('event_id', SPARK)} + 90) * 1000000)
            AS BIGINT) AS y
FROM events""")
        out = CL.kmeans_lloyd(pts, k=8, rounds=3, slot="kmeans_events")
        return out.selectExpr(
            "ck", "n",
            "CAST(cx - 180000000 AS BIGINT) AS cx_e6",
            "CAST(cy - 90000000 AS BIGINT) AS cy_e6",
            "inertia_e6")
    queries["kmeans_events"] = kmeans_events
    oracles["kmeans_events"] = q_kmeans(DUCK)

    queries["direction_rose"] = _sql_runner(q_direction_rose)
    oracles["direction_rose"] = q_direction_rose(DUCK)

    # Spark side runs the grouped-occupancy restructure (no pair
    # stream); the oracle keeps the original pair-join template —
    # two algorithms, one answer (r6 optimization, guide §2.3).
    queries["spacetime_pairs"] = _sql_runner(q_spacetime_pairs_grouped)
    oracles["spacetime_pairs"] = q_spacetime_pairs(DUCK)

    queries["private_tiles"] = _sql_runner(q_private_tiles)
    oracles["private_tiles"] = q_private_tiles(DUCK)

    queries["attribution_last_touch"] = _sql_runner(q_attribution)
    oracles["attribution_last_touch"] = q_attribution(DUCK)

    queries["streaming_funnel"] = streaming_funnel_spark
    oracles["streaming_funnel"] = q_funnel(DUCK)

    queries["zonal_majority"] = _sql_runner(q_zonal_majority)
    oracles["zonal_majority"] = q_zonal_majority(DUCK)

    queries["activity_profile"] = _sql_runner(q_activity_profile)
    oracles["activity_profile"] = q_activity_profile(DUCK)

    queries["covisit_lift"] = _sql_runner(q_covisit_lift)
    oracles["covisit_lift"] = q_covisit_lift(DUCK)

    queries["burst_cells"] = _sql_runner(q_burst_cells)
    oracles["burst_cells"] = q_burst_cells(DUCK)

    queries["funnel_conversion"] = _sql_runner(q_funnel)
    oracles["funnel_conversion"] = q_funnel(DUCK)

    queries["cohort_retention"] = _sql_runner(q_cohort)
    oracles["cohort_retention"] = q_cohort(DUCK)

    return queries, oracles
