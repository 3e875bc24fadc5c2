"""Grid-accelerated DBSCAN — density-based spatial clustering.

DBSCAN (Ester et al., KDD 1996) over a point corpus, expressed in the
relational shapes this engine already scales instead of the paper's
point-at-a-time region queries:

- the eps-radius neighbor search is a 9-key equi-join on an eps-sized
  grid (the 3x3 ring trick of operators/knn.py — any two points within
  eps share or abut a grid cell, so candidate pairs are bounded by grid
  occupancy; no BNLJ, no all-pairs scan);
- neighbor counting / core classification is one groupBy over the pair
  stream (a point's eps-neighborhood includes itself, per the paper);
- cluster formation is connected components over the core-core edge set
  (operators/graph.py alternating large-star/small-star — O(log n)
  rounds of key-partitioned shuffles), labels = component-minimum id;
- border points (non-core with >= 1 core neighbor) take the MINIMUM
  core-neighbor label; everything else is noise, labeled -1.

Classic DBSCAN's border assignment is visit-order-dependent; the
min-label tie-break makes the whole labeling a pure function of the
input, so results replay bit-identically under any partitioning — and
the DuckDB oracle can check the same algebra with a recursive-CTE
closure instead of our iterative operator (two different algorithms,
identical output; same discipline as q:neardup_components).

Distance is planar euclidean on the point coordinates; the predicate
compares SQUARED distances (IEEE *, + are bit-deterministic in both
engines; no sqrt, no libm).  eps literals are quoted-string casts so
both engines parse string->double (correctly rounded) rather than
DECIMAL-parsing a bare literal (CLAUDE.md dialect seam).

Scale posture: candidate fan-out is sum over cells of |cell| x |3x3
ring occupancy| — the same bound as the banded dedup joins.  A hot
cell (density skew) is the LSH bucket-flood analog; at gate scale it
cannot occur (eps-sized cells over a bounded domain), and at corpus
scale the mitigation is the same family (cap, pre-aggregate, or raise
the grid resolution and union two rings).  The npairs relation is
pinned once and read three times (counts, edges, border labels) —
CTE inlining would recompute the join per reference.

Reference analog: engine-layer operator (SURVEY.md §2.B family — the
reference repo is a record-level reader and has no clustering; this is
part of the analytics engine built over it, composing E3's grid with
the graph operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import hashes as H
from . import local


def _eps_lit(eps: float) -> str:
    """Quoted string->double cast: identical correctly-rounded parse in
    Spark and DuckDB (a bare decimal literal DECIMAL-parses in DuckDB)."""
    return f"CAST('{float(eps)!r}' AS DOUBLE)"


def dbscan_base_cte(dialect: str, eps: float, min_pts: int,
                    pts: str = "pts") -> str:
    """CTE chain ``gcells -> goffs -> npairs -> cores -> core_edges``
    over a point relation ``pts(id, lon, lat)``.  Shared verbatim by the
    Spark runner and the DuckDB oracle (dialect only reaches the eps
    literal handling, which is already dialect-free)."""
    del dialect  # the chain is dialect-free; keep the seam signature
    e = _eps_lit(eps)
    return f"""
gcells AS (
  SELECT id, lon, lat,
         CAST(FLOOR(lon / {e}) AS BIGINT) AS cx,
         CAST(FLOOR(lat / {e}) AS BIGINT) AS cy
  FROM {pts}),
goffs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)) AS t(dx, dy)),
npairs AS (
  SELECT p.id AS a, q.id AS b
  FROM (SELECT g.id, g.lon, g.lat, g.cx + o.dx AS gx, g.cy + o.dy AS gy
        FROM gcells g CROSS JOIN goffs o) p
  JOIN gcells q ON p.gx = q.cx AND p.gy = q.cy
  WHERE (p.lon - q.lon) * (p.lon - q.lon)
      + (p.lat - q.lat) * (p.lat - q.lat) <= {e} * {e}),
cores AS (
  SELECT a AS id FROM npairs GROUP BY a HAVING COUNT(*) >= {int(min_pts)}),
core_edges AS (
  SELECT p.a AS src, p.b AS dst
  FROM npairs p
  JOIN cores ca ON p.a = ca.id
  JOIN cores cb ON p.b = cb.id
  WHERE p.a < p.b)"""


def dbscan_tail_sql(dialect: str, pts: str = "pts") -> str:
    """Label assembly over ``{pts}``, ``npairs``, ``cores`` and a
    ``core_labels(id, label)`` relation (Spark: from the connected
    components operator; oracle: from a recursive closure).  Border =
    non-core with a core neighbor, min core-neighbor label; noise = -1."""
    del dialect
    return f"""
border_labels AS (
  SELECT p.a AS id, MIN(cl.label) AS label
  FROM npairs p
  JOIN core_labels cl ON p.b = cl.id
  LEFT JOIN cores ca ON p.a = ca.id
  WHERE ca.id IS NULL
  GROUP BY p.a)
SELECT n.id AS id,
       CAST(COALESCE(cl.label, bl.label, -1) AS BIGINT) AS cluster,
       CASE WHEN cl.label IS NOT NULL THEN 'core'
            WHEN bl.label IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role
FROM {pts} n
LEFT JOIN core_labels cl ON n.id = cl.id
LEFT JOIN border_labels bl ON n.id = bl.id"""


def dbscan_oracle_sql(dialect: str, eps: float, min_pts: int,
                      pts_cte: str) -> str:
    """Complete single-statement twin for DuckDB: the shared base chain
    plus a recursive-CTE transitive closure in place of the iterative
    components operator.  ``pts_cte`` is a CTE body defining ``pts``."""
    return f"""
WITH RECURSIVE {pts_cte},
{dbscan_base_cte(dialect, eps, min_pts).lstrip()},
bi AS (SELECT src AS a, dst AS b FROM core_edges
       UNION SELECT dst, src FROM core_edges),
reach AS (
  SELECT id AS src, id AS node FROM cores
  UNION
  SELECT r.src, e.b FROM reach r JOIN bi e ON e.a = r.node),
core_labels AS (SELECT src AS id, MIN(node) AS label FROM reach GROUP BY src),
{dbscan_tail_sql(dialect).lstrip()}
"""


def dbscan(points: DataFrame, eps: float, min_pts: int,
           slot: str | None = None) -> DataFrame:
    """DBSCAN over ``points(id, lon, lat)`` -> ``(id, cluster, role)``.

    ``cluster`` is the smallest core-point id in the cluster (BIGINT;
    -1 for noise); ``role`` in {'core','border','noise'}.  ``min_pts``
    counts the point itself (the paper's |N_eps(p)| >= MinPts).  The
    candidate-pair relation is pinned (operators/pinning.py) because
    three downstream consumers read it; ``slot=None`` (the public
    default) allocates an anonymous per-call slot, the gate/bench
    harness passes a named one-shot slot so reruns recycle.
    """
    from .graph import connected_components
    from .pinning import fresh_pins, pin_ctes

    spark = points.sparkSession
    pinf = fresh_pins(spark, slot)

    # r6 optimization: generate each unordered candidate pair ONCE —
    # same-cell pairs with id order, cross-cell pairs through the four
    # HALF-plane offsets (E, NE, N, NW enumerate each unordered
    # adjacent cell pair exactly once) — which halves the fan-out join
    # and the distance evaluations vs the symmetric 9-offset template.
    # The directed ``npairs`` relation the shared tail expects is then
    # a cheap view: up ∪ mirror(up) ∪ self-pairs (one per point — the
    # (0,0) offset's p=q rows).  Identical row set to the template's.
    e = _eps_lit(eps)
    d2 = ("(p.lon - q.lon) * (p.lon - q.lon) "
          f"+ (p.lat - q.lat) * (p.lat - q.lat) <= {e} * {e}")
    npairs = """npairs AS (
  SELECT a, b FROM up UNION ALL SELECT b AS a, a AS b FROM up
  UNION ALL SELECT id AS a, id AS b FROM gcells)"""
    core_edges, p = pin_ctes(spark, f"""
WITH gcells AS (
  SELECT id, lon, lat,
         CAST(FLOOR(lon / {e}) AS BIGINT) AS cx,
         CAST(FLOOR(lat / {e}) AS BIGINT) AS cy
  FROM pts),
up AS (
  SELECT p.id AS a, q.id AS b
  FROM gcells p JOIN gcells q
    ON q.cx = p.cx AND q.cy = p.cy AND p.id < q.id
  WHERE {d2}
  UNION ALL
  SELECT LEAST(p.id, q.id) AS a, GREATEST(p.id, q.id) AS b
  FROM (SELECT g.id, g.lon, g.lat, g.cx + o.dx AS gx, g.cy + o.dy AS gy
        FROM gcells g
        CROSS JOIN (SELECT * FROM (VALUES (0,1),(1,-1),(1,0),(1,1))
                    AS t(dx, dy)) o) p
  JOIN gcells q ON q.cx = p.gx AND q.cy = p.gy
  WHERE {d2}),
{npairs},
cores AS (
  SELECT a AS id FROM npairs GROUP BY a HAVING COUNT(*) >= {int(min_pts)})
SELECT u.a AS src, u.b AS dst FROM up u
JOIN cores ca ON u.a = ca.id JOIN cores cb ON u.b = cb.id""",
        ["gcells", "up", "cores"], pinf,
        pts=points.selectExpr("id", "lon", "lat"))
    # up is distinct with a < b by construction, so the core-core edge
    # set is already normalized — CC can skip its dedup shuffle
    cc = connected_components(core_edges,
                              slot=None if slot is None else f"{slot}_cc",
                              assume_normalized=True)
    # isolated cores never appear in an edge: they are their own
    # cluster.  core_labels pins (r6): the tail references it twice
    # (direct label + border join), and each reference would re-run the
    # components operator's final label join-back chain.  The tail only
    # needs the point ids; reading the pinned cell relation instead of
    # the input points skips one more md5-geotag pass (r6)
    return pin_ctes(spark, f"""
WITH {npairs},
core_labels AS (
  SELECT c.id, COALESCE(x.component, c.id) AS label
  FROM cores c LEFT JOIN cc x ON c.id = x.node),
{dbscan_tail_sql(H.SPARK, pts="gcells").lstrip()}""",
        ["core_labels"], pinf, **p, cc=cc)[0]


# --- grid distance transform (multi-source BFS) ---------------------------

def distance_transform_base_cte(dialect: str, pts: str = "pts") -> str:
    """Occupied-pixel relation + queen-adjacency edge set for the grid
    distance transform.  Expects ``{pts}(lon, lat, is_src)``; emits
    ``dbase(x, y, is_src)`` and ``dedges(x, y, nx, ny)``.

    Adjacency is the same offset-fan-out equi-join as the spatial-
    autocorrelation and Getis-Ord gates — candidate neighbors via 8
    pinned offsets, kept only where the neighbor pixel EXISTS (the
    sparse-raster convention: BFS runs through observed cells, the
    connectivity-constrained distance, not free-space Chebyshev which
    would collapse to a closed-form nearest-source query).
    """
    del dialect  # identical text in both engines
    return f"""
dpx AS (
  SELECT CAST(FLOOR(lon) AS BIGINT) AS x,
         CAST(FLOOR(lat) AS BIGINT) AS y, is_src
  FROM {pts}),
dbase AS (
  SELECT x, y, CAST(MAX(is_src) AS BIGINT) AS is_src
  FROM dpx GROUP BY x, y),
doffs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                (0,1),(1,-1),(1,0),(1,1)) AS t(dx, dy)),
dedges AS (
  SELECT b.x, b.y, n.x AS nx, n.y AS ny
  FROM dbase b CROSS JOIN doffs o
  JOIN dbase n ON n.x = b.x + o.dx AND n.y = b.y + o.dy)"""


def distance_transform_oracle_sql(rounds: int, pts_cte: str,
                                  pts: str = "pts") -> str:
    """DuckDB oracle: the SAME base relations, but the iteration is a
    recursive-CTE walk (a different algorithm computing the same
    function — the q:dbscan_events discipline).  UNION dedups visited
    (x, y, d) states, MIN per cell is the BFS distance."""
    return f"""
WITH RECURSIVE {pts_cte},
{distance_transform_base_cte('duck', pts=pts).lstrip()},
walk AS (
  SELECT x, y, 0 AS d FROM dbase WHERE is_src = 1
  UNION
  SELECT e.nx, e.ny, w.d + 1
  FROM walk w JOIN dedges e ON e.x = w.x AND e.y = w.y
  WHERE w.d < {int(rounds)})
SELECT x, y, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY x, y"""


# --- bounded-grid driver iteration (r6) -----------------------------------
#
# The three fixed-round grid runners below (distance transform, cost
# distance, flow accumulation) iterate over an AGGREGATED degree-grid
# relation bounded by the grid itself, where each distributed round is
# pure shuffle latency (~0.25 s/round, 2.2 s of a 3.1 s query).  One
# bounded collect of the aggregated grid decides: when operators/local.py
# allows, the identical integer recurrence runs in numpy on the driver;
# otherwise the grid is pinned for the fully distributed chain.


def _grid_collect(grid: DataFrame):
    """The grid's int64 columns by name when it has at most
    ``local.GRID_CELLS`` cells and its (span+2)-padded pack key fits
    int64 (sparse adversarial coords fall back to the distributed
    chain); else None."""
    import numpy as np

    table = local.collect_within(grid, local.GRID_CELLS)
    if table is None:
        return None
    cols = {name: table.column(name).to_numpy().astype(np.int64)
            for name in table.column_names}
    x, y = cols["x"], cols["y"]
    if x.size and ((int(x.max()) - int(x.min()) + 3)
                   * (int(y.max()) - int(y.min()) + 3)) >= 1 << 62:
        return None
    return cols


def _grid_pack(x, y):
    """Sort the collected grid by a collision-free packed (x, y) key
    (ascending pack order == lexicographic (x, y) order, so emitted
    rows are partition-order independent); returns the sort
    permutation applied to nothing — callers index their own columns —
    plus the sorted key array and the y-span multiplier."""
    import numpy as np

    x0, y0 = (int(x.min()), int(y.min())) if x.size else (0, 0)
    spany = (int(y.max()) - y0 + 3) if y.size else 3
    key = (x - x0 + 1) * spany + (y - y0 + 1)
    order = np.argsort(key)
    return order, key[order], spany


def _grid_neighbor_pairs(key_sorted, spany, offsets):
    """Per offset (dx, dy, w): (source index array, neighbor index
    array, w) for every cell whose (x+dx, y+dy) neighbor EXISTS in the
    sorted key set (binary search — the vectorized twin of the
    distributed offset fan-out + equi-join)."""
    import numpy as np

    out = []
    for dx, dy, w in offsets:
        nk = key_sorted + dx * spany + dy
        pos = np.clip(np.searchsorted(key_sorted, nk),
                      0, len(key_sorted) - 1)
        hit = key_sorted[pos] == nk
        out.append((np.nonzero(hit)[0], pos[hit], w))
    return out


def _minplus_local_df(spark, cols: dict, offsets, rounds: int,
                      out_col: str) -> DataFrame:
    """Driver-side min-plus (Bellman-Ford) rounds over the bounded
    grid ``cols`` (:func:`_grid_collect`): the exact integer recurrence
    ``d_r(c) = min(d_{r-1}(c), min_nbr d_{r-1}(nbr) + w)`` the
    distributed chain runs — ``np.minimum.at`` is unbuffered, min is
    order-free, and all values are int64, so the result is
    bit-identical.  Unreached cells stay at the sentinel and are
    dropped (the oracle's absent-cells cap)."""
    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("x", T.LongType(), True),
                           T.StructField("y", T.LongType(), True),
                           T.StructField(out_col, T.LongType(), True)])
    order, key_sorted, spany = _grid_pack(cols["x"], cols["y"])
    x, y, s = (cols[c][order] for c in ("x", "y", "is_src"))
    pairs = _grid_neighbor_pairs(key_sorted, spany, offsets)
    inf = np.int64(1) << 62
    dist = np.where(s == 1, np.int64(0), inf)
    for _ in range(int(rounds)):
        nd = dist.copy()
        for i_idx, j_idx, w in pairs:
            np.minimum.at(nd, j_idx, dist[i_idx] + w)
        dist = nd
    keep = dist < inf
    return local.to_spark(
        spark, {"x": x[keep], "y": y[keep], out_col: dist[keep]}, schema)


def grid_distance_transform(points: DataFrame, rounds: int = 8,
                            slot: str | None = None) -> DataFrame:
    """Multi-source BFS distance over the occupied pixel grid:
    ``points(lon, lat, is_src)`` → ``(x, y, dist)`` for every cell
    reachable from a source cell within ``rounds`` queen-steps through
    occupied cells (unreached cells are absent — same cap in the
    oracle).

    Scale posture: the edge relation is built ONCE (one offset fan-out
    + equi-join, pinned) and carries a ZERO-weight self-loop per
    occupied cell, so each BFS round is ONE equi-join + min-aggregate
    referencing the previous iterate exactly once — the whole fixed
    round count is a single lazy plan (one job, linear depth, the
    pinned edge exchange reused across rounds) instead of a
    per-round checkpoint job (r6 optimization: 4.1 s → one job).
    ``dist_r(c) = min(dist_{r-1}(c), min_nbr dist_{r-1}(nbr) + 1)``
    is exactly the first-reach BFS round recurrence, so the output is
    unchanged.  A fixed round count means NO per-round driver action
    (no count(), no convergence collect).
    """
    return _grid_minplus(
        points, rounds, slot, "dist",
        [(-1, -1, 1), (-1, 0, 1), (-1, 1, 1), (0, -1, 1),
         (0, 1, 1), (1, -1, 1), (1, 0, 1), (1, 1, 1)])


def _grid_minplus(points: DataFrame, rounds: int, slot: str | None,
                  out_col: str, offsets) -> DataFrame:
    """Shared runner of the distance transform and the cost distance:
    ``rounds`` min-plus rounds over the occupied grid with weighted
    queen ``offsets`` ``(dx, dy, w)`` — driver-local when the grid is
    bounded, else one lazy distributed plan over pinned relations."""
    from pyspark.sql import functions as F

    from .pinning import fresh_pins, pin_ctes

    spark = points.sparkSession
    base = pin_ctes(
        spark, "WITH" + distance_transform_base_cte(H.SPARK)
        + "\nSELECT * FROM dbase", [],
        pts=points.selectExpr("lon", "lat",
                              "CAST(is_src AS BIGINT) AS is_src"))[0]
    cols = _grid_collect(base)
    if cols is not None:
        # bounded grid: run the identical recurrence on the driver
        # (see the section comment above) — the edge relation is never
        # built, and the shuffle rounds collapse into vectorized numpy
        # passes
        return _minplus_local_df(spark, cols, offsets, rounds, out_col)
    # materialize dbase once, edges once
    pinf = fresh_pins(spark, slot)
    base = pinf(base)
    vals = ",".join(f"({dx},{dy},{w})" for dx, dy, w in offsets)
    edges = pinf(pin_ctes(spark, f"""
WITH doffs AS (SELECT * FROM (VALUES {vals}) AS t(dx, dy, w))
SELECT b.x, b.y, n.x AS nx, n.y AS ny, CAST(o.w AS BIGINT) AS w
FROM dbase b CROSS JOIN doffs o
JOIN dbase n ON n.x = b.x + o.dx AND n.y = b.y + o.dy
UNION ALL
SELECT x, y, x AS nx, y AS ny, CAST(0 AS BIGINT) AS w FROM dbase""",
                          [], dbase=base)[0])

    dist = base.where("is_src = 1") \
        .selectExpr("x", "y", f"CAST(0 AS BIGINT) AS {out_col}")
    for _ in range(int(rounds)):
        dist = (dist.join(edges, ["x", "y"])
                .selectExpr("nx AS x", "ny AS y",
                            f"CAST({out_col} + w AS BIGINT) AS {out_col}")
                .groupBy("x", "y").agg(F.min(out_col).alias(out_col)))
    return dist


# --- raster blob labeling (connected-component regions) -------------------

def blob_base_cte(tau: int, pixels: str = "bpix") -> str:
    """Shared CTE chain for raster region labeling: ``{pixels}(x, y, v)``
    → ``bhot`` (cells at or above ``tau``, with a packed pixel id) and
    ``bedges`` (4-adjacency, directed east/north — the undirected
    closure adds the reverses).  Identical text in both engines.

    The two adjacency joins are EQUI-joins on shifted keys (never an
    OR-of-conjunctions join predicate, which Catalyst can only run as
    a nested-loop join)."""
    return f"""
bhot AS (
  SELECT x, y, v, (x + 512) * 4096 + (y + 512) AS pid
  FROM {pixels} WHERE v >= {int(tau)}),
bedges AS (
  SELECT a.pid AS ea, b.pid AS eb
  FROM bhot a JOIN bhot b ON b.x = a.x + 1 AND b.y = a.y
  UNION ALL
  SELECT a.pid AS ea, b.pid AS eb
  FROM bhot a JOIN bhot b ON b.x = a.x AND b.y = a.y + 1)"""


def blob_tail_sql() -> str:
    """Per-blob rollup over ``blabels(pid, x, y, v, blob)`` — region id,
    cell count, mass, bbox.  All-integer; identical in both engines."""
    return """
SELECT blob,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(MIN(x) AS BIGINT) AS x0, CAST(MAX(x) AS BIGINT) AS x1,
       CAST(MIN(y) AS BIGINT) AS y0, CAST(MAX(y) AS BIGINT) AS y1
FROM blabels GROUP BY blob"""


def label_blobs(pixels: DataFrame, tau: int,
                slot: str | None = None) -> DataFrame:
    """Raster region labeling (the map-algebra "polygonize-labels" /
    blob-detection primitive): threshold ``pixels(x, y, v)`` at
    ``tau``, label 4-connected regions, and emit one row per region
    with (n_cells, sum_v, bbox).  Region id = the smallest packed
    pixel id in the region — deterministic under any partitioning.

    Spark side labels with the large-star/small-star components
    operator (O(log n) rounds, each one shuffle — the giant-region
    case a dense corpus produces stays cheap); the DuckDB oracle
    (:func:`blob_oracle_sql`) closes the same edge relation with a
    recursive-CTE transitive walk — two algorithms, one function.
    The hot relation is pinned: three consumers (the two adjacency
    self-joins and the label join-back) would otherwise re-run the
    upstream raster per reference.
    """
    from .graph import connected_components
    from .pinning import fresh_pins, pin_ctes

    spark = pixels.sparkSession
    edges, p = pin_ctes(
        spark, f"WITH {blob_base_cte(tau).lstrip()} "
        "SELECT ea AS src, eb AS dst FROM bedges",
        ["bhot"], fresh_pins(spark, slot),
        bpix=pixels.selectExpr("x", "y", "CAST(v AS BIGINT) AS v"))
    cc = connected_components(edges)
    # isolated hot cells never enter an edge: they are their own region
    return pin_ctes(spark, """
WITH blabels AS (
  SELECT h.pid, h.x, h.y, h.v, COALESCE(c.component, h.pid) AS blob
  FROM bhot h LEFT JOIN cc c ON h.pid = c.node)""" + blob_tail_sql(),
                    [], bhot=p["bhot"], cc=cc)[0]


def blob_oracle_sql(tau: int, pixels_cte: str,
                    pixels: str = "bpix") -> str:
    """DuckDB twin: same base chain, recursive-CTE closure in place of
    the iterative components operator.  ``pixels_cte`` must define
    ``{pixels}(x, y, v)``."""
    return f"""
WITH RECURSIVE {pixels_cte},
{blob_base_cte(tau, pixels=pixels).lstrip()},
bbi AS (SELECT ea AS a, eb AS b FROM bedges
        UNION SELECT eb, ea FROM bedges),
breach AS (
  SELECT pid AS src, pid AS node FROM bhot
  UNION
  SELECT r.src, e.b FROM breach r JOIN bbi e ON e.a = r.node),
blabels AS (
  SELECT h.pid, h.x, h.y, h.v, m.blob
  FROM bhot h JOIN (SELECT src AS pid, MIN(node) AS blob
                    FROM breach GROUP BY src) m ON m.pid = h.pid)
{blob_tail_sql().lstrip()}
"""


def _flow_local_df(spark, cols: dict, rounds: int, k: int) -> DataFrame:
    """Driver-side D8 inflow rounds over the bounded degree grid
    ``cols`` (:func:`_grid_collect`) — the exact integer algebra of the
    distributed chain: per cell, the steepest uphill neighbor (max n,
    ties by smallest (x, y) — the template's ROW_NUMBER ORDER BY
    n DESC, x, y), then ``rounds``
    passes of ``u = 1 + Σ_incoming u`` (``np.add.at`` is unbuffered;
    integer sums are order-free), then the top-``k`` ranking by
    (acc DESC, x, y).  All int64 end to end."""
    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("x", T.LongType(), True),
                           T.StructField("y", T.LongType(), True),
                           T.StructField("n", T.LongType(), True),
                           T.StructField("acc", T.LongType(), True),
                           T.StructField("rk", T.LongType(), True)])
    order, key_sorted, spany = _grid_pack(cols["x"], cols["y"])
    x, y, n = (cols[c][order] for c in ("x", "y", "n"))
    pairs = _grid_neighbor_pairs(
        key_sorted, spany,
        [(-1, -1, 0), (-1, 0, 0), (-1, 1, 0), (0, -1, 0),
         (0, 1, 0), (1, -1, 0), (1, 0, 0), (1, 1, 0)])
    m = len(x)
    bn = np.full(m, np.int64(-1))
    bj = np.full(m, -1)
    btx = np.zeros(m, np.int64)
    bty = np.zeros(m, np.int64)
    for i_idx, j_idx, _w in pairs:
        # each offset yields at most one neighbor per cell, so i_idx
        # is duplicate-free within a pass and plain fancy assignment
        # is race-free
        cn, cx_, cy_ = n[j_idx], x[j_idx], y[j_idx]
        cur = bn[i_idx]
        better = (cn > cur) | ((cn == cur)
                               & ((cx_ < btx[i_idx])
                                  | ((cx_ == btx[i_idx])
                                     & (cy_ < bty[i_idx]))))
        sel = (cn > n[i_idx]) & better
        ii = i_idx[sel]
        bn[ii] = cn[sel]
        bj[ii] = j_idx[sel]
        btx[ii] = cx_[sel]
        bty[ii] = cy_[sel]
    src = np.nonzero(bj >= 0)[0]
    tgt = bj[src]
    u = np.ones(m, np.int64)
    for _ in range(int(rounds)):
        inflow = np.zeros(m, np.int64)
        np.add.at(inflow, tgt, u[src])
        u = 1 + inflow
    topk = np.lexsort((y, x, -u))[:int(k)]
    return local.to_spark(spark, {
        "x": x[topk], "y": y[topk], "n": n[topk], "acc": u[topk],
        "rk": np.arange(1, len(topk) + 1, dtype=np.int64)}, schema)


def grid_flow_accumulation(points: DataFrame, rounds: int = 8,
                           k: int = 50, slot: str | None = None) -> DataFrame:
    """D8 uphill flow accumulation over the occupied 1-degree grid:
    ``points(lon, lat)`` → top-``k`` ``(x, y, n, acc, rk)`` — the
    runner twin of queries.flow_acc_sql (identical integer algebra,
    row-identical output).

    Why a runner instead of the unrolled CTE template on the Spark
    side: SQL CTE references INLINE, so round r's tree re-evaluates
    the grid aggregate and the direction window once per round —
    O(rounds²) recomputation (measured 523 s at sf0.1 vs ~3 s here).
    Here grid and dir pin ONCE (operators/pinning.py — executor-local
    by default, storage-backed via the gate seam) and each inflow
    round is one equi-join + groupBy on the CELLS relation, pinned to
    stop plan growth; counts strictly increase along dir, so each
    upstream cell is counted exactly once within the round horizon.
    Fixed round count ⇒ no per-round driver action."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .pinning import fresh_pins, pin_ctes

    spark = points.sparkSession
    grid = (points
            .selectExpr("CAST(FLOOR(lon) AS BIGINT) AS x",
                        "CAST(FLOOR(lat) AS BIGINT) AS y")
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))
    cols = _grid_collect(grid)
    if cols is not None:
        # bounded grid: steepest-neighbor pick + inflow rounds on the
        # driver (see the bounded-grid section comment) — the dirs
        # relation is never built distributively
        return _flow_local_df(spark, cols, rounds, k)
    pinf = fresh_pins(spark, slot)
    grid = pinf(grid)
    # the neighbor coordinates are PRECOMPUTED in a subquery before
    # the b join: with `b.n > a.n` written directly against the
    # 3-relation join, Catalyst has an a–b join edge with only that
    # inequality and picks a quadratic BroadcastNestedLoopJoin (43M
    # rows, 68 s at sf0.1); staged, the only a–b edge is the clean
    # (bx, by) equi-join (~0.5 s)
    dirs = pin_ctes(spark, """
WITH dirs AS (
  SELECT x, y, tx, ty FROM (
    SELECT c.x AS x, c.y AS y, b.x AS tx, b.y AS ty,
           ROW_NUMBER() OVER (PARTITION BY c.x, c.y
                              ORDER BY b.n DESC, b.x, b.y) AS rk
    FROM (SELECT a.x, a.y, a.n, a.x + o.dx AS bx, a.y + o.dy AS by
          FROM grid a
          CROSS JOIN (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                             (0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)) o) c
    JOIN grid b ON b.x = c.bx AND b.y = c.by
    WHERE b.n > c.n) r WHERE rk = 1)""", ["dirs"], pinf,
                    grid=grid)[1]["dirs"]

    # Each round references the previous iterate exactly ONCE (the
    # inflow join), so the loop chains lazily without per-round pins —
    # one job at the end, linear plan depth, the pinned grid/dirs
    # exchanges reused across rounds (r6 optimization; the prior
    # per-round checkpoint paid ~0.5 s of job latency per round).
    u = grid.selectExpr("x", "y", "CAST(1 AS BIGINT) AS u")
    for _ in range(int(rounds)):
        inflow = (dirs.join(u, ["x", "y"])
                  .groupBy(F.col("tx").alias("jx"),
                           F.col("ty").alias("jy"))
                  .agg(F.sum("u").cast("long").alias("m")))
        u = (grid.join(inflow,
                       (F.col("x") == F.col("jx"))
                       & (F.col("y") == F.col("jy")), "left")
             .selectExpr("x", "y",
                         "CAST(1 + COALESCE(m, 0) AS BIGINT) AS u"))
    ranked = (grid.join(u, ["x", "y"])
              .selectExpr("x", "y", "n", "u AS acc")
              .withColumn("rk", F.row_number().over(
                  Window.orderBy(F.desc("acc"), "x", "y"))
                  .cast("long")))
    return ranked.where(F.col("rk") <= int(k))


def cost_distance_base_cte(dialect: str, pts: str = "pts") -> str:
    """Chamfer 2-3 weighted adjacency over the occupied grid: the
    distance-transform base with edge weights (orthogonal 2, diagonal
    3 — the classic integer approximation of Euclidean cell distance,
    exact ratio 1.5 vs √2 ≈ 1.414)."""
    del dialect
    return f"""
dpx AS (
  SELECT CAST(FLOOR(lon) AS BIGINT) AS x,
         CAST(FLOOR(lat) AS BIGINT) AS y, is_src
  FROM {pts}),
dbase AS (
  SELECT x, y, CAST(MAX(is_src) AS BIGINT) AS is_src
  FROM dpx GROUP BY x, y),
doffs AS (SELECT * FROM (VALUES (-1,-1,3),(-1,0,2),(-1,1,3),(0,-1,2),
                                (0,1,2),(1,-1,3),(1,0,2),(1,1,3))
          AS t(dx, dy, w)),
dedges AS (
  SELECT b.x, b.y, n.x AS nx, n.y AS ny, CAST(o.w AS BIGINT) AS w
  FROM dbase b CROSS JOIN doffs o
  JOIN dbase n ON n.x = b.x + o.dx AND n.y = b.y + o.dy)"""


def cost_distance_oracle_sql(rounds: int, pts_cte: str,
                             pts: str = "pts") -> str:
    """DuckDB oracle: recursive min-plus walk over ≤``rounds``-edge
    paths (Bellman-Ford after R rounds computes exactly the min over
    ≤R-edge paths, so the two algorithms agree by construction).
    States carry the step count; UNION dedups (x, y, d, s)."""
    return f"""
WITH RECURSIVE {pts_cte},
{cost_distance_base_cte('duck', pts=pts).lstrip()},
walk AS (
  SELECT x, y, CAST(0 AS BIGINT) AS d, 0 AS s
  FROM dbase WHERE is_src = 1
  UNION
  SELECT e.nx, e.ny, w.d + e.w, w.s + 1
  FROM walk w JOIN dedges e ON e.x = w.x AND e.y = w.y
  WHERE w.s < {int(rounds)})
SELECT x, y, CAST(MIN(d) AS BIGINT) AS cost FROM walk GROUP BY x, y"""


def grid_cost_distance(points: DataFrame, rounds: int = 8,
                       slot: str | None = None) -> DataFrame:
    """Weighted (chamfer 2-3) cost distance: ``points(lon, lat,
    is_src)`` → ``(x, y, cost)`` = min path weight from any source
    within ``rounds`` edges through occupied cells — the
    accessibility/least-cost-path surface (grid_distance_transform's
    weighted sibling).

    Min-plus (Bellman-Ford) relaxation: the edge relation carries a
    ZERO-weight self-loop per occupied cell, so each round is ONE
    equi-join + min-aggregate referencing the previous iterate exactly
    once — the fixed round count is a single lazy plan (one job,
    linear depth, the pinned edge exchange reused across rounds)
    instead of per-round checkpoint jobs (r6 optimization: the prior
    delta-frontier loop paid ~0.6 s of job latency per round).
    ``cost_r(c) = min(cost_{r-1}(c), min_nbr cost_{r-1}(nbr) + w)``
    is the Bellman-Ford round, so after R rounds the result is the
    min over ≤R-edge paths — the oracle's definition, unchanged.
    Every relation is grid-bounded; no per-round driver action."""
    return _grid_minplus(
        points, rounds, slot, "cost",
        [(-1, -1, 3), (-1, 0, 2), (-1, 1, 3), (0, -1, 2),
         (0, 1, 2), (1, -1, 3), (1, 0, 2), (1, 1, 3)])


def kmeans_lloyd(points: DataFrame, k: int = 8, rounds: int = 3,
                 slot: str | None = None) -> DataFrame:
    """Planar Lloyd k-means over ``points(id, x, y)`` (non-negative
    integer coords) → per-cluster ``(ck, n, cx, cy, inertia_e6)`` with
    cx/cy still in the shifted domain — the runner twin of
    queries.q_kmeans (identical integer algebra: TakeOrdered (md5, id)
    init, exact BIGINT squared distances, min-ck argmin tiebreak,
    truncating-integer centroid means, empty clusters keep their
    centroid, inertia = assignment-time d2 DIV 1e6).

    Why a runner: the template's argmin join-back references each
    round's assignment twice, so CTE inlining re-evaluates the whole
    upstream ~2^rounds times.  Here the points pin once, and each
    round is ONE distributed job — broadcast k-row VALUES cross join →
    map-side struct-MIN argmin → per-cluster (Σx, Σy, count), which is
    ≤k rows and collects to the driver where the truncating-mean
    centroid update (``sx DIV n``, empty clusters keep their centroid
    — all operands non-negative, so python ``//`` IS the SQL DIV) runs
    in python and re-enters the next round's SQL as literals (r6: the
    k-row centroid relation was referenced twice per round, which
    forced two checkpoint jobs per round to stop exponential
    re-evaluation; a ≤k-row collect is bounded at any input scale)."""
    from .pinning import fresh_pins, pin_ctes

    spark = points.sparkSession
    pts = fresh_pins(spark, slot)(
        points.selectExpr("id", "x", "y"))

    def km_sql(sql):
        return pin_ctes(spark, sql, [], km_pts=pts)[0]

    cent = [(int(r.ck), int(r.x), int(r.y)) for r in km_sql(f"""
WITH seeds AS (
  SELECT CAST(CONV(SUBSTRING(MD5(CAST(id AS STRING)), 1, 8), 16, 10)
              AS BIGINT) AS h, id, x, y
  FROM km_pts ORDER BY 1, 2 LIMIT {int(k)})
SELECT ROW_NUMBER() OVER (ORDER BY h, id) AS ck, x, y
FROM seeds""").collect()]
    if not cent:
        # no points: no seeds, and an empty VALUES list does not parse
        return spark.createDataFrame(
            [], "ck INT, n BIGINT, cx BIGINT, cy BIGINT, inertia_e6 BIGINT")

    def cent_values(cs):
        return ", ".join(
            f"({ck}, CAST({x} AS BIGINT), CAST({y} AS BIGINT))"
            for ck, x, y in cs)

    def argmin_sql(cs):
        # the lexicographic struct-MIN replaces the template's
        # MIN/join-back argmin — identical result (min d2, min ck
        # tie); unlike a per-point ROW_NUMBER window it partial-
        # aggregates map-side, so the k-way cross-join fan-out never
        # shuffles (guide §2.3)
        return f"""
  SELECT p.id, p.x, p.y,
         MIN(STRUCT((p.x - c.x) * (p.x - c.x)
                    + (p.y - c.y) * (p.y - c.y) AS d2, c.ck AS ck)) AS m
  FROM km_pts p
  CROSS JOIN (SELECT * FROM (VALUES {cent_values(cs)})
              AS t(ck, x, y)) c
  GROUP BY p.id, p.x, p.y"""

    assign_cent = cent
    for _ in range(int(rounds)):
        assign_cent = cent
        sums = {int(r.ck): r for r in km_sql(f"""
WITH a AS ({argmin_sql(cent)})
SELECT a.m.ck AS ck,
       CAST(SUM(a.x) AS BIGINT) AS sx, CAST(SUM(a.y) AS BIGINT) AS sy,
       CAST(COUNT(*) AS BIGINT) AS n
FROM a
GROUP BY a.m.ck""").collect()}
        cent = [(ck,
                 int(sums[ck].sx) // int(sums[ck].n) if ck in sums else x,
                 int(sums[ck].sy) // int(sums[ck].n) if ck in sums else y)
                for ck, x, y in cent]
    # final rollup: assignment against the centroids that ENTERED the
    # last round (the template's km_picked_v), centroid coords from
    # the post-update set (its km_cent_v) — same relations, one job
    return km_sql(f"""
WITH a AS ({argmin_sql(assign_cent)})
SELECT a.m.ck AS ck,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(c2.x) AS BIGINT) AS cx,
       CAST(MIN(c2.y) AS BIGINT) AS cy,
       CAST(SUM(a.m.d2 DIV 1000000) AS BIGINT) AS inertia_e6
FROM a
JOIN (SELECT * FROM (VALUES {cent_values(cent)}) AS t(ck, x, y)) c2
  ON c2.ck = a.m.ck
GROUP BY a.m.ck""")
