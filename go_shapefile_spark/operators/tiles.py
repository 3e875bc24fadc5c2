"""Raster↔vector tile materialization (SURVEY.md §2.B E8).

* ``tile_counts`` — per-cell rollup of a point table (the "tiles" half of
  the headline metric).  Pure built-ins: map-side partial aggregation,
  one shuffle on the Morton ``cell`` key.
* ``rasterize_features`` — vector→raster over the spatial join's cover:
  full cells become all-ones T×T blocks without touching geometry; a
  partial row tests the pixel centres of its sub-rectangle with the
  join's clipped-edge crossing-parity predicate — pure JVM past the
  (distributed) cover build, no polygon state on the driver.
* ``vectorize_raster`` — raster→vector: per-tile pixel rows are merged
  into maximal horizontal runs, then rectangles, via ``applyInArrow``
  per (cell, fid) group.  Output rectangles are exact covers of the
  input pixels.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from . import local
from .pinning import fresh_pins
from .spatial_join import (
    JOIN_SCHEMA, UNROLL_K, _map_polygons, aggregate_crossings_sql, join_cover,
    parity_sql, unrolled_crossings_sql)

# ``raster_cover``'s rows: the join's cover columns, then the pixel
# stage's own.
RASTER_SCHEMA = JOIN_SCHEMA + (
    ", lon0 double not null, lat0 double not null, px0 int not null, "
    "nx int not null, py0 int not null, ny int not null")


def tile_counts(points: DataFrame, res: int, lon_col: str = "lon",
                lat_col: str = "lat", extra_aggs: list | None = None) -> DataFrame:
    """Per-cell counts (+optional aggs). One shuffle on ``cell``; AQE
    coalesces small partitions, skew-join handling is upstream."""
    aggs = [F.count(F.lit(1)).alias("n")] + list(extra_aggs or [])
    return (points
            .withColumn("cell", F.expr(C.cell_sql(lon_col, lat_col, res)))
            .groupBy("cell").agg(*aggs))


def heatmap_body(dialect: str, pts: str = "pts", ppd: int = 1) -> str:
    """Kernel-density heatmap raster: every point splats a 3x3 binomial
    kernel (1-2-1 ⊗ 1-2-1, the standard Gaussian approximation for tile
    heatmap rendering) onto a pixel grid of ``ppd`` pixels per unit.

    Pure relational splatting — point→pixel is integer floor arithmetic,
    the kernel is a 9-row inline table, the raster is a groupBy on the
    pixel key — JVM-only, identical in both dialects.  Points
    PRE-AGGREGATE per pixel before the 9-way kernel fan-out (measured
    on 100M points: the naive splat-then-aggregate form pushes 9n rows
    through the partial aggregate; aggregating first shrinks the
    fan-out input by the per-pixel multiplicity — same exact integers,
    since Σ_points w == w·n per pixel).  Intensity is an all-integer
    sum (bit-stable dual-engine); ``n_centered`` counts the points
    whose own pixel this is (the unsmoothed raster, for free).  Grid is
    unbounded (pixel ids may be negative): no clamping, no lost mass —
    SUM(intensity) == 16 * COUNT(points) exactly.

    Expects a ``{pts}(lon, lat)`` relation in scope; chain after a CTE.
    """
    del dialect  # dialect-free; keep the seam signature
    return f"""
hpx AS (
  SELECT CAST(FLOOR(lon * {int(ppd)}) AS BIGINT) AS x,
         CAST(FLOOR(lat * {int(ppd)}) AS BIGINT) AS y
  FROM {pts}),
hagg AS (
  SELECT x, y, COUNT(*) AS n FROM hpx GROUP BY x, y),
hkern AS (
  SELECT * FROM (VALUES (-1,-1,1),(-1,0,2),(-1,1,1),(0,-1,2),(0,0,4),
                        (0,1,2),(1,-1,1),(1,0,2),(1,1,1)) AS t(dx, dy, w))
SELECT p.x + k.dx AS x, p.y + k.dy AS y,
       CAST(SUM(k.w * p.n) AS BIGINT) AS intensity,
       CAST(SUM(CASE WHEN k.dx = 0 AND k.dy = 0 THEN p.n ELSE 0 END)
            AS BIGINT) AS n_centered
FROM hagg p CROSS JOIN hkern k
GROUP BY p.x + k.dx, p.y + k.dy"""


def adaptive_cells_body(dialect: str, max_res: int, k: int,
                        pts: str = "pts") -> str:
    """Adaptive quadtree tiling: every point lands in the SHALLOWEST
    cell holding <= ``k`` points (cells over budget split, down to
    ``max_res``) — variable-resolution tiles: fine where dense, coarse
    where sparse (the classic adaptive spatial index / map LOD rule).

    Top-down recursive splitting collapses to ONE relational query:
    per-point cell counts are non-increasing in resolution (a finer
    cell is a subset of its parent), so the top-down leaf is exactly
    ``min{r : count_r(cell_r(p)) <= k}`` (or ``max_res``).

    Scale shape (the 100M-point probe killed the naive form): every
    point in the same max-res cell shares the same leaf, so the POINTS
    are touched exactly once — one groupBy to max-res cell counts —
    and ALL level logic (the (R+1)-way fan-out, ancestor counts, the
    min-level pick, the leaf regroup) runs on the occupied-CELLS
    relation, which is <= min(n, 4^R) rows.  Levels key by plain
    integer grid coordinates (``ix DIV 2^(R-r)``); the Morton id packs
    ONCE per leaf group after the final aggregate (the CollapseProject
    lesson).  No iteration, no pinning, one data-proportional shuffle.

    Output: ``(cell, res, n_points)`` per leaf cell.  Expects
    ``{pts}(id, lon, lat)``; the only dialect seam is integer division.
    """
    from ..functions import hashes as H

    if not 0 <= max_res <= C.MAX_RES:
        raise ValueError(f"max_res {max_res} out of range")
    if k < 1:
        raise ValueError("k must be >= 1")
    levels = ",".join(f"({r},{1 << (max_res - r)})"
                      for r in range(max_res + 1))
    sx = C._spread_sql("kx")
    sy = C._spread_sql("ky")
    return f"""
qbase AS (
  SELECT {C.ix_sql('lon', max_res)} AS ix,
         {C.iy_sql('lat', max_res)} AS iy
  FROM {pts}),
qcells AS (
  SELECT ix, iy, COUNT(*) AS n FROM qbase GROUP BY ix, iy),
qlv AS (SELECT * FROM (VALUES {levels}) AS t(r, shift)),
qckeys AS (
  SELECT c.ix, c.iy, c.n, l.r,
         {H.idiv('c.ix', 'l.shift', dialect)} AS kx,
         {H.idiv('c.iy', 'l.shift', dialect)} AS ky
  FROM qcells c CROSS JOIN qlv l),
qcounts AS (
  SELECT r, kx, ky, SUM(n) AS n FROM qckeys GROUP BY r, kx, ky),
qleaf AS (
  SELECT k.ix, k.iy, MIN(k.r) AS leaf_r
  FROM qckeys k
  JOIN qcounts c ON k.r = c.r AND k.kx = c.kx AND k.ky = c.ky
  WHERE c.n <= {int(k)} OR c.r = {max_res}
  GROUP BY k.ix, k.iy),
qgroups AS (
  SELECT k.r, k.kx, k.ky, SUM(k.n) AS n_points
  FROM qckeys k
  JOIN qleaf l ON k.ix = l.ix AND k.iy = l.iy AND k.r = l.leaf_r
  GROUP BY k.r, k.kx, k.ky)
SELECT (CAST(r AS BIGINT) * {1 << C._RES_SHIFT} + ({sx} | ({sy} * 2)))
         AS cell,
       CAST(r AS BIGINT) AS res,
       CAST(n_points AS BIGINT) AS n_points
FROM qgroups"""


def idw_body(dialect: str, pts: str = "pts") -> str:
    """Inverse-distance-weighted interpolation (IDW, power 2) of a
    point measure onto the grid of occupied cells — the kriging-lite
    surface raster (rainfall/price/temperature maps from samples).

    Nodes are the occupied unit cells' centers; each node interpolates
    from the points of its 3x3 cell ring (the knn ring trick — an
    equi-join, JVM-only).  Determinism across engines AND partitionings
    is the design constraint: float SUMs are accumulation-order-
    dependent, so weights are QUANTIZED to integers (w = floor(1e6/d²),
    clamped to 1e12 ON THE DOUBLE, before the BIGINT cast — a sample
    near-but-not-on a node center would otherwise overflow the cast
    under ANSI; exactly-on-center takes the cap via the CASE) and the
    measure to cents; the weighted sums accumulate in DECIMAL(38,0)
    (exact, order-independent, and immune to the int64-overflow
    crash-vs-HUGEINT divergence between Spark ANSI and DuckDB), and the
    final ratio is one double division of the exact sums — the same
    correctly-rounded DECIMAL→DOUBLE cast in both engines.
    Quantization error is bounded by 1e-6 relative per weight
    (documented approximation; the STRUCTURE of the estimate is exact).

    Expects ``{pts}(lon, lat, value)``.  Output per node: grid x/y,
    contributing sample count, and ``idw_micro`` = floor(1e4 * weighted
    mean of value) as BIGINT (the exact DECIMAL num/den stay internal:
    DuckDB's pandas bridge degrades DECIMAL(38) to float64, so they are
    not hash-comparable as output columns).
    """
    del dialect
    cap = 10 ** 12
    return f"""
ipx AS (
  SELECT CAST(FLOOR(lon) AS BIGINT) AS x, CAST(FLOOR(lat) AS BIGINT) AS y,
         lon, lat, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM {pts}),
inodes AS (SELECT DISTINCT x, y FROM ipx),
ioffs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)) AS t(dx, dy)),
icand AS (
  SELECT n.x, n.y, p.v,
         (p.lon - (CAST(n.x AS DOUBLE) + CAST(0.5 AS DOUBLE)))
           * (p.lon - (CAST(n.x AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         + (p.lat - (CAST(n.y AS DOUBLE) + CAST(0.5 AS DOUBLE)))
           * (p.lat - (CAST(n.y AS DOUBLE) + CAST(0.5 AS DOUBLE))) AS d2
  FROM (SELECT n.x, n.y, n.x + o.dx AS gx, n.y + o.dy AS gy
        FROM inodes n CROSS JOIN ioffs o) n
  JOIN ipx p ON p.x = n.gx AND p.y = n.gy),
iw AS (
  SELECT x, y, v,
         CASE WHEN d2 = CAST(0.0 AS DOUBLE) THEN {cap}
              ELSE CAST(FLOOR(LEAST(CAST({cap} AS DOUBLE),
                                    CAST(1000000.0 AS DOUBLE) / d2))
                        AS BIGINT) END AS w
  FROM icand)
SELECT x, y,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(FLOOR(CAST(SUM(CAST(w AS DECIMAL(38, 0)) * v) AS DOUBLE)
                  * 10000.0
                  / CAST(SUM(CAST(w AS DECIMAL(38, 0))) AS DOUBLE))
            AS BIGINT) AS idw_micro
FROM iw
GROUP BY x, y"""


def heatmap(points: DataFrame, ppd: int = 1, lon_col: str = "lon",
            lat_col: str = "lat") -> DataFrame:
    """DataFrame wrapper over :func:`heatmap_body` — KDE-style heatmap
    raster of a point table, one shuffle, no Python nodes."""
    from .pinning import pin_ctes

    return pin_ctes(
        points.sparkSession, "WITH" + heatmap_body("spark", ppd=ppd), [],
        pts=points.selectExpr(f"{lon_col} AS lon", f"{lat_col} AS lat"))[0]


def parent_cell_sql(cell: str) -> str:
    """Parent cell id (one resolution coarser) from a cell id — pure
    int arithmetic on the Morton code (drop the low 2 interleave bits,
    decrement the packed resolution).  Spark SQL dialect (DIV)."""
    res_base = 1 << C._RES_SHIFT
    res_part = f"(({cell}) DIV {res_base})"
    morton = f"(({cell}) & {res_base - 1})"
    return f"((({res_part}) - 1) * {res_base} + (({morton}) DIV 4))"


def tile_pyramid(points: DataFrame, max_res: int, min_res: int = 0,
                 lon_col: str = "lon", lat_col: str = "lat",
                 extra_sums: list[str] | None = None) -> DataFrame:
    """Multi-resolution tile pyramid: per-cell counts at every resolution
    in [min_res, max_res], SCANNING THE POINTS ONCE.

    The base level aggregates the raw points; every coarser level rolls
    up from its child level by parent-cell arithmetic (4 child rows per
    parent — each rollup shuffle is ~4× smaller than the previous), so
    the point table is never re-scanned per level.  This is the tiled
    analog of an OLAP rollup; counts (and optional SUM columns) are
    exactly additive under the cell hierarchy because every point maps
    to one cell per level and parents partition their children.

    Each level is materialized once (operators/pinning.py — index-build
    semantics, computed at call time; the ``spark.graft.pin.strategy``
    conf selects executor-local checkpoints [default] or durable
    ``storage`` materialization): without it the returned union would
    re-run the base aggregation once per level branch (Spark does not
    reuse the exchanges here — measured 4 scans for 4 levels).  At
    production scale, committing the levels to the snapshot table is
    exactly the ``storage`` strategy with ``spark.graft.pin.dir`` on
    shared storage.

    Returns (res int, cell long, n long [, sum_<col>...]).
    """
    if not 0 <= min_res <= max_res <= C.MAX_RES:
        raise ValueError(
            f"need 0 <= min_res <= max_res <= {C.MAX_RES}, "
            f"got [{min_res}, {max_res}]")
    pinf = fresh_pins(points.sparkSession, None)  # per-call slot
    sums = list(extra_sums or [])
    base_aggs = [F.count(F.lit(1)).alias("n")] + \
        [F.sum(c).alias(f"sum_{c}") for c in sums]
    roll_aggs = [F.sum("n").alias("n")] + \
        [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums]
    cur = pinf(points
               .withColumn("cell",
                           F.expr(C.cell_sql(lon_col, lat_col, max_res)))
               .groupBy("cell").agg(*base_aggs))
    levels = [cur.select(F.lit(max_res).alias("res"), "*")]
    for r in range(max_res - 1, min_res - 1, -1):
        cur = pinf(cur.select(F.expr(parent_cell_sql("cell")).alias("cell"),
                              "n", *[f"sum_{c}" for c in sums])
                   .groupBy("cell").agg(*roll_aggs))
        levels.append(cur.select(F.lit(r).alias("res"), "*"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def _pixel_span(lo: np.ndarray, hi: np.ndarray, c0: np.ndarray,
                c1: np.ndarray, t: int) -> tuple[np.ndarray, np.ndarray]:
    """Per row: the first index and the count of the pixels ``p`` of a
    cell ``[c0, c1]`` whose centre ``c0 + (p + 0.5) * (c1 - c0) / t`` —
    the pixel stage's float ops, in its order — lies in ``[lo, hi)``.
    Centres increase with ``p``, so both ends are counts."""
    first = np.zeros(len(lo), dtype=np.int64)
    end = np.zeros(len(lo), dtype=np.int64)
    for p in range(t):
        centre = c0 + (p + 0.5) * (c1 - c0) / t
        first += centre < lo
        end += centre < hi
    return first, end - first


def raster_cover(polygons: list[dict], res: int, tile_px: int) -> dict:
    """The join's cover columns (``join_cover``) with what the pixel
    stage reads besides them (``RASTER_SCHEMA``): the cell's SW corner
    ``lon0, lat0`` and the row's pixels, ``nx`` × ``ny`` from ``px0,
    py0`` — every pixel whose centre lies in the row's half-open
    sub-rectangle.  Rows holding no pixel centre are dropped."""
    cover = join_cover(polygons, res)
    lon0, lat0, lon1, lat1 = C.cell_bounds_np(cover["cell"])
    px0, nx = _pixel_span(cover["_sj_x0"], cover["_sj_x1"], lon0, lon1,
                          tile_px)
    py0, ny = _pixel_span(cover["_sj_y0"], cover["_sj_y1"], lat0, lat1,
                          tile_px)
    cover.update(lon0=lon0, lat0=lat0, px0=px0, nx=nx, py0=py0, ny=ny)
    keep = (nx > 0) & (ny > 0)
    return {k: v[keep] for k, v in cover.items()}


def rasterize_features(features: DataFrame, res: int,
                       tile_px: int = 16) -> DataFrame:
    """Vector→raster from a (fid, geometry) features DataFrame: emits
    (cell, fid, px, py) rows for occupied pixels.

    The cover is the spatial join's (``raster_cover`` over
    ``join_cover``), built DISTRIBUTED — each task covers its share of
    the polygon corpus, nothing about it lands on the driver — and
    pinned in an anonymous per-call slot (operators/pinning.py;
    ``release_pins`` frees it), so repeated actions over the raster
    (rasterize→vectorize pipelines, bench re-counts) don't re-run the
    Python build.  Past it, every stage is JVM:

    * full cells explode their whole T×T block, no geometry;
    * a partial row explodes only the pixels of its sub-rectangle and
      tests their centres with the join's crossing-parity predicate over
      its ≤ UNROLL_K edges — a centre lies in its row's rectangle, so
      the row's clipped edges suffice for an exact PIP;
    * depth-cap rows (``_sj_edges``) take the interpreted aggregate()
      form in their own branch, keeping the codegen fallback out of the
      compiled Filter.
    """
    t = tile_px
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    cover = fresh_pins(features.sparkSession, None)(_map_polygons(
        features, lambda polys: raster_cover(polys, res, t), RASTER_SCHEMA))

    def centre(c0: str, p: str, size: float) -> str:
        # the float ops of ``_pixel_span``, in its order; coalesce makes
        # the (nullable) quotient a non-null centre, which keeps null
        # branches out of every predicate term
        return (f"coalesce({c0} + ({p} + CAST(0.5 AS DOUBLE)) * "
                f"(({c0} + CAST({size!r} AS DOUBLE)) - {c0}) / "
                f"CAST({t} AS DOUBLE), CAST(0.0 AS DOUBLE))")

    def pixels(rows: str) -> DataFrame:
        return (cover.where(rows)
                .selectExpr("*", "explode(sequence(py0, py0 + ny - 1)) AS py")
                .selectExpr("*", "explode(sequence(px0, px0 + nx - 1)) AS px"))

    def inside(rows: str, crossings: str) -> DataFrame:
        # the centres are Generate outputs: Project columns would be
        # inlined into each of the predicate's ~50 references to them
        return (pixels(rows)
                .selectExpr("*", "inline(array(struct("
                            f"{centre('lon0', 'px', w)} AS cx, "
                            f"{centre('lat0', 'py', h)} AS cy)))")
                .where(parity_sql("_sj_in", crossings)))

    branches = [
        pixels("_sj_full"),
        inside("NOT _sj_full AND _sj_edges IS NULL",
               unrolled_crossings_sql("cx", "cy", "_sj_rx", "_sj_ry",
                                      UNROLL_K, "_sj_e", signs="_sj_s")),
        inside("_sj_edges IS NOT NULL",
               aggregate_crossings_sql("cx", "cy", "_sj_rx", "_sj_ry",
                                       "_sj_edges"))]
    return reduce(DataFrame.union, [
        df.selectExpr("cell", "polygon_fid AS fid", "px", "py")
        for df in branches])


def rasterize_polygons(spark: SparkSession, polygons: list[dict], res: int,
                       tile_px: int = 16) -> DataFrame:
    """Vector→raster from in-memory polygon dicts (test/gate convenience):
    wraps the dicts as a features DataFrame and runs the same distributed
    path as ``rasterize_features``."""
    pdf = pd.DataFrame({
        "fid": [int(p["fid"]) for p in polygons],
        "geometry": [{"layout": "XY",
                      "coords": list(map(float, p["coords"])),
                      "ends": [int(e) for e in p["ends"]]}
                     for p in polygons],
    })
    feats = spark.createDataFrame(
        pdf, schema="fid long, geometry struct<layout:string,"
                    "coords:array<double>,ends:array<int>>")
    return rasterize_features(feats, res, tile_px)


def vectorize_raster(raster: DataFrame, tile_px: int = 16) -> DataFrame:
    """Raster→vector: per (cell, fid), merge pixels into maximal
    axis-aligned rectangles (greedy row-run merge).  Exact inverse of a
    rasterization in the sense that the union of rectangles equals the
    pixel set."""
    def to_rects(key, table) -> dict:
        cell, fid = key
        occ = np.zeros((tile_px, tile_px), dtype=bool)
        occ[table.column("py").to_numpy(),
            table.column("px").to_numpy()] = True
        rects = []  # (x0, y0, x1, y1) inclusive pixel coords
        open_runs: dict[tuple[int, int], list] = {}
        for y in range(tile_px):
            row = occ[y]
            runs = []
            x = 0
            while x < tile_px:
                if row[x]:
                    x0 = x
                    while x < tile_px and row[x]:
                        x += 1
                    runs.append((x0, x - 1))
                else:
                    x += 1
            next_open = {}
            for run in runs:
                if run in open_runs:
                    rect = open_runs.pop(run)
                    rect[3] = y
                    next_open[run] = rect
                else:
                    next_open[run] = [run[0], y, run[1], y]
            for rect in open_runs.values():
                rects.append(rect)
            open_runs = next_open
        rects.extend(open_runs.values())
        r = np.array(rects, dtype=np.int64).reshape(-1, 4)
        return {"cell": np.full(len(r), cell), "fid": np.full(len(r), fid),
                **dict(zip(("x0", "y0", "x1", "y1"), r.T))}

    return local.apply_arrow(
        raster.groupBy("cell", "fid"), to_rects,
        "cell long, fid long, x0 int, y0 int, x1 int, y1 int")
