"""Spatial join: points × polygons via broadcast cell-cover + PIP refine.

The engine pattern mandated by the north rule (SURVEY.md §2.B E4-E6):

1. **Cell cover** (driver/small side): every polygon is decomposed at
   resolution ``r`` into ``full`` cells (entirely inside) and ``partial``
   cells (boundary-crossing).  The polygon side is small (e.g. 177
   Natural Earth countries); the cover is a few thousand rows.
2. **Broadcast equi-join**: the huge point side gets a ``cell`` column
   (pure JVM-side expression — no Python) and equi-joins the broadcast
   cover on ``cell``.  Catalyst picks BroadcastHashJoin: no shuffle of
   the big side, the geometry theta-join became an equi-join.
3. **PIP refinement**: only rows landing in ``partial`` cells run the
   vectorized ray-cast (Arrow-batched pandas UDF); ``full``-cell rows
   skip geometry entirely.  At sane resolutions >90% of matched area is
   full cells, so the Python path touches a small fraction of rows.

Scale notes: the cover is O(polygons · cells/polygon) and broadcast once;
the big side is never shuffled; skew from hot cells only matters for
downstream aggregations (see operators/skew.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geom_np as G
from . import local


UNROLL_K = 24  # max clipped edges handled by the codegen'd predicate


def _flatten_edges(part_pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """Partial-cover rows → NaN-padded scalar edge columns for the
    unrolled predicate (4·k doubles per row)."""
    n = len(part_pdf)
    mat = np.full((n, 4 * k), np.nan)
    for i, edges in enumerate(part_pdf["edges"]):
        if edges:
            arr = np.asarray(edges, dtype=np.float64).reshape(-1, 4)
            mat[i, :4 * len(arr)] = arr.ravel()
    out = part_pdf[["cell", "polygon_fid", "rx", "ry", "ref_inside"]] \
        .reset_index(drop=True)
    for j in range(k):
        out[f"e{j}_ax"] = mat[:, 4 * j]
        out[f"e{j}_ay"] = mat[:, 4 * j + 1]
        out[f"e{j}_bx"] = mat[:, 4 * j + 2]
        out[f"e{j}_by"] = mat[:, 4 * j + 3]
    return out


def _poly_dict(fid: int, layout: str, coords, ends) -> dict:
    """(fid, geometry fields) → planar polygon dict (XY ordinates only)."""
    stride = {"XY": 2, "XYM": 3, "XYZM": 4}[layout]
    coords = np.asarray(coords, dtype=np.float64)
    if stride != 2:
        xy = np.empty(2 * (len(coords) // stride))
        xy[0::2] = coords[0::stride]
        xy[1::2] = coords[1::stride]
        scale = 2 / stride
        ends = [int(e * scale) for e in ends]
        coords = xy
    else:
        ends = [int(e) for e in ends]
    return {"fid": int(fid), "coords": coords, "ends": ends}


def polygons_from_features(features_rows) -> list[dict]:
    """Collected ``features`` rows (fid, geometry) → polygon dicts."""
    return [_poly_dict(row.fid, row.geometry.layout, row.geometry.coords,
                       row.geometry.ends) for row in features_rows]


COVER_SCHEMA = ("cell long, polygon_fid long, full boolean, rx double, "
                "ry double, ref_inside boolean, edges array<array<double>>, "
                "lon0 double, lat0 double")


def cell_cover_df(features: DataFrame, res: int) -> DataFrame:
    """Distributed cell-cover build: each task covers its share of the
    polygon corpus (mapInPandas over ``features`` rows) — nothing is
    collected to the driver, so a million-parcel polygon side builds its
    cover across the cluster instead of serially in driver Python.

    Input needs columns (fid, geometry); rows with NULL geometry are
    skipped.  Output matches ``polygon_cell_cover(with_edges=True)``.
    """
    from typing import Iterator

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            polys = []
            for fid, g in zip(pdf["fid"], pdf["geometry"]):
                if g is None:
                    continue
                polys.append(_poly_dict(fid, g["layout"], g["coords"],
                                        g["ends"]))
            if not polys:
                continue
            cover = polygon_cell_cover(polys, res, with_edges=True)
            cover["edges"] = cover["edges"].map(
                lambda e: e if e is not None else [])
            cover = cover.rename(columns={"fid": "polygon_fid"})
            yield cover[["cell", "polygon_fid", "full", "rx", "ry",
                         "ref_inside", "edges", "lon0", "lat0"]]

    # spread polygons across tasks — the cover build is CPU-bound per
    # polygon and input files may pack all polygons into one split
    return (features.select("fid", "geometry")
            .repartition(F.col("fid"))
            .mapInPandas(build, schema=COVER_SCHEMA))


def polygon_cell_cover(polygons: list[dict], res: int,
                       edge_chunk: int = 512,
                       with_edges: bool = False) -> pd.DataFrame:
    """Classify grid cells at ``res`` against each polygon.

    Soundness: a cell whose rectangle overlaps NO edge bbox is uniformly
    inside or outside (no boundary crosses it), so a single center-PIP
    classifies it (``full``/drop).  Cells overlapping any edge bbox are
    conservatively ``partial`` — refinement stays correct, just does a
    little more PIP work.

    ``with_edges=True`` additionally attaches to every partial cell the
    data the JVM-side refinement needs (see ``spatial_join``):
    ``rx, ry`` — the cell center (a reference point), ``ref_inside`` —
    the polygon parity at that reference, and ``edges`` — the clipped
    edge list (every polygon edge whose bbox overlaps the cell; a
    conservative superset of the edges that can cross a segment lying
    inside the cell) — plus the cell's SW corner ``lon0, lat0`` so
    consumers (the rasterizer) never decode the cell id in SQL (the
    Morton-decode expression inlined per pixel blows codegen up).

    Returns pandas DataFrame (cell:int64, fid:int64, full:bool
    [, rx, ry, ref_inside, edges]).
    """
    import math

    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    # Accumulate per-polygon numpy chunks and build ONE DataFrame at the
    # end: a pandas frame per polygon (six __setitem__ block inserts
    # each) was ~80% of the build time at 200k polygons (profiled).
    # r6: the Morton encode is ALSO batched — grid coordinates collect
    # per polygon and ONE cell_from_xy runs over the concatenation (the
    # 10-op bit spread per tiny array was ~25% of the kernel); the bbox
    # grid range uses scalar math (same float64 ops as xy_np) and the
    # two per-polygon PIP calls (interior centers, partial centers)
    # fuse into one pointwise call on all centers.
    gx_l: list[np.ndarray] = []
    gy_l: list[np.ndarray] = []
    fids_l: list[np.ndarray] = []
    full_l: list[np.ndarray] = []
    rx_l: list[np.ndarray] = []
    ry_l: list[np.ndarray] = []
    ref_l: list[np.ndarray] = []
    lon0_l: list[np.ndarray] = []
    lat0_l: list[np.ndarray] = []
    edges_all: list[list | None] = []
    for poly in polygons:
        coords, ends, fid = poly["coords"], poly["ends"], poly["fid"]
        x0, y0, x1, y1 = G.polygon_bbox(coords)
        ix0 = min(max(int(math.floor((x0 + 180.0) / 360.0 * n)), 0), n - 1)
        iy0 = min(max(int(math.floor((y0 + 90.0) / 180.0 * n)), 0), n - 1)
        ix1 = min(max(int(math.floor((x1 + 180.0) / 360.0 * n)), 0), n - 1)
        iy1 = min(max(int(math.floor((y1 + 90.0) / 180.0 * n)), 0), n - 1)
        ixs = np.arange(ix0, ix1 + 1)
        iys = np.arange(iy0, iy1 + 1)
        gx = np.tile(ixs, len(iys))
        gy = np.repeat(iys, len(ixs))
        lon0 = -180.0 + gx * w
        lat0 = -90.0 + gy * h

        exmin, eymin, exmax, eymax = G.edge_bboxes(coords, ends)
        partial = np.zeros(gx.shape, dtype=bool)
        hit_cols: list[np.ndarray] = []
        for s in range(0, len(exmin), edge_chunk):
            e = slice(s, s + edge_chunk)
            hit = ((exmin[None, e] < lon0[:, None] + w) &
                   (exmax[None, e] > lon0[:, None]) &
                   (eymin[None, e] < lat0[:, None] + h) &
                   (eymax[None, e] > lat0[:, None]))
            partial |= hit.any(axis=1)
            if with_edges:
                hit_cols.append(hit)

        interior = ~partial
        centers_x = lon0 + w / 2
        centers_y = lat0 + h / 2
        inside_all = G.point_in_polygon_chunked(
            centers_x, centers_y, coords, ends) \
            if len(gx) else np.zeros(0, dtype=bool)
        inside_interior = inside_all[interior]

        keep_full = np.nonzero(interior)[0][inside_interior]
        part_rows = np.nonzero(partial)[0]
        n_full, n_part = len(keep_full), len(part_rows)
        gx_l.append(gx[keep_full])
        gx_l.append(gx[part_rows])
        gy_l.append(gy[keep_full])
        gy_l.append(gy[part_rows])
        fids_l.append(np.full(n_full + n_part, fid, dtype=np.int64))
        full_l.append(np.ones(n_full, dtype=bool))
        full_l.append(np.zeros(n_part, dtype=bool))
        if with_edges:
            # edge segments as [x1, y1, x2, y2] rows
            segs = _edge_segments(coords, ends)
            hits = np.concatenate(hit_cols, axis=1) if hit_cols else \
                np.zeros((len(gx), 0), dtype=bool)
            ref_inside_part = inside_all[part_rows]
            edges_all.extend([None] * n_full)
            edges_all.extend(segs[hits[i]].tolist() for i in part_rows)
            rx_l.append(centers_x[keep_full])
            rx_l.append(centers_x[part_rows])
            ry_l.append(centers_y[keep_full])
            ry_l.append(centers_y[part_rows])
            ref_l.append(np.ones(n_full, dtype=bool))
            ref_l.append(ref_inside_part)
            lon0_l.append(lon0[keep_full])
            lon0_l.append(lon0[part_rows])
            lat0_l.append(lat0[keep_full])
            lat0_l.append(lat0[part_rows])
    if not fids_l:
        cols = {"cell": np.array([], dtype=np.int64),
                "fid": np.array([], dtype=np.int64),
                "full": np.array([], dtype=bool)}
        if with_edges:
            cols.update(rx=np.array([]), ry=np.array([]),
                        ref_inside=np.array([], dtype=bool),
                        edges=pd.Series([], dtype="object"),
                        lon0=np.array([]), lat0=np.array([]))
        return pd.DataFrame(cols)
    out = {"cell": C.cell_from_xy(np.concatenate(gx_l),
                                  np.concatenate(gy_l), res),
           "fid": np.concatenate(fids_l),
           "full": np.concatenate(full_l)}
    if with_edges:
        out.update(rx=np.concatenate(rx_l), ry=np.concatenate(ry_l),
                   ref_inside=np.concatenate(ref_l))
        out["edges"] = pd.Series(edges_all, dtype="object")
        out["lon0"] = np.concatenate(lon0_l)
        out["lat0"] = np.concatenate(lat0_l)
    return pd.DataFrame(out)


def _edge_segments(coords: np.ndarray, ends) -> np.ndarray:
    """All ring edges as an (E, 4) array of [x1, y1, x2, y2]."""
    segs = []
    for x, y in G.rings_of(np.asarray(coords, dtype=np.float64), ends):
        segs.append(np.column_stack([x[:-1], y[:-1], x[1:], y[1:]]))
    return np.concatenate(segs) if segs else np.zeros((0, 4))


def _crossing_filter_sql(lon_col: str, lat_col: str) -> str:
    """JVM point-in-polygon refinement as a single SQL predicate.

    A point is inside iff the reference parity (``ref_inside`` at the
    cell center) flips once per polygon-boundary crossing along the
    segment center→point.  The segment lies inside the cell, so only the
    cell's clipped ``edges`` can cross it; the crossing test is the
    standard double-orientation segment intersection with a half-open
    sign rule (``d > 0`` vs ``d <= 0``), so a polygon vertex lying
    exactly on the center→point segment — common with round-number
    grids — still counts exactly one crossing per true boundary pass.

    Runs via ``aggregate()`` over the broadcast edge array: JVM, no
    Python worker.  NOTE: higher-order functions are interpreted (not
    codegen'd) and allocation-heavy; the hot path uses the unrolled
    variant below.  This form remains for cells whose clipped edge count
    exceeds the unroll width.
    """
    p, q = lon_col, lat_col
    # orient(a,b,c) = (bx-ax)(cy-ay) - (by-ay)(cx-ax); e = [x1,y1,x2,y2]
    d1 = f"((e[2]-e[0])*(ry-e[1]) - (e[3]-e[1])*(rx-e[0]))"
    d2 = f"((e[2]-e[0])*({q}-e[1]) - (e[3]-e[1])*({p}-e[0]))"
    d3 = f"(({p}-rx)*(e[1]-ry) - ({q}-ry)*(e[0]-rx))"
    d4 = f"(({p}-rx)*(e[3]-ry) - ({q}-ry)*(e[2]-rx))"
    crossings = (f"aggregate(edges, 0L, (acc, e) -> acc + "
                 f"IF(({d1} > 0) != ({d2} > 0) AND ({d3} > 0) != ({d4} > 0), 1L, 0L))")
    return f"(ref_inside != (pmod({crossings}, 2) = 1))"


def _crossing_filter_unrolled_sql(lon_col: str, lat_col: str, k: int) -> str:
    """Crossing-parity predicate over ``k`` scalar edge columns
    (e{j}_ax..e{j}_by, NaN-padded) — statically unrolled so the whole
    filter stays inside whole-stage codegen: no array access, no lambda,
    no per-row allocation.  NaN padding contributes zero crossings
    because Spark SQL orders NaN greater than every number, so BOTH
    sides of each ``(d > 0) != (d > 0)`` evaluate TRUE and the
    inequality is false (do NOT rewrite as a mixed AND/NOT form — that
    would count phantom crossings on the NaN rows); the half-open sign
    rule keeps vertex-on-segment degeneracies exact.  This is what lets the
    refinement stage scale linearly with cores (the interpreted
    ``aggregate()`` variant is memory-allocation-bound).
    """
    p, q = lon_col, lat_col
    terms = []
    for j in range(k):
        ax, ay, bx, by = (f"e{j}_ax", f"e{j}_ay", f"e{j}_bx", f"e{j}_by")
        d1 = f"(({bx}-{ax})*(ry-{ay}) - ({by}-{ay})*(rx-{ax}))"
        d2 = f"(({bx}-{ax})*({q}-{ay}) - ({by}-{ay})*({p}-{ax}))"
        d3 = f"(({p}-rx)*({ay}-ry) - ({q}-ry)*({ax}-rx))"
        d4 = f"(({p}-rx)*({by}-ry) - ({q}-ry)*({bx}-rx))"
        terms.append(f"IF(({d1} > 0) != ({d2} > 0) AND ({d3} > 0) != ({d4} > 0), 1L, 0L)")
    return f"(ref_inside != (pmod({' + '.join(terms)}, 2) = 1))"


class PreparedCover:
    """Session-lifetime cover artifact: the three cover DataFrames
    (full / unrolled-narrow / HOF-wide) built once and reused across
    joins — the pandas→Spark conversion and column flattening are paid
    once per session, like building any index.

    ``broadcast`` decides the join strategy downstream: True (cover
    within ``local.BROADCAST_ROWS``) broadcasts all three sides; False
    shuffles both sides on ``cell`` — the right key when the polygon
    corpus is too big to broadcast.
    """

    broadcast: bool = True

    @classmethod
    def from_features(cls, features: DataFrame, res: int) -> "PreparedCover":
        """Build the cover of a ``features`` DataFrame (fid, geometry;
        NULL geometries skipped).

        A polygon side within ``local.COVER_FEATURES`` is collected
        (bounded) and covered on the driver; a bigger one builds
        DISTRIBUTED with no driver collect (VERDICT r1 #3): the cover job
        runs once (cached, and materialized by one grouped count, like an
        index build) and the three sides are projections of the cached
        result.
        """
        cap = local.COVER_FEATURES
        rows = features.select("fid", "geometry").limit(cap + 1).collect()
        if local.within(len(rows), cap):
            return cls(features.sparkSession, polygons_from_features(
                [r for r in rows if r.geometry is not None]), res)
        self = cls.__new__(cls)
        self.res = res
        cover = cell_cover_df(features, res).cache()
        n_edges = F.size("edges")
        side = (F.when(F.col("full"), "full")
                .when(n_edges <= UNROLL_K, "narrow").otherwise("wide")
                .alias("side"))
        n = dict(cover.groupBy(side).count().collect())
        self.broadcast = local.within(sum(n.values()), local.BROADCAST_ROWS)
        self.full = cover.where("full").select("cell", "polygon_fid")
        ecols = []
        for j in range(UNROLL_K):
            e = F.try_element_at("edges", F.lit(j + 1))
            for c, x in enumerate(("ax", "ay", "bx", "by")):
                ecols.append(F.try_element_at(e, F.lit(c + 1))
                             .alias(f"e{j}_{x}"))
        narrow = (cover.where(~F.col("full") & (n_edges <= UNROLL_K))
                  .select("cell", "polygon_fid", "rx", "ry", "ref_inside",
                          *ecols))
        self.narrow = narrow if n.get("narrow") else None
        self.narrow_aux = [c for c in narrow.columns
                           if c not in ("cell", "polygon_fid")]
        wide = (cover.where(~F.col("full") & (n_edges > UNROLL_K))
                .select("cell", "polygon_fid", "rx", "ry", "ref_inside",
                        "edges"))
        self.wide = wide if n.get("wide") else None
        return self

    def __init__(self, spark: SparkSession, polygons: list[dict], res: int):
        # columns are named in pandas: a Project (even a rename) over
        # the ~100-column narrow LocalRelation costs every join against
        # it ~0.8 s of planning (measured at 9,185 rows)
        self.res = res
        cover = polygon_cell_cover(polygons, res, with_edges=True) \
            .rename(columns={"fid": "polygon_fid"})
        self.broadcast = local.within(len(cover), local.BROADCAST_ROWS)
        self.full = spark.createDataFrame(
            cover.loc[cover["full"], ["cell", "polygon_fid"]],
            schema="cell long, polygon_fid long")
        part = cover[~cover["full"]]
        n_edges = part["edges"].map(len)
        narrow = part[n_edges <= UNROLL_K]
        self.narrow = None
        self.narrow_aux: list[str] = []
        if len(narrow):
            flat = _flatten_edges(narrow, UNROLL_K)
            self.narrow = spark.createDataFrame(flat)
            self.narrow_aux = [c for c in flat.columns
                               if c not in ("cell", "polygon_fid")]
        wide = part[n_edges > UNROLL_K]
        self.wide = None
        if len(wide):
            self.wide = spark.createDataFrame(
                wide[["cell", "polygon_fid", "rx", "ry", "ref_inside",
                      "edges"]],
                schema="cell long, polygon_fid long, rx double, ry double, "
                       "ref_inside boolean, edges array<array<double>>")


def spatial_join_prepared(points: DataFrame, prepared: PreparedCover,
                          lon_col: str = "lon", lat_col: str = "lat",
                          keep_cols: list[str] | None = None) -> DataFrame:
    """JVM spatial join against a PreparedCover (see spatial_join).

    Small covers broadcast (no shuffle of the point side at all); covers
    past ``local.BROADCAST_ROWS`` shuffle both sides on ``cell``, the
    correct co-location key for a huge polygon corpus, and hash the
    cover side (hinted, so a low size estimate cannot turn it back into
    a broadcast)."""
    # Three joins, cheapest-first: full cells (no edge payload, no
    # predicate); partial cells with <= UNROLL_K clipped edges (p99 ~11
    # at res 7/8), a statically unrolled codegen crossing predicate; the
    # rare dense cells, the interpreted aggregate() fallback.
    side = F.broadcast if prepared.broadcast else \
        (lambda df: df.hint("shuffle_hash"))
    pts = points.withColumn(
        "cell", F.expr(C.cell_sql(lon_col, lat_col, prepared.res)))
    out = pts.join(side(prepared.full), "cell")
    if prepared.narrow is not None:
        refined = (pts.join(side(prepared.narrow), "cell")
                   .where(F.expr(_crossing_filter_unrolled_sql(
                       lon_col, lat_col, UNROLL_K)))
                   .drop(*prepared.narrow_aux))
        out = out.unionByName(refined)
    if prepared.wide is not None:
        refined_w = (pts.join(side(prepared.wide), "cell")
                     .where(F.expr(_crossing_filter_sql(lon_col, lat_col)))
                     .drop("rx", "ry", "ref_inside", "edges"))
        out = out.unionByName(refined_w)
    if keep_cols is not None:
        out = out.select(*keep_cols)
    return out


def spatial_join(spark: SparkSession, points: DataFrame, polygons: list[dict],
                 res: int, lon_col: str = "lon", lat_col: str = "lat",
                 keep_cols: list[str] | None = None,
                 method: str = "jvm") -> DataFrame:
    """points ⋈ polygons → rows (point cols..., polygon_fid).

    Implements E6: broadcast cell-cover equi-join + E5 PIP refinement on
    partial cells only.  ``method='jvm'`` (default, the scale path) is
    ``spatial_join_prepared`` against a driver-built ``PreparedCover``:
    the refinement is a codegen-able crossing-count predicate over
    clipped edge lists carried by the broadcast cover — the entire join
    is Python-free.  ``method='pandas'`` uses the vectorized numpy
    ray-cast instead (reference semantics twin; both are oracle-tested
    to identical output).
    """
    if method == "jvm":
        return spatial_join_prepared(
            points, PreparedCover(spark, polygons, res), lon_col=lon_col,
            lat_col=lat_col, keep_cols=keep_cols)
    cover_pdf = polygon_cell_cover(polygons, res)
    cover = spark.createDataFrame(
        cover_pdf.rename(columns={"fid": "polygon_fid"}))

    pts = points.withColumn("cell", F.expr(C.cell_sql(lon_col, lat_col, res)))
    joined = pts.join(F.broadcast(cover), "cell")

    full_rows = joined.where(F.col("full")).drop("full")
    partial_rows = joined.where(~F.col("full")).drop("full")

    poly_bc = spark.sparkContext.broadcast(
        {p["fid"]: (p["coords"], np.asarray(p["ends"], dtype=np.int64))
         for p in polygons})
    schema = full_rows.schema

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        polys = poly_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            for fid, grp in pdf.groupby("polygon_fid"):
                coords, ends = polys[int(fid)]
                keep[grp.index.to_numpy()] = G.point_in_polygon_chunked(
                    grp[lon_col].to_numpy(), grp[lat_col].to_numpy(), coords, ends)
            yield pdf[keep]

    refined = partial_rows.mapInPandas(refine, schema=schema)
    out = full_rows.unionByName(refined)
    if keep_cols is not None:
        out = out.select(*keep_cols)
    return out


def spatial_join_bruteforce(points_pdf: pd.DataFrame, polygons: list[dict],
                            lon_col: str = "lon", lat_col: str = "lat") -> pd.DataFrame:
    """Tiny-scale PIP oracle (SURVEY.md §5): every point against every
    polygon, pure numpy — used by tests to validate the cell-cover path."""
    rows = []
    px = points_pdf[lon_col].to_numpy()
    py = points_pdf[lat_col].to_numpy()
    for poly in polygons:
        inside = G.point_in_polygon_chunked(px, py, poly["coords"], poly["ends"])
        sub = points_pdf[inside].copy()
        sub["polygon_fid"] = poly["fid"]
        rows.append(sub)
    if not rows:
        return points_pdf.iloc[0:0].assign(polygon_fid=np.int64(0))
    return pd.concat(rows, ignore_index=True)
