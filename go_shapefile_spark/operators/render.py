"""Heatmap tile rendering — the "tile server" materialization.

Composes three engine layers into the thing a slippy-map backend
actually serves: E2's deterministic geotag produces coordinates, the
KDE heatmap splat (operators/tiles.py) produces an integer intensity
raster as a single-shuffle relational query, and the real PNG codec
(sources/images.py) turns each ``tile_px`` x ``tile_px`` block of that
raster into grayscale PNG tile bytes.

Determinism end to end: intensities are all-integer (bit-stable), the
byte mapping is integer ``min(255, scale*intensity)``, pixel placement
is exact, and ``encode_png`` is filter-0 + fixed zlib level 6 — so the
tile bytes (and their md5) are a pure function of the input ids, which
is what lets the DuckDB oracle pin (tile, md5) literals from a
driver-side run of the SAME twin (gate: q:render_heatmap_tiles).

Scale: the splat is JVM-only up to the final per-tile encode; pixels
shuffle ONCE on the tile key (tile_px^2 rows max per group — bounded
state), and the Python stage is the codec itself (inherent, like every
image-family operator; embarrassingly parallel across tiles).

Tile convention: tile (tx, ty) covers pixels [tx*T, (tx+1)*T) x
[ty*T, (ty+1)*T); image rows run north-up (row 0 = the tile's TOP =
maximum y), like every raster tile server.  Empty tiles are not
emitted; empty pixels inside an emitted tile are 0.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..functions import hashes as H
from . import geotag as GT
from . import local
from .tiles import heatmap_body

RENDER_N_IDS = 10_000      # fixed deterministic corpus (sf-independent)
RENDER_SCALE = 4           # byte value = min(255, RENDER_SCALE*intensity)


def _floordiv(e: str, n: int, dialect: str) -> str:
    # pixel ids are signed: arithmetic floor division in both dialects
    return f"CAST(FLOOR(CAST({e} AS DOUBLE) / {n}) AS BIGINT)"


def render_pts_cte(dialect: str, n_ids: int = RENDER_N_IDS) -> str:
    """Fixed-id point relation via the md5 geotag twin (E2)."""
    ids = ("SELECT id FROM RANGE(0, {n})" if dialect == H.SPARK
           else "SELECT range AS id FROM RANGE(0, {n})").format(n=n_ids)
    return f"""
pts AS (
  SELECT id,
         {GT.lon_sql('id', dialect)} AS lon,
         {GT.lat_sql('id', dialect)} AS lat
  FROM ({ids}) ids)"""


_KERNEL = {(-1, -1): 1, (-1, 0): 2, (-1, 1): 1, (0, -1): 2, (0, 0): 4,
           (0, 1): 2, (1, -1): 1, (1, 0): 2, (1, 1): 1}


def _render_tile_png(tx: int, ty: int, px: np.ndarray, py: np.ndarray,
                     inten: np.ndarray, tile_px: int) -> bytes:
    """One tile's pixels → grayscale PNG bytes (north-up rows)."""
    img = np.zeros((tile_px, tile_px), np.uint8)
    col = px - tx * tile_px
    row = (tile_px - 1) - (py - ty * tile_px)       # north-up
    img[row, col] = np.minimum(255, RENDER_SCALE * inten).astype(np.uint8)
    from ..sources.images import encode_png
    return encode_png(np.repeat(img[:, :, None], 3, axis=2))


def render_tiles_reference(n_ids: int = RENDER_N_IDS, ppd: int = 1,
                           tile_px: int = 64):
    """Driver twin: the full pipeline in numpy/hashlib — used to pin the
    oracle literals and to cross-check Spark byte-for-byte."""
    acc: dict[tuple[int, int], int] = {}
    for i in range(n_ids):
        lon, lat = GT.lonlat_py(i)
        x0, y0 = int(np.floor(lon * ppd)), int(np.floor(lat * ppd))
        for (dx, dy), w in _KERNEL.items():
            k = (x0 + dx, y0 + dy)
            acc[k] = acc.get(k, 0) + w
    tiles: dict[tuple[int, int], list] = {}
    for (x, y), v in acc.items():
        t = (x // tile_px, y // tile_px)
        tiles.setdefault(t, []).append((x, y, v))
    out = []
    for (tx, ty), pix in sorted(tiles.items()):
        px = np.array([p[0] for p in pix])
        py = np.array([p[1] for p in pix])
        iv = np.array([p[2] for p in pix])
        png = _render_tile_png(tx, ty, px, py, iv, tile_px)
        out.append((tx, ty, len(pix), int(iv.sum()),
                    hashlib.md5(png).hexdigest()))
    return out


def render_heatmap_tiles(spark: SparkSession, n_ids: int = RENDER_N_IDS,
                         ppd: int = 1, tile_px: int = 64) -> DataFrame:
    """Distributed render: geotag → splat (JVM) → per-tile PNG encode.

    Returns ``(tx, ty, n_px, sum_intensity, png_md5, png)`` — one row
    per non-empty tile, bytes included (the served payload)."""
    hm = spark.sql(
        "WITH " + render_pts_cte(H.SPARK, n_ids).lstrip().rstrip() + ","
        + heatmap_body(H.SPARK, ppd=ppd))
    tiled = hm.selectExpr(
        "x", "y", "intensity",
        f"{_floordiv('x', tile_px, H.SPARK)} AS tx",
        f"{_floordiv('y', tile_px, H.SPARK)} AS ty")

    def render(key: tuple, table) -> dict:
        tx, ty = key
        inten = table.column("intensity").to_numpy()
        png = _render_tile_png(
            tx, ty, table.column("x").to_numpy(),
            table.column("y").to_numpy(), inten, tile_px)
        return {"tx": [tx], "ty": [ty], "n_px": [table.num_rows],
                "sum_intensity": [int(inten.sum())],
                "png_md5": [hashlib.md5(png).hexdigest()], "png": [png]}

    return local.apply_arrow(
        tiled.groupBy("tx", "ty"), render, "tx long, ty long, n_px long, "
        "sum_intensity long, png_md5 string, png binary")


# --- hillshade tiles (shaded relief of the density surface) ---------------

HILL_AZ = 315.0      # light azimuth (NW, the cartographic standard)
HILL_ALT = 45.0      # light altitude
HILL_ZF = 0.0625     # vertical exaggeration per pixel unit (1/16)


def _hillshade_tile_png(tx: int, ty: int, px: np.ndarray, py: np.ndarray,
                        gx: np.ndarray, gy: np.ndarray,
                        tile_px: int) -> bytes:
    """One tile's Horn gradients → shaded-relief PNG (ESRI hillshade
    formula).  The trig runs in numpy INSIDE this shared helper on both
    the Spark executors and the driver twin, so the bytes are identical
    by construction — the relational plan only ever carries the exact
    integer gradient numerators."""
    img = np.zeros((tile_px, tile_px), np.uint8)
    col = px - tx * tile_px
    row = (tile_px - 1) - (py - ty * tile_px)       # north-up
    dzdx = gx.astype(np.float64) / 8.0 * HILL_ZF
    dzdy = gy.astype(np.float64) / 8.0 * HILL_ZF
    az = np.deg2rad(360.0 - HILL_AZ + 90.0)
    alt = np.deg2rad(HILL_ALT)
    slope = np.arctan(np.hypot(dzdx, dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    shade = (np.sin(alt) * np.cos(slope)
             + np.cos(alt) * np.sin(slope) * np.cos(az - aspect))
    img[row, col] = np.clip(np.round(255.0 * np.maximum(shade, 0.0)),
                            0, 255).astype(np.uint8)
    from ..sources.images import encode_png
    return encode_png(np.repeat(img[:, :, None], 3, axis=2))


_B5 = (1, 4, 6, 4, 1)


def hillshade_reference(n_ids: int = RENDER_N_IDS, ppd: int = 1,
                        tile_px: int = 64):
    """Driver twin of :func:`render_hillshade_tiles`: dense numpy
    pipeline (splat counts → 5×5 binomial blur → Horn gradients →
    shared PNG helper) used to pin the oracle literals."""
    acc: dict[tuple[int, int], int] = {}
    for i in range(n_ids):
        lon, lat = GT.lonlat_py(i)
        k = (int(np.floor(lon * ppd)), int(np.floor(lat * ppd)))
        acc[k] = acc.get(k, 0) + 1
    xs = [k[0] for k in acc]
    ys = [k[1] for k in acc]
    x0, y0 = min(xs) - 2, min(ys) - 2
    w = max(xs) - x0 + 3
    h = max(ys) - y0 + 3
    grid = np.zeros((w, h), np.int64)
    for (x, y), v in acc.items():
        grid[x - x0, y - y0] = v
    blur = np.zeros_like(grid)
    kern = np.outer(_B5, _B5)
    pad = np.zeros((w + 4, h + 4), np.int64)
    pad[2:-2, 2:-2] = grid
    for dx in range(5):
        for dy in range(5):
            blur += kern[dx, dy] * pad[dx:dx + w, dy:dy + h]
    # Horn gradients of the blurred surface, at blur-support pixels
    bp = np.zeros((w + 2, h + 2), np.int64)
    bp[1:-1, 1:-1] = blur
    gxa = ((bp[2:, :-2] + 2 * bp[2:, 1:-1] + bp[2:, 2:])
           - (bp[:-2, :-2] + 2 * bp[:-2, 1:-1] + bp[:-2, 2:]))
    gya = ((bp[:-2, 2:] + 2 * bp[1:-1, 2:] + bp[2:, 2:])
           - (bp[:-2, :-2] + 2 * bp[1:-1, :-2] + bp[2:, :-2]))
    tiles: dict[tuple[int, int], list] = {}
    for ix, iy in zip(*np.nonzero(blur > 0)):
        x, y = int(ix) + x0, int(iy) + y0
        t = (x // tile_px, y // tile_px)
        tiles.setdefault(t, []).append(
            (x, y, int(gxa[ix, iy]), int(gya[ix, iy])))
    out = []
    for (tx, ty), pix in sorted(tiles.items()):
        px = np.array([p[0] for p in pix])
        py = np.array([p[1] for p in pix])
        gx = np.array([p[2] for p in pix])
        gy = np.array([p[3] for p in pix])
        png = _hillshade_tile_png(tx, ty, px, py, gx, gy, tile_px)
        out.append((tx, ty, len(pix), hashlib.md5(png).hexdigest()))
    return out


def render_hillshade_tiles(spark: SparkSession,
                           n_ids: int = RENDER_N_IDS, ppd: int = 1,
                           tile_px: int = 64) -> DataFrame:
    """Distributed shaded relief: geotag → pixel counts → separable
    5×5 blur → Horn gradient splat (ALL JVM, exact integers) → per-tile
    numpy shading + PNG encode.  Returns (tx, ty, n_px, png_md5, png).
    """
    from . import raster as RA

    hm = spark.sql(
        "WITH " + render_pts_cte(H.SPARK, n_ids).lstrip().rstrip() + ","
        + RA.pixel_grid_cte(ppd=ppd) + ","
        + RA.blur5_body("separable", out="rblur") + ","
        + RA.horn_gradient_cte(grid="rblur")
        + "\nSELECT x, y, gx, gy FROM hgrad WHERE ctr = 1")
    tiled = hm.selectExpr(
        "x", "y", "gx", "gy",
        f"{_floordiv('x', tile_px, H.SPARK)} AS tx",
        f"{_floordiv('y', tile_px, H.SPARK)} AS ty")

    def render(key: tuple, table) -> dict:
        tx, ty = key
        png = _hillshade_tile_png(
            tx, ty, table.column("x").to_numpy(),
            table.column("y").to_numpy(), table.column("gx").to_numpy(),
            table.column("gy").to_numpy(), tile_px)
        return {"tx": [tx], "ty": [ty], "n_px": [table.num_rows],
                "png_md5": [hashlib.md5(png).hexdigest()], "png": [png]}

    return local.apply_arrow(
        tiled.groupBy("tx", "ty"), render,
        "tx long, ty long, n_px long, png_md5 string, png binary")
