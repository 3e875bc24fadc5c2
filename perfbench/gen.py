"""Seeded benchmark inputs and their expected outputs.

Everything a workload reads is generated here from ``--seed`` into the
benchmark's own data directory: the countries and parcels shapefile
bundles (written with ``sources/shapefile_writer.py``) and the
``(idx, phash)`` points table.  The registry queries read the
``events`` table of the sf0.01 test data, of which
``testdata/sf0.01/events.parquet`` is a byte copy; it is copied next to
the generated files so its digest is recorded with theirs.  The
expected outputs are computed here too, once, with code that shares
nothing with the engine's cover, crossing or clip kernels:

* join counts: an even-odd ray cast per polygon (bbox prefilter, then
  only the edges whose y-span covers a point are tested);
* vector-tile areas: the shoelace area of each parcel;
* registry queries: a digest of each query's DuckDB ``oracle_sql()`` twin.

The point side is geotagged in Spark with ``with_lonlat_jvm``
(``xxhash64``); :func:`spark_xxhash64` reproduces Spark's hash so the
expected joins are computed without Spark.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes.  The point side is what the run-time budget holds; fixed
# per-job costs dominate an iteration (see README.md, "Sizing").
COUNTRIES = 180
COUNTRY_POINTS = 1_000_000
PARCELS = 50_000
POINT_FILES = 8
JOIN_RES = 8          # countries_join cover resolution
TILE_RES = 7          # countries_join tile_counts resolution
PARCEL_TILE_RES = 9   # tiles_registry vector_tiles resolution
EVENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "testdata", "sf0.01", "events.parquet")

SIZES = {"countries": COUNTRIES, "country_points": COUNTRY_POINTS,
         "parcels": PARCELS}

WGS84_PRJ = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
             'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
             'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')

# ---------------------------------------------------------------- hashing

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def spark_xxhash64(values: np.ndarray, int_arg: int) -> np.ndarray:
    """Spark's ``xxhash64(<long column>, <int literal>)`` (seed 42)."""
    with np.errstate(over="ignore"):
        v = np.asarray(values, dtype=np.int64).view(np.uint64)
        h = np.full(v.shape, 42, dtype=np.uint64) + _P5 + np.uint64(8)
        h = h ^ (_rotl(v * _P2, 31) * _P1)
        h = _fmix(_rotl(h, 27) * _P1 + _P4)
        h = h + _P5 + np.uint64(4)
        h = h ^ (np.uint64(int_arg & 0xFFFFFFFF) * _P1)
        h = _fmix(_rotl(h, 23) * _P2 + _P3)
    return h.view(np.int64)


def lonlat_of(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of ``operators.geotag.with_lonlat_jvm``."""
    lon = np.mod(spark_xxhash64(phash, 1), 3600000).astype(np.float64) \
        / 10000.0 - 180.0
    lat = np.mod(spark_xxhash64(phash, 2), 1800000).astype(np.float64) \
        / 10000.0 - 90.0
    return lon, lat


def _spread(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64)
    for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                        (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                        (1, 0x5555555555555555)):
        x = (x | (x << shift)) & mask
    return x


def cell_of(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Morton cell id at ``res`` (the documented layout of
    ``functions/cells.py``: resolution in bits 52..56, then the x/y
    bit interleave)."""
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return (np.int64(res) << 52) | _spread(ix) | (_spread(iy) << 1)


# ------------------------------------------------------ point-in-polygon

def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + c)`` for every (s, c)."""
    counts = counts.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, np.int64)
    offs = np.repeat(np.cumsum(counts) - counts, counts)
    return np.repeat(starts.astype(np.int64), counts) + np.arange(total) - offs


def _ring_edges(coords: np.ndarray, ends) -> np.ndarray:
    """All closed-ring edges of one polygon as an (E, 4) array."""
    out, start = [], 0
    for end in ends:
        x, y = coords[start:end:2], coords[start + 1:end:2]
        out.append(np.column_stack([x[:-1], y[:-1], x[1:], y[1:]]))
        start = end
    return np.concatenate(out)


def contains(coords: np.ndarray, ends, px: np.ndarray,
             py: np.ndarray) -> np.ndarray:
    """Even-odd ray cast (+x ray) of points against one polygon.

    Points are sorted by y once; an edge can only cross the ray of the
    points whose y lies in its half-open y-span, so only those pairs are
    tested."""
    inside = np.zeros(len(px), dtype=bool)
    if not len(px):
        return inside
    e = _ring_edges(coords, ends)
    order = np.argsort(py, kind="stable")
    ys = py[order]
    lo = np.searchsorted(ys, np.minimum(e[:, 1], e[:, 3]), "left")
    hi = np.searchsorted(ys, np.maximum(e[:, 1], e[:, 3]), "left")
    cnt = hi - lo
    edge = np.repeat(np.arange(len(e)), cnt)
    pts = order[_ranges(lo, cnt)]
    x1, y1, x2, y2 = (e[edge, k] for k in range(4))
    xi = x1 + (py[pts] - y1) * (x2 - x1) / (y2 - y1)
    hit = px[pts] < xi
    parity = np.bincount(pts[hit], minlength=len(px)) & 1
    inside[:] = parity.astype(bool)
    return inside


def polygon_counts(polys: list[dict], lon: np.ndarray,
                   lat: np.ndarray) -> np.ndarray:
    """Points inside each polygon (bbox prefilter on lon-sorted points)."""
    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    counts = np.zeros(len(polys), dtype=np.int64)
    for i, p in enumerate(polys):
        c = p["coords"]
        x0, x1 = c[0::2].min(), c[0::2].max()
        y0, y1 = c[1::2].min(), c[1::2].max()
        a = np.searchsorted(slon, x0, "left")
        b = np.searchsorted(slon, x1, "right")
        sel = (slat[a:b] >= y0) & (slat[a:b] <= y1)
        counts[i] = int(contains(c, p["ends"], slon[a:b][sel],
                                 slat[a:b][sel]).sum())
    return counts


def shoelace_area(polys: list[dict]) -> np.ndarray:
    """Net area per polygon with the shapefile winding convention
    (outer rings clockwise count positive, holes negative)."""
    lens = np.array([len(p["coords"]) // 2 for p in polys])
    xy = np.concatenate([p["coords"] for p in polys]).reshape(-1, 2)
    poly = np.repeat(np.arange(len(polys)), lens)
    # about each polygon's first vertex: absolute coordinates near 180
    # degrees would cancel away the digits of a small parcel's area
    first = np.cumsum(lens) - lens
    x, y = (xy - xy[first][poly]).T
    # an edge runs from each vertex to the next, except from the closing
    # vertex of a ring
    ring_ends = np.concatenate([f + np.asarray(p["ends"]) // 2 - 1
                                for f, p in zip(first, polys)])
    start = np.ones(len(x), dtype=bool)
    start[ring_ends] = False
    k = np.flatnonzero(start)
    cross = x[k] * y[k + 1] - x[k + 1] * y[k]
    return -np.bincount(poly[k], weights=cross, minlength=len(polys)) / 2.0


# ---------------------------------------------------------- geometries

def _star(rng, cx, cy, rx, ry, n, lo, hi, clockwise) -> np.ndarray:
    """Closed star-shaped ring with smooth radial noise in [lo, hi]."""
    theta = 2 * np.pi * np.arange(n) / n
    k = np.arange(1, 7)
    amp = rng.uniform(0.2, 1.0, 6) / k
    phase = rng.uniform(0, 2 * np.pi, 6)
    noise = (amp[:, None] * np.sin(k[:, None] * theta + phase[:, None])).sum(0)
    noise += rng.uniform(-0.05, 0.05, n)
    r = lo + (hi - lo) * (noise - noise.min()) / (noise.max() - noise.min())
    x, y = cx + rx * r * np.cos(theta), cy + ry * r * np.sin(theta)
    if clockwise:
        x, y = x[::-1], y[::-1]
    ring = np.empty(2 * (n + 1))
    ring[0:-2:2], ring[1:-2:2] = x, y
    ring[-2:] = ring[:2]
    return ring


def _polygon(rings: list[np.ndarray]) -> dict:
    return {"coords": np.concatenate(rings),
            "ends": list(np.cumsum([len(r) for r in rings]))}


def countries(rng) -> list[dict]:
    """180 country-like polygons on an 18 x 10 grid of 20 x 18 degree
    cells: ~400-vertex rings, a hole in every 5th, an island part in
    every 7th, and two rings pressed against -180 and +180."""
    polys = []
    for i in range(COUNTRIES):
        r, c = divmod(i, 18)
        gx, gy = -170.0 + 20.0 * c, -81.0 + 18.0 * r
        cx, cy = gx + rng.uniform(-1, 1), gy + rng.uniform(-1, 1)
        rings = [_star(rng, cx, cy, 5.5, 5.0, int(rng.integers(360, 441)),
                       0.6, 1.3, clockwise=True)]
        if (c == 0 or c == 17) and r == 4:
            edge = -179.99999 if c == 0 else 179.99999
            cx = gx + (-4.0 if c == 0 else 4.0)
            ring = _star(rng, cx, cy, 5.5, 5.0, 400, 0.6, 1.3, True)
            ring[0::2] = (np.maximum if c == 0 else np.minimum)(ring[0::2], edge)
            rings = [ring]
        if i % 5 == 0:
            rings.append(_star(rng, cx, cy, 5.5, 5.0,
                               int(rng.integers(80, 121)), 0.2, 0.4,
                               clockwise=False))
        if i % 7 == 3:
            sx, sy = rng.choice([-1.0, 1.0], 2)
            rings.append(_star(rng, gx + 8.9 * sx, gy + 8.0 * sy, 0.8, 0.7,
                               60, 0.6, 1.0, clockwise=True))
        polys.append(_polygon(rings))
    return polys


def parcels(rng, n: int) -> list[dict]:
    """``n`` small 4-8-vertex star-shaped parcels spread over the globe
    (half-widths 0.02-0.12 degrees)."""
    cx = rng.uniform(-179.5, 179.5, n)
    cy = rng.uniform(-84.0, 84.0, n)
    hw = rng.uniform(0.02, 0.12, n)
    hh = hw * rng.uniform(0.5, 1.0, n)
    nv = rng.integers(4, 9, n)
    # every parcel draws 8 angle jitters and radii and uses its first nv
    j = np.arange(8)
    theta = 2 * np.pi * (j + rng.uniform(-0.3, 0.3, (n, 8))) / nv[:, None]
    r = rng.uniform(0.6, 1.0, (n, 8))
    xs = cx[:, None] + hw[:, None] * r * np.cos(theta)
    ys = cy[:, None] + hh[:, None] * r * np.sin(theta)
    polys = []
    for i in range(n):
        k = int(nv[i])
        ring = np.empty(2 * (k + 1))
        ring[0:-2:2], ring[1:-2:2] = xs[i, k - 1::-1], ys[i, k - 1::-1]
        ring[-2:] = ring[:2]
        polys.append({"coords": ring, "ends": [len(ring)]})
    return polys


# ---------------------------------------------------------------- writing

def _write_bundle(base: str, polys: list[dict], fields, rows) -> None:
    from go_shapefile_spark.sources.shapefile_writer import write_polygons
    write_polygons(base, polys, fields, rows)
    with open(base + ".prj", "w") as f:
        f.write(WGS84_PRJ)
    with open(base + ".cpg", "w") as f:
        f.write("UTF-8")


def _write_points(path: str, rng, n: int) -> np.ndarray:
    os.makedirs(path)
    phash = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                         size=n, dtype=np.int64)
    for j, part in enumerate(np.array_split(np.arange(n), POINT_FILES)):
        pq.write_table(pa.table({"idx": part, "phash": phash[part]}),
                       os.path.join(path, f"part-{j:05d}.parquet"))
    return phash


# -------------------------------------------------------------- digests

def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return str(int(f)) if f.is_integer() and abs(f) < 2 ** 53 else repr(f)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: columns by name, rows
    sorted, every value in one canonical text form (an integral float
    reads like the integer, as the oracle comparison treats them)."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_canon(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return h.hexdigest()


def file_digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name == "manifest.json":
                continue
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = \
                    hashlib.sha256(f.read()).hexdigest()
    return dict(sorted(out.items()))


# ------------------------------------------------------------ workloads

# registry queries on the pinning, graph and clustering modules: a pinned
# relation with a bounded driver-local finish (triangle_counts) and a
# grid runner (distance_transform)
REGISTRY_QUERIES = ["triangle_counts", "distance_transform"]


def _gen_countries(d: str, rng) -> dict:
    polys = countries(rng)
    rows = [[f"Country {i:03d}", f"{i:03d}", int(rng.integers(1e4, 1e9))]
            for i in range(len(polys))]
    _write_bundle(os.path.join(d, "countries"), polys,
                  [("NAME", "C", 24), ("ISO", "C", 3), ("POP", "N", 10)], rows)
    phash = _write_points(os.path.join(d, "points"), rng, COUNTRY_POINTS)
    lon, lat = lonlat_of(phash)
    cells, n = np.unique(cell_of(lon, lat, TILE_RES), return_counts=True)
    return {"names": [r[0] for r in rows],
            "name_counts": polygon_counts(polys, lon, lat).tolist(),
            "tile_cells": cells.tolist(), "tile_counts": n.tolist()}


def registry_digests(root: str) -> dict:
    """Row count and digest of each registry query's DuckDB oracle over
    the sf0.01 ``events`` table.  They do not depend on the seed, so they
    are computed once and kept in ``root``, keyed by the table's digest."""
    with open(EVENTS, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()
    path = os.path.join(root, "registry-oracles.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if cached.get("events") == key and \
                sorted(cached["queries"]) == sorted(REGISTRY_QUERIES):
            return cached["queries"]
    import duckdb

    from go_shapefile_spark.queries import build_registry
    oracles = build_registry()[1]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{EVENTS}'")
        digests = {}
        for q in REGISTRY_QUERIES:
            res = con.execute(oracles[q]).df()
            digests[q] = {"rows": len(res), "digest": frame_digest(res)}
    finally:
        con.close()
    with open(path, "w") as f:
        json.dump({"events": key, "queries": digests}, f)
    return digests


def _gen_tiles_registry(d: str, rng) -> dict:
    polys = parcels(rng, PARCELS)
    zone = rng.integers(0, 100, PARCELS)
    value = np.round(rng.uniform(0, 1e6, PARCELS), 2)
    _write_bundle(os.path.join(d, "parcels"), polys,
                  [("NAME", "C", 10), ("ZONE", "N", 4), ("VALUE", "N", 12, 2)],
                  [[f"P{i:07d}", int(zone[i]), float(value[i])]
                   for i in range(PARCELS)])
    shutil.copyfile(EVENTS, os.path.join(d, "events.parquet"))
    return {"area": shoelace_area(polys).tolist(),
            "queries": registry_digests(os.path.dirname(d))}


GENERATORS = {"countries_join": _gen_countries,
              "tiles_registry": _gen_tiles_registry}


def ensure_inputs(root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed`` under
    ``root``; returns (directory, manifest).  A directory is reused only
    when every file still has the digest its manifest recorded."""
    d = os.path.join(root, f"{workload}-seed{seed}")
    mpath = os.path.join(d, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if (manifest.get("sizes") == SIZES
                and manifest.get("files") == file_digests(d)):
            return d, manifest
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    # one stream per (workload, seed): workloads never share draws
    key = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    rng = np.random.default_rng([seed, key])
    expected = GENERATORS[workload](d, rng)
    manifest = {"workload": workload, "seed": seed, "sizes": SIZES,
                "expected": expected, "files": file_digests(d)}
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    return d, manifest
