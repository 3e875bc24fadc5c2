"""Shapefile batch source for Spark: component files → ``features`` DataFrame.

Spark-first restatement of the reference's two read paths
(reference shapefile.go:86-205 eager, scanner.go:297-525 streaming):

* The driver does a tiny header pre-pass (SHX index + DBF field
  descriptors + CPG/PRJ, all ≤ a few KB of reads) — the analog of
  ``NewScanner``'s header parse (scanner.go:332-375).
* The SHX index gives every record's byte range, so the planner assigns
  contiguous record ranges to tasks which seek directly into .shp/.dbf —
  the distributed analog of ``Scanner.Discard`` (scanner.go:458-525:
  random access into SHP is only possible through SHX).  A .shp without
  .shx is not splittable and gets a single sequential task, mirroring
  scanner.go:511-513.
* Executors parse their byte ranges with the vectorized parsers in
  ``shapefile_core`` inside ``mapInArrow`` — records flow through Arrow
  batches, never fully materialized per executor.
* Zip bundles (.zip/.shz/.exe) are not splittable → one task ingests and
  re-emits as ``features`` rows (fine for the polygon side; the large
  side of every join in this engine is parquet/Iceberg and splittable).
* A one-split file that range-reads and is within ``local.SCAN_BYTES``
  decodes on the driver through the same per-split reader and becomes
  a LocalRelation (``read_shapefile_df``): a Python task's fixed start
  dwarfs such a decode.  A bigger one spreads over the free slots, one
  split per ``local.SCAN_BYTES`` (``split_bounds``).

This module is the one scan core: the split rule (``split_bounds``),
the pushed-filter evaluators, the per-split reader (``read_split``) and
the per-file reader of directory scans (``read_file``).  The function
front doors below and ``format("shapefile")`` (``datasource.py``) are
thin callers of them.

``read_split`` is the one split emitter, columnar end to end: the DBF
columns decode once into Arrow arrays, where pushed attribute filters
evaluate; the kept records' geometry comes from exactly one decoder
(the point kernel, the XY polygon/polyline kernel, or the core parser
for anything a kernel declines); and one function,
``_geometry_columns``, turns that decoder's flat arrays (ordinates,
per-record counts, part ends, rings, layout, bounds) into the
``shape_type``/``geometry``/``bbox`` columns or the flat ``x``/``y``
columns.  No pandas frame is built, so a NaN ordinate
reads back NaN whichever decoder ran (the reference keeps ordinates as
flat ``[]float64``).

The 3-way positional zip of SHP⋈SHX⋈DBF (scanner.go:400-451) happens
inside each task by batch index; the record-count consistency check
(shapefile.go:192-196) is enforced at plan time from SHX/DBF header
counts and re-checked per split.
"""

from __future__ import annotations

import math
import operator
import posixpath
from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull,
    LessThan, LessThanOrEqual,
)
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators import local
from . import fsio
from . import shapefile_core as core

GEOMETRY_TYPE = T.StructType([
    T.StructField("layout", T.StringType()),
    T.StructField("coords", T.ArrayType(T.DoubleType())),
    T.StructField("ends", T.ArrayType(T.IntegerType())),
    T.StructField("rings", T.ArrayType(T.IntegerType())),
])
BBOX_TYPE = T.StructType([
    T.StructField("xmin", T.DoubleType()), T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()), T.StructField("ymax", T.DoubleType()),
    T.StructField("zmin", T.DoubleType()), T.StructField("zmax", T.DoubleType()),
    T.StructField("mmin", T.DoubleType()), T.StructField("mmax", T.DoubleType()),
])


def _dbf_spark_type(f: core.DBFField, decimal_count: int) -> T.DataType:
    """Column-level type decision for DBF fields (SURVEY.md §1.3).

    The reference types N fields per *value* ('.' → float64 else int,
    dbf.go:365-382); Spark columns are monotyped, so we decide from the
    field descriptor's decimal count — matching the golden fixtures'
    mixed long/double rows (shapefile_test.go:242-254).
    """
    return {
        "C": T.StringType(), "M": T.StringType(), "D": T.DateType(),
        "L": T.BooleanType(), "F": T.DoubleType(),
    }.get(f.type) or (T.DoubleType() if decimal_count > 0 else T.LongType())


@dataclass
class ShapefilePlan:
    """Driver-side plan: everything a task needs to parse its split.

    ``path`` may be a bare local path or any pyarrow-fs URI
    (file://, s3://, hdfs://, gs://) — tasks re-resolve it via
    :mod:`fsio`, so the plan pickles as plain strings/arrays.
    ``has_shp``/``has_dbf`` are captured at plan time so tasks never
    issue existence probes (an extra HEAD per task on object stores).
    """
    path: str                    # file path or URI (basename or zip)
    is_zip: bool
    basename: str | None
    n_records: int
    shape_type: int
    header_bounds: tuple | None
    crs_wkt: str | None
    charset: str | None
    dbf_fields: list[tuple[str, str, int, int]]   # (name, type, length, decimals)
    dbf_header_size: int
    dbf_record_size: int
    shx_offsets: np.ndarray | None
    shx_lengths: np.ndarray | None
    shp_options: dict | None
    dbf_options: dict | None
    has_shp: bool = False
    has_dbf: bool = False


def plan_shapefile(path: str, options: dict | None = None,
                   basename: str | None = None) -> ShapefilePlan:
    """Header pre-pass on the driver. Reads only headers + the SHX index.

    Each component is optional, but finding none (a missing path, or a
    zip ``basename`` matching no member) raises ShapefileError."""
    options = options or {}
    is_zip = path.lower().endswith((".zip", ".shz", ".exe"))
    if is_zip:
        members = _zip_members(path, basename)

        def read_head(ext: str, nbytes: int | None = None) -> bytes | None:
            got = members.get(ext)
            return None if got is None else got[1][:nbytes]

        def size(ext: str) -> int:
            return len(members[ext][1])
    else:
        def read_head(ext: str, nbytes: int | None = None) -> bytes | None:
            p = f"{path}.{ext}"
            return fsio.read_bytes(p, 0, nbytes) if fsio.exists(p) else None

        def size(ext: str) -> int:
            return fsio.getsize(f"{path}.{ext}")

    cpg, prj = read_head("cpg"), read_head("prj")
    charset = None if cpg is None else core.parse_cpg(cpg)
    crs = None if prj is None else core.parse_prj(prj)
    shape_type, header_bounds = 0, None
    shx_offsets = shx_lengths = n_shx = n_dbf = None
    shx_bytes = read_head("shx")
    if shx_bytes is not None:
        shx = core.parse_shx(shx_bytes)
        shx_offsets, shx_lengths = shx.offsets, shx.content_lengths
        n_shx = len(shx.offsets)
        shape_type, header_bounds = shx.header.shape_type, shx.header.bounds
    dbf_fields: list[tuple[str, str, int, int]] = []
    dbf_header_size = dbf_record_size = 0
    dbf_head = read_head("dbf", 65536)
    if dbf_head is not None:
        hdr, fields, pos = core.parse_dbf_fields(dbf_head)
        dbf_fields = _fields_with_decimals(dbf_head, fields)
        dbf_header_size, dbf_record_size, n_dbf = pos, hdr.record_size, hdr.records
    shp_head = read_head("shp", 100)
    if shp_head is not None:
        h = core.parse_shx_header(shp_head, size("shp"))
        shape_type, header_bounds = h.shape_type, h.bounds
    has_shp, has_dbf = shp_head is not None, dbf_head is not None

    if not (has_shp or has_dbf or shx_offsets is not None):
        where = path if basename is None else f"{path} [{basename}]"
        raise core.ShapefileError(f"no .shp, .shx or .dbf found: {where}")
    # Record-count consistency (shapefile.go:192-196); SHP count only known
    # after parse when no SHX, re-checked per split then.
    counts = {c for c in (n_dbf, n_shx) if c is not None}
    if len(counts) > 1:
        raise core.ShapefileError("inconsistent number of records")
    n_records = counts.pop() if counts else -1

    if charset is None:
        charset = (options.get("dbf") or {}).get("charset")

    return ShapefilePlan(
        path=path, is_zip=is_zip, basename=basename, n_records=n_records,
        shape_type=shape_type, header_bounds=header_bounds, crs_wkt=crs,
        charset=charset, dbf_fields=dbf_fields,
        dbf_header_size=dbf_header_size, dbf_record_size=dbf_record_size,
        shx_offsets=shx_offsets, shx_lengths=shx_lengths,
        shp_options=options.get("shp"), dbf_options=options.get("dbf"),
        has_shp=has_shp, has_dbf=has_dbf)


def _zip_members(path: str, basename: str | None) -> dict:
    """The bundle's components by extension, restricted to ``basename``'s
    members when one is given."""
    members = core.zip_members(fsio.open_seekable(path))
    if basename is None:
        return members
    return {ext: (n, d) for ext, (n, d) in members.items()
            if n.rsplit("/", 1)[-1].rsplit(".", 1)[0] == basename}


def _fields_with_decimals(raw: bytes, fields: list[core.DBFField]) -> list[tuple[str, str, int, int]]:
    """Re-read descriptor byte 17 (decimal count) for column typing; the
    reference ignores it at parse time but real DBF files set it."""
    out = []
    pos = core.DBF_HEADER_LENGTH
    for f in fields:
        decimals = raw[pos + 17]
        out.append((f.name, f.type, f.length, decimals))
        pos += 32
    return out


def _attr_fields(plan: ShapefilePlan) -> list[T.StructField]:
    """fid, deleted and the DBF columns: the head of every scan schema."""
    return [T.StructField("fid", T.LongType(), False),
            T.StructField("deleted", T.BooleanType(), False)] + [
        T.StructField(name, _dbf_spark_type(
            core.DBFField(name, ftype, length, 0, 0), decimals))
        for name, ftype, length, decimals in plan.dbf_fields]


_GEOMETRY_FIELDS = [
    T.StructField("shape_type", T.IntegerType()),
    T.StructField("geometry", GEOMETRY_TYPE),
    T.StructField("bbox", BBOX_TYPE),
]
_GEOMETRY_ARROW = to_arrow_schema(T.StructType(_GEOMETRY_FIELDS))


def features_schema(plan: ShapefilePlan) -> T.StructType:
    return T.StructType(_attr_fields(plan) + _GEOMETRY_FIELDS)


def _ord_names(shape_type: int) -> list[str]:
    stride = core.STRIDES[core._LAYOUT_BY_TYPE[shape_type]]
    return {2: ["x", "y"], 3: ["x", "y", "m"],
            4: ["x", "y", "z", "m"]}[stride]


def record_bounds_quick(buf: bytes, rel: np.ndarray) -> np.ndarray:
    """Per-record (xmin, ymin, xmax, ymax) straight from the record
    headers — NO geometry decode (the reference reads the same leading
    bbox fields, shp.go:176-190).  Point records synthesize a degenerate
    bbox from their x/y; Null shapes (and records too short to carry a
    bbox) yield NaN rows, which fail every pushed comparison — matching
    SQL NULL semantics for a NULL bbox.

    One fancy-index gather over the split buffer; used by the bbox
    filter pushdown to select records BEFORE any decode.
    """
    a = np.frombuffer(buf, dtype=np.uint8)
    rel = np.asarray(rel, dtype=np.int64)
    n = len(rel)
    out = np.full((n, 4), np.nan)
    if not n:
        return out
    ok_type = rel + 12 <= len(a)
    st = np.zeros(n, dtype=np.int64)
    if ok_type.any():
        st_idx = rel[ok_type, None] + 8 + np.arange(4)[None, :]
        st[ok_type] = a[st_idx].view("<u4").ravel()
    is_point = np.isin(st, (core.SHAPE_TYPE_POINT, core.SHAPE_TYPE_POINT_M,
                            core.SHAPE_TYPE_POINT_Z))
    has_bbox = (st != core.SHAPE_TYPE_NULL) & ~is_point & (rel + 44 <= len(a))
    if has_bbox.any():
        idx = rel[has_bbox, None] + 12 + np.arange(32)[None, :]
        out[has_bbox] = a[idx].view("<f8").reshape(-1, 4)
    pt = is_point & (rel + 28 <= len(a))
    if pt.any():
        idx = rel[pt, None] + 12 + np.arange(16)[None, :]
        xy = a[idx].view("<f8").reshape(-1, 2)
        out[pt, 0] = out[pt, 2] = xy[:, 0]
        out[pt, 1] = out[pt, 3] = xy[:, 1]
    return out


def _parse_points_vectorized(buf: bytes, rel_offsets: np.ndarray,
                             shape_type: int, fid_start: int,
                             fid_end: int) -> np.ndarray | None:
    """Bulk decode for fixed-width Point records — no per-record Python.

    Point/PointM/PointZ records are all (8B BE header, 4B LE type,
    stride·8B LE ordinates); when the SHX spacing confirms that shape,
    one structured ``np.frombuffer`` decodes the whole split (the path
    that matters for billions-of-points corpora).  Falls back (returns
    None) on any irregularity, preserving the reference's full
    per-record validation semantics in the slow path.
    """
    stride = {core.SHAPE_TYPE_POINT: 2, core.SHAPE_TYPE_POINT_M: 3,
              core.SHAPE_TYPE_POINT_Z: 4}.get(shape_type)
    if stride is None:
        return None
    rec_size = 8 + 4 + 8 * stride
    n = fid_end - fid_start
    if len(buf) != n * rec_size:
        return None
    expected = np.arange(0, n * rec_size, rec_size, dtype=np.int64)
    if not np.array_equal(rel_offsets, expected):
        return None
    dtype = np.dtype([("num", ">u4"), ("half", ">u4"), ("shape", "<u4"),
                      ("ords", "<f8", (stride,))])
    arr = np.frombuffer(buf, dtype=dtype)
    if not np.array_equal(arr["num"],
                          np.arange(fid_start, fid_end, dtype=np.uint32)):
        return None  # slow path reproduces the reference's error text
    if not (arr["shape"] == shape_type).all() or \
            not (arr["half"] == (rec_size - 8) // 2).all():
        return None
    return arr["ords"]


def _read_split_dbf(plan: ShapefilePlan, fid_start: int, n: int,
                    member: bytes | None = None):
    """Decode this split's DBF records into native columns: one range
    read of the ``.dbf``, or a slice of a zip bundle's whole ``member``."""
    fields = [core.DBFField(n_, t, l, 0, 0) for n_, t, l, d in plan.dbf_fields]
    decimals = [d for n_, t, l, d in plan.dbf_fields]
    hdr = core.DBFHeader(3, None, plan.n_records, 0, plan.dbf_record_size)  # type: ignore[arg-type]
    if member is None:
        start = plan.dbf_header_size + (fid_start - 1) * plan.dbf_record_size
        buf, pos, first = fsio.read_bytes(
            f"{plan.path}.dbf", start, n * plan.dbf_record_size), 0, 0
    else:
        buf, pos, first = member, plan.dbf_header_size, fid_start - 1
    return core.parse_dbf_native_columns(
        buf, hdr, fields, pos, decimals, charset=plan.charset,
        skip_broken_fields=(plan.dbf_options or {}).get(
            "skip_broken_fields", False),
        first_record=first, num_records=n)


def _read_split_shp(plan: ShapefilePlan, fid_start: int,
                    fid_end: int) -> tuple[bytes, np.ndarray]:
    """One range-read of this split's .shp byte span → (buffer, relative
    record offsets); no bytes when the split is empty."""
    offs = plan.shx_offsets[fid_start - 1:fid_end - 1]
    lens = plan.shx_lengths[fid_start - 1:fid_end - 1]
    if not len(offs):
        return b"", offs
    start = int(offs[0])
    end = int(offs[-1]) + 8 + int(lens[-1])
    return fsio.read_bytes(f"{plan.path}.shp", start, end - start), offs - start


def _attr_arrays(plan: ShapefilePlan, fid_start: int, n: int,
                 member: bytes | None, schema) -> dict[str, Any] | None:
    """The split's ``deleted`` flag and DBF columns as Arrow arrays,
    decoded once from its ``n`` DBF records (a blank numeric is NULL);
    None when the file has no DBF."""
    if not plan.has_dbf:
        return None
    dbf_cols, deleted = _read_split_dbf(plan, fid_start, n, member)
    if len(deleted) != n:
        raise core.ShapefileError("inconsistent number of records")
    arrays = {"deleted": pa.array(deleted)}
    for (name, *_), (kind, vals, mask) in zip(plan.dbf_fields, dbf_cols):
        if kind == "int":
            arrays[name] = pa.array(vals, mask=mask)
        elif kind == "float":
            arrays[name] = pa.array(vals, mask=np.isnan(vals))
        else:
            arrays[name] = pa.array(vals.tolist(),
                                    type=schema.field(name).type)
    return arrays


# a layout's record bounds (mins..., maxs...) → their BBOX_TYPE positions
_BOUNDS_AT = {"XY": [0, 1, 2, 3], "XYM": [0, 1, 6, 2, 3, 7],
              "XYZM": [0, 1, 4, 6, 2, 3, 5, 7]}


@dataclass
class _Geometry:
    """A split's decoded geometry as flat arrays, whichever decoder made
    it: the one input of :func:`_geometry_columns`."""
    shape_type: np.ndarray    # per record
    layout: list              # per record; None for a Null shape
    coords: np.ndarray        # every record's ordinates, concatenated
    n_coords: np.ndarray      # ordinates per record
    ends: np.ndarray          # part ends, record-relative
    n_ends: np.ndarray        # parts per record
    rings: np.ndarray         # rings per polygon
    n_rings: np.ndarray       # polygons per record
    bbox: list                # BBOX_TYPE's children: (values, NULL mask
                              # or None), or None when all NULL


def _kernel_geometry(shape_type: int, bounds: list[np.ndarray], coords,
                     n_coords, ends, n_ends, rings, n_rings) -> _Geometry:
    """A kernel's output: every record of ``shape_type``, with record
    ``bounds`` as columns (mins..., maxs...)."""
    n = len(n_coords)
    layout = core._LAYOUT_BY_TYPE[shape_type]
    bbox: list = [None] * 8
    for at, col in zip(_BOUNDS_AT[layout], bounds):
        bbox[at] = (col, None)
    return _Geometry(np.full(n, shape_type, np.int32), [layout] * n, coords,
                     n_coords, ends, n_ends, rings, n_rings, bbox)


def _records_geometry(records: list[core.SHPRecord]) -> _Geometry:
    """Core-parser records, flattened (NaN stays NaN).  A point's bbox is
    its ordinates twice; a Null shape has no ordinates, parts or
    bounds."""
    n = len(records)
    box, has = np.zeros((n, 8)), np.zeros((n, 8), dtype=bool)
    for i, r in enumerate(records):
        if r.layout is not None:
            at = _BOUNDS_AT[r.layout]
            box[i, at] = np.tile(r.coords, 2) if r.bounds is None else r.bounds
            has[i, at] = True
    return _Geometry(
        np.array([r.shape_type for r in records], np.int32),
        [r.layout for r in records],
        np.concatenate([r.coords for r in records] or [np.empty(0)]),
        np.array([len(r.coords) for r in records], np.int64),
        np.array([e for r in records for e in r.ends], np.int64),
        np.array([len(r.ends) for r in records], np.int64),
        np.array([len(e) for r in records for e in r.endss], np.int64),
        np.array([len(r.endss) for r in records], np.int64),
        [(box[:, j], ~has[:, j]) for j in range(8)])


def _list_array(values: np.ndarray, counts: np.ndarray, dtype) -> pa.Array:
    offsets = np.concatenate(([0], np.cumsum(counts)))
    if offsets[-1] >= 1 << 31:
        raise core.ShapefileError("split too large for int32 list offsets")
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                    pa.array(np.asarray(values, dtype)))


def _geometry_columns(g: _Geometry | None, n: int,
                      flat: list[str] | None = None) -> list:
    """The one column assembly: ``n`` records' geometry → the
    ``shape_type``, ``geometry`` and ``bbox`` columns, or with ``flat``
    (ordinate names) the flat ordinate columns, NULL where a record is
    not a point.  No ``.shp`` (``g`` None) → NULL columns."""
    if g is None:
        types = [pa.float64()] * len(flat) if flat else _GEOMETRY_ARROW.types
        return [pa.nulls(n, t) for t in types]
    if flat:
        k = len(flat)
        point = g.n_coords == k
        if g.n_coords[~point].any():
            raise core.ShapefileError("flat_points requires Point records")
        ords = np.zeros((n, k))
        ords[point] = g.coords.reshape(-1, k)
        return [pa.array(ords[:, j], mask=~point) for j in range(k)]
    geometry_type, bbox_type = _GEOMETRY_ARROW.types[1:]
    return [
        pa.array(g.shape_type, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(g.layout, pa.string()),
             _list_array(g.coords, g.n_coords, np.float64),
             _list_array(g.ends, g.n_ends, np.int32),
             _list_array(g.rings, g.n_rings, np.int32)],
            fields=list(geometry_type)),
        pa.StructArray.from_arrays(
            [pa.nulls(n, pa.float64()) if c is None
             else pa.array(c[0], mask=c[1]) for c in g.bbox],
            fields=list(bbox_type)),
    ]


def _split_geometry(plan: ShapefilePlan, fid_start: int, fid_end: int,
                    shp: bytes | None, n_attr: int | None,
                    keep: np.ndarray | None, span: tuple | None,
                    bbox_keep: np.ndarray | None):
    """The split's geometry, decoded by exactly one of: the point kernel,
    the XY polygon/polyline kernel on the kept offsets, or the core
    parser — on the kept offsets of ``span``, the split's range read, or
    (no span: a zip member ``shp``, a file with no ``.shx``) over the
    whole ``.shp``.  A kernel declines anything irregular and the parser
    then rules, with the reference's errors.  ``bbox_keep`` is the span's
    record-header bbox test, or None.  Returns (the kept records'
    geometry, None without a ``.shp``; the split's record count;
    ``keep`` and ``bbox_keep`` combined)."""
    def counted(n: int) -> int:
        if n_attr is not None and n != n_attr:
            raise core.ShapefileError("inconsistent number of records")
        return n

    if not plan.has_shp:
        return None, n_attr or 0, keep
    if span is None:
        data = shp if plan.is_zip else fsio.read_bytes(f"{plan.path}.shp")
        records = core.parse_shp(data, plan.shp_options) \
            .records[fid_start - 1:fid_end - 1]
        n = counted(len(records))
        if keep is not None:
            records = [r for r, k in zip(records, keep) if k]
        return _records_geometry(records), n, keep
    buf, rel = span
    n = counted(len(rel))
    if bbox_keep is not None:
        keep = bbox_keep if keep is None else keep & bbox_keep
    ords = _parse_points_vectorized(buf, rel, plan.shape_type, fid_start,
                                    fid_start + n)
    if ords is not None:   # whole split: faster than a selective decode
        ords = ords if keep is None else ords[keep]
        none, zeros = np.zeros(0, np.int64), np.zeros(len(ords), np.int64)
        return _kernel_geometry(
            plan.shape_type, list(ords.T) * 2, ords.ravel(),
            np.full(len(ords), ords.shape[1]), none, zeros, none,
            zeros), n, keep
    fids = np.arange(fid_start, fid_start + n, dtype=np.int64)
    if keep is not None:
        rel, fids = rel[keep], fids[keep]
    vec = core.parse_polygons_vectorized(buf, rel, fids, plan.shp_options,
                                         shape_type=plan.shape_type)
    if vec is not None:
        return _kernel_geometry(
            plan.shape_type, list(vec["bbox"].T), vec["coords"],
            2 * vec["num_points"], vec["ends_rel"], vec["num_parts"],
            vec["rings_flat"], vec["polys_per_rec"]), n, keep
    return _records_geometry(core.parse_shp_range(
        buf, rel, plan.shp_options, numbers=fids)), n, keep


RECORDS_PER_SPLIT = 100_000   # default split size of every front door
DIR_TASKS = 8                 # directory scans: Spark tasks per read
_UNKNOWN_END = (1 << 40) + 1  # fid_end of a file with no SHX and no DBF


def split_bounds(plan: ShapefilePlan, records_per_split: int, lo: int = 1,
                 hi: float = math.inf, slots: int = 1) -> list[tuple[int, int]]:
    """The one split rule: fid ranges ``[a, b)`` over the file's records
    in ``[lo, hi)``.  A file that range-reads (SHX present, not a zip
    member) is cut into ``k = max(ceil(n / records_per_split),
    min(slots, n, scan_bytes // local.SCAN_BYTES))`` balanced splits
    ``lo + i*n//k``, ``scan_bytes`` counting the range's records: a
    file over the driver-local cap spreads over up to ``slots`` tasks,
    none reading less than the cap (a cap ≤ 0 spreads nothing).  Any
    other file is one sequential split (scanner.go:511-513), ending at
    a large sentinel when the record count is unknown.  Nothing left →
    one empty split."""
    end = plan.n_records + 1 if plan.n_records >= 0 else _UNKNOWN_END
    hi = min(hi, end)
    if hi <= lo:
        return [(1, 1)]
    if plan.is_zip or plan.shx_offsets is None:
        return [(lo, hi)]
    n = hi - lo
    k = max(1, math.ceil(n / records_per_split))
    if local.SCAN_BYTES > 0 and slots > k:
        k = max(k, min(slots, n, scan_bytes(plan, lo, hi) // local.SCAN_BYTES))
    return [(lo + i * n // k, lo + (i + 1) * n // k) for i in range(k)]


def file_groups(bases: list[str]) -> list[list[str]]:
    """A directory scan's tasks: ``min(len(bases), DIR_TASKS)`` contiguous
    groups of files.  Each Python task pays a fixed worker start-up, so a
    task per file is slow for many small files."""
    n = len(bases)
    p = min(n, DIR_TASKS)
    return [bases[i * n // p:(i + 1) * n // p] for i in range(p)]


# --- pushed filters: ``pyspark.sql.datasource`` Filter lists ------------------
# Every front door states its predicates this way: ``format("shapefile")``
# gets them from Catalyst, the function readers turn a ``bbox`` window into
# them (``_window_filters``).

_CMP = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
_CMP_OP = {EqualTo: operator.eq, GreaterThan: operator.gt,
           GreaterThanOrEqual: operator.ge, LessThan: operator.lt,
           LessThanOrEqual: operator.le}
_PC_OP = {EqualTo: pc.equal, GreaterThan: pc.greater,
          GreaterThanOrEqual: pc.greater_equal, LessThan: pc.less,
          LessThanOrEqual: pc.less_equal}
_BBOX_COL = {"xmin": 0, "ymin": 1, "xmax": 2, "ymax": 3}


def _window_filters(bbox: tuple | None) -> list[Filter]:
    """``bbox=(x0, y0, x1, y1)`` as the four comparisons a record bbox
    INTERSECTING the window satisfies."""
    if bbox is None:
        return []
    x0, y0, x1, y1 = (float(v) for v in bbox)
    return [GreaterThanOrEqual(("bbox", "xmax"), x0),
            LessThanOrEqual(("bbox", "xmin"), x1),
            GreaterThanOrEqual(("bbox", "ymax"), y0),
            LessThanOrEqual(("bbox", "ymin"), y1)]


def _range_reads(plan: ShapefilePlan) -> bool:
    """Can a split range-read its records' .shp bytes (and so test
    record-header bounds before decode)?"""
    return not plan.is_zip and plan.shx_offsets is not None and plan.has_shp


def _try_accept_row_filter(f: Filter, plan: ShapefilePlan, bbox_ok: bool,
                           attr_filters: list, bbox_filters: list) -> bool:
    """Classify one pushed filter: a comparison or null test on a DBF
    column (or ``deleted``) joins ``attr_filters``, a numeric comparison
    on ``bbox.xmin/ymin/xmax/ymax`` joins ``bbox_filters`` when
    ``bbox_ok``.  False when Spark must evaluate it."""
    attr = getattr(f, "attribute", None) or ()
    attr_cols = {name for name, *_ in plan.dbf_fields} | {"deleted"}
    if (len(attr) == 1 and attr[0] in attr_cols and plan.has_dbf
            and isinstance(f, _CMP + (IsNull, IsNotNull))):
        attr_filters.append(f)
        return True
    if (bbox_ok and isinstance(f, _CMP) and len(attr) == 2
            and attr[0] == "bbox" and attr[1] in _BBOX_COL):
        try:
            float(f.value)
        except (TypeError, ValueError):
            return False
        bbox_filters.append(f)
        return True
    return False


def _attr_keep(attrs: dict[str, Any], filters: list[Filter]) -> np.ndarray:
    """Keep-mask over the decoded attribute arrays (SQL NULL-fails-predicate
    semantics)."""
    keep = np.ones(len(attrs["deleted"]), dtype=bool)
    for f in filters:
        col = attrs[f.attribute[0]]
        if isinstance(f, IsNull):
            m = col.is_null()
        elif isinstance(f, IsNotNull):
            m = col.is_valid()
        else:
            m = _PC_OP[type(f)](col, f.value).fill_null(False)
        keep &= m.to_numpy(zero_copy_only=False)
    return keep


def _bbox_keep(buf: bytes, rel: np.ndarray,
               filters: list[Filter]) -> np.ndarray:
    """Keep-mask from record-header bounds — evaluated BEFORE any decode.
    NaN bounds (Null shapes) fail every comparison, matching SQL NULL
    predicate semantics."""
    bb = record_bounds_quick(buf, rel)
    keep = np.ones(len(rel), dtype=bool)
    for f in filters:
        keep &= _CMP_OP[type(f)](bb[:, _BBOX_COL[f.attribute[1]]],
                                 float(f.value))
    return keep


def _bbox_postfilter(rb, filters: list[Filter]):
    """Exact bbox filtering AFTER parse, for files that cannot range-read
    (zip members, no SHX): the same comparisons on the bbox struct."""
    bbox = rb.column("bbox")
    keep = np.ones(rb.num_rows, dtype=bool)
    for f in filters:
        # nulls → NaN, which fails every comparison (SQL semantics)
        c = bbox.field(f.attribute[1]).to_numpy(zero_copy_only=False) \
            .astype(np.float64)
        keep &= _CMP_OP[type(f)](c, float(f.value))
    return rb.filter(pa.array(keep))


def _header_prunes(header_bounds: tuple | None,
                   bbox_filters: list[Filter]) -> bool:
    """True when a pushed bbox predicate is unsatisfiable given the
    file-header bounds: every record bbox ordinate lies within the
    header's [min, max] for its axis, so a comparison that excludes
    that whole interval excludes every record (file-level pruning,
    shxheader.go:53-102)."""
    hb = header_bounds
    if hb is None or not bbox_filters:
        return False
    # bounds tuple is (mins..., maxs...) per layout: XY (x,y | x,y),
    # XYM (x,y,m | x,y,m), XYZM (x,y,z,m | x,y,z,m)
    half = len(hb) // 2
    x_rng, y_rng = (hb[0], hb[half]), (hb[1], hb[half + 1])
    if x_rng[0] > x_rng[1] or y_rng[0] > y_rng[1]:
        return False   # NoData-scrubbed header bounds → unknown
    axis_rng = {"xmin": x_rng, "xmax": x_rng,
                "ymin": y_rng, "ymax": y_rng}
    for f in bbox_filters:
        lo, hi = axis_rng[f.attribute[1]]
        v = float(f.value)
        if isinstance(f, EqualTo) and (v < lo or v > hi):
            return True
        if isinstance(f, GreaterThan) and hi <= v:
            return True
        if isinstance(f, GreaterThanOrEqual) and hi < v:
            return True
        if isinstance(f, LessThan) and lo >= v:
            return True
        if isinstance(f, LessThanOrEqual) and lo > v:
            return True
    return False


# --- the readers every front door calls --------------------------------------

def read_split(plan: ShapefilePlan, fid_start: int, fid_end: int,
               arrow_schema, flat: bool = False, attr_filters=(),
               bbox_filters=()):
    """Records ``[fid_start, fid_end)`` → one Arrow RecordBatch of
    ``arrow_schema``'s columns: the one split emitter.

    The attributes decode once (:func:`_attr_arrays`) and
    ``attr_filters`` mask them before any geometry decode.
    ``bbox_filters`` are tested against the record headers before any
    decode where the file range-reads (a split they empty skips its DBF
    too), or on the built bbox column where it cannot.  The kept records'
    geometry comes from one decoder (:func:`_split_geometry`) and
    becomes columns through one function (:func:`_geometry_columns`):
    ``shape_type``/``geometry``/``bbox``, or with ``flat`` the
    ``x``/``y``[/``z``]/[``m``] columns (no filters: their predicates
    are codegen'd in Spark).  A read schema that prunes or reorders
    columns selects them by name."""
    full = to_arrow_schema(flat_points_schema(plan) if flat
                           else features_schema(plan))
    span = _read_split_shp(plan, fid_start, fid_end) \
        if _range_reads(plan) else None
    bbox_keep = _bbox_keep(*span, bbox_filters) \
        if bbox_filters and span is not None else None
    if bbox_keep is not None and not bbox_keep.any():
        # no DBF decode, but a DBF too short for the split still fails
        if plan.has_dbf and fsio.getsize(f"{plan.path}.dbf") < (
                plan.dbf_header_size + (fid_end - 1) * plan.dbf_record_size):
            raise core.ShapefileError("unexpected EOF")
        return pa.RecordBatch.from_pylist([], arrow_schema)
    members = _zip_members(plan.path, plan.basename) if plan.is_zip else {}
    attrs = _attr_arrays(plan, fid_start, fid_end - fid_start,
                         members.get("dbf", (None, None))[1], full)
    keep = _attr_keep(attrs, attr_filters) \
        if attrs is not None and attr_filters else None
    geom, n, keep = _split_geometry(
        plan, fid_start, fid_end, members.get("shp", (None, None))[1],
        None if attrs is None else len(attrs["deleted"]), keep, span,
        bbox_keep)
    fids = np.arange(fid_start, fid_start + n, dtype=np.int64)
    if keep is not None:
        fids = fids[keep]
        attrs = attrs and {k: a.filter(pa.array(keep))
                           for k, a in attrs.items()}
    cols = {"fid": pa.array(fids),
            "deleted": pa.array(np.zeros(len(fids), dtype=bool)),
            **(attrs or {})}
    ords = _ord_names(plan.shape_type) if flat else None
    cols.update(zip(ords or ["shape_type", "geometry", "bbox"],
                    _geometry_columns(geom, len(fids), ords)))
    rb = pa.RecordBatch.from_arrays([cols[f.name] for f in full],
                                    schema=full)
    if bbox_filters and span is None:
        rb = _bbox_postfilter(rb, bbox_filters)
    return rb.select(arrow_schema.names).cast(arrow_schema)


def read_file(path: str, options: dict | None, basename: str | None,
              arrow_schema, records_per_split: int, flat: bool = False,
              attr_filters=(), bbox_filters=()) -> Iterator:
    """One file of a directory scan → RecordBatches of ``arrow_schema``
    (the file's columns plus ``source_basename``).  The header pre-pass
    runs here, inside the task, so the driver plans one file per
    directory; a file whose header bounds fail a bbox filter is skipped
    whole."""
    plan = plan_shapefile(path, options, basename)
    if flat and plan.shape_type not in core.POINT_TYPES:
        raise core.ShapefileError(
            f"flat_points requires a Point-type shapefile: {path}")
    if _header_prunes(plan.header_bounds, bbox_filters):
        return
    base = arrow_schema.remove(arrow_schema.get_field_index("source_basename"))
    name = posixpath.basename(path)
    for a, b in split_bounds(plan, records_per_split):
        rb = read_split(plan, a, b, base, flat, attr_filters, bbox_filters)
        if rb.num_rows:
            yield pa.RecordBatch.from_arrays(
                list(rb.columns) + [pa.array([name] * rb.num_rows, pa.string())],
                schema=arrow_schema)


def _task_batches(ids, tasks: list, read) -> Iterator:
    """The non-empty RecordBatches of ``read(tasks[i])`` for every task
    id ``i`` in the ``id`` column of the Arrow batches ``ids``."""
    for rb in ids:
        for i in rb.column("id").to_pylist():
            for out in read(tasks[i]):
                if out.num_rows:
                    yield out


def _scan_splits(spark: SparkSession, tasks: list, schema: T.StructType,
                 read) -> DataFrame:
    """One Spark task per element of ``tasks`` (a split's fid bounds, or
    a group of files): ``mapInArrow`` over ``spark.range`` with one id per
    partition, task i yielding the RecordBatches of ``read(tasks[i])``.
    The task rows are JVM-generated — no Python-built plan frame, no
    shuffle — and partition i reads task i, so rows come back in order."""

    def parse(ids):
        return _task_batches(ids, tasks, read)

    k = len(tasks)
    df = spark.range(0, k, 1, k).mapInArrow(parse, schema=schema)
    df._shapefile_scan = (tasks, read)   # for map_features
    return df


def project_batch(rb, columns: list[str]):
    """``select(*columns)`` on one Arrow batch.  ``"s.f"`` takes field
    ``f`` of struct column ``s``, named ``f``, and NULL where the struct
    row is NULL, as Spark's ``select("s.f")`` gives."""
    arrays = []
    for name in columns:
        parent, _, child = name.partition(".")
        col = rb.column(parent)
        arrays.append(pc.struct_field(col, child) if child else col)
    return pa.RecordBatch.from_arrays(
        arrays, names=[name.rpartition(".")[2] for name in columns])


def map_features(features: DataFrame, columns: list[str], fn,
                 schema) -> DataFrame:
    """``features.select(*columns).mapInArrow(fn, schema)``, in the scan
    task when it can be: the one way a feature kernel meets its input.

    When ``features`` is a DataFrame that a distributed shapefile scan
    returned (``_scan_splits``) and it is not cached, the kernel runs
    in the same Python task as the decode: one ``mapInArrow`` over
    ``spark.range`` reads each split, projects ``columns`` in Arrow
    (:func:`project_batch`) and feeds ``fn`` slices of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, the batches
    the two-stage plan would hand it.  So the geometry never crosses to
    the JVM and back, and the task starts one Python worker, not two.
    Any other input keeps the two stages."""
    projected = features.select(*columns)   # a bad column fails here
    scan = vars(features).get("_shapefile_scan")
    if scan is None or features.is_cached:
        return projected.mapInArrow(fn, schema=schema)
    tasks, read = scan
    spark = features.sparkSession
    rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def parse_and_map(ids):
        def batches():
            for rb in _task_batches(ids, tasks, read):
                rb = project_batch(rb, columns)
                step = rows if rows > 0 else rb.num_rows
                for off in range(0, rb.num_rows, step):
                    yield rb.slice(off, step)
        return fn(batches())

    k = len(tasks)
    return spark.range(0, k, 1, k).mapInArrow(parse_and_map, schema=schema)


def map_records(records, columns: list[str], fn) -> list:
    """:func:`map_features` on the driver: ``fn``'s output batches over
    core-parser ``records`` (or over Arrow batches of the
    ``fid, shape_type, geometry`` a kernel such as simplify emits).

    Records become the batch a scan emits for them: ``fid`` is the
    1-based record position and ``shape_type``/``geometry`` come from
    the scan's own column assembly (:func:`_geometry_columns`).  The
    DuckDB oracles run a feature kernel's own batch function through
    this, so Spark and the oracle share one kernel path; a kernel's output fed back in
    chains two kernels the way Spark does."""
    if records and isinstance(records[0], core.SHPRecord):
        shape_type, geometry, _ = _geometry_columns(
            _records_geometry(records), len(records))
        records = [pa.RecordBatch.from_arrays(
            [pa.array(np.arange(1, len(records) + 1)), shape_type, geometry],
            names=["fid", "shape_type", "geometry"])]
    return list(fn(project_batch(rb, columns) for rb in records))


def scan_bytes(plan: ShapefilePlan, lo: int = 1, hi: int | None = None) -> int:
    """The bytes a range-reading scan of records ``[lo, hi)`` (the whole
    file by default) reads: every ``.shp`` record (8-byte header plus
    its ``.shx`` content length) and every ``.dbf`` record."""
    lengths = plan.shx_lengths[lo - 1:None if hi is None else hi - 1]
    n = len(lengths)
    return int(lengths.sum()) + 8 * n + n * plan.dbf_record_size


def read_shapefile_df(spark: SparkSession, path: str, options: dict | None = None,
                      basename: str | None = None,
                      target_records_per_split: int = RECORDS_PER_SPLIT,
                      flat_points: bool = False,
                      bbox: tuple[float, float, float, float] | None = None
                      ) -> DataFrame:
    """Read a shapefile (basename or zip bundle) as a ``features`` DataFrame.

    Splittable when a .shx is present and the source is not a zip
    (``split_bounds``): each task seeks to its own fid range.  A file
    that range-reads in one split and whose ``scan_bytes`` are within
    ``local.SCAN_BYTES`` is read on the driver by the same
    ``read_split`` and returned as a LocalRelation: no Python task, so
    no worker start, for the small polygon side of a join.  A bigger
    one takes a split per ``local.SCAN_BYTES``, up to the session's
    ``defaultParallelism``.

    ``flat_points=True`` (Point-type files only): emit plain ``x``/``y``
    (+``z``/``m``) double columns instead of the nested geometry struct.
    The whole batch then moves as flat Arrow arrays — per-row struct
    serialization is the dominant cost for billions-of-points corpora
    (~10x throughput difference measured at 2M points).

    ``bbox=(x0, y0, x1, y1)``: keep only records whose bbox INTERSECTS
    the window (degenerate point bboxes included), pushed down as the
    same filters ``format("shapefile")`` receives: the whole file is
    skipped when the header bounds miss the window, and on the SHX path
    records are bounds-tested from their record headers BEFORE geometry
    decode; zip members and no-SHX files filter after parse.

    A missing path raises ShapefileError (``plan_shapefile``).
    """
    plan = plan_shapefile(path, options, basename)
    if flat_points and plan.shape_type not in core.POINT_TYPES:
        raise core.ShapefileError(
            "flat_points requires a Point-type shapefile")
    schema = flat_points_schema(plan) if flat_points else features_schema(plan)
    window = _window_filters(bbox)
    if _header_prunes(plan.header_bounds, window):
        return spark.createDataFrame([], schema)   # whole file pruned
    arrow_schema = to_arrow_schema(schema)
    # flat points decode whole splits (faster than a selective decode)
    # and filter x/y in codegen'd Spark instead
    pushed = [] if flat_points else window
    splits = split_bounds(plan, target_records_per_split,
                          slots=spark.sparkContext.defaultParallelism)
    if (_range_reads(plan) and len(splits) == 1
            and local.within(scan_bytes(plan), local.SCAN_BYTES)):
        # small file: decode on the driver, no Python task at all
        rb = read_split(plan, *splits[0], arrow_schema, flat_points, (), pushed)
        df = spark.createDataFrame(pa.Table.from_batches([rb]), schema)
    else:
        df = _scan_splits(
            spark, splits, schema,
            lambda ab: [read_split(plan, *ab, arrow_schema, flat_points,
                                   (), pushed)])
    if flat_points and bbox is not None:
        x0, y0, x1, y1 = (float(v) for v in bbox)
        df = df.where(F.col("x").between(x0, x1) & F.col("y").between(y0, y1))
    return df


def discover_shapefile_bases(directory: str) -> list[str]:
    """Shapefile corpus discovery (shared by ``read_shapefile_dir`` and
    the DataSource's directory mode): every .shp basename plus every
    .zip bundle under ``directory``, sorted."""
    files = fsio.list_files(directory)
    bases = sorted({p[:-4] for p in files if p.lower().endswith(".shp")})
    bases += sorted(p for p in files if p.lower().endswith(".zip"))
    return bases


def dir_schema(schema: T.StructType) -> T.StructType:
    """A directory scan's schema: the file schema plus ``source_basename``
    (built fresh — ``StructType.add`` mutates in place)."""
    return T.StructType(list(schema.fields) +
                        [T.StructField("source_basename", T.StringType())])


def read_shapefile_dir(spark: SparkSession, directory: str,
                       options: dict | None = None,
                       target_records_per_split: int = RECORDS_PER_SPLIT,
                       bbox: tuple[float, float, float, float] | None = None
                       ) -> DataFrame:
    """Read every shapefile under ``directory`` into one ``features``
    DataFrame with a ``source_basename`` column.

    One Spark job: the driver does ONE directory listing plus ONE
    representative header plan (for the schema); the files are cut into
    ``file_groups`` and each task plans and reads its files
    (``read_file``), so driver time is O(1) in file count.  ``bbox``
    filters every file as ``read_shapefile_df(bbox=...)`` does, skipping
    whole files by header bounds.

    All files must share the representative file's schema; a mismatched
    file fails its task loudly (Arrow schema error) rather than silently
    coercing.
    """
    bases = discover_shapefile_bases(directory)
    if not bases:
        raise core.ShapefileError(f"no shapefiles under {directory}")
    schema = dir_schema(features_schema(plan_shapefile(bases[0], options)))
    arrow_schema = to_arrow_schema(schema)
    window = _window_filters(bbox)
    return _scan_splits(spark, file_groups(bases), schema, lambda paths: (
        rb for p in paths
        for rb in read_file(p, options, None, arrow_schema,
                            target_records_per_split, bbox_filters=window)))


def flat_points_schema(plan: ShapefilePlan) -> T.StructType:
    """Schema of the flat-point emit path: fid, deleted, DBF columns,
    then plain x/y(/z/m) doubles — no nested geometry struct."""
    return T.StructType(_attr_fields(plan) + [
        T.StructField(c, T.DoubleType()) for c in _ord_names(plan.shape_type)])


def file_metadata(path: str, options: dict | None = None,
                  basename: str | None = None) -> dict[str, Any]:
    """File-level metadata row (header bbox, shape type, CRS) — the analog
    of the reference's SHxHeader + PRJ accessors (scanner.go:541-593)."""
    plan = plan_shapefile(path, options, basename)
    return {
        "path": plan.path, "shape_type": plan.shape_type,
        "bounds": plan.header_bounds, "crs_wkt": plan.crs_wkt,
        "charset": plan.charset, "n_records": plan.n_records,
    }
