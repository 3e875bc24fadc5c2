"""Spark DataSource ("shapefile" format) with filter pushdown.

A thin adapter over the scan core in ``shapefile.py``, the same one
``read_shapefile_df`` / ``read_shapefile_dir`` call: ``pushFilters``
classifies Catalyst's filters, ``partitions`` cuts splits with
``split_bounds`` (or ``file_groups`` in directory mode), and ``read``
calls ``read_split`` (or ``read_file``).  What the format adds is
Catalyst's filter pushdown (SURVEY §4's ``SupportsPushDownFilters``
follow-on, via the Python DataSource API of Spark 4):

* predicates on ``fid`` prune whole partitions exactly (record-range
  splits are fid intervals, so ``fid >= a AND fid < b`` maps to split
  arithmetic — the Scanner.Discard analog at plan time);
* predicates on DBF attribute columns are evaluated on the decoded
  attribute columns BEFORE any geometry parsing — on the SHX path a
  record whose attributes fail the filter is never byte-decoded at all;
* comparisons on ``bbox.xmin/ymin/xmax/ymax`` prune whole files by
  their header bounds and records by their record-header bounds.

Pushdown needs ``spark.sql.python.filterPushdown.enabled=true``, which
``session.get_spark`` sets; on a session without it, a read raises
``DATA_SOURCE_PUSHDOWN_DISABLED``.

Usage::

    spark.dataSource.register(ShapefileDataSource)
    df = (spark.read.format("shapefile")
          .option("path", "/data/countries")     # basename or .zip, URI ok
          .load()
          .where("CONTINENT = 'Africa' AND fid > 10"))

    # directory mode: one job over ``file_groups`` (at most DIR_TASKS
    # contiguous groups of files), header planning inside tasks (driver
    # O(1) in file count), a source_basename column, and file-level
    # pruning from source_basename equality / bbox predicates
    tiles = (spark.read.format("shapefile").option("path", "/data/tiles")
             .load().where("bbox.xmin > 5.0 AND bbox.xmax < 15.0"))
"""

from __future__ import annotations

import math
import posixpath
from functools import cached_property
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, EqualTo, Filter, GreaterThan,
    GreaterThanOrEqual, InputPartition, LessThan, LessThanOrEqual,
)
from pyspark.sql.pandas.types import to_arrow_schema

from . import shapefile as sf


class _Split(InputPartition):
    def __init__(self, fid_start: int, fid_end: int):
        self.fid_start = fid_start
        self.fid_end = fid_end


class ShapefileDataSource(DataSource):
    """``format("shapefile")``: options path (required), basename,
    records_per_split, charset, skip_broken_fields, flat_points.

    ``flat_points=true`` (Point-type corpora only) emits plain x/y(/z/m)
    double columns instead of the nested geometry struct — the
    Arrow-direct scan path ``read_shapefile_df(flat_points=True)`` uses
    (per-row struct materialization dominates wall time at
    billions-of-points scale; BENCH.md round 4).  In flat mode every
    pushed filter but ``fid`` (and ``source_basename``) is yielded back to
    Spark: x/y comparisons are whole-stage-codegen'd over the flat
    columns, which beats selective decode on this path by design."""

    @classmethod
    def name(cls) -> str:
        return "shapefile"

    def _flat(self) -> bool:
        return str(self.options.get("flat_points", "")).lower() == "true"

    def _opts(self) -> dict | None:
        opts = {}
        if self.options.get("charset"):
            opts.setdefault("dbf", {})["charset"] = self.options["charset"]
        if str(self.options.get("skip_broken_fields", "")).lower() == "true":
            opts.setdefault("dbf", {})["skip_broken_fields"] = True
        return opts or None

    @cached_property
    def _bases(self) -> list[str] | None:
        """Directory mode: shapefile basenames/zips under option path
        (one driver listing); None when path is a single file/bundle."""
        from . import fsio
        path = self.options.get("path")
        if not path:
            raise ValueError("shapefile source requires option 'path'")
        if not fsio.is_dir(path):
            return None
        bases = sf.discover_shapefile_bases(path)
        if not bases:
            raise ValueError(f"no shapefiles under {path}")
        return bases

    @cached_property
    def _plan(self) -> sf.ShapefilePlan:
        # Spark calls schema() and reader() separately — cache the header
        # pre-pass so a zip bundle isn't re-read/decompressed per call.
        # Directory mode plans ONE representative file (schema only);
        # per-file headers are read inside tasks.
        path = self._bases[0] if self._bases else self.options.get("path")
        return sf.plan_shapefile(path, self._opts(),
                                 self.options.get("basename"))

    def schema(self):
        plan = self._plan
        if self._flat():
            if plan.shape_type not in sf.core.POINT_TYPES:
                raise ValueError(
                    "flat_points requires a Point-type shapefile corpus")
            base = sf.flat_points_schema(plan)
        else:
            base = sf.features_schema(plan)
        return base if self._bases is None else sf.dir_schema(base)

    def reader(self, schema):
        bases = self._bases
        rps = int(self.options.get("records_per_split", sf.RECORDS_PER_SPLIT))
        if bases is not None:
            return ShapefileDirReader(bases, self._plan, schema, rps,
                                      self._opts(),
                                      self.options.get("basename"),
                                      flat=self._flat())
        return ShapefileReader(self._plan, schema, rps,
                               flat=self._flat())


class ShapefileReader(DataSourceReader):
    def __init__(self, plan: sf.ShapefilePlan, schema,
                 records_per_split: int, flat: bool = False):
        self.plan = plan
        self.schema = schema
        self.records_per_split = records_per_split
        self.flat = flat
        # fid interval [lo, hi) narrowed by pushed fid predicates
        self.fid_lo, self.fid_hi = 1, math.inf
        self.attr_filters: list[Filter] = []
        # bbox predicates are accepted only where they test before decode
        # (the SHX range-read path); on zip members they stay in Spark
        self.bbox_filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept fid-range predicates (exact partition pruning), scalar
        comparisons/null-tests on attribute columns (exact row-level
        masks applied before geometry decode), and comparisons on
        ``bbox.xmin/ymin/xmax/ymax`` (tested against the record-header
        bounds BEFORE geometry decode; the file-header bbox prunes whole
        scans — reference shxheader.go:53-102, shp.go:176-190).
        Everything else is yielded back for Spark to evaluate.

        Flat-point mode still narrows on fid (range pruning skips whole
        splits at zero decode cost — the emitted fids are exactly the
        split's arange, so the accepted range is exact) but pushes no
        row masks: there is no bbox struct, and x/y predicates codegen
        over the flat columns faster than a selective decode."""
        for f in filters:
            if getattr(f, "attribute", None) == ("fid",) \
                    and isinstance(f, sf._CMP):
                if not self._narrow_fid(f):
                    yield f   # non-integer literal → let Spark evaluate
            elif self.flat or not sf._try_accept_row_filter(
                    f, self.plan, sf._range_reads(self.plan),
                    self.attr_filters, self.bbox_filters):
                yield f

    def _narrow_fid(self, f: Filter) -> bool:
        try:
            v = int(f.value)
        except (TypeError, ValueError):
            return False
        lo, hi = {EqualTo: (v, v + 1), GreaterThan: (v + 1, math.inf),
                  GreaterThanOrEqual: (v, math.inf), LessThan: (1, v),
                  LessThanOrEqual: (1, v + 1)}[type(f)]
        self.fid_lo, self.fid_hi = max(self.fid_lo, lo), min(self.fid_hi, hi)
        return True

    def partitions(self) -> list[_Split]:
        if sf._header_prunes(self.plan.header_bounds, self.bbox_filters):
            return [_Split(1, 1)]  # fully pruned → one empty split
        return [_Split(a, b) for a, b in sf.split_bounds(
            self.plan, self.records_per_split, self.fid_lo, self.fid_hi)]

    def read(self, partition: _Split):
        if partition.fid_end <= partition.fid_start:
            return
        rb = sf.read_split(self.plan, partition.fid_start, partition.fid_end,
                           to_arrow_schema(self.schema), self.flat,
                           self.attr_filters, self.bbox_filters)
        if rb.num_rows:
            yield rb


class _FileSplit(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class ShapefileDirReader(DataSourceReader):
    """Directory mode of ``format("shapefile")``: one input partition per
    ``file_groups`` group; ALL header reads (split planning, bbox file
    pruning) happen inside tasks (``read_file``), so the driver does
    exactly one directory listing no matter the corpus size — the same
    scan as ``read_shapefile_dir``.

    Pushdown: attribute masks and bbox predicates work per file exactly
    as in single-file mode (bbox pre-tested on the SHX range-read path,
    applied post-parse — still exact — on zip members); equality on
    ``source_basename`` prunes whole files at plan time; bbox predicates
    prune whole files by header bounds inside the task.  ``fid``
    predicates are not globally meaningful across files and stay in
    Spark.
    """

    def __init__(self, bases: list[str], rep_plan: sf.ShapefilePlan,
                 schema, records_per_split: int, options: dict | None,
                 member_basename: str | None = None, flat: bool = False):
        self.bases = bases
        self.rep_plan = rep_plan
        self.schema = schema
        self.records_per_split = records_per_split
        self.sf_options = options
        self.flat = flat
        # zip-member filter (option "basename"): must apply to per-file
        # task plans too, or multi-layer bundles parse the wrong member
        self.member_basename = member_basename
        self.attr_filters: list[Filter] = []
        self.bbox_filters: list[Filter] = []
        self.basename_eqs: list[str] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if (getattr(f, "attribute", None) == ("source_basename",)
                    and isinstance(f, EqualTo) and isinstance(f.value, str)):
                self.basename_eqs.append(f.value)   # flat mode too
            elif self.flat or not sf._try_accept_row_filter(
                    f, self.rep_plan, True, self.attr_filters,
                    self.bbox_filters):
                yield f

    def partitions(self) -> list[_FileSplit]:
        bases = [b for b in self.bases
                 if all(posixpath.basename(b) == v for v in self.basename_eqs)]
        return [_FileSplit(g) for g in sf.file_groups(bases)] \
            or [_FileSplit([])]

    def read(self, partition: _FileSplit):
        arrow_schema = to_arrow_schema(self.schema)
        for path in partition.paths:
            yield from sf.read_file(path, self.sf_options,
                                    self.member_basename, arrow_schema,
                                    self.records_per_split, self.flat,
                                    self.attr_filters, self.bbox_filters)
