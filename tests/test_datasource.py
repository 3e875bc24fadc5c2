"""spark.read.format("shapefile") — Python DataSource with pushdown."""

import os

import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThan

from go_shapefile_spark.sources.datasource import (
    ShapefileDataSource, ShapefileReader,
)
from go_shapefile_spark.sources.shapefile import (
    features_schema, plan_shapefile, read_shapefile_df,
)


@pytest.fixture(scope="module")
def ds_spark(spark):
    spark.dataSource.register(ShapefileDataSource)
    return spark


def test_format_matches_function_reader(ds_spark, tmp_path):
    """Both readers over a written polygon file with C, N and
    N-with-decimals columns (a file that exists, so a reader returning
    0 rows cannot pass)."""
    from go_shapefile_spark.sources.shapefile_writer import write_polygons

    base = str(tmp_path / "polys")
    write_polygons(
        base,
        [{"coords": [i, 0, i, 1, i + 1, 1, i + 1, 0, i, 0], "ends": [10]}
         for i in range(10)],
        fields=[("NAME", "C", 8), ("AREA", "N", 12, 3), ("EAS_ID", "N", 6)],
        rows=[[f"p{i}", i * 1.5, 100 + i] for i in range(10)])
    via_format = (ds_spark.read.format("shapefile").option("path", base)
                  .load().orderBy("fid").collect())
    via_fn = read_shapefile_df(ds_spark, base).orderBy("fid").collect()
    assert via_format == via_fn and len(via_fn) == 10


def test_attribute_pushdown_results(ds_spark, ref_testdata):
    base = os.path.join(ref_testdata, "poly")
    df = ds_spark.read.format("shapefile").option("path", base).load()
    got = sorted((r.fid, r.AREA) for r in
                 df.where("AREA > 300000 AND fid > 2").collect())
    exp = sorted((r.fid, r.AREA) for r in
                 read_shapefile_df(ds_spark, base)
                 .where("AREA > 300000 AND fid > 2").collect())
    assert got == exp and len(got) > 0
    # string equality + zip bundle path
    zpath = os.path.join(ref_testdata, "110m-admin-0-countries.zip")
    dfz = ds_spark.read.format("shapefile").option("path", zpath).load()
    got_z = dfz.where("SOVEREIGNT = 'France'").select("NAME").collect()
    exp_z = (read_shapefile_df(ds_spark, zpath)
             .where("SOVEREIGNT = 'France'").select("NAME").collect())
    assert sorted(got_z) == sorted(exp_z) and len(got_z) > 0


def test_fid_pushdown_prunes_partitions(ref_testdata):
    """fid-range predicates prune whole splits exactly at plan time —
    the DataSourceV2 analog of Scanner.Discard (scanner.go:458-525)."""
    plan = plan_shapefile(os.path.join(ref_testdata, "poly"))
    r = ShapefileReader(plan, features_schema(plan), records_per_split=2)
    assert len(r.partitions()) == 5  # 10 records / 2 per split
    leftover = list(r.pushFilters([GreaterThan(("fid",), 4),
                                   LessThan(("fid",), 8)]))
    assert leftover == []            # fully handled by pruning
    parts = [(p.fid_start, p.fid_end) for p in r.partitions()]
    assert parts == [(5, 6), (6, 8)]
    # unsupported filters are yielded back for Spark to evaluate
    r2 = ShapefileReader(plan, features_schema(plan), records_per_split=2)
    back = list(r2.pushFilters([In(("fid",), (1, 5)),
                                EqualTo(("AREA",), 215229.266)]))
    assert len(back) == 1 and isinstance(back[0], In)
    assert len(r2.attr_filters) == 1


def test_bbox_pushdown_results_and_plan(ds_spark, ref_testdata):
    """bbox.* comparisons are accepted by the source (VERDICT r2 #5):
    results match the unpushed scan, and the comparison disappears from
    the post-scan Filter node (only Catalyst's isnotnull remains)."""
    from go_shapefile_spark.plans.audit import executed_plan

    base = os.path.join(ref_testdata, "poly")
    df = ds_spark.read.format("shapefile").option("path", base).load()
    for pred in ("bbox.xmin > 479000", "bbox.ymax < 4765000",
                 "bbox.xmin > 479000 AND bbox.ymax < 4765000"):
        got = sorted(r.fid for r in df.where(pred).collect())
        exp = sorted(r.fid for r in read_shapefile_df(ds_spark, base)
                     .where(pred).collect())
        assert got == exp and 0 < len(got) < 10, pred
    plan = executed_plan(df.where("bbox.xmin > 479000"))
    assert "BatchScan shapefile" in plan
    assert "479000" not in plan   # comparison evaluated inside the source
    # zip bundles can't range-read → bbox filters are yielded back and the
    # comparison stays in Spark's Filter node; results still correct
    zpath = os.path.join(ref_testdata, "110m-admin-0-countries.zip")
    dfz = ds_spark.read.format("shapefile").option("path", zpath).load()
    got_z = sorted(r.fid for r in dfz.where("bbox.ymin > 60").collect())
    exp_z = sorted(r.fid for r in read_shapefile_df(ds_spark, zpath)
                   .where("bbox.ymin > 60").collect())
    assert got_z == exp_z and len(got_z) > 0
    assert "60.0" in executed_plan(dfz.where("bbox.ymin > 60"))


def test_bbox_header_prune_and_decode_skip(ref_testdata, monkeypatch):
    """A bbox window outside the file-header bounds prunes the whole scan
    at plan time; an in-bounds window decodes ONLY surviving records."""
    import go_shapefile_spark.sources.shapefile_core as core
    from pyspark.sql.datasource import GreaterThan as GT

    plan = plan_shapefile(os.path.join(ref_testdata, "poly"))
    schema = features_schema(plan)
    r = ShapefileReader(plan, schema, records_per_split=100)
    assert list(r.pushFilters([GT(("bbox", "xmin"), 999999999.0)])) == []
    parts = r.partitions()
    assert [(p.fid_start, p.fid_end) for p in parts] == [(1, 1)]

    # polygons now take the SELECTIVE vectorized kernel under a bbox
    # mask: count the record offsets the kernel is asked to gather
    seen = []
    orig = core.parse_polygons_vectorized

    def counting(buf, offsets, *a, **k):
        seen.append(len(offsets))
        return orig(buf, offsets, *a, **k)

    monkeypatch.setattr(core, "parse_polygons_vectorized", counting)
    monkeypatch.setattr(
        "go_shapefile_spark.sources.shapefile.core.parse_polygons_vectorized",
        counting)
    r2 = ShapefileReader(plan, schema, records_per_split=100)
    assert list(r2.pushFilters([GT(("bbox", "ymax"), 4765000.0)])) == []
    [part] = r2.partitions()
    n_rows = sum(b.num_rows for b in r2.read(part))
    assert seen == [n_rows] and 0 < n_rows < 10


def test_record_bounds_quick_matches_decode(ref_testdata):
    """record_bounds_quick (header gather, no decode) must equal the
    fully-decoded record bboxes."""
    import numpy as np

    from go_shapefile_spark.sources.shapefile import (
        _read_split_shp, record_bounds_quick)

    plan = plan_shapefile(os.path.join(ref_testdata, "poly"))
    buf, rel = _read_split_shp(plan, 1, plan.n_records + 1)
    quick = record_bounds_quick(buf, rel)
    full = read_shapefile_df.__globals__["core"].parse_shp_range(
        buf, rel, numbers=np.arange(1, plan.n_records + 1))
    exp = np.array([[r.bounds[0], r.bounds[1], r.bounds[2], r.bounds[3]]
                    for r in full])
    np.testing.assert_array_equal(quick, exp)


def _decoded_offsets(monkeypatch) -> list[int]:
    """The number of record offsets handed to each geometry decoder call
    (the polygon kernel or the core parser), in call order."""
    import go_shapefile_spark.sources.shapefile_core as core

    seen = []
    for name in ("parse_shp_range", "parse_polygons_vectorized"):
        def counting(buf, offsets, *a, _orig=getattr(core, name), **k):
            seen.append(len(offsets))
            return _orig(buf, offsets, *a, **k)
        monkeypatch.setattr(core, name, counting)
    return seen


def _attribute_pushdown_decodes(base: str, monkeypatch) -> None:
    """``AREA > 300000`` pushed into a one-split read: the decoders see
    exactly the surviving records, once."""
    seen = _decoded_offsets(monkeypatch)
    plan = plan_shapefile(base)
    schema = features_schema(plan)
    r = ShapefileReader(plan, schema, records_per_split=100)
    list(r.pushFilters([GreaterThan(("AREA",), 300000.0)]))
    [part] = r.partitions()
    batches = list(r.read(part))
    n_rows = sum(b.num_rows for b in batches)
    assert seen == [n_rows]  # decoded exactly the surviving records
    assert 0 < n_rows < 10


def test_pushdown_skips_geometry_decode(ds_spark, ref_testdata, monkeypatch):
    """Records rejected by a pushed attribute filter never reach a
    geometry decoder on the SHX path (selective decode of the kept
    offsets)."""
    _attribute_pushdown_decodes(os.path.join(ref_testdata, "poly"),
                                monkeypatch)


def test_pushdown_skips_geometry_decode_written(tmp_path, monkeypatch):
    """The same on a written polygon file."""
    from go_shapefile_spark.sources.shapefile_writer import write_polygons

    base = str(tmp_path / "areas")
    write_polygons(
        base,
        [{"coords": [i, 0, i, 1, i + 1, 1, i + 1, 0, i, 0], "ends": [10]}
         for i in range(10)],
        fields=[("AREA", "N", 12, 3)],
        rows=[[i * 50000.0] for i in range(10)])
    _attribute_pushdown_decodes(base, monkeypatch)


def test_format_directory_mode(ds_spark, ref_testdata, tmp_path):
    """format("shapefile") on a DIRECTORY: one partition per file, header
    planning inside tasks, source_basename file pruning, and bbox
    predicates exact on both the SHX pre-test path (.shp files) and the
    post-parse path (zip bundles)."""
    import shutil
    import zipfile

    d = tmp_path / "dscorpus"
    d.mkdir()
    for i in range(4):
        for ext in ("shp", "shx", "dbf"):
            shutil.copy(os.path.join(ref_testdata, f"poly.{ext}"),
                        d / f"t{i}.{ext}")
    # one zip bundle with the same schema → post-parse bbox filtering
    with zipfile.ZipFile(d / "z0.zip", "w") as z:
        for ext in ("shp", "shx", "dbf"):
            z.write(os.path.join(ref_testdata, f"poly.{ext}"), f"poly.{ext}")
    df = ds_spark.read.format("shapefile").option("path", str(d)).load()
    assert df.count() == 50
    assert df.select("source_basename").distinct().count() == 5
    # file pruning via source_basename equality
    assert df.where("source_basename = 't2'").count() == 10
    # bbox predicate: identical result on every file, zip included
    got = (df.where("bbox.ymax < 4765000")
           .groupBy("source_basename").count().collect())
    assert {r.source_basename: r["count"] for r in got} == {
        "t0": 3, "t1": 3, "t2": 3, "t3": 3, "z0.zip": 3}
    # header bbox prune: off-window → empty
    assert df.where("bbox.xmin > 999999999").count() == 0
    # attribute pushdown still applies per file
    assert df.where("AREA > 300000").count() == 15


def test_dir_mode_record_level_decode_skip(ref_testdata, tmp_path,
                                           monkeypatch):
    """Directory mode must apply the record-level bbox mask PER FILE —
    records outside the window are never geometry-decoded (the dir twin
    of test_bbox_header_prune_and_decode_skip's counter assertion)."""
    import shutil

    import go_shapefile_spark.sources.shapefile_core as core
    from pyspark.sql.datasource import LessThan as LT

    from go_shapefile_spark.sources.datasource import ShapefileDirReader

    d = tmp_path / "cnt"
    d.mkdir()
    for i in range(3):
        for ext in ("shp", "shx", "dbf"):
            shutil.copy(os.path.join(ref_testdata, f"poly.{ext}"),
                        d / f"t{i}.{ext}")
    rep = plan_shapefile(str(d / "t0"))
    schema = features_schema(rep).add("source_basename", "string")
    bases = [str(d / f"t{i}") for i in range(3)]
    reader = ShapefileDirReader(bases, rep, schema,
                                records_per_split=100, options=None)
    assert list(reader.pushFilters([LT(("bbox", "ymax"), 4765000.0)])) == []

    seen = []
    orig = core.parse_polygons_vectorized

    def counting(buf, offsets, *a, **k):
        seen.append(len(offsets))
        return orig(buf, offsets, *a, **k)

    monkeypatch.setattr(core, "parse_polygons_vectorized", counting)
    monkeypatch.setattr(
        "go_shapefile_spark.sources.shapefile.core.parse_polygons_vectorized",
        counting)
    total = 0
    for part in reader.partitions():
        for rb in reader.read(part):
            total += rb.num_rows
    # 3 files × 3 surviving records; the kernel gathered ONLY survivors
    assert total == 9
    assert seen == [3, 3, 3]


def test_flat_points_datasource_matches_function_reader(ds_spark, tmp_path):
    """flat_points=true on format("shapefile") must take the same
    Arrow-direct flat-point scan as read_shapefile_df(flat_points=True)
    (VERDICT r4 #7): identical rows, flat x/y schema, no geometry
    struct."""
    import numpy as np

    from go_shapefile_spark.sources.shapefile_writer import write_points

    rng = np.random.default_rng(21)
    base = str(tmp_path / "pts")
    write_points(base, rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500))
    df = (ds_spark.read.format("shapefile").option("path", base)
          .option("flat_points", "true")
          .option("records_per_split", "200").load())
    assert {"x", "y"} <= set(df.columns) and "geometry" not in df.columns
    via_fn = read_shapefile_df(ds_spark, base, flat_points=True,
                               target_records_per_split=200)
    got = sorted((r.fid, r.x, r.y) for r in df.collect())
    exp = sorted((r.fid, r.x, r.y) for r in via_fn.collect())
    assert got == exp and len(got) == 500
    # x/y predicates evaluate correctly (codegen'd over flat columns)
    lhs = df.where("x > 0 AND y < 10").count()
    rhs = via_fn.where("x > 0 AND y < 10").count()
    assert lhs == rhs > 0


def test_flat_points_datasource_dir_mode(ds_spark, tmp_path):
    """Directory mode + flat_points: per-file Arrow-direct batches with
    the source_basename column; basename equality still prunes files."""
    import numpy as np

    from go_shapefile_spark.sources.shapefile_writer import write_points

    rng = np.random.default_rng(22)
    d = tmp_path / "ptsdir"
    d.mkdir()
    for i in range(3):
        write_points(str(d / f"f{i}"), rng.uniform(-10, 10, 100),
                     rng.uniform(-10, 10, 100))
    df = (ds_spark.read.format("shapefile").option("path", str(d))
          .option("flat_points", "true").load())
    assert df.count() == 300
    per_file = {r.source_basename: r["count"] for r in
                df.groupBy("source_basename").count().collect()}
    assert per_file == {"f0": 100, "f1": 100, "f2": 100}
    assert df.where("source_basename = 'f1'").count() == 100


def test_flat_points_rejects_non_point_corpus(ds_spark, tmp_path):
    from go_shapefile_spark.sources.shapefile_writer import write_polygons

    base = str(tmp_path / "poly")
    write_polygons(base, [{"coords": [0, 0, 0, 1, 1, 1, 1, 0, 0, 0],
                           "ends": [10]}])
    with pytest.raises(Exception, match="Point-type"):
        (ds_spark.read.format("shapefile")
         .option("path", base)
         .option("flat_points", "true").load().collect())


def test_flat_points_reader_uses_vectorized_point_kernel(tmp_path,
                                                         monkeypatch):
    """Counter test (direct reader drive — worker monkeypatches don't
    propagate): the flat reader must call the vectorized point kernel
    once per split and emit flat Arrow columns."""
    import numpy as np
    import go_shapefile_spark.sources.shapefile as sf
    from go_shapefile_spark.sources.datasource import _Split
    from go_shapefile_spark.sources.shapefile import flat_points_schema
    from go_shapefile_spark.sources.shapefile_writer import write_points

    rng = np.random.default_rng(23)
    base = str(tmp_path / "pts")
    write_points(base, rng.uniform(-1, 1, 120), rng.uniform(-1, 1, 120))
    plan = plan_shapefile(base)
    calls = []
    orig = sf._parse_points_vectorized

    def counting(buf, rel, *a, **k):
        calls.append(len(rel))
        return orig(buf, rel, *a, **k)

    monkeypatch.setattr(sf, "_parse_points_vectorized", counting)
    reader = ShapefileReader(plan, flat_points_schema(plan),
                             records_per_split=60, flat=True)
    parts = reader.partitions()
    assert len(parts) == 2
    rows = 0
    for p in parts:
        for rb in reader.read(p):
            assert "x" in rb.schema.names and "y" in rb.schema.names
            rows += rb.num_rows
    assert rows == 120 and calls == [60, 60]


def test_flat_points_fid_pruning(tmp_path):
    """r5 review: flat mode must keep exact fid-range partition pruning
    (zero-I/O skip of whole splits) while yielding row masks back."""
    import numpy as np

    from go_shapefile_spark.sources.shapefile import flat_points_schema
    from go_shapefile_spark.sources.shapefile_writer import write_points

    rng = np.random.default_rng(24)
    base = str(tmp_path / "pts")
    write_points(base, rng.uniform(-1, 1, 120), rng.uniform(-1, 1, 120))
    plan = plan_shapefile(base)
    reader = ShapefileReader(plan, flat_points_schema(plan),
                             records_per_split=40, flat=True)
    from pyspark.sql.datasource import EqualTo as EQ
    from pyspark.sql.datasource import GreaterThan as GT
    leftover = list(reader.pushFilters([EQ(("fid",), 90), GT(("x",), 0.0)]))
    assert len(leftover) == 1 and leftover[0].attribute == ("x",)
    parts = reader.partitions()
    assert len(parts) == 1                       # pruned to one split
    rows = [rb for p in parts for rb in reader.read(p)]
    fids = [f for rb in rows for f in rb.column(0).to_pylist()]
    assert fids == [90]


# --- hermetic front-door parity: both front doors × both modes -------------

_FIELDS = [("NAME", "C", 8), ("AREA", "N", 12, 3), ("EAS_ID", "N", 6)]
_WINDOW = (2.5, 0.5, 7.5, 1.5)


def test_bbox_miss_decodes_no_dbf(tmp_path, monkeypatch):
    """A split whose record headers all miss the pushed bbox filters,
    while the file-header bounds pass them, is empty before its DBF
    decodes; a filter that keeps a record decodes the DBF once.  A DBF
    cut short of the split still fails that read, filter or not."""
    import go_shapefile_spark.sources.shapefile as sf
    from go_shapefile_spark.sources.shapefile_core import ShapefileError
    from go_shapefile_spark.sources.shapefile_writer import write_polygons

    base = str(tmp_path / "gap")
    # unit squares at x 0..1 and 9..10: the header spans x 0..10
    write_polygons(
        base, [{"coords": [x, 0, x, 1, x + 1, 1, x + 1, 0, x, 0],
                "ends": [10]} for x in (0, 9)],
        fields=[("NAME", "C", 4)], rows=[["a"], ["b"]])
    plan = plan_shapefile(base)
    decodes = []
    orig = sf._read_split_dbf

    def counting(*a, **k):
        decodes.append(a[1:3])
        return orig(*a, **k)

    monkeypatch.setattr(sf, "_read_split_dbf", counting)
    for filters, n_rows in (
            ([GreaterThan(("bbox", "xmax"), 4.0),
              LessThan(("bbox", "xmin"), 6.0)], 0),
            ([GreaterThan(("bbox", "xmax"), 4.0)], 1)):
        assert not sf._header_prunes(plan.header_bounds, filters)
        decodes.clear()
        r = ShapefileReader(plan, features_schema(plan),
                            records_per_split=100)
        assert list(r.pushFilters(filters)) == []
        [part] = r.partitions()
        assert sum(b.num_rows for b in r.read(part)) == n_rows
        assert decodes == ([(1, 2)] if n_rows else []), filters
    with open(base + ".dbf", "r+b") as f:
        f.truncate(os.path.getsize(base + ".dbf") - 3)
    for filters in ([], [GreaterThan(("bbox", "xmax"), 4.0),
                         LessThan(("bbox", "xmin"), 6.0)]):
        r = ShapefileReader(plan_shapefile(base), features_schema(plan),
                            records_per_split=100)
        list(r.pushFilters(filters))
        [part] = r.partitions()
        with pytest.raises(ShapefileError, match="unexpected EOF"):
            list(r.read(part))


def _write_rects(base, n, x0, name):
    from go_shapefile_spark.sources.shapefile_writer import write_polygons

    write_polygons(
        base, [{"coords": [x0 + i, 0, x0 + i, 1 + i % 3, x0 + i + 1,
                           1 + i % 3, x0 + i + 1, 0, x0 + i, 0], "ends": [10]}
               for i in range(n)],
        _FIELDS, [[f"{name}{i}", i * 1.5, 100 + i] for i in range(n)])


@pytest.fixture(scope="module")
def parity_corpus(tmp_path_factory):
    """Polygons with C/N/N-decimal fields, a zip bundle, a .shp with no
    .shx and a Point file, all sharing one DBF schema."""
    import zipfile

    import numpy as np

    from go_shapefile_spark.sources.shapefile_writer import write_points

    d = tmp_path_factory.mktemp("parity")
    _write_rects(str(d / "polys"), 12, 0, "p")
    zbase = str(tmp_path_factory.mktemp("zsrc") / "inzip")
    _write_rects(zbase, 9, 1.5, "z")
    with zipfile.ZipFile(d / "bundle.zip", "w") as zf:
        for ext in ("shp", "shx", "dbf"):
            zf.write(f"{zbase}.{ext}", f"inzip.{ext}")
    _write_rects(str(d / "noshx"), 7, 3, "n")
    os.remove(d / "noshx.shx")
    xs = np.arange(10) + 0.25
    write_points(str(d / "pts"), xs, xs / 5.0, fields=_FIELDS,
                 rows=[[f"q{i}", i * 1.5, 100 + i] for i in range(10)])
    return d


def _front_door(spark, door, mode, corpus, base, filt):
    """One read through ``door`` with filter ``filt`` pushed the way that
    door takes it."""
    from go_shapefile_spark.sources.shapefile import read_shapefile_dir

    path = str(corpus) if mode == "dir" else base
    x0, y0, x1, y1 = filt if isinstance(filt, tuple) else (None,) * 4
    if door == "function":
        kw = {"bbox": filt} if isinstance(filt, tuple) else {}
        df = (read_shapefile_dir(spark, path, target_records_per_split=4,
                                 **kw) if mode == "dir" else
              read_shapefile_df(spark, path, target_records_per_split=4,
                                **kw))
    else:
        df = (spark.read.format("shapefile").option("path", path)
              .option("records_per_split", "4").load())
        if isinstance(filt, tuple):
            df = df.where(f"bbox.xmax >= {x0} AND bbox.xmin <= {x1} AND "
                          f"bbox.ymax >= {y0} AND bbox.ymin <= {y1}")
    return df.where(filt) if isinstance(filt, str) else df


def _relational(spark, mode, corpus, base, filt):
    """The expectation: the unfiltered ``read_shapefile_df`` of every
    file, filtered relationally."""
    from pyspark.sql import functions as F

    from go_shapefile_spark.sources.shapefile import discover_shapefile_bases

    if mode == "dir":
        df = None
        for b in discover_shapefile_bases(str(corpus)):
            one = read_shapefile_df(spark, b).withColumn(
                "source_basename", F.lit(os.path.basename(b)))
            df = one if df is None else df.unionByName(one)
    else:
        df = read_shapefile_df(spark, base)
    if isinstance(filt, tuple):
        x0, y0, x1, y1 = filt
        df = df.where((F.col("bbox.xmax") >= x0) & (F.col("bbox.xmin") <= x1)
                      & (F.col("bbox.ymax") >= y0) & (F.col("bbox.ymin") <= y1))
    elif filt is not None:
        df = df.where(filt)
    return df


def _rows(df):
    key = ("source_basename", "fid") if "source_basename" in df.columns \
        else ("fid",)
    return sorted(df.collect(), key=lambda r: tuple(r[k] for k in key))


_FILTERS = {"none": None, "bbox": _WINDOW, "attr": "AREA > 4 AND EAS_ID < 108",
            "off_window": (1000.0, 1000.0, 1001.0, 1001.0)}


@pytest.mark.parametrize("filt", sorted(_FILTERS))
@pytest.mark.parametrize("mode", ["single", "dir"])
@pytest.mark.parametrize("door", ["function", "format"])
def test_front_door_parity(ds_spark, parity_corpus, door, mode, filt):
    """Every front door returns exactly the rows of a relational
    ``.where`` over the unfiltered function read — on a polygon file, a
    zip bundle, a .shp with no .shx and a Point file, singly and as one
    directory."""
    f = _FILTERS[filt]
    bases = [str(parity_corpus / b) for b in
             ("polys", "bundle.zip", "noshx", "pts")]
    for base in bases if mode == "single" else [None]:
        exp = _rows(_relational(ds_spark, mode, parity_corpus, base, f))
        got = _rows(_front_door(ds_spark, door, mode, parity_corpus, base, f))
        assert got == exp, (door, mode, filt, base)
        assert (len(exp) == 0) == (filt == "off_window"), (filt, base)


def test_read_shapefile_dir_is_one_scan_stage(ds_spark, parity_corpus):
    """The directory scan is one ``mapInArrow`` over ``spark.range``: no
    Python planning stage and no shuffle below it, and counting it runs
    at most two jobs."""
    from go_shapefile_spark.plans.audit import PYTHON_NODES, executed_plan
    from go_shapefile_spark.sources.shapefile import read_shapefile_dir

    df = read_shapefile_dir(ds_spark, str(parity_corpus))
    plan = executed_plan(df.groupBy().count())
    below = plan[plan.index("MapInArrow"):]
    assert "Exchange" not in below, plan
    assert sum(plan.count(m) for m in PYTHON_NODES) == 1, plan
    sc = ds_spark.sparkContext
    sc.setJobGroup("dir-count", "dir-count")
    try:
        assert df.count() == 12 + 9 + 7 + 10
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("dir-count")) <= 2
