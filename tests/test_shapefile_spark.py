"""Spark source tests: features DataFrame from fixtures, split parity."""

import os

import pytest
from pyspark.sql import functions as F

from go_shapefile_spark.sources.shapefile import file_metadata, read_shapefile_df


def test_poly_features_df(spark, ref_testdata):
    df = read_shapefile_df(spark, os.path.join(ref_testdata, "poly"))
    rows = df.orderBy("fid").collect()
    assert len(rows) == 10
    r0 = rows[0]
    assert r0.fid == 1
    assert r0.AREA == 215229.266
    assert r0.EAS_ID == 168
    assert r0.PRFEDEA == "35043411"
    assert r0.geometry.layout == "XY"
    assert r0.geometry.coords[0] == 479819.84375
    assert r0.bbox.xmin == pytest.approx(479647.0)
    # schema: N field with decimals → double, without → long (SURVEY §1.3)
    dt = dict(df.dtypes)
    assert dt["AREA"] == "double"
    assert dt["EAS_ID"] == "bigint"
    assert dt["PRFEDEA"] == "string"


def test_poly_split_parity(spark, ref_testdata):
    """SHX-driven multi-split read returns identical rows to a single split."""
    base = os.path.join(ref_testdata, "poly")
    whole = read_shapefile_df(spark, base).orderBy("fid").collect()
    split = read_shapefile_df(spark, base, target_records_per_split=3).orderBy("fid").collect()
    assert len(split) == 10
    assert [r.fid for r in split] == [r.fid for r in whole]
    assert [r.AREA for r in split] == [r.AREA for r in whole]
    assert [list(r.geometry.coords)[:4] for r in split] == \
           [list(r.geometry.coords)[:4] for r in whole]


def test_countries_zip_df(spark, ref_testdata):
    df = read_shapefile_df(spark, os.path.join(ref_testdata, "110m-admin-0-countries.zip"))
    assert df.count() == 177
    row = df.where(F.col("NAME") == "Afghanistan").collect()[0]
    assert row.POP_EST == 28400000.0
    assert row.LabelRank == 1
    assert row.LEVEL == 2.0
    agg = df.agg(F.min("bbox.xmin").alias("x0"), F.max("bbox.xmax").alias("x1")).collect()[0]
    assert agg.x0 == -179.99999999999997
    assert agg.x1 == 180.00000000000014


def test_read_shapefile_dir(spark, ref_testdata, tmp_path):
    """Directory source: multiple same-schema shapefiles union in
    parallel with a source_basename column."""
    import shutil

    from go_shapefile_spark.sources.shapefile import read_shapefile_dir
    d = tmp_path / "corpus"
    d.mkdir()
    for ext in ("shp", "shx", "dbf", "prj"):
        shutil.copy(os.path.join(ref_testdata, f"poly.{ext}"), d / f"a.{ext}")
        shutil.copy(os.path.join(ref_testdata, f"poly.{ext}"), d / f"b.{ext}")
    df = read_shapefile_dir(spark, str(d))
    assert df.count() == 20
    got = df.groupBy("source_basename").count().collect()
    assert {r.source_basename: r["count"] for r in got} == {"a": 10, "b": 10}
    assert df.where("source_basename = 'b' AND fid = 1").collect()[0].EAS_ID == 168


def test_read_shapefile_dir_many_files_and_bbox_prune(spark, ref_testdata,
                                                      tmp_path):
    """Many-file corpora: header planning runs inside tasks (driver does
    one listing + one representative plan), and a bbox window prunes
    whole files by their header bounds (VERDICT r2 #5/#6)."""
    import shutil

    from go_shapefile_spark.sources.shapefile import read_shapefile_dir
    d = tmp_path / "corpus30"
    d.mkdir()
    for i in range(30):
        for ext in ("shp", "shx", "dbf"):
            shutil.copy(os.path.join(ref_testdata, f"poly.{ext}"),
                        d / f"tile{i:03d}.{ext}")
    df = read_shapefile_dir(spark, str(d))
    assert df.count() == 300
    assert df.select("source_basename").distinct().count() == 30
    # poly header bounds sit near (478315, 4762880)-(481645, 4765610):
    # an intersecting window keeps all FILES, and within each file only
    # the records whose bounds intersect it (fids 8 and 9 for this
    # window — see the record-bounds dump in test_datasource); a remote
    # window prunes every file at header level
    assert read_shapefile_dir(spark, str(d),
                              bbox=(479000, 4763000, 480000, 4764000)) \
        .count() == 30 * 2
    assert read_shapefile_dir(spark, str(d), bbox=(0, 0, 10, 10)).count() == 0


def test_file_metadata(ref_testdata):
    md = file_metadata(os.path.join(ref_testdata, "poly"))
    assert md["shape_type"] == 5
    assert md["n_records"] == 10
    assert md["crs_wkt"] and "PROJCS" in md["crs_wkt"] or md["crs_wkt"]


def test_uri_reads_match_local_path(spark, ref_testdata):
    """file:// URIs (the pyarrow-fs remote path, reference ReadFS
    shapefile.go:208-320) return rows identical to bare local paths —
    splits, zip bundles, and the eager core API all resolve via fsio."""
    base = os.path.join(ref_testdata, "poly")
    local = read_shapefile_df(spark, base, target_records_per_split=3) \
        .orderBy("fid").collect()
    via_uri = read_shapefile_df(spark, f"file://{base}",
                                target_records_per_split=3) \
        .orderBy("fid").collect()
    assert via_uri == local

    zpath = os.path.join(ref_testdata, "110m-admin-0-countries.zip")
    n_zip = read_shapefile_df(spark, f"file://{zpath}").count()
    assert n_zip == 177

    from go_shapefile_spark.sources.shapefile_core import read_shapefile
    sf = read_shapefile(f"file://{base}")
    assert sf.num_records() == 10

    md = file_metadata(f"file://{base}")
    assert md["n_records"] == 10


def test_vectorized_polygon_kernel_parity(spark, tmp_path, monkeypatch):
    """The batched polygon kernel (Arrow emit path) must return exactly
    what the per-record reference parser returns — including ring-winding
    decomposition for holes and multipolygons."""
    import numpy as np

    from go_shapefile_spark.sources.shapefile_core import read_shapefile
    from go_shapefile_spark.sources.shapefile_writer import write_polygons

    def rect(x0, y0, x1, y1, ccw=False):
        ring = [x0, y0, x0, y1, x1, y1, x1, y0, x0, y0]
        if ccw:
            pts = list(zip(ring[0::2], ring[1::2]))[::-1]
            ring = [v for p in pts for v in p]
        return ring

    # winding per reference: CW outer opens a polygon, CCW is a hole
    outer = rect(0, 0, 10, 10)
    hole = rect(2, 2, 4, 4, ccw=True)
    a2 = rect(20, 0, 25, 5)
    b1 = rect(40, 0, 45, 5)
    b2 = rect(50, 0, 55, 5)
    polys = [
        {"coords": outer + hole, "ends": [10, 20]},   # polygon with hole
        {"coords": b1 + b2, "ends": [10, 20]},        # two polygons
        {"coords": a2, "ends": [10]},                 # simple
    ] * 7                                             # several per split
    base = str(tmp_path / "mix")
    write_polygons(base, polys)

    ref = read_shapefile(base)
    # sanity: the fixture really exercises both decompositions
    assert [len(e) for e in ref.shp.records[0].endss] == [2]
    assert [len(e) for e in ref.shp.records[1].endss] == [1, 1]

    # the kernel must actually engage (checked in-process, where the
    # monkeypatch is visible — executors import the real module)
    from pyspark.sql.pandas.types import to_arrow_schema

    from go_shapefile_spark.sources import shapefile_core as core
    from go_shapefile_spark.sources.shapefile import (
        features_schema, plan_shapefile, read_split)

    def no_fallback(*a, **k):
        raise AssertionError("vectorized polygon kernel fell back")

    monkeypatch.setattr(core, "parse_shp_range", no_fallback)
    plan2 = plan_shapefile(base)
    rb = read_split(plan2, 1, len(polys) + 1,
                    to_arrow_schema(features_schema(plan2)))
    assert rb.num_rows == len(polys)
    monkeypatch.undo()

    rows = read_shapefile_df(spark, base, target_records_per_split=5) \
        .orderBy("fid").collect()
    assert len(rows) == len(polys)
    for i, row in enumerate(rows):
        rec = ref.shp.records[i]
        assert list(row.geometry.coords) == rec.coords.tolist()
        assert list(row.geometry.ends) == [int(e) for e in rec.ends]
        assert list(row.geometry.rings) == [len(e) for e in rec.endss]
        assert row.bbox.xmin == rec.bounds[0]
        assert row.bbox.ymax == rec.bounds[3]
        assert row.geometry.layout == "XY"


def test_vectorized_polyline_kernel_parity(spark, tmp_path, monkeypatch):
    """Polyline records through the batched kernel match the per-record
    parser (no winding pass; rings stay empty)."""
    import struct as _struct

    import numpy as np

    from go_shapefile_spark.sources import shapefile_core as core
    from go_shapefile_spark.sources.shapefile_writer import _shx_header

    rng = np.random.default_rng(3)
    recs, offs = [], []
    pos = 100
    for i in range(30):
        npts = int(rng.integers(2, 9))
        parts = [0] if npts < 5 else [0, npts // 2]
        xy = rng.uniform(-50, 50, 2 * npts)
        body = _struct.pack("<I4dII", 3, xy[0::2].min(), xy[1::2].min(),
                            xy[0::2].max(), xy[1::2].max(), len(parts), npts)
        body += np.asarray(parts, dtype="<u4").tobytes()
        body += xy.astype("<f8").tobytes()
        recs.append(_struct.pack(">II", i + 1, len(body) // 2) + body)
        offs.append((pos // 2, len(body) // 2))
        pos += 8 + len(body)
    payload = b"".join(recs)
    base = str(tmp_path / "lines")
    bbox = (-50.0, -50.0, 50.0, 50.0)
    with open(base + ".shp", "wb") as f:
        f.write(_shx_header(3, 100 + len(payload), bbox) + payload)
    shx = b"".join(_struct.pack(">II", o, l) for o, l in offs)
    with open(base + ".shx", "wb") as f:
        f.write(_shx_header(3, 100 + len(shx), bbox) + shx)

    # kernel engages in-process
    from pyspark.sql.pandas.types import to_arrow_schema

    from go_shapefile_spark.sources.shapefile import (
        features_schema, plan_shapefile, read_split)
    monkeypatch.setattr(core, "parse_shp_range",
                        lambda *a, **k: (_ for _ in ()).throw(
                            AssertionError("fell back")))
    plan = plan_shapefile(base)
    rb = read_split(plan, 1, 31, to_arrow_schema(features_schema(plan)))
    assert rb.num_rows == 30
    monkeypatch.undo()

    ref = core.read_shapefile(base)
    rows = read_shapefile_df(spark, base, target_records_per_split=7) \
        .orderBy("fid").collect()
    for i, row in enumerate(rows):
        rec = ref.shp.records[i]
        assert list(row.geometry.coords) == rec.coords.tolist()
        assert list(row.geometry.ends) == [int(e) for e in rec.ends]
        assert list(row.geometry.rings) == []
        assert row.shape_type == 3


def _job_count(spark, action) -> int:
    """Spark jobs started by ``action()``, counted under its own job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_scan_is_one_job_in_fid_order(spark, tmp_path, local_caps):
    """Splits come from ``spark.range``, one per task, with no shuffle:
    counting a one-split file runs exactly one Spark job, and a 3-split
    read returns the same fids in the same order as a single-split read
    (flat-point path too).  ``SCAN_BYTES=0`` keeps the small one-split
    file on the distributed scan."""
    import numpy as np

    from go_shapefile_spark.sources.shapefile_writer import (write_points,
                                                             write_polygons)

    local_caps(SCAN_BYTES=0)
    ring = [0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0]
    base = str(tmp_path / "sq")
    write_polygons(base, [{"coords": [v + i for v in ring], "ends": [10]}
                          for i in range(10)])
    assert _job_count(spark, read_shapefile_df(spark, base).count) == 1

    whole = read_shapefile_df(spark, base).collect()
    split = read_shapefile_df(spark, base, target_records_per_split=4)
    assert split.rdd.getNumPartitions() == 3
    split = split.collect()
    assert [r.fid for r in split] == [r.fid for r in whole] == \
        list(range(1, 11))
    assert [r.bbox.xmin for r in split] == [float(i) for i in range(10)]

    pbase = str(tmp_path / "pts")
    write_points(pbase, np.arange(10.0), np.arange(10.0))
    flat = read_shapefile_df(spark, pbase, flat_points=True,
                             target_records_per_split=4)
    assert flat.rdd.getNumPartitions() == 3
    assert [(r.fid, r.x) for r in flat.collect()] == \
        [(i + 1, float(i)) for i in range(10)]


def _fake_plan(n: int, record_bytes: int):
    """The fields ``split_bounds`` reads, for ``n`` range-readable
    records of ``record_bytes`` scan bytes each (8-byte header
    included, no ``.dbf``)."""
    from types import SimpleNamespace

    import numpy as np

    return SimpleNamespace(n_records=n, is_zip=False,
                           shx_offsets=np.zeros(n, np.int64),
                           shx_lengths=np.full(n, record_bytes - 8, np.int64),
                           dbf_record_size=0)


@pytest.mark.parametrize("n, cap, slots, rps, k", [
    (1000, 100_000, 4, 100_000, 1),   # bytes == cap: one split (driver)
    (1000, 99_999, 4, 100_000, 1),    # one cap's worth: still one split
    (1000, 50_000, 4, 100_000, 2),
    (1000, 30_000, 4, 100_000, 3),    # no split under the cap
    (1000, 10_000, 4, 100_000, 4),    # at most the slot count
    (1000, 10_000, 1, 100_000, 1),    # DataSource planner: no slots known
    (1000, 0, 4, 100_000, 1),         # a cap <= 0 spreads nothing
    (1000, -1, 4, 100_000, 1),
    (1000, 10_000, 4, 100, 10),       # records_per_split still bounds
    (1000, 10_000, 16, 300, 10),
    (3, 1, 8, 100_000, 3),            # at most one split per record
])
def test_split_rule_spreads_by_bytes(local_caps, n, cap, slots, rps, k):
    """``split_bounds`` on 100-byte records (``n * 100`` scan bytes):
    ``max(ceil(n / rps), min(slots, n, bytes // SCAN_BYTES))`` balanced,
    contiguous splits covering every fid."""
    from go_shapefile_spark.sources.shapefile import split_bounds

    local_caps(SCAN_BYTES=cap)
    splits = split_bounds(_fake_plan(n, 100), rps, slots=slots)
    assert len(splits) == k
    assert splits[0][0] == 1 and splits[-1][1] == n + 1
    assert all(a[1] == b[0] for a, b in zip(splits, splits[1:]))
    sizes = [b - a for a, b in splits]
    assert max(sizes) - min(sizes) <= 1


def test_split_rule_counts_the_range_bytes(local_caps):
    """A pushed fid range spreads by the bytes of its own records."""
    from go_shapefile_spark.sources.shapefile import split_bounds

    local_caps(SCAN_BYTES=10_000)
    assert split_bounds(_fake_plan(1000, 100), 100_000, lo=501, hi=1001,
                        slots=8) == [(501 + 100 * i, 601 + 100 * i)
                                     for i in range(5)]


def test_read_shapefile_df_bbox_window(spark, ref_testdata):
    """bbox window on the function front door: pre-decode pushdown on the
    SHX path, post-parse filter on zips — identical rows either way, and
    both equal the unpushed scan filtered relationally."""
    base = os.path.join(ref_testdata, "poly")
    # intersects records 8 and 9 only (ymax ≤ 4764000 band)
    window = (478000.0, 4762900.0, 482000.0, 4764000.0)
    qx0, qy0, qx1, qy1 = window
    pred = (F.col("bbox.xmax") >= qx0) & (F.col("bbox.xmin") <= qx1) & \
           (F.col("bbox.ymax") >= qy0) & (F.col("bbox.ymin") <= qy1)
    exp = sorted(r.fid for r in
                 read_shapefile_df(spark, base).where(pred).collect())
    got = sorted(r.fid for r in
                 read_shapefile_df(spark, base, bbox=window).collect())
    assert got == exp and 0 < len(got) < 10
    # whole-file prune for an off-window bbox
    assert read_shapefile_df(spark, base, bbox=(0, 0, 1, 1)).count() == 0
    # zip path (post-parse filter): countries in a northern window
    zpath = os.path.join(ref_testdata, "110m-admin-0-countries.zip")
    wz = (-10.0, 50.0, 20.0, 60.0)
    got_z = sorted(r.NAME for r in
                   read_shapefile_df(spark, zpath, bbox=wz).collect())
    exp_z = sorted(r.NAME for r in read_shapefile_df(spark, zpath).where(
        (F.col("bbox.xmax") >= wz[0]) & (F.col("bbox.xmin") <= wz[2]) &
        (F.col("bbox.ymax") >= wz[1]) & (F.col("bbox.ymin") <= wz[3])).collect())
    assert got_z == exp_z and "Germany" in got_z


def test_unknown_record_count_read(spark, tmp_path):
    """A bare .shp with no .shx/.dbf has an unknown record count
    (plan.n_records = -1) and reads via one sequential split whose
    fid_end is a large sentinel — the read must size every per-record
    array from the records actually present, not the sentinel span
    (round-3 regression: an unconditional arange over the span
    attempted an 8 TiB allocation)."""
    import shutil

    import numpy as np

    from go_shapefile_spark.sources.shapefile import plan_shapefile
    from go_shapefile_spark.sources.shapefile_writer import (write_points,
                                                             write_polygons)

    rng = np.random.default_rng(11)
    pbase = str(tmp_path / "barepts")
    write_points(pbase, rng.uniform(-10, 10, 50), rng.uniform(-10, 10, 50))
    os.remove(pbase + ".shx")
    assert plan_shapefile(pbase).n_records == -1
    flat = read_shapefile_df(spark, pbase, flat_points=True).collect()
    assert [r.fid for r in flat] == list(range(1, 51))
    nested = read_shapefile_df(spark, pbase).collect()
    assert [r.fid for r in nested] == list(range(1, 51))

    ring = [0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0]
    gbase = str(tmp_path / "barepolys")
    write_polygons(gbase, [{"coords": ring, "ends": [10]}] * 7)
    with_shx = read_shapefile_df(spark, gbase).collect()
    os.remove(gbase + ".shx")
    bare = read_shapefile_df(spark, gbase).collect()
    assert [r.fid for r in bare] == [r.fid for r in with_shx] == list(range(1, 8))


def test_missing_shapefile_raises(spark, tmp_path):
    """A path with no .shp/.shx/.dbf, or a zip basename matching no
    member, raises instead of reading as a 0-row frame — through every
    front door: the function reader, ``format("shapefile")`` (single file
    and a directory member) and ``file_metadata``; a lone .shp (every
    other component absent) still reads."""
    import zipfile

    import numpy as np

    from go_shapefile_spark.sources.datasource import ShapefileDataSource
    from go_shapefile_spark.sources.shapefile_core import ShapefileError
    from go_shapefile_spark.sources.shapefile_writer import write_points

    missing = str(tmp_path / "no_such_file")
    with pytest.raises(ShapefileError, match="no .shp, .shx or .dbf"):
        read_shapefile_df(spark, missing)
    with pytest.raises(ShapefileError, match="no .shp, .shx or .dbf"):
        read_shapefile_df(spark, missing, flat_points=True)
    with pytest.raises(ShapefileError, match="no .shp, .shx or .dbf"):
        file_metadata(missing)
    spark.dataSource.register(ShapefileDataSource)
    with pytest.raises(Exception, match="no .shp, .shx or .dbf"):
        spark.read.format("shapefile").option("path", missing).load().count()

    base = str(tmp_path / "pts")
    write_points(base, np.arange(5.0), np.arange(5.0))
    zpath = str(tmp_path / "pts.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for ext in ("shp", "shx"):
            zf.write(f"{base}.{ext}", f"pts.{ext}")
    assert read_shapefile_df(spark, zpath, basename="pts").count() == 5
    with pytest.raises(ShapefileError, match="other"):
        read_shapefile_df(spark, zpath, basename="other")
    zdir = tmp_path / "zdir"
    zdir.mkdir()
    os.rename(zpath, zdir / "pts.zip")
    with pytest.raises(Exception, match="no .shp, .shx or .dbf"):
        (spark.read.format("shapefile").option("path", str(zdir))
         .option("basename", "other").load().count())
    # the planned file reads; the zip member named "a" is missing in-task
    write_points(str(zdir / "a"), np.arange(3.0), np.arange(3.0))
    with pytest.raises(Exception, match="no .shp, .shx or .dbf"):
        (spark.read.format("shapefile").option("path", str(zdir))
         .option("basename", "a").load().count())

    os.remove(base + ".shx")
    assert read_shapefile_df(spark, base).count() == 5


# --- driver-local scan of small files (local.SCAN_BYTES) ----------------------

_SMALL_FIELDS = [("NAME", "C", 8), ("AREA", "N", 12, 3), ("EAS_ID", "N", 6)]


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    """Small range-readable files: polygons (one with a hole, one in two
    parts) and polylines with C/N/N-decimal fields, a Point file and an
    empty polygon file."""
    import numpy as np

    from go_shapefile_spark.sources.shapefile_writer import (
        write_points, write_polygons, write_polylines)

    d = tmp_path_factory.mktemp("small")
    rect = [0.0, 0.0, 0.0, 2.0, 2.0, 2.0, 2.0, 0.0, 0.0, 0.0]
    hole = [0.5, 0.5, 1.5, 0.5, 1.5, 1.5, 0.5, 1.5, 0.5, 0.5]
    polys = [{"coords": [v + i for v in rect], "ends": [10]}
             for i in range(8)]
    polys[2] = {"coords": rect + hole, "ends": [10, 20]}
    polys[5] = {"coords": rect + [v + 4 for v in rect], "ends": [10, 20]}
    rows = [[f"p{i}", i * 1.5, 100 + i] for i in range(8)]
    rows[3] = [None, None, None]
    write_polygons(str(d / "polys"), polys, _SMALL_FIELDS, rows)
    write_polylines(str(d / "lines"),
                    [{"coords": [i, 0.0, i + 1.0, 1.0, i + 2.0, 0.0],
                      "ends": [6]} for i in range(5)], _SMALL_FIELDS,
                    [[f"l{i}", i / 4, i] for i in range(5)])
    xs = np.arange(10) + 0.25
    write_points(str(d / "pts"), xs, xs / 5.0, _SMALL_FIELDS,
                 [[f"q{i}", i * 1.5, 100 + i] for i in range(10)])
    write_polygons(str(d / "empty"), [], _SMALL_FIELDS, [])
    return d


def _is_local(df) -> bool:
    """True when the read is a driver-built LocalRelation (no scan task)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "MapInArrow" not in plan


@pytest.mark.parametrize("base, kw", [
    ("polys", {}), ("lines", {}), ("pts", {}),
    ("pts", {"flat_points": True}),
    ("polys", {"bbox": (2.5, 0.5, 5.5, 1.5)}),
    ("pts", {"flat_points": True, "bbox": (2.0, 0.0, 6.0, 1.0)}),
    ("empty", {})])
def test_driver_local_read_equals_distributed(spark, small_corpus,
                                              local_caps, base, kw):
    """A small one-split file reads on the driver; the rows, their order,
    the schema and its nullability equal the distributed read's (a cap
    of -1: the empty file's 0 bytes are within a cap of 0)."""
    path = str(small_corpus / base)
    got = read_shapefile_df(spark, path, **kw)
    local_caps(SCAN_BYTES=-1)
    exp = read_shapefile_df(spark, path, **kw)
    assert _is_local(got) and not _is_local(exp)
    assert got.schema == exp.schema
    assert [f.nullable for f in got.schema.fields] == \
        [f.nullable for f in exp.schema.fields]
    rows = got.collect()
    assert rows == exp.collect()
    assert (len(rows) == 0) == (base == "empty")


def test_scan_bytes_cap_is_exact(spark, small_corpus, local_caps):
    """``scan_bytes`` is the bytes the scan reads (every .shp record and
    .dbf record); a file one byte over the cap takes the distributed
    scan, and both read the same rows."""
    from go_shapefile_spark.sources.shapefile import plan_shapefile, scan_bytes

    path = str(small_corpus / "polys")
    plan = plan_shapefile(path)
    assert scan_bytes(plan) == (os.path.getsize(path + ".shp") - 100
                                + plan.n_records * plan.dbf_record_size)
    local_caps(SCAN_BYTES=scan_bytes(plan))
    at_cap = read_shapefile_df(spark, path)
    local_caps(SCAN_BYTES=scan_bytes(plan) - 1)
    over = read_shapefile_df(spark, path)
    assert _is_local(at_cap) and not _is_local(over)
    assert at_cap.collect() == over.collect()


def test_only_one_range_read_split_goes_driver_local(spark, small_corpus,
                                                     tmp_path):
    """Several splits, a zip member and a .shp without .shx keep the
    distributed scan, however small."""
    import shutil
    import zipfile

    path = str(small_corpus / "polys")
    assert not _is_local(read_shapefile_df(spark, path,
                                           target_records_per_split=4))
    zpath = str(tmp_path / "polys.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for ext in ("shp", "shx", "dbf"):
            zf.write(f"{path}.{ext}", f"polys.{ext}")
    assert not _is_local(read_shapefile_df(spark, zpath))
    bare = str(tmp_path / "bare")
    for ext in ("shp", "dbf"):
        shutil.copyfile(f"{path}.{ext}", f"{bare}.{ext}")
    assert not _is_local(read_shapefile_df(spark, bare))


def test_small_read_runs_no_job_and_no_python(spark, small_corpus):
    """A bounded collect of a small file runs no Spark job, and its
    executed plan has no Python node."""
    from go_shapefile_spark.plans.audit import assert_no_python_udf

    df = read_shapefile_df(spark, str(small_corpus / "polys"))
    got = []
    assert _job_count(spark, lambda: got.extend(df.limit(3).collect())) == 0
    assert [r.fid for r in got] == [1, 2, 3]
    assert_no_python_udf(df)
