"""Emit a physical-plan audit report for the engine's headline paths.

Writes PLANS.md: for each audited query — the property assertions
(broadcast join, pushed filters, pruned schema, no Python in JVM-only
paths) plus a trimmed `.explain("formatted")` so reviewers can see the
actual plans the engine runs.

Usage: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def local_root(plan: str) -> bool:
    """The bounded driver-local finish: the whole executed plan is one
    local result relation.  A distributed plan that merely CONTAINS a
    LocalTableScan (a VALUES offset table) does not qualify."""
    return plan.startswith("LocalTableScan")


def formatted(df, max_lines: int = 60) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    lines = buf.getvalue().splitlines()
    return "\n".join(lines[:max_lines])


def codegen_checks(spark, build) -> list[tuple[str, bool]]:
    """The join stage runs compiled: its BroadcastHashJoin sits inside
    whole-stage codegen and no generated method is too big for HotSpot
    to JIT.  ``build`` makes the DataFrame with AQE off, whose initial
    plan would show no codegen stages."""
    from go_shapefile_spark.plans import audit

    with audit.aqe_off(spark):
        df = build()
        return [("BroadcastHashJoin inside whole-stage codegen",
                 audit.broadcast_joins_in_codegen(df)),
                (f"largest generated method <= {audit.HUGE_METHOD_BYTES} B",
                 audit.max_generated_method_bytes(df)
                 <= audit.HUGE_METHOD_BYTES)]


def main() -> None:
    from go_shapefile_spark.operators.geotag import with_lonlat_jvm
    from go_shapefile_spark.operators.knn import knn_radius
    from go_shapefile_spark.operators.spatial_join import (
        polygons_from_features, spatial_join)
    from go_shapefile_spark.operators.tiles import tile_counts
    from go_shapefile_spark.plans import audit
    from go_shapefile_spark.session import get_spark
    from go_shapefile_spark.sources.shapefile import read_shapefile_df

    spark = get_spark(app_name="explain-audit", cores=4, shuffle_partitions=8)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    feats = read_shapefile_df(
        spark, "/root/reference/testdata/110m-admin-0-countries.zip")
    polys = polygons_from_features(feats.select("fid", "geometry").collect())
    pts = with_lonlat_jvm(
        spark.range(100000).select(F.col("id").alias("idx"),
                                   F.xxhash64("id").alias("phash")))

    sections = []

    joined = spatial_join(spark, pts, polys, res=7,
                          keep_cols=["idx", "polygon_fid"])
    checks = []
    plan = audit.executed_plan(joined)
    checks.append(("BroadcastHashJoin used", "BroadcastHashJoin" in plan))
    checks.append(("no SortMergeJoin", "SortMergeJoin" not in plan))
    checks += codegen_checks(spark, lambda: spatial_join(
        spark, pts, polys, res=7, keep_cols=["idx", "polygon_fid"]))
    try:
        audit.assert_no_python_udf(joined)
        checks.append(("no Python nodes", True))
    except AssertionError:
        checks.append(("no Python nodes", False))
    sections.append(("Spatial join (broadcast cell cover + unrolled "
                     "crossing refinement)", checks, formatted(joined)))

    tiles = tile_counts(pts, res=7)
    plan = audit.executed_plan(tiles)
    checks = [
        ("single hash-partitioning exchange",
         plan.count("Exchange hashpartitioning") == 1),
        ("map-side partial aggregation", "HashAggregate" in plan),
    ]
    sections.append(("Tile rollup", checks, formatted(tiles)))

    knn = knn_radius(pts.withColumnRenamed("idx", "id"),
                     pts.withColumnRenamed("idx", "id").where("id % 100 = 0"),
                     k=5, radius_deg=2.0)
    try:
        audit.assert_no_python_udf(knn)
        ok = True
    except AssertionError:
        ok = False
    sections.append(("Cell-local kNN", [("no Python nodes", ok)], formatted(knn)))

    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity"))
    plan = audit.executed_plan(li)
    checks = [
        ("filter pushed to parquet scan", "PushedFilters: [" in plan
         and "l_quantity" in plan.split("PushedFilters", 1)[1][:200]),
        ("schema pruned to 2 columns", True),
    ]
    audit.assert_pruned_schema(li, 2)
    sections.append(("Parquet pushdown/pruning", checks, formatted(li)))

    # distributed-cover join: same predicate shape, cover built via
    # mapInArrow (no driver collect), then broadcast — forced, since
    # 177 countries are within local.COVER_FEATURES
    from go_shapefile_spark.operators import local
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)
    cap, local.COVER_FEATURES = local.COVER_FEATURES, 0
    try:
        cover = PreparedCover.from_features(feats.select("fid", "geometry"),
                                            res=7)
    finally:
        local.COVER_FEATURES = cap
    joined2 = spatial_join_prepared(pts, cover,
                                    keep_cols=["idx", "polygon_fid"])
    plan = audit.executed_plan(joined2)
    checks = [
        ("BroadcastHashJoin used", "BroadcastHashJoin" in plan),
        ("no CartesianProduct/BNLJ",
         "CartesianProduct" not in plan
         and "BroadcastNestedLoopJoin" not in plan),
        *codegen_checks(spark, lambda: spatial_join_prepared(
            pts, cover, keep_cols=["idx", "polygon_fid"])),
    ]
    sections.append(("Spatial join against DISTRIBUTED-built cover "
                     "(PreparedCover.from_features)", checks, formatted(joined2)))

    # shapefile DataSource: pushed filters reach the Python scan
    from go_shapefile_spark.sources.datasource import ShapefileDataSource
    spark.dataSource.register(ShapefileDataSource)
    ds = (spark.read.format("shapefile")
          .option("path", "/root/reference/testdata/poly").load()
          .where("AREA > 300000 AND fid > 2").select("fid", "AREA"))
    plan = audit.executed_plan(ds)
    fmt = formatted(ds)
    checks = [
        ("filters pushed into the Python data source",
         "PushedFilters: [" in fmt and "GreaterThan(AREA,300000.0)" in fmt),
        ("no residual Filter node (source applied them exactly)",
         "Filter (" not in fmt and ds.count() == 3),
    ]
    sections.append(("shapefile DataSource filter pushdown "
                     "(fid split pruning + attribute masks)",
                     checks, formatted(ds)))

    # bbox pushdown: the comparison is evaluated inside the source against
    # record-header bounds (before geometry decode); it must vanish from
    # the post-scan plan
    ds_bb = (spark.read.format("shapefile")
             .option("path", "/root/reference/testdata/poly").load()
             .where("bbox.xmin > 479000").select("fid"))
    plan = audit.executed_plan(ds_bb)
    checks = [
        ("bbox comparison absent from post-scan plan (pushed)",
         "479000" not in plan),
        ("rows filtered by the source", ds_bb.count() == 9),
    ]
    sections.append(("shapefile DataSource bbox pushdown "
                     "(record-header bounds before decode)",
                     checks, formatted(ds_bb)))

    # distributed rasterize: past the (cached, mapInArrow) cover build
    # the pixel stages are JVM, and the partial rows' crossing Filter
    # runs compiled in methods HotSpot JITs
    from go_shapefile_spark.operators.tiles import rasterize_polygons
    raster = rasterize_polygons(spark, polys[:5], res=5, tile_px=8)
    with audit.aqe_off(spark):
        stages = audit.filter_codegen_stages(raster, "_sj_e7_ax")
        method = audit.max_generated_method_bytes(raster)
        checks = [
            ("no Python nodes past the cover build",
             not audit.python_operators(raster)),
            (f"crossing Filter inside whole-stage codegen "
             f"({', '.join(stages) or 'none'})", bool(stages) and all(stages)),
            (f"largest generated method {method} B <= "
             f"{audit.HUGE_METHOD_BYTES} B", method <= audit.HUGE_METHOD_BYTES)]
    sections.append(("Vector→raster tiles (the join's split cover, "
                     "clipped-edge crossing predicate per pixel)",
                     checks, formatted(raster)))

    # exact-kNN terminal round: salted equi-join, never one cell key
    from go_shapefile_spark.operators.knn import _terminal_topk
    qs = pts.withColumnRenamed("idx", "id").where("id % 5000 = 0")
    term = _terminal_topk(pts.withColumnRenamed("idx", "id"), qs, k=5)
    plan = audit.executed_plan(term)
    checks = [
        ("join keyed on the 32-value salt", "salt" in plan),
        ("no CartesianProduct/BNLJ", "CartesianProduct" not in plan
         and "BroadcastNestedLoopJoin" not in plan),
    ]
    sections.append(("Exact-kNN terminal round (salted complete top-k)",
                     checks, formatted(term)))

    # banded-dedup runners: checkpointed signature leaves, no recompute
    # (round-4 CacheManager finding; tree-walk guard lives in test_plans)
    import __spark_entry__ as entry
    mh = entry.queries()["dedup_minhash_lsh"](spark, sf_dir)
    plan = audit.executed_plan(mh)
    checks = [
        ("signature subtrees are checkpointed LogicalRDD leaves",
         "Scan ExistingRDD" in plan),
        ("no parquet re-scan inside the banded joins",
         "Scan parquet" not in plan),
        ("no shingle explode recompute (no Generate)",
         "Generate" not in plan),
    ]
    sections.append(("MinHash-LSH banded join over pinned signatures",
                     checks, formatted(mh)))

    mhs = entry.queries()["dedup_minhash_stopfiltered"](spark, sf_dir)
    plan = audit.executed_plan(mhs)
    checks = [
        ("filtered signature subtrees are pinned leaves",
         "Scan ExistingRDD" in plan),
        ("no parquet re-scan / shingle recompute",
         "Scan parquet" not in plan and "Generate" not in plan),
    ]
    sections.append(("MinHash-LSH stop-shingle variant (pinned, "
                     "df-filtered signatures)", checks, formatted(mhs)))

    # winnowed-fingerprint overlap pairs: pinned fps relation, and the
    # fp self-join must SHUFFLE — checkpointed LogicalRDDs preserve the
    # origin plan's (under-)Statistics, so without the template's
    # /*+ MERGE */ hint Spark broadcast the 22M-row rehearsal side and
    # OOM'd an 8 GB heap (BENCH.md round-5 finding #3)
    op = entry.queries()["fingerprint_overlap_pairs"](spark, sf_dir)
    plan = audit.executed_plan(op)
    checks = [
        ("fingerprint relation is a pinned leaf (no winnow recompute)",
         "Scan ExistingRDD" in plan and "Generate" not in plan
         and "Window" not in plan),
        ("pair join is a shuffle join on fp, not a broadcast",
         "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan),
    ]
    sections.append(("Winnowed-fingerprint overlap pairs (pinned, "
                     "hinted shuffle self-join)", checks, formatted(op)))

    # sketch statistics: builtin JVM aggregates, one pass
    sk = entry.queries()["sketch_stats"](spark, sf_dir)
    plan = audit.executed_plan(sk)
    checks = [
        ("no Python nodes (HLL++/quantile sketches are JVM builtins)",
         "Python" not in plan and "ArrowEval" not in plan),
        ("single scan of the documents table",
         plan.count("Scan parquet") == 1),
    ]
    sections.append(("Sketch statistics (HLL distinct + approx quantiles)",
                     checks, formatted(sk)))

    # flat-point scan: Arrow-direct batches (one mapInArrow stage, no
    # other Python stage) — the billions-of-points read path
    from go_shapefile_spark.sources.shapefile_writer import write_points
    flat_base = os.path.join("/tmp", "audit_flatpts")
    if not os.path.exists(flat_base + ".shp"):
        rng = np.random.default_rng(4)
        write_points(flat_base, rng.uniform(-180, 180, 10_000),
                     rng.uniform(-90, 90, 10_000))
    flat = read_shapefile_df(spark, flat_base, flat_points=True,
                             target_records_per_split=2_500)
    plan = audit.executed_plan(flat)
    checks = [
        ("Arrow-batched map stage (MapInArrow), not row-at-a-time",
         "MapInArrow" in plan or "PythonMapInArrow" in plan),
        ("no other Python stage",
         sum(plan.count(m) for m in audit.PYTHON_NODES) == 1),
    ]
    sections.append(("Flat-point shapefile scan (Arrow-direct batches)",
                     checks, formatted(flat)))

    # GeoJSON JVM export: HOF coordinate rebuild + to_json — the plan
    # must carry no Python worker.  Audited over a parquet-backed
    # features table so the (mapInArrow) shapefile source doesn't mask
    # a regression in the export itself; assert_no_python_udf is the
    # same tree-walk guard the JVM-only tests use.
    from go_shapefile_spark.functions.geojson import features_to_geojson_jvm
    feats_pq = "/tmp/audit_feats_parquet"
    feats.select("fid", "shape_type", "geometry") \
        .write.mode("overwrite").parquet(feats_pq)
    gj = features_to_geojson_jvm(spark.read.parquet(feats_pq))
    try:
        audit.assert_no_python_udf(gj)
        ok = True
    except AssertionError:
        ok = False
    sections.append(("GeoJSON polygon export (JVM fast path)",
                     [("no Python nodes (pure HOF + to_json)", ok)],
                     formatted(gj)))

    # audio near-dup pair engine: the decode+fingerprint Python stage
    # must be a pinned leaf (it is referenced four times — ranked,
    # identical-hash join, both band sides — and would otherwise run
    # per reference), and the candidate join must be a banded equi-join
    from go_shapefile_spark.operators.multimodal import audio_neardup_pairs
    from go_shapefile_spark.sources.audio import generate_audio_batch
    apairs = audio_neardup_pairs(
        spark.createDataFrame(generate_audio_batch(0, 48)))
    plan = audit.executed_plan(apairs)
    checks = [
        ("decode+fingerprint pinned (no Python stage in the pair plan)",
         not any(m in plan for m in audit.PYTHON_NODES)
         and "Scan ExistingRDD" in plan),
        ("banded equi-join, no CartesianProduct/BNLJ",
         "CartesianProduct" not in plan
         and "BroadcastNestedLoopJoin" not in plan),
    ]
    sections.append(("Audio near-dup pairs (pinned spectral fingerprints, "
                     "banded candidates)", checks, formatted(apairs)))

    # DataSource flat mode: fid equality must prune to one split at
    # plan time and absorb the predicate (no residual fid Filter)
    dsf = (spark.read.format("shapefile")
           .option("path", flat_base).option("flat_points", "true")
           .option("records_per_split", "2500").load()
           .where("fid = 4242"))
    fmt_dsf = formatted(dsf)
    plan = audit.executed_plan(dsf)
    checks = [
        # formatted-explain node match ("Filter (3)"), like the other
        # DataSource section — the scan detail legitimately prints
        # "PushedFilters: [...]", and executed_plan's treeString prints
        # a residual FilterExec without an index (r5 review)
        ("fid predicate absorbed by the source (no residual Filter)",
         "Filter (" not in fmt_dsf),
        ("flat double columns in scan output", "x#" in plan),
    ]
    sections.append(("shapefile DataSource flat mode (fid pruning)",
                     checks, formatted(dsf)))

    # geometry kernels: simplify -> measures composes as scan + ONE
    # more MapInArrow (simplify runs inside the scan task, measures
    # chains onto it: batched per-feature kernels — a DELIBERATE
    # Arrow-Python stage, like decode) with NO shuffle
    from go_shapefile_spark.operators.geometry import (geom_measures,
                                                       simplify_features)
    gm = geom_measures(simplify_features(feats, eps=0.1))
    plan = audit.executed_plan(gm)
    base = audit.executed_plan(feats.select("fid"))
    checks = [
        # the source contributes one MapInArrow (the parse); the
        # kernels must add zero shuffles and exactly one Arrow stage
        ("kernels add no Exchange over the bare scan",
         plan.count("Exchange") == base.count("Exchange")),
        ("simplify fuses into the parse, measures chains on (+1 "
         "MapInArrow)",
         plan.count("MapInArrow") == base.count("MapInArrow") + 1),
    ]
    sections.append(("Geometry simplify + measures (batched Arrow "
                     "kernels)", checks, formatted(gm)))

    # sequence packing: the shard-local window means the only sort is
    # within hash-partitioned shards — no global ordering anywhere
    from go_shapefile_spark.operators.text import pack_sequences_sql
    from go_shapefile_spark.queries import register_tables
    register_tables(spark, sf_dir)
    pk = spark.sql(pack_sequences_sql("spark"))
    plan = audit.executed_plan(pk)
    checks = [
        ("shard-local sort only (no global Sort/Exchange rangepartitioning)",
         "rangepartitioning" not in plan.lower()),
        ("window partitioned by shard (hashpartitioning)",
         "hashpartitioning" in plan.lower()),
    ]
    try:
        audit.assert_no_python_udf(pk)
        checks.append(("no Python nodes", True))
    except AssertionError:
        checks.append(("no Python nodes", False))
    sections.append(("Sequence packing (shard-local window + rollup)",
                     checks, formatted(pk)))

    # PQ ANN: candidates reach ADC through centroid/neighbor equi-joins
    # only — a BNLJ or cartesian here would mean the index degenerated
    # to brute force over the corpus
    from go_shapefile_spark.operators.similarity import pq_ann_topk
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pq = pq_ann_topk(emb, k=10, n_probe=24)
    plan = audit.executed_plan(pq)
    checks = [
        ("no BroadcastNestedLoopJoin", "BroadcastNestedLoopJoin" not in plan),
        ("no CartesianProduct", "CartesianProduct" not in plan),
        ("coarse lists probed via equi-join",
         "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
         or "ShuffledHashJoin" in plan),
    ]
    sections.append(("PQ ANN search (probed inverted lists + ADC + "
                     "exact refine)", checks, formatted(pq)))

    # vector tiles: the tile fan-out happens INSIDE the Arrow kernel,
    # and the kernel runs inside the scan task, so the plan must be ONE
    # mapInArrow over the split ids (Range) — any Exchange above the
    # Range would mean rows were duplicated per-tile through a shuffle
    from go_shapefile_spark.operators.vector_tiles import vector_tiles
    vt = vector_tiles(feats, res=4)
    plan = audit.executed_plan(vt)
    checks = [
        ("one Arrow stage: the clip runs in the scan task",
         plan.count("MapInArrow") == 1),
        ("no Exchange above the split ids (Range)",
         "Exchange" not in plan[:plan.index("Range")]),
        ("no row-at-a-time Python", "BatchEvalPython" not in plan),
    ]
    sections.append(("Vector-tile clipping (batched Sutherland-Hodgman, "
                     "in-kernel tile fan-out)", checks, formatted(vt)))

    # grid-DBSCAN: the eps-neighbor search must be a hash equi-join on
    # the grid key (9-key ring), never a BNLJ/cartesian distance join
    from go_shapefile_spark.operators.clustering import dbscan
    db_pts = pts.selectExpr("idx AS id", "lon", "lat").limit(20000)
    db = dbscan(db_pts, eps=2.0, min_pts=4)
    plan = audit.executed_plan(db)
    checks = [
        ("no CartesianProduct", "CartesianProduct" not in plan),
        ("no BroadcastNestedLoopJoin",
         "BroadcastNestedLoopJoin" not in plan),
    ]
    sections.append(("Grid-DBSCAN (eps-grid 9-key equi-join + "
                     "connected components)", checks, formatted(db)))

    # heatmap: one shuffle (the pixel groupBy), JVM-only splat
    from go_shapefile_spark.operators.tiles import heatmap
    hm = heatmap(pts, ppd=1)
    plan = audit.executed_plan(hm)
    checks = [
        # two-stage raster since the pre-aggregation rewrite: pixel
        # pre-agg shuffle + final splat-agg shuffle (3.8x at 100M pts)
        ("two hash-partitioning exchanges (pre-agg + raster agg)",
         plan.count("Exchange hashpartitioning") == 2),
        ("map-side partial aggregation", "HashAggregate" in plan),
    ]
    try:
        audit.assert_no_python_udf(hm)
        checks.append(("no Python nodes", True))
    except AssertionError:
        checks.append(("no Python nodes", False))
    sections.append(("KDE heatmap splat (3x3 kernel, single shuffle)",
                     checks, formatted(hm)))

    # heavy hitters: the data-proportional recount scan must be pure
    # codegen — the Python sketch stage only feeds candidate literals
    from go_shapefile_spark.operators.sketches import heavy_hitters
    toks = spark.sql(
        "SELECT explode(split(lower(text), '[^a-z0-9]+')) AS tok "
        "FROM documents").where("tok <> ''")
    hh = heavy_hitters(toks, col="tok", capacity=64)
    plan = audit.executed_plan(hh)
    checks = [
        ("recount scan is JVM-only (no Python stage)",
         not any(m in plan for m in audit.PYTHON_NODES)),
        ("map-side partial aggregation", "HashAggregate" in plan),
    ]
    sections.append(("Heavy hitters (Misra-Gries sketch + exact "
                     "candidate recount)", checks, formatted(hh)))

    # adaptive quadtree: the (R+1)-way level fan-out must stay a hash
    # equi-join against the tiny counts relation; the point stream
    # shuffles once per aggregate, never per level
    from go_shapefile_spark.operators.tiles import adaptive_cells_body
    from go_shapefile_spark.queries import SPARK, geotagged_events_cte
    aq = spark.sql(f"WITH {geotagged_events_cte(SPARK)},"
                   f"{adaptive_cells_body(SPARK, max_res=8, k=50)}")
    plan = audit.executed_plan(aq)
    checks = [
        # the (R+1)-row levels table cross-joins as a tiny broadcast
        # (intended); the DATA joins (counts/leaf lookups) must be hash
        # equi-joins and nothing may plan a true cartesian
        ("counts/leaf lookups are hash equi-joins",
         ("BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
          or "SortMergeJoin" in plan)),
        ("no CartesianProduct", "CartesianProduct" not in plan),
        ("map-side partial aggregation", "HashAggregate" in plan),
    ]
    try:
        audit.assert_no_python_udf(aq)
        checks.append(("no Python nodes", True))
    except AssertionError:
        checks.append(("no Python nodes", False))
    sections.append(("Adaptive quadtree tiling (one-shot min-level "
                     "collapse)", checks, formatted(aq)))

    # IDW surface: 3x3 ring equi-join, integer-weighted sums
    from go_shapefile_spark.operators.tiles import idw_body
    iq = spark.sql(f"WITH {geotagged_events_cte(SPARK)},"
                   f"{idw_body(SPARK)}")
    plan = audit.executed_plan(iq)
    checks = [
        # the 9-row kernel table cross-joins as a tiny broadcast
        # (intended); the ring lookup against the point relation must
        # be a hash equi-join and nothing may plan a true cartesian
        ("ring lookup is a hash equi-join",
         ("BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
          or "SortMergeJoin" in plan)),
        ("no CartesianProduct", "CartesianProduct" not in plan),
        ("map-side partial aggregation", "HashAggregate" in plan),
    ]
    try:
        audit.assert_no_python_udf(iq)
        checks.append(("no Python nodes", True))
    except AssertionError:
        checks.append(("no Python nodes", False))
    sections.append(("IDW interpolation surface (quantized integer "
                     "weights)", checks, formatted(iq)))

    # sparse-cosine join: kept_tf must be a pinned leaf (no re-tokenize
    # per self-join side) and the index join a hash equi-join
    import __spark_entry__ as entry
    sc = entry.queries()["sparse_cosine_pairs"](spark, sf_dir)
    plan = audit.executed_plan(sc)
    checks = [
        ("kept_tf is a pinned leaf (no parquet scan, no Generate)",
         "Scan parquet" not in plan and "Generate" not in plan),
        ("inverted-index join is a hash equi-join",
         "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
         or "SortMergeJoin" in plan),
    ]
    sections.append(("Sparse-cosine similarity join (pinned inverted "
                     "index)", checks, formatted(sc)))

    # z-order range query: the Morton encode must appear ONCE (projection)
    # and the interval join is the tiny broadcast — never an OR chain
    # that re-inlines the encode per branch
    zq = entry.queries()["zorder_range_query"](spark, sf_dir)
    plan = audit.executed_plan(zq)
    checks = [
        ("interval join is a tiny broadcast (BNLJ over the 32-row "
         "VALUES)", "BroadcastNestedLoopJoin" in plan),
        ("no cartesian product", "CartesianProduct" not in plan),
    ]
    try:
        audit.assert_no_python_udf(zq)
        checks.append(("no Python nodes", True))
    except AssertionError:
        checks.append(("no Python nodes", False))
    sections.append(("Z-order range query (interval cover + residual "
                     "predicate)", checks, formatted(zq)))

    # spatial statistics: the queen-contiguity neighbor relation must
    # plan as a hash equi-join on the offset cell key (never a distance
    # cartesian), and the whole statistic stays JVM-side
    for gate, title in (("spatial_autocorr",
                         "Moran/Geary spatial autocorrelation "
                         "(queen-contiguity equi-join)"),
                        ("getis_ord_hotspots",
                         "Getis-Ord Gi* hot spots (grid-bounded "
                         "top-k)")):
        g = entry.queries()[gate](spark, sf_dir)
        plan = audit.executed_plan(g)
        checks = [
            ("neighbor lookup is a hash equi-join",
             "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
             or "SortMergeJoin" in plan),
            ("no CartesianProduct", "CartesianProduct" not in plan),
        ]
        try:
            audit.assert_no_python_udf(g)
            checks.append(("no Python nodes", True))
        except AssertionError:
            checks.append(("no Python nodes", False))
        sections.append((title, checks, formatted(g)))

    # geohash rollup: one projection computes the interleave, the
    # rollup is a plain hash aggregate, all JVM
    gh = entry.queries()["geohash_rollup"](spark, sf_dir)
    plan = audit.executed_plan(gh)
    checks = [("hash aggregate", "HashAggregate" in plan),
              ("no joins at all", "Join" not in plan)]
    try:
        audit.assert_no_python_udf(gh)
        checks.append(("no Python nodes", True))
    except AssertionError:
        checks.append(("no Python nodes", False))
    sections.append(("Geohash rollup (single-projection interleave)",
                     checks, formatted(gh)))

    # raster map algebra + trajectory + Hilbert (r5 fifth wave): all
    # dialect-free relational templates — must stay fully JVM, no
    # cartesian products; the separable blur should show the two
    # cascaded aggregations, Hilbert the LUT broadcast-join chain
    for gate, title, extra in (
            ("focal_blur",
             "Separable 5x5 blur (two cascaded 1-D splats)",
             [("two blur aggregations (x-pass, y-pass) present",
               lambda p: p.count("HashAggregate") >= 4)]),
            ("contour_segments",
             "Marching-squares contours (corner splat + case lookup)",
             [("case lookup is a broadcast join",
               lambda p: "BroadcastHashJoin" in p)]),
            ("slope_aspect",
             "Horn slope/aspect (splat-transposed stencil)", []),
            ("trajectory_hausdorff",
             "Trajectory Hausdorff (anchor-cell candidates, "
             "dir-table single pass)",
             [("candidate pairing is an equi-join",
               lambda p: "CartesianProduct" not in p)]),
            ("hilbert_rollup",
             "Hilbert rollup (state-machine LUT broadcast joins)",
             [("LUT levels are broadcast hash joins",
               lambda p: p.count("BroadcastHashJoin") >= 8)]),
            ("distance_transform",
             "Grid distance transform (bounded-grid driver BFS; "
             "distributed self-loop chain above the cutoff)",
             # r6: when the aggregated grid is provably bounded the
             # rounds run vectorized on the driver and the visible
             # plan is the local result relation; unbounded inputs
             # show the pinned distributed chain instead
             [("local result relation or pinned leaves",
               lambda p: local_root(p)
               or "Scan ExistingRDD" in p or "LogicalRDD" in p
               or "Scan parquet" in p)]),
            # r5 sixth wave: all dialect-free relational templates
            ("skyline_events",
             "Distributed pareto skyline (bucket-local prune + "
             "global pass)",
             [("two window passes (local, global)",
               lambda p: p.count("Window") >= 2)]),
            ("triangle_counts",
             "Triangle counting (degree-oriented wedge join)",
             [("wedge close is equi-join only",
               lambda p: "BroadcastNestedLoopJoin" not in p)]),
            ("flow_accumulation",
             "D8 flow accumulation (unrolled inflow rounds)", []),
            ("gps_glitch_filter",
             "GPS-glitch filter (integer-domain speed test)", []),
            ("funnel_conversion",
             "Funnel conversion (stage-chained user-keyed joins)", []),
            ("cohort_retention", "Cohort retention matrix", []),
            ("boilerplate_ngrams",
             "Boilerplate n-gram curation (hot-set equi-join)",
             [("positions stream past the hot set via equi-join",
               lambda p: "BroadcastNestedLoopJoin" not in p)]),
            ("json_props_rollup",
             "JSON property rollup (JVM-side extraction)",
             # AQE's formatted output hides codegen span labels;
             # JVM-ness is the no-Python check, pruning shows here
             [("scan pruned to (event_type, props)",
               lambda p: "struct<event_type:string,props:string>"
               in p)]),
            ("trajectory_resample",
             "Trajectory resampling (bracketing windows + lerp)",
             [("no joins over raw pairs",
               lambda p: "SortMergeJoin" not in p
               and "CartesianProduct" not in p)]),
            ("viewshed_cells",
             "Viewshed (integer line-of-sight, grid-bounded samples)",
             # the SQL template always runs (a driver-side evaluator
             # was tried and reverted in r6): the per-sample elevation
             # lookup must be a hash equi-join (the 1-row observer
             # cross-joins via BNLJ by design)
             [("hash equi-join elevation lookup",
               lambda p: ("SortMergeJoin" in p or "BroadcastHashJoin" in p)
               and "LeftOuter" in p)]),
            ("exact_percentiles",
             "Exact grouped percentiles (cumulative-count windows)",
             []),
            # (kmeans audited below — the gate runs the pinned runner,
            # so the visible plan is the final rollup over pinned
            # leaves, not the in-round broadcast assignment)
            ("direction_rose",
             "Direction rose (libm-free octants)", []),
            ("spacetime_pairs",
             "Knox space-time bands (9-offset pair join)",
             [("pair join is an equi-join",
               lambda p: "CartesianProduct" not in p)]),
            ("private_tiles",
             "Privacy tile release (k-anonymity + noise LUT)",
             # regression guard for the inferred-isnotnull pushdown:
             # the scan-level filter must NOT inline the morton chain
             [("no fat isnotnull filter at the scan",
               lambda p: "isnotnull(cast(conv" not in p)]),
            ("attribution_last_touch",
             "Last-touch attribution (asof union-window)",
             [("no per-pair join",
               lambda p: "CartesianProduct" not in p)]),
            ("covisit_lift",
             "Co-visitation lift (within-basket pairs)",
             [("basket pair join is an equi-join",
               lambda p: "CartesianProduct" not in p)]),
            ("duplicate_spans",
             "Duplicate-span cut list (flag + islands merge)", []),
            ("zonal_majority", "Zonal majority (argmax per zone)", []),
            ("activity_profile",
             "Activity profile (epoch-pure seasonality)", []),
            ("cost_distance",
             "Chamfer cost distance (bounded-grid driver min-plus; "
             "distributed self-loop chain above the cutoff)",
             [("local result relation or pinned leaves",
               lambda p: local_root(p)
               or "Scan ExistingRDD" in p or "LogicalRDD" in p
               or "Scan parquet" in p)]),
            ("kmeans_events",
             "Planar k-means (pinned Lloyd runner)",
             [("rounds read pinned leaves",
               lambda p: "Scan ExistingRDD" in p
               or "LogicalRDD" in p)])):
        g = entry.queries()[gate](spark, sf_dir)
        plan = audit.executed_plan(g)
        checks = [(name, fn(plan)) for name, fn in extra]
        checks.append(("no CartesianProduct",
                       "CartesianProduct" not in plan))
        try:
            audit.assert_no_python_udf(g)
            checks.append(("no Python nodes", True))
        except AssertionError:
            checks.append(("no Python nodes", False))
        sections.append((title, checks, formatted(g)))

    with open("PLANS.md", "w") as f:
        f.write("# PLANS — physical-plan audit of the engine's hot paths\n\n")
        f.write("Generated by `python tools/explain_audit.py`.\n\n")
        for title, checks, plan_text in sections:
            f.write(f"## {title}\n\n")
            for name, ok in checks:
                f.write(f"- {'✅' if ok else '❌'} {name}\n")
            f.write("\n```\n" + plan_text + "\n```\n\n")
    print("wrote PLANS.md")
    bad = [n for _, cs, _ in sections for n, ok in cs if not ok]
    if bad:
        print("FAILED checks:", bad)
        raise SystemExit(1)
    spark.stop()


if __name__ == "__main__":
    main()
