"""Plan audits: the scale properties claimed in docstrings hold in the
actual physical plans (SURVEY.md §4)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from go_shapefile_spark.functions import cells as C
from go_shapefile_spark.plans.audit import (
    assert_broadcast_join, assert_no_python_udf, assert_pruned_schema,
    assert_pushed_filters, executed_plan, in_wholestage_codegen,
)


def test_parquet_pushdown_and_pruning(spark, sf_dir):
    df = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .where(F.col("l_quantity") > 30)
          .select("l_orderkey", "l_quantity"))
    assert_pushed_filters(df, "l_quantity")
    assert_pruned_schema(df, 2)


def test_spatial_join_is_broadcast(spark, ref_testdata):
    import os

    from go_shapefile_spark.operators.spatial_join import (
        polygons_from_features, spatial_join)
    from go_shapefile_spark.sources.shapefile import read_shapefile_df
    feats = read_shapefile_df(
        spark, os.path.join(ref_testdata, "110m-admin-0-countries.zip"))
    polys = polygons_from_features(feats.select("fid", "geometry").collect())
    rng = np.random.default_rng(1)
    pts = spark.createDataFrame(pd.DataFrame({
        "id": np.arange(500), "lon": rng.uniform(-180, 180, 500),
        "lat": rng.uniform(-90, 90, 500)}))
    joined = spatial_join(spark, pts, polys, res=6)
    # the big (point) side must never shuffle before the join: cover is
    # broadcast, so the only exchanges are for the broadcast itself
    plan = executed_plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rasterize_pixel_stages_are_jvm(spark):
    """E8 vector→raster: past the cover build, rasterization is pure JVM
    — no polygon broadcast, no Python stage (VERDICT r2 #2) — and the
    partial rows' crossing predicate runs inside whole-stage codegen:
    with AQE off its Filter prints ``*(n) Filter`` and no generated
    method exceeds 8,000 bytecode bytes, so HotSpot compiles them."""
    from go_shapefile_spark.operators.tiles import rasterize_polygons
    from go_shapefile_spark.plans.audit import (
        HUGE_METHOD_BYTES, aqe_off, filter_codegen_stages,
        max_generated_method_bytes, python_operators)

    square = [10.0, 10.0, 10.0, 40.0, 40.0, 40.0, 40.0, 10.0, 10.0, 10.0]
    t = np.linspace(0, 2 * np.pi, 241)
    circle = np.column_stack([-60 + 25 * np.cos(-t),
                              10 + 25 * np.sin(-t)]).ravel()
    polys = [{"fid": 1, "coords": np.array(square), "ends": [10]},
             {"fid": 2, "coords": circle, "ends": [len(circle)]}]
    for tile_px in (8, 16):
        raster = rasterize_polygons(spark, polys, res=4, tile_px=tile_px)
        with aqe_off(spark):
            assert not python_operators(raster)
            stages = filter_codegen_stages(raster, "_sj_e7_ax")
            assert stages and all(stages), executed_plan(raster)
            assert max_generated_method_bytes(raster) <= HUGE_METHOD_BYTES
        assert raster.count() > 0


def test_tile_counts_single_shuffle(spark):
    from go_shapefile_spark.operators.tiles import tile_counts
    pts = spark.range(1000).select(
        (F.rand(1) * 360 - 180).alias("lon"), (F.rand(2) * 180 - 90).alias("lat"))
    tiles = tile_counts(pts, res=7)
    # one Exchange for the groupBy (plus possibly AQE reads); partial
    # aggregation must appear before it
    plan = executed_plan(tiles)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan
    assert_no_python_udf(tiles)


def test_cell_expr_stays_in_codegen(spark):
    pts = spark.range(1000).select(
        (F.rand(1) * 360 - 180).alias("lon"), (F.rand(2) * 180 - 90).alias("lat"))
    df = pts.select(F.expr(C.cell_sql("lon", "lat", 9)).alias("cell"))
    assert_no_python_udf(df)
    assert in_wholestage_codegen(df)


def test_q5_join_order_broadcasts_dims(spark, sf_dir):
    """Catalyst must broadcast the small dims (region/nation/supplier)
    rather than shuffling lineitem against them."""
    import __spark_entry__ as entry
    df = entry.queries()["q5_region_revenue"](spark, sf_dir)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan


def test_dedup_runners_pin_signature_subtrees(spark, sf_dir):
    """Regression guard for the silent CacheManager failure (round 4):
    the minhash/simhash/embedding runners must plan over checkpointed
    LogicalRDD leaves — a plan that re-reads parquet or re-runs a
    Generate (shingle/signature explode) means the expensive subtree is
    being recomputed per CTE reference again."""
    from collections import Counter

    import __spark_entry__ as entry

    qs = entry.queries()

    def nodes(df):
        c = Counter()

        def walk(n):
            c[n.nodeName()] += 1
            if n.nodeName() == "AdaptiveSparkPlan":
                walk(n.initialPlan())
                return
            ch = n.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return c

    # (query, max parquet scans allowed, generates allowed)
    expectations = [
        ("dedup_minhash_lsh", 0, 0),     # everything pinned
        ("simhash_pairs", 0, 0),
        ("embedding_neardup_bucketed", 2, 0),  # verify joins re-read rel
        ("ngram_jaccard_pairs", 0, 0),
        # stop-filtered minhash: shingles/kept/mh all pinned upstream
        ("dedup_minhash_stopfiltered", 0, 0),
        # overlap pairs: the winnow+df-filter head is pinned, so the
        # fp self-join must see only LogicalRDD leaves (r5: the inlined
        # aggregate was mis-estimated as broadcastable and OOM'd at 50k)
        ("fingerprint_overlap_pairs", 0, 0),
        # sparse cosine: kept_tf pins before the inverted-index
        # self-join (tokenize+tf would otherwise recompute per side)
        ("sparse_cosine_pairs", 0, 0),
    ]
    for name, max_scans, max_gen in expectations:
        c = nodes(qs[name](spark, sf_dir))
        assert c.get("Scan ExistingRDD", 0) >= 1, (name, dict(c))
        assert c.get("Scan parquet ", 0) <= max_scans, (name, dict(c))
        assert c.get("Generate", 0) <= max_gen, (name, dict(c))


def test_neardup_pair_engine_pins_hash_build(spark):
    """The shared banded pair engine references its signature relation
    four times (ranked, identical-hash join, both band sides); without
    a pin Spark inlines the decode+hash Python stage per reference
    (measured: 4 Python map nodes).  The pair plan must contain ZERO
    Python stages — the hash build lives behind a pinned leaf — and no
    nested-loop/cartesian join anywhere."""
    from collections import Counter

    from go_shapefile_spark.operators.multimodal import (
        audio_neardup_pairs, image_neardup_pairs)
    from go_shapefile_spark.plans.audit import PYTHON_NODES
    from go_shapefile_spark.sources.audio import generate_audio_batch
    from go_shapefile_spark.sources.images import (IMAGES_SCHEMA,
                                                   generate_batch)

    def nodes(df):
        c = Counter()

        def walk(n):
            c[n.nodeName()] += 1
            if n.nodeName() == "AdaptiveSparkPlan":
                walk(n.initialPlan())
                return
            ch = n.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return c

    aud = spark.createDataFrame(generate_audio_batch(0, 24))
    img = spark.createDataFrame(generate_batch(0, 24),
                                schema=IMAGES_SCHEMA)
    for pairs in (audio_neardup_pairs(aud), image_neardup_pairs(img)):
        c = nodes(pairs)
        assert not any(c.get(m) for m in PYTHON_NODES), dict(c)
        assert c.get("Scan ExistingRDD", 0) >= 1, dict(c)
        assert c.get("BroadcastNestedLoopJoin", 0) == 0, dict(c)
        assert c.get("CartesianProduct", 0) == 0, dict(c)
