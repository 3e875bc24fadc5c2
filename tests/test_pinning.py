"""Pinned-relation strategies (operators/pinning.py): the durability
seam for the LSH-signature materializations (VERDICT r4 #2).

``local`` = executor-local checkpoint (gate default, plan-guarded in
test_plans.py); ``storage`` = parquet materialization + scan-back,
which must survive the loss of every cached/checkpointed block — the
cluster-failure mode localCheckpoint cannot survive."""

import os

import pytest
from pyspark.sql import functions as F

from go_shapefile_spark.operators.pinning import (fresh_pins, pin_dir,
                                                  pin_strategy)


def _destroy_all_persisted_blocks(spark):
    """Simulate executor-storage loss: unpersist every persistent RDD
    (this is what an executor crash does to a localCheckpoint — the
    blocks are gone and the LogicalRDD leaf cannot recompute)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist(True)
    spark.catalog.clearCache()


def _sig_df(spark):
    """A stand-in signature relation with a md5 chain (the expensive
    subtree the dedup runners pin)."""
    return (spark.range(0, 500)
            .select(F.col("id"),
                    F.substring(F.md5(F.col("id").cast("string")), 1, 8)
                    .alias("sig")))


def test_storage_pin_survives_block_loss(spark, pin_strategy_conf):
    with pin_strategy_conf("storage"):
        pinned = fresh_pins(spark, "t_storage_loss")(_sig_df(spark))
    before = sorted(r.sig for r in pinned.collect())
    _destroy_all_persisted_blocks(spark)
    after = sorted(r.sig for r in pinned.collect())   # re-reads parquet
    assert after == before and len(after) == 500
    # the pinned relation is a columnar file scan, not an RDD leaf:
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan


def test_local_pin_is_rdd_leaf(spark, pin_strategy_conf):
    with pin_strategy_conf("local"):
        pinned = fresh_pins(spark, "t_local_leaf")(_sig_df(spark))
    plan = pinned._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan     # physically cannot re-inline/recompute


def test_storage_pins_recycle_previous_call(spark, pin_strategy_conf):
    with pin_strategy_conf("storage"):
        first = fresh_pins(spark, "t_recycle")(spark.range(0, 10))
        path0 = os.path.join(pin_dir(spark), "t_recycle_0")
        assert first.count() == 10 and os.path.isdir(path0)
        # a NEW factory for the same slot deletes the previous call's
        # files at creation time (the slot's path numbering then
        # restarts at _0)
        pin2 = fresh_pins(spark, "t_recycle")
        assert not os.path.exists(path0)
        second = pin2(spark.range(0, 5))
        assert second.count() == 5


def test_intra_call_pins_chain(spark, pin_strategy_conf):
    """Iterative operators chain pins (round N reads round N-1) and the
    final consumer reads ALL rounds — pins of one call must all stay
    alive until the slot's next invocation."""
    with pin_strategy_conf("storage"):
        pin = fresh_pins(spark, "t_chain")
        lv0 = pin(spark.range(0, 16).select(F.col("id"),
                                            (F.col("id") % 4).alias("b")))
        lv1 = pin(lv0.groupBy("b").agg(F.sum("id").alias("s")))
    total = lv1.agg(F.sum("s")).collect()[0][0]
    assert total == 120
    assert lv0.count() == 16    # round-0 pin still readable


def test_strategy_resolution_order(spark, pin_strategy_conf):
    """The session conf is the only way to choose: ``local`` when
    unset, the conf's value when set, ValueError on an unknown one."""
    assert pin_strategy(spark) == "local"
    with pin_strategy_conf("storage"):
        assert pin_strategy(spark) == "storage"
    with pin_strategy_conf("bogus"):
        with pytest.raises(ValueError, match="pin strategy"):
            pin_strategy(spark)
    assert pin_strategy(spark) == "local"


def test_minhash_gate_identical_under_storage_pins(spark, sf_dir,
                                                   pin_strategy_conf):
    """The dedup gate's rows must be identical under either strategy —
    the pin is a materialization detail, never a semantics change."""
    import __spark_entry__ as entry
    q = entry.queries()["dedup_minhash_lsh"]
    local_rows = sorted(map(tuple, q(spark, sf_dir).collect()))
    with pin_strategy_conf("storage"):
        storage_rows = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert storage_rows == local_rows and len(local_rows) > 0


def test_operator_results_survive_repeat_calls(spark):
    """Regression (r5 review): two tile_pyramid / knn-style calls in one
    session must not invalidate the first call's returned DataFrame —
    public operators pin under anonymous per-call slots."""
    from pyspark.sql import functions as F

    from go_shapefile_spark.operators.tiles import tile_pyramid

    pts1 = spark.range(0, 200).select(
        (F.col("id") % 36 * 10 - 180.0).alias("lon"),
        (F.col("id") % 18 * 10 - 90.0).alias("lat"))
    pts2 = spark.range(0, 50).select(
        F.lit(0.5).alias("lon"), F.lit(0.5).alias("lat"))
    p1 = tile_pyramid(pts1, max_res=2)
    n1 = p1.count()
    p2 = tile_pyramid(pts2, max_res=2)
    assert p2.count() > 0
    assert p1.count() == n1          # first result still computable


def test_release_pins_frees_session(spark):
    from go_shapefile_spark.operators.pinning import (_PINS, fresh_pins,
                                                      release_pins)
    pin = fresh_pins(spark, None)
    pin(spark.range(5))
    assert any(k[0] == id(spark) for k in _PINS)
    release_pins(spark)
    assert not any(k[0] == id(spark) for k in _PINS)


def test_release_pins_frees_covers_and_rasters(spark, local_caps):
    """The distributed join cover and the raster pin through the seam:
    after ``release_pins`` the session holds no persisted RDD."""
    from go_shapefile_spark.operators.pinning import release_pins
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)
    from go_shapefile_spark.operators.tiles import rasterize_features

    release_pins(spark)
    _destroy_all_persisted_blocks(spark)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    square = [0.0, 0.0, 0.0, 10.0, 10.0, 10.0, 10.0, 0.0, 0.0, 0.0]
    features = spark.createDataFrame(
        [(1, {"layout": "XY", "coords": square, "ends": [10]})],
        "fid long, geometry struct<layout:string, coords:array<double>, "
        "ends:array<int>>")
    local_caps(COVER_FEATURES=0)    # one feature would cover on the driver
    cover = PreparedCover.from_features(features, res=4)
    pts = spark.createDataFrame([(5.0, 5.0), (50.0, 5.0)],
                                "lon double, lat double")
    assert spatial_join_prepared(pts, cover).count() == 1
    assert rasterize_features(features, res=4).count() > 0
    assert len(persisted()) >= 2
    release_pins(spark)
    assert len(persisted()) == 0, list(persisted().keys())


def _recording_pin(spark):
    """A local pin factory that also records each pinned relation's
    rows, in pin order."""
    pin = fresh_pins(spark, None)
    seen = []

    def rec(df):
        out = pin(df)
        seen.append(sorted(map(tuple, out.collect())))
        return out

    return rec, seen


def test_pin_ctes_parses_literals_hints_and_comments(spark):
    """Parentheses inside string literals, a ``/*+ ... */`` hint and a
    ``--`` comment must not derail the WITH-list parse; pinned CTEs
    keep their names, so the final query and later CTEs read them
    unchanged."""
    from go_shapefile_spark.operators.pinning import pin_ctes

    pin, seen = _recording_pin(spark)
    sql = """
WITH base AS (
  SELECT id, 'x AS (' AS tag, ')' AS close   -- ) not a close, x AS (
  FROM range(6)),
part AS (
  SELECT /*+ REPARTITION(64, u) */ id AS u, tag FROM base WHERE id % 2 = 0),
agg AS (SELECT COUNT(*) AS n, MIN(tag) AS t FROM part)
SELECT n, t, (SELECT MAX(close) FROM base) AS c FROM agg
"""
    final, pinned = pin_ctes(spark, sql, ["base", "part"], pin)
    assert list(pinned) == ["base", "part"]
    assert seen[0] == [(i, "x AS (", ")") for i in range(6)]
    assert seen[1] == [(0, "x AS ("), (2, "x AS ("), (4, "x AS (")]
    assert [tuple(r) for r in final.collect()] == [(3, "x AS (", ")")]
    plan = final._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Range" not in plan


def test_pin_ctes_pins_exact_name_only(spark):
    """Pinning ``cand`` must leave ``cand2`` (a name with ``cand`` as
    prefix) computed from the original text."""
    from go_shapefile_spark.operators.pinning import pin_ctes

    pin, seen = _recording_pin(spark)
    sql = """WITH cand AS (SELECT id FROM range(3)),
cand2 AS (SELECT id + 10 AS id FROM range(2))
SELECT id FROM cand UNION ALL SELECT id FROM cand2"""
    final, pinned = pin_ctes(spark, sql, ["cand"], pin)
    assert list(pinned) == ["cand"] and len(seen) == 1
    assert sorted(r.id for r in final.collect()) == [0, 1, 2, 10, 11]
    plan = final._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1 and plan.count("Range") == 1


def test_pin_ctes_binds_inputs_and_bare_list(spark):
    """DataFrame inputs bind as leading CTEs under generated view names
    that are gone after the call; a bare WITH list has no final query."""
    from go_shapefile_spark.operators.pinning import pin_ctes

    pin, seen = _recording_pin(spark)
    views = {t.name for t in spark.catalog.listTables()}
    final, pinned = pin_ctes(
        spark, "WITH doubled AS (SELECT v * 2 AS v FROM src)", ["doubled"],
        pin, src=spark.range(4).selectExpr("id AS v"))
    assert final is None and seen == [[(0,), (2,), (4,), (6,)]]
    assert {t.name for t in spark.catalog.listTables()} == views


def test_pin_ctes_unknown_name_raises(spark):
    from go_shapefile_spark.operators.pinning import pin_ctes

    pin, seen = _recording_pin(spark)
    with pytest.raises(ValueError, match="no CTE named"):
        pin_ctes(spark, "WITH cand AS (SELECT 1 AS x) SELECT * FROM cand",
                 ["cand2"], pin)
    assert seen == []


def test_pinned_runners_run_concurrently(spark, local_caps):
    """Pinned grid runners running at once in one session, on two
    threads and over different inputs, return exactly their serial
    results — no shared view names for one call to overwrite."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np
    import pandas as pd

    from go_shapefile_spark.operators.clustering import (
        grid_cost_distance, grid_distance_transform)

    def points(seed, span):
        rng = np.random.default_rng(seed)
        pdf = pd.DataFrame({"lon": rng.uniform(-span, span, 1500),
                            "lat": rng.uniform(-span, span, 1500)})
        pdf["is_src"] = (rng.random(1500) < 0.03).astype(int)
        return spark.createDataFrame(pdf)

    local_caps(GRID_CELLS=0)    # the distributed chain pins relations
    a, b = points(5, 12), points(6, 7)
    runs = [(grid_distance_transform, a), (grid_cost_distance, b),
            (grid_distance_transform, b), (grid_cost_distance, a)]

    def run(job):
        op, pts = job
        return sorted(map(tuple, op(pts, rounds=4).collect()))

    serial = [run(j) for j in runs]
    with ThreadPoolExecutor(2) as ex:
        threaded = list(ex.map(run, runs))
    assert threaded == serial and all(serial)
