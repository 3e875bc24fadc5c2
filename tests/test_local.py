"""The bounded-local seam (operators/local.py): registry queries gated
on it return the same rows on their driver-local and distributed
paths."""


def test_seam_gated_queries_match_distributed(spark, local_caps, sf01_dir):
    """triangle_counts and the three grid runners at default caps (the
    driver finishes) and with every cap at 0 (the distributed
    fallbacks, including triangles_pinned's pinned wedge join)."""
    import __spark_entry__ as entry

    queries = entry.queries()
    names = ["triangle_counts", "distance_transform", "cost_distance",
             "flow_accumulation"]

    def rows(name):
        return sorted(map(tuple, queries[name](spark, sf01_dir).collect()))

    driver = {name: rows(name) for name in names}
    local_caps(0)
    for name in names:
        assert rows(name) == driver[name] and driver[name], name


def test_collect_within_bounds_the_collect(spark):
    """``cap`` rows come back as a Table, ``cap + 1`` rows as None, and
    an empty frame as an empty Table of the frame's types."""
    import pyarrow as pa

    from go_shapefile_spark.operators import local

    df = spark.range(10).selectExpr("id AS a", "CAST(id AS INT) AS b")
    table = local.collect_within(df, 10)
    assert isinstance(table, pa.Table)
    assert sorted(table.column("a").to_pylist()) == list(range(10))
    assert local.collect_within(df, 9) is None
    empty = local.collect_within(df.where("a < 0"), 0)
    assert empty.num_rows == 0
    assert empty.schema.types == [pa.int64(), pa.int32()]


def test_empty_inputs_finish_on_the_driver(spark, monkeypatch):
    """An empty edge set or grid takes the driver-local path (0 within
    any cap): no pin, and an empty frame of the output types."""
    from go_shapefile_spark.operators.clustering import (
        grid_cost_distance, grid_distance_transform, grid_flow_accumulation)
    from go_shapefile_spark.operators.graph import triangle_counts_local

    frame = type(spark.range(1))
    pins = []
    real = frame.localCheckpoint
    monkeypatch.setattr(frame, "localCheckpoint",
                        lambda self, *a, **k: pins.append(1)
                        or real(self, *a, **k))
    edges = spark.createDataFrame([], "a long, b long")
    pts = spark.createDataFrame([], "lon double, lat double, is_src int")
    outs = [triangle_counts_local(edges),
            grid_distance_transform(pts, rounds=3),
            grid_cost_distance(pts, rounds=3),
            grid_flow_accumulation(pts.select("lon", "lat"), rounds=3, k=5)]
    assert all(out is not None and out.collect() == [] for out in outs)
    assert [out.columns for out in outs] == [
        ["node", "n_tri"], ["x", "y", "dist"], ["x", "y", "cost"],
        ["x", "y", "n", "acc", "rk"]]
    assert all(t == "bigint" for out in outs for _, t in out.dtypes)
    assert pins == []


def test_driver_local_queries_job_counts(spark, sf01_dir):
    """Warm, each query decides with one bounded collect and finishes
    on the driver: triangle_counts in at most 4 Spark jobs,
    distance_transform in at most 3."""
    import __spark_entry__ as entry

    queries = entry.queries()
    sc = spark.sparkContext
    for name, most in (("triangle_counts", 4), ("distance_transform", 3)):
        queries[name](spark, sf01_dir).toPandas()      # warm
        group = f"jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            queries[name](spark, sf01_dir).toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= most, (name, len(jobs))
