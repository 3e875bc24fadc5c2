"""Grid-DBSCAN vs an independent brute-force reference.

The reference below is a from-first-principles DBSCAN with the same
determinism spec (self-inclusive neighbor counts, component-min core
labels, min-core-neighbor border labels, -1 noise): all-pairs distance
matrix + union-find — no grid, no SQL, nothing shared with the
operator under test.
"""

from __future__ import annotations

import numpy as np
import pytest

from go_shapefile_spark.operators.clustering import dbscan


def brute_dbscan(ids, xy, eps, min_pts):
    xy = np.asarray(xy, dtype=np.float64)
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    neigh = d2 <= eps * eps          # includes self (diagonal is 0)
    counts = neigh.sum(axis=1)
    core = counts >= min_pts

    parent = list(range(len(ids)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(ids)):
        if not core[i]:
            continue
        for j in range(i + 1, len(ids)):
            if core[j] and neigh[i, j]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)

    # component label = min id in component (ids ascending by index
    # is NOT assumed: take the min over member ids explicitly)
    comp_members: dict[int, list[int]] = {}
    for i in range(len(ids)):
        if core[i]:
            comp_members.setdefault(find(i), []).append(i)
    label_of_root = {r: min(ids[m] for m in members)
                     for r, members in comp_members.items()}

    out = {}
    for i in range(len(ids)):
        if core[i]:
            out[ids[i]] = (label_of_root[find(i)], "core")
        else:
            cand = [label_of_root[find(j)]
                    for j in range(len(ids)) if core[j] and neigh[i, j]]
            if cand:
                out[ids[i]] = (min(cand), "border")
            else:
                out[ids[i]] = (-1, "noise")
    return out


def _random_points(seed, n=240):
    rng = np.random.default_rng(seed)
    # three dense blobs + uniform background, spanning several grid
    # cells at eps=1.0 so every ring case (corner/edge/center) occurs
    blobs = [rng.normal(loc, 0.45, size=(50, 2))
             for loc in ((0.0, 0.0), (6.2, 3.1), (-4.7, -2.3))]
    bg = rng.uniform(-10, 10, size=(n - 150, 2))
    xy = np.concatenate(blobs + [bg])
    ids = np.arange(xy.shape[0], dtype=np.int64)
    # shuffle so id order is uncorrelated with position
    perm = rng.permutation(len(ids))
    return ids, xy[perm]


@pytest.mark.parametrize("seed,eps,min_pts", [(1, 1.0, 5), (2, 0.8, 4),
                                              (3, 1.5, 8)])
def test_dbscan_matches_bruteforce(spark, seed, eps, min_pts):
    ids, xy = _random_points(seed)
    expect = brute_dbscan(ids, xy, eps, min_pts)

    rows = [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, xy)]
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")
    got = {r.id: (r.cluster, r.role)
           for r in dbscan(pts, eps, min_pts).collect()}
    assert got == expect
    roles = {v[1] for v in got.values()}
    assert roles == {"core", "border", "noise"}, roles


def test_dbscan_boundary_distance_is_inclusive(spark):
    # two pairs exactly eps apart across a grid-cell boundary: <= eps
    # must pair them, and min_pts=2 makes them cores of a 2-cluster
    rows = [(1, 0.0, 0.0), (2, 1.0, 0.0),      # d == eps, straddles cells
            (3, 10.0, 10.0)]                   # isolated -> noise
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")
    got = {r.id: (r.cluster, r.role) for r in dbscan(pts, 1.0, 2).collect()}
    assert got == {1: (1, "core"), 2: (1, "core"), 3: (-1, "noise")}


def test_dbscan_deterministic_under_repartition(spark):
    ids, xy = _random_points(7)
    rows = [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, xy)]
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")
    a = sorted(map(tuple, dbscan(pts, 1.0, 5).collect()))
    b = sorted(map(tuple, dbscan(pts.repartition(13, "lat"), 1.0, 5)
                   .collect()))
    assert a == b


def test_dbscan_pair_join_is_equijoin(spark):
    rows = [(i, float(i % 17), float(i % 13)) for i in range(100)]
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")
    df = dbscan(pts, 1.0, 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grid_distance_transform_corridor(spark):
    """Hand-built corridor: BFS distance is connectivity-constrained
    (runs through occupied cells only) — (2,0) is Chebyshev-1 from
    nothing occupied but graph-2 from the source via (1,0); the
    disconnected (0,2) island never appears."""
    from go_shapefile_spark.operators.clustering import (
        grid_distance_transform)

    cells = [((0, 0), 1), ((1, 0), 0), ((2, 0), 0),
             ((2, 1), 0), ((2, 2), 0), ((0, 2), 0)]
    pts = spark.createDataFrame(
        [(x + 0.5, y + 0.5, s) for (x, y), s in cells],
        "lon double, lat double, is_src int")
    got = {(r.x, r.y): r.dist
           for r in grid_distance_transform(pts, rounds=8).collect()}
    assert got == {(0, 0): 0, (1, 0): 1, (2, 0): 2,
                   (2, 1): 2, (2, 2): 3}

    # the DuckDB oracle twin computes the same function on the fixture
    import duckdb

    from go_shapefile_spark.operators.clustering import (
        distance_transform_oracle_sql)

    vals = ",".join(f"({x}.5, {y}.5, {s})" for (x, y), s in cells)
    sql = distance_transform_oracle_sql(
        8, pts_cte=f"pts AS (SELECT * FROM (VALUES {vals}) "
                   f"AS t(lon, lat, is_src))")
    con = duckdb.connect()
    want = {(int(r.x), int(r.y)): int(r.dist)
            for r in con.sql(sql).df().itertuples()}
    con.close()
    assert want == got


def test_label_blobs_matches_union_find(spark):
    """Blob labeling equals a pure-Python union-find replay: 4-adjacency
    only (diagonal-touching cells stay separate regions), isolated hot
    cells are their own region, sub-threshold cells are excluded, and
    per-region rollups (count/mass/bbox) agree exactly."""
    import pandas as pd

    from go_shapefile_spark.operators.clustering import label_blobs

    # planted raster: an L-blob, a diagonal pair (NOT connected under
    # 4-adjacency), an isolated cell, and sub-threshold noise
    cells = [(-2, 0, 9), (-2, 1, 7), (-1, 1, 6),       # L-shaped blob
             (3, 3, 8), (4, 4, 8),                     # diagonal pair
             (7, -5, 12),                              # isolated
             (0, 0, 3), (5, 5, 1)]                     # below tau=5
    pdf = pd.DataFrame(cells, columns=["x", "y", "v"])
    got = {r.blob: (r.n_cells, r.sum_v, r.x0, r.x1, r.y0, r.y1)
           for r in label_blobs(spark.createDataFrame(pdf),
                                tau=5).collect()}

    hot = [(x, y, v) for x, y, v in cells if v >= 5]
    pid = {(x, y): (x + 512) * 4096 + (y + 512) for x, y, _ in hot}
    parent = {p: p for p in pid.values()}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for (x, y), p in pid.items():
        for nb in ((x + 1, y), (x, y + 1)):
            if nb in pid:
                ra, rb = find(p), find(pid[nb])
                if ra != rb:
                    parent[ra] = rb
    want = {}
    for x, y, v in hot:
        root = find(pid[(x, y)])
        want.setdefault(root, []).append((x, y, v))
    expect = {}
    for members in want.values():
        blob = min(pid[(x, y)] for x, y, _ in members)
        xs = [x for x, _, _ in members]
        ys = [y for _, y, _ in members]
        expect[blob] = (len(members), sum(v for _, _, v in members),
                        min(xs), max(xs), min(ys), max(ys))

    assert got == expect
    assert len(got) == 4  # L-blob + two diagonal singletons + isolated


def test_kmeans_lloyd_empty_input(spark):
    """No points: an empty result with the output schema, not a SQL
    parse error from an empty centroid VALUES list."""
    from go_shapefile_spark.operators.clustering import kmeans_lloyd

    pts = spark.createDataFrame([], "id long, x long, y long")
    out = kmeans_lloyd(pts, k=4, rounds=2)
    assert out.collect() == []
    assert out.columns == ["ck", "n", "cx", "cy", "inertia_e6"]
