"""Raster map-algebra operators (operators/raster.py): separable blur,
marching-squares contours, Horn slope/aspect, trajectory Hausdorff.

Independent references: numpy convolution for the blur, hand-derived
marching-squares fixtures, an analytic plane for the Horn stencil, and
a hashlib/numpy brute-force twin for the Hausdorff gate.
"""

import hashlib
import os

import duckdb
import numpy as np
import pytest

from go_shapefile_spark.operators import raster as RA


def _grid_sql(cells):
    rows = ",".join(f"({x},{y},{v})" for x, y, v in cells)
    return f"rgrid AS (SELECT * FROM (VALUES {rows}) AS t(x, y, v))"


def _duck(sql):
    con = duckdb.connect()
    try:
        return con.sql(sql).df()
    finally:
        con.close()


# ---------------------------------------------------------------- blur

def test_blur_separable_equals_direct_and_numpy():
    rng = np.random.default_rng(7)
    xs = rng.integers(-3, 9, 60)
    ys = rng.integers(-4, 6, 60)
    vs = rng.integers(1, 50, 60)
    seen = {}
    for x, y, v in zip(xs, ys, vs):
        seen[(int(x), int(y))] = seen.get((int(x), int(y)), 0) + int(v)
    cells = [(x, y, v) for (x, y), v in seen.items()]

    out = {}
    for form in ("separable", "direct"):
        df = _duck(f"WITH {_grid_sql(cells)},{RA.blur5_body(form)}")
        out[form] = {(r.x, r.y): r.v for r in df.itertuples()}
    assert out["separable"] == out["direct"]

    # numpy dense twin
    k = np.outer([1, 4, 6, 4, 1], [1, 4, 6, 4, 1])
    x0, x1 = min(x for x, _, _ in cells), max(x for x, _, _ in cells)
    y0, y1 = min(y for _, y, _ in cells), max(y for _, y, _ in cells)
    dense = np.zeros((x1 - x0 + 5, y1 - y0 + 5), dtype=np.int64)
    for x, y, v in cells:
        dense[x - x0 + 2 - 2:x - x0 + 2 + 3,
              y - y0 + 2 - 2:y - y0 + 2 + 3] += k * v
    ref = {(x + x0 - 2, y + y0 - 2): int(val)
           for (x, y), val in np.ndenumerate(dense) if val}
    assert out["direct"] == ref

    # mass conservation: kernel sums to 256
    assert sum(out["direct"].values()) == 256 * sum(v for _, _, v in cells)


# ---------------------------------------- marching squares fixtures

def _contours(cells, tau):
    df = _duck(f"WITH {_grid_sql(cells)},"
               f"{RA.marching_squares_body(tau)}")
    return {tuple(r) for r in df.to_numpy().tolist()}


def _norm(segs):
    return {(min(p, q), max(p, q))
            for p, q in (((a, b), (c, d)) for a, b, c, d in segs)}


def test_marching_squares_single_pixel_diamond():
    segs = _contours([(5, 7, 9)], tau=5)
    # one hot pixel at (5,7): 4 blocks, each contributing one segment;
    # doubled coords of the surrounding diamond through the 4 edge mids
    assert _norm(segs) == {
        ((10, 15), (11, 14)), ((9, 14), (10, 15)),
        ((9, 14), (10, 13)), ((10, 13), (11, 14))}
    # closed loop: every vertex has even degree
    deg = {}
    for x0, y0, x1, y1 in segs:
        deg[(x0, y0)] = deg.get((x0, y0), 0) + 1
        deg[(x1, y1)] = deg.get((x1, y1), 0) + 1
    assert all(d == 2 for d in deg.values())


def test_marching_squares_pair_and_saddle():
    # two horizontally adjacent hot pixels -> a 6-segment ring
    segs = _contours([(0, 0, 9), (1, 0, 9)], tau=5)
    assert len(segs) == 6
    # diagonal pair -> saddle cases 5/10 fire: 2 four-way blocks emit
    # two segments each; total = 4 (outer corners) + 4 (two saddles)
    segs = _contours([(0, 0, 9), (1, 1, 9)], tau=5)
    assert len(segs) == 8
    deg = {}
    for x0, y0, x1, y1 in segs:
        for p in ((x0, y0), (x1, y1)):
            deg[p] = deg.get(p, 0) + 1
    assert all(d % 2 == 0 for d in deg.values())


def test_marching_squares_even_degree_random():
    rng = np.random.default_rng(11)
    seen = {}
    for x, y, v in zip(rng.integers(0, 12, 80), rng.integers(0, 12, 80),
                       rng.integers(1, 10, 80)):
        seen[(int(x), int(y))] = seen.get((int(x), int(y)), 0) + int(v)
    segs = _contours([(x, y, v) for (x, y), v in seen.items()], tau=8)
    deg = {}
    for x0, y0, x1, y1 in segs:
        for p in ((x0, y0), (x1, y1)):
            deg[p] = deg.get(p, 0) + 1
    assert segs and all(d % 2 == 0 for d in deg.values())


# ------------------------------------------------- Horn slope/aspect

def test_slope_aspect_analytic_plane():
    # z = 10*x over a 7x7 patch: interior Horn dzdx = 8*10, dzdy = 0
    cells = [(x, y, 10 * (x + 1)) for x in range(7) for y in range(7)]
    df = _duck(f"WITH {_grid_sql(cells)},{RA.slope_aspect_body()}")
    rows = {(r.aspect_bin, r.slope_class): r.n_pixels
            for r in df.itertuples()}
    # 5x5 interior pixels: gx = 8*10 = 80 -> aspect octant 0 (+x),
    # class 4 (64 <= 80 < 256).  The x=0 edge column sees zeros to the
    # west (sparse convention), which for THIS plane gives the same
    # gx=80 -> 25 interior + 5 left-edge = 30.
    assert rows[(0, 4)] == 30
    assert sum(rows.values()) == 49  # every raster pixel classified


def test_aspect_octants_cover_all_directions():
    # plant one gradient per octant via a tiny two-pixel dipole is
    # awkward; instead evaluate the classifier CASE directly on a
    # synthetic hgrad via the full body over rotated planes
    for (dx, dy), want in [((1, 0), 0), ((1, 1), 0), ((0, 1), 1),
                           ((-1, 1), 2), ((-1, 0), 3), ((-1, -1), 4),
                           ((0, -1), 5), ((1, -2), 6), ((2, -1), 7)]:
        cells = [(x, y, 100 + 10 * (dx * x + dy * y))
                 for x in range(7) for y in range(7)]
        df = _duck(f"WITH {_grid_sql(cells)},{RA.slope_aspect_body()}")
        interior = df.loc[df.n_pixels >= 25]
        assert len(interior) == 1, (dx, dy, df)
        assert interior.aspect_bin.iloc[0] == want, (dx, dy, df)


# -------------------------------------------- trajectory Hausdorff

def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_trajectory_hausdorff_matches_bruteforce(sf_dir):
    from go_shapefile_spark.functions import hashes as H
    from go_shapefile_spark.queries import build_registry

    _, oracles = build_registry()
    con = duckdb.connect()
    ev = os.path.join(sf_dir, "events.parquet")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{ev}'")
    got = {(int(r.u), int(r.v)): float(r.hausdorff_sq)
           for r in con.sql(oracles["trajectory_hausdorff"]).df()
           .itertuples()}

    raw = con.sql(
        f"SELECT user_id, event_id FROM '{ev}' ORDER BY event_id").df()
    tracks, anchors = {}, {}
    for uid, eid in zip(raw.user_id, raw.event_id):
        uid, eid = int(uid), int(eid)
        if len(tracks.get(uid, ())) >= 32:
            continue
        alon = float(_h32(f"{uid}_alon") % 3200000) / 10000.0 - 160.0
        alat = float(_h32(f"{uid}_alat") % 1600000) / 10000.0 - 80.0
        lon = alon + float(_h32(f"{eid}_jlon") % 20000) / 10000.0 - 1.0
        lat = alat + float(_h32(f"{eid}_jlat") % 20000) / 10000.0 - 1.0
        tracks.setdefault(uid, []).append((lon, lat))
        anchors[uid] = (int(np.floor(alon / 16.0)),
                        int(np.floor(alat / 16.0)))

    want = {}
    users = sorted(tracks)
    for i, u in enumerate(users):
        for v in users[i + 1:]:
            if anchors[u] != anchors[v]:
                continue
            a = np.asarray(tracks[u])
            b = np.asarray(tracks[v])
            d2 = ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
            want[(u, v)] = max(d2.min(axis=1).max(), d2.min(axis=0).max())

    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


# -------------------------------------------- emerging hotspots (MK)

def test_emerging_hotspots_matches_pandas_mann_kendall(sf_dir):
    """Independent reference: per-cell Mann-Kendall S computed by a
    plain O(T²) pandas/numpy loop over the dense day grid must equal
    the relational self-join template (DuckDB side)."""
    from go_shapefile_spark.queries import build_registry

    _, oracles = build_registry()
    con = duckdb.connect()
    ev = os.path.join(sf_dir, "events.parquet")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{ev}'")
    got = {int(r.cell): (int(r.s_stat), int(r.n_pairs), r.trend)
           for r in con.sql(oracles["emerging_hotspots"]).df()
           .itertuples()}
    # rebuild the binned counts with independent tools
    sql = oracles["emerging_hotspots"]
    bins_sql = sql[sql.index("WITH ebins AS ("):]
    bins_sql = ("WITH " + bins_sql[len("WITH "):bins_sql.index("ecells AS")]
                .rstrip().rstrip(",") + " SELECT * FROM ebins")
    bins = con.sql(bins_sql).df()
    con.close()
    days = sorted(bins.day.unique())
    assert got, "no cells"
    for cell, grp in bins.groupby("cell"):
        series = {int(d): 0 for d in days}
        series.update({int(d): int(n) for d, n in zip(grp.day, grp.n)})
        xs = [series[d] for d in sorted(series)]
        s = sum(np.sign(xs[j] - xs[i])
                for i in range(len(xs)) for j in range(i + 1, len(xs)))
        n_pairs = len(xs) * (len(xs) - 1) // 2
        trend = ("rising" if s >= 112 else
                 "falling" if s <= -112 else "flat")
        assert got[int(cell)] == (int(s), n_pairs, trend), cell
    # monotone sanity: a strictly increasing series maxes S
    xs = list(range(10))
    s = sum(np.sign(xs[j] - xs[i])
            for i in range(10) for j in range(i + 1, 10))
    assert s == 45


# ----------------------------------------- deterministic sampling

def test_sampling_gates_rates_and_exact_k(sf_dir):
    from go_shapefile_spark.queries import (BALANCED_K, SAMPLE_RATES,
                                            build_registry)

    _, oracles = build_registry()
    con = duckdb.connect()
    ev = os.path.join(sf_dir, "events.parquet")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{ev}'")
    totals = {t: n for t, n in con.sql(
        "SELECT event_type, COUNT(*) FROM events GROUP BY 1").fetchall()}

    strat = {r.event_type: int(r.n_sampled)
             for r in con.sql(oracles["stratified_sample"]).df()
             .itertuples()}
    for t, n in strat.items():
        want = totals[t] * SAMPLE_RATES[t] / 10000
        # 5-sigma binomial tolerance — deterministic hash, but the
        # hash behaves like a uniform draw
        sigma = (want * (1 - SAMPLE_RATES[t] / 10000)) ** 0.5
        assert abs(n - want) <= 5 * sigma + 1, (t, n, want)
    # full-rate stratum keeps everything
    assert strat["error"] == totals["error"]

    bal = {r.event_type: int(r.n_sampled)
           for r in con.sql(oracles["balanced_sample"]).df()
           .itertuples()}
    assert all(n == min(BALANCED_K, totals[t]) for t, n in bal.items())
    con.close()


def test_flow_accumulation_matches_python_reference():
    """flow_acc_sql == an independent python D8-uphill reference: same
    argmax direction (tiebreak n DESC, x, y), same K-hop upstream
    counts, same top-k; and acc equals the true basin size when K
    exceeds the longest ascent path."""
    import duckdb

    from go_shapefile_spark.queries import flow_acc_sql

    rng = np.random.default_rng(17)
    cells = {}
    # two gaussian bumps on a ragged 14x14 occupied subset
    for x in range(14):
        for y in range(14):
            if rng.random() < 0.82:
                n = int(200 * np.exp(-((x - 3) ** 2 + (y - 4) ** 2) / 8)
                        + 150 * np.exp(-((x - 10) ** 2 + (y - 10) ** 2) / 6)
                        + rng.integers(0, 5))
                cells[(x, y)] = n + 1

    def reference(K):
        dirs = {}
        for (x, y), n in cells.items():
            best = None
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if dx == dy == 0:
                        continue
                    nb = (x + dx, y + dy)
                    if nb in cells and cells[nb] > n:
                        key = (-cells[nb], nb[0], nb[1])
                        if best is None or key < best[0]:
                            best = (key, nb)
            if best:
                dirs[(x, y)] = best[1]
        u = {c: 1 for c in cells}
        for _ in range(K):
            nxt = {c: 1 for c in cells}
            for c, t in dirs.items():
                nxt[t] += u[c]
            u = nxt
        return u, dirs

    con = duckdb.connect()
    con.execute("CREATE TABLE fg (x BIGINT, y BIGINT, n BIGINT)")
    con.executemany("INSERT INTO fg VALUES (?, ?, ?)",
                    [(x, y, n) for (x, y), n in cells.items()])
    for K in (2, 8):
        got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in con.sql(
            "WITH " + flow_acc_sql("fg", rounds=K, k=30)).fetchall()}
        u, dirs = reference(K)
        ranked = sorted(cells, key=lambda c: (-u[c], c[0], c[1]))[:30]
        want = {c: (cells[c], u[c], i + 1) for i, c in enumerate(ranked)}
        assert got == want, f"K={K}"
    # with K=8 >= longest ascent path here, the peak's acc is its full
    # basin: every cell whose chain ends at it
    u8, dirs = reference(8)

    def sink(c):
        while c in dirs:
            c = dirs[c]
        return c
    basins = {}
    for c in cells:
        basins[sink(c)] = basins.get(sink(c), 0) + 1
    longest = 0
    for c in cells:
        d, cur = 0, c
        while cur in dirs:
            cur, d = dirs[cur], d + 1
        longest = max(longest, d)
    if longest <= 8:
        peak = max(cells, key=lambda c: (cells[c], ))
        assert u8[sink(peak)] == basins[sink(peak)]


def test_viewshed_matches_python_reference():
    """viewshed_sql == an independent python line-of-sight reference
    (same rounding rule, same cross-multiplied angle test), plus
    analytic cases: a wall blocks everything behind it, the d=1 ring
    is always visible, ties (equal angle) block."""
    import duckdb

    from go_shapefile_spark.queries import viewshed_sql

    def run(cells):
        con = duckdb.connect()
        con.execute("CREATE TABLE vg (x BIGINT, y BIGINT, n BIGINT)")
        con.executemany("INSERT INTO vg VALUES (?, ?, ?)",
                        [(x, y, n) for (x, y), n in cells.items()])
        return {(r[0], r[1]): (r[2], r[3], r[4]) for r in con.sql(
            "WITH " + viewshed_sql("vg", "duck", x_off=0, y_off=0)
        ).fetchall()}

    def reference(cells):
        (ox, oy), oe = max(cells.items(), key=lambda kv: (kv[1],
                                                          -kv[0][0],
                                                          -kv[0][1]))
        out = {}
        for (x, y), n in cells.items():
            if (x, y) == (ox, oy):
                continue
            d = max(abs(x - ox), abs(y - oy))
            blocked = 0
            for s in range(1, d):
                sx = (2 * (ox * (d - s) + x * s) + d) // (2 * d)
                sy = (2 * (oy * (d - s) + y * s) + d) // (2 * d)
                es = cells.get((sx, sy), 0)
                if (es - oe) * d >= (n - oe) * s:
                    blocked = 1
                    break
            out[(x, y)] = (n, d, 0 if blocked else 1)
        return out

    rng = np.random.default_rng(23)
    # random terrain with a dominant peak
    cells = {(int(x), int(y)): int(n) for x, y, n in zip(
        rng.integers(0, 20, 160), rng.integers(0, 20, 160),
        rng.integers(1, 50, 160))}
    cells[(10, 10)] = 1000          # unique observer
    got = run(cells)
    assert got == reference(cells) and len(got) > 100

    # analytic wall (the observer is always the DENSEST cell, so the
    # observer sits at e=100): near wall e=90 at (2,0) subtends
    # (90-100)/2 = -5, deeper target e=5 at (6,0) subtends
    # (5-100)/6 ≈ -15.8 -> wall angle wins -> blocked; raising the
    # target to e=99 ((99-100)/6 ≈ -0.17) clears the wall -> visible
    wall = {(0, 0): 100, (2, 0): 90, (6, 0): 5, (1, 1): 3}
    got = run(wall)
    assert got[(6, 0)][2] == 0       # hidden behind the wall
    assert got[(1, 1)][2] == 1       # d=1 ring always visible
    assert got[(2, 0)][2] == 1       # the wall itself is visible
    wall[(6, 0)] = 99
    got = run(wall)
    assert got[(6, 0)][2] == 1       # tall target clears the wall
    # equal-angle tie blocks (>= comparison): wall -5, target at
    # (4,0) with (e-100)/4 = -5 -> e = 80
    tie = {(0, 0): 100, (2, 0): 90, (4, 0): 80}
    got = run(tie)
    assert got[(4, 0)][2] == 0


def test_cost_distance_matches_dijkstra_reference(spark):
    """grid_cost_distance == python Dijkstra truncated to ≤R-edge paths
    on a handcrafted occupied grid with a wall (diagonal detours cost
    3 vs 2 — the chamfer ratio must show up in the answer)."""
    import heapq

    import pandas as pd

    from go_shapefile_spark.operators.clustering import grid_cost_distance

    cells = {(x, y) for x in range(10) for y in range(6)}
    cells -= {(4, y) for y in range(1, 6)}     # wall with a gap at y=0
    src = {(0, 0), (9, 5)}
    rows = [(float(x) + 0.5, float(y) + 0.5, 1 if (x, y) in src else 0)
            for x, y in sorted(cells)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["lon", "lat", "is_src"]))
    R = 8
    got = {(r.x, r.y): r.cost
           for r in grid_cost_distance(df, rounds=R).collect()}

    # reference: Dijkstra over (cell, steps) states, steps <= R
    W = {(dx, dy): 2 if dx == 0 or dy == 0 else 3
         for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)}
    best: dict = {}
    pq = [(0, 0, c) for c in src]
    dist_state: dict = {(c, 0): 0 for c in src}
    while pq:
        d, s, c = heapq.heappop(pq)
        if dist_state.get((c, s), 1 << 60) < d:
            continue
        best[c] = min(best.get(c, 1 << 60), d)
        if s == R:
            continue
        for (dx, dy), w in W.items():
            n = (c[0] + dx, c[1] + dy)
            if n in cells and d + w < dist_state.get((n, s + 1), 1 << 60):
                dist_state[(n, s + 1)] = d + w
                heapq.heappush(pq, (d + w, s + 1, n))
    assert got == best
    # chamfer sanity: the diagonal neighbor of a source costs 3
    assert got[(1, 1)] == 3 and got[(1, 0)] == 2
    # the wall forces paths around via (4, 0)
    assert got[(5, 1)] == got[(4, 0)] + 3


def test_grid_runners_driver_iterate_matches_distributed(spark,
                                                        local_caps):
    """The r6 bounded-grid driver iterate (auto-gated on the exact cell
    count) is row-identical to the distributed join-per-round chain for
    all three grid runners — the same recurrence, two engines.  The
    corridor/Dijkstra reference tests above pin the local path against
    hand oracles; this keeps the distributed fallback covered."""
    import pandas as pd

    from go_shapefile_spark.operators.clustering import (
        grid_cost_distance, grid_distance_transform,
        grid_flow_accumulation)

    rng = np.random.default_rng(53)
    pdf = pd.DataFrame({
        "lon": rng.uniform(-15, 15, 3000),
        "lat": rng.uniform(-15, 15, 3000)})
    pdf["is_src"] = (rng.random(3000) < 0.03).astype(int)
    pts = spark.createDataFrame(pdf)

    runs = ((grid_distance_transform, {"rounds": 5}),
            (grid_cost_distance, {"rounds": 5}),
            (grid_flow_accumulation, {"rounds": 5, "k": 30}))
    driver = [sorted(map(tuple, op(pts, **args).collect()))
              for op, args in runs]
    local_caps(0)
    for (op, args), a in zip(runs, driver):
        b = sorted(map(tuple, op(pts, **args).collect()))
        assert a == b and a, op.__name__


def test_new_runners_identical_under_storage_pinning(spark, tmp_path,
                                                    pin_strategy_conf,
                                                    local_caps):
    """grid_flow_accumulation / grid_cost_distance / kmeans_lloyd are
    row-identical under the executor-local (default) and storage-backed
    pin strategies — the durable-pinning seam covers the new runners."""
    import pandas as pd

    from go_shapefile_spark.operators.clustering import (
        grid_cost_distance, grid_flow_accumulation, kmeans_lloyd)

    spark.conf.set("spark.graft.pin.dir", str(tmp_path / "pins"))
    rng = np.random.default_rng(47)
    pdf = pd.DataFrame({
        "lon": rng.uniform(-20, 20, 4000),
        "lat": rng.uniform(-20, 20, 4000)})
    pdf["is_src"] = (rng.random(4000) < 0.02).astype(int)
    pts = spark.createDataFrame(pdf)

    local_caps(GRID_CELLS=0)    # a bounded grid runs on the driver, unpinned
    for op, args in ((grid_flow_accumulation, {"rounds": 4, "k": 20}),
                     (grid_cost_distance, {"rounds": 4})):
        with pin_strategy_conf("local"):
            a = sorted(map(tuple, op(pts, **args).collect()))
        with pin_strategy_conf("storage"):
            b = sorted(map(tuple, op(pts, **args).collect()))
        assert a == b and a, op.__name__

    kpts = spark.createDataFrame(pd.DataFrame({
        "id": np.arange(2000, dtype=np.int64),
        "x": rng.integers(0, 3 * 10 ** 8, 2000),
        "y": rng.integers(0, 18 * 10 ** 7, 2000)}))
    with pin_strategy_conf("local"):
        a = sorted(map(tuple, kmeans_lloyd(kpts, k=5, rounds=2).collect()))
    with pin_strategy_conf("storage"):
        b = sorted(map(tuple, kmeans_lloyd(kpts, k=5, rounds=2).collect()))
    assert a == b and len(a) == 5
