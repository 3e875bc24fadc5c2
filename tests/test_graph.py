"""Connected components (operators/graph.py): large-star/small-star vs
an independent union-find oracle, worst-case diameter, determinism."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_shapefile_spark.operators.graph import (connected_components,
                                                dedup_keep_representatives)


def _union_find(n_edges):
    """Test-local oracle: plain union-find over python ints."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min node id per root
    comp: dict = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@pytest.mark.parametrize("cc_cap", [None, 0])
def test_cc_matches_union_find_random(spark, local_caps, cc_cap):
    """The default cap takes the r6 bounded driver finish (gate-size
    graphs are under the cutoff); a 0 cap forces the distributed star
    loop — both must equal the independent oracle."""
    if cc_cap is not None:
        local_caps(CC_EDGES=cc_cap)
    rng = np.random.default_rng(9)
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, 400, size=(600, 2)) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(df).collect()}
    assert got == _union_find(edges)


def test_cc_path_graph_worst_case_converges(spark, local_caps):
    """A 200-node path has diameter 199 — label propagation would need
    ~200 rounds; star-contraction must finish within the 25-iteration
    bound and label everything with node 0."""
    local_caps(CC_EDGES=0)
    edges = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df).collect()
    assert len(out) == 200
    assert all(r.component == 0 for r in out)


def test_cc_driver_finish_after_contraction(spark, local_caps):
    """A cutoff between the raw and contracted sizes forces the r6
    composition under test: ≥1 distributed contraction pass, then the
    bounded driver finish, then the hook-map join-back."""
    local_caps(CC_EDGES=50)
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, 100, size=(600, 2)) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(df).collect()}
    assert got == _union_find(edges)


def test_cc_self_loops_and_duplicates_ignored(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (5, 6)], "src long, dst long")
    got = sorted((r.node, r.component)
                 for r in connected_components(df).collect())
    assert got == [(1, 1), (2, 1), (5, 5), (6, 5)]


def test_dedup_keep_representatives(spark):
    df = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "src long, dst long")
    out = dedup_keep_representatives(df).collect()
    reps = sorted(r.node for r in out if r.is_representative)
    drops = sorted(r.node for r in out if not r.is_representative)
    assert reps == [10, 20] and drops == [11, 12, 21]


def test_cc_string_ids(spark):
    df = spark.createDataFrame(
        [("img-b", "img-a"), ("img-b", "img-c"), ("x", "y")],
        "src string, dst string")
    got = sorted((r.node, r.component)
                 for r in connected_components(df).collect())
    assert got == [("img-a", "img-a"), ("img-b", "img-a"),
                   ("img-c", "img-a"), ("x", "x"), ("y", "x")]


def test_cc_nonconvergence_raises(spark, local_caps):
    local_caps(CC_EDGES=0)
    df = spark.createDataFrame([(i, i + 1) for i in range(64)],
                               "src long, dst long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df, max_iter=1)


def test_pagerank_cells_matches_python_power_iteration():
    """The unrolled-CTE integer PageRank equals a pure-Python damped
    power iteration with identical truncating-division quantization
    (edges taken from the same od-transition relation)."""
    import duckdb

    from go_shapefile_spark.queries import q_pagerank

    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                "'/root/testdata/sf0.001/events.parquet'")
    sql = q_pagerank("duck", iters=4)
    got = {r[0]: (r[1], r[2]) for r in con.sql(sql).fetchall()}

    # pull the edge relation through the same template prefix
    edges = con.sql(
        sql[:sql.index("pr_nodes AS")].rstrip().rstrip(",")
        + " SELECT src, dst, w FROM pr_e").fetchall()
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    outw = {}
    for s, d, w in edges:
        outw[s] = outw.get(s, 0) + w
    scale, base = 1_000_000_000, (15 * 1_000_000_000) // 100
    r = {n: scale for n in nodes}
    for _ in range(4):
        inc = {n: 0 for n in nodes}
        for s, d, w in edges:
            inc[d] += (r[s] * w) // outw[s]
        r = {n: base + (85 * inc[n]) // 100 for n in nodes}
    ranked = sorted(nodes, key=lambda n: (-r[n], n))[:50]
    want = {n: (r[n], i + 1) for i, n in enumerate(ranked)}
    assert got == want and len(got) == 50


def test_triangle_count_matches_bruteforce():
    """Degree-oriented triangle counting (queries.triangle_count_sql)
    equals the O(n^3) brute force, per node, on random graphs — and the
    orientation bound holds (no oriented out-fan exceeds ~sqrt(2m))."""
    import duckdb
    import itertools

    from go_shapefile_spark.queries import DUCK, triangle_count_sql

    rng = np.random.default_rng(21)
    for trial, (n, m) in enumerate([(30, 120), (60, 300), (12, 66)]):
        pairs = set()
        while len(pairs) < m:
            a, b = rng.integers(0, n, 2)
            if a != b:
                pairs.add((int(min(a, b)), int(max(a, b))))
        con = duckdb.connect()
        con.execute("CREATE TABLE ge (a BIGINT, b BIGINT)")
        con.executemany("INSERT INTO ge VALUES (?, ?)", sorted(pairs))
        got = dict(con.sql(
            "WITH " + triangle_count_sql("ge", DUCK)).fetchall())

        adj: dict = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want: dict = {}
        for u, v, w in itertools.combinations(sorted(adj), 3):
            if v in adj[u] and w in adj[u] and w in adj[v]:
                for x in (u, v, w):
                    want[x] = want.get(x, 0) + 1
        assert got == want, f"trial {trial}"

        # orientation fan-out bound: out-degree <= sqrt(2m) + 1 slack
        fan = dict(con.sql(
            "WITH " + triangle_count_sql("ge", DUCK).split("tg_tri AS")[0]
            .rstrip().rstrip(",")
            + " SELECT u, COUNT(*) FROM tg_oe GROUP BY u").fetchall())
        assert max(fan.values()) <= int((2 * len(pairs)) ** 0.5) + 1


def test_triangle_counts_local_matches_bruteforce(spark, local_caps):
    """The r6 driver-side triangle counter (graph.triangle_counts_local)
    equals the O(n^3) brute force on random graphs, and respects its
    bounded-collect gates (None above either cap)."""
    import itertools

    from go_shapefile_spark.operators.graph import triangle_counts_local

    rng = np.random.default_rng(41)
    dfs = []
    for n, m in [(30, 120), (60, 300), (12, 66)]:
        pairs = set()
        while len(pairs) < m:
            x, y = rng.integers(0, n, 2)
            if x != y:
                pairs.add((int(min(x, y)), int(max(x, y))))
        df = spark.createDataFrame(sorted(pairs), "a long, b long")
        dfs.append(df)
        got = {r.node: r.n_tri
               for r in triangle_counts_local(df).collect()}
        adj: dict = {}
        for x, y in pairs:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        want: dict = {}
        for uu, vv, wW in itertools.combinations(sorted(adj), 3):
            if vv in adj[uu] and wW in adj[uu] and wW in adj[vv]:
                for z in (uu, vv, wW):
                    want[z] = want.get(z, 0) + 1
        assert got == want
    # the wedge cap first (the edge gate still passes), then the edge cap
    local_caps(TRIANGLE_WEDGES=1)
    assert all(triangle_counts_local(df) is None for df in dfs)
    local_caps(TRIANGLE_EDGES=1)
    assert all(triangle_counts_local(df) is None for df in dfs)


def test_triangle_count_spark_matches_duckdb(spark):
    """The same SQL subset runs in Spark; identical per-node counts."""
    import duckdb

    from go_shapefile_spark.queries import DUCK, SPARK, triangle_count_sql

    rng = np.random.default_rng(33)
    pairs = sorted({(int(min(a, b)), int(max(a, b)))
                    for a, b in rng.integers(0, 50, (400, 2)) if a != b})
    spark.createDataFrame(pairs, "a long, b long") \
        .createOrReplaceTempView("tge")
    got = dict((r.node, r.n_tri) for r in
               spark.sql("WITH " + triangle_count_sql("tge", SPARK)).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE tge (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO tge VALUES (?, ?)", pairs)
    want = dict(con.sql("WITH " + triangle_count_sql("tge", DUCK))
                .fetchall())
    assert got == want and sum(got.values()) % 3 == 0 and got


def test_local_components_selects_edge_columns_by_name(spark):
    """The bounded driver finish reads ``src``/``dst`` by name: an extra
    leading column must not be mistaken for an edge endpoint."""
    from go_shapefile_spark.operators.graph import _local_components

    df = spark.createDataFrame([(7, 1, 2), (8, 2, 3), (9, 5, 6)],
                               "w long, src long, dst long")
    got = sorted(map(tuple, _local_components(df).collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]
