"""Distributed connected components (near-dup clustering).

The dedup family emits spanning EDGE sets (minhash/simhash/ngram pairs,
image ahash pairs); turning edges into duplicate GROUPS — "keep one
representative per component" — needs connected components.  This is
the alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): each
iteration is two groupBy+join rounds of pure DataFrame ops, and the
edge set converges to a star per component (every node pointing at its
component's minimum id) in O(log n) iterations — unlike naive label
propagation, whose round count grows with the graph diameter.

Scale posture: each iteration shuffles the current edge set on its
node keys (no all-pairs anything); iterates are pinned through
operators/pinning.py (anonymous per-call slot; the
``spark.graft.pin.strategy=storage`` conf makes them durable for
multi-hour runs), so lineage stays one round deep and the
convergence probe piggybacks on the pin job.  Convergence is detected
by an order-independent checksum of the edge set (count + sum of
per-edge hashes), not by comparing materialized sets.

Correctness: the gate oracle computes the same components in DuckDB
with a recursive CTE (transitive closure + MIN per node) — a genuinely
different algorithm on a different engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import local

# Star-loop broadcast cutoff (rows in the live edge set): below this the
# per-node minima relations are hinted broadcast — ~1M two-long rows is
# tens of MB built, far under the session's 64 MB auto threshold and the
# 8 GB hard cap; above it the stars keep scale-correct shuffle joins.
_BROADCAST_EDGES = 1_000_000


def _large_star(edges: DataFrame, small: bool = False) -> DataFrame:
    """Connect every neighbor larger than u to u's smallest neighbor
    (including u itself).  No ``distinct`` here: the small-star half of
    the iteration dedupes its output, so the intermediate dedup shuffle
    was pure overhead (r6).  ``small`` broadcast-hints the per-node
    minima when the caller KNOWS the live edge set is tiny (from the
    previous convergence checksum) — on converged-tail iterations this
    removes the join exchanges that dominate wall time."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (sym.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least(F.col("_mn"), F.col("src")).alias("mn")))
    if small:
        mins = F.broadcast(mins)
    return (sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst")))


def _small_star(edges: DataFrame, small: bool = False) -> DataFrame:
    """Within each node's smaller-or-equal neighborhood, connect all
    members to the minimum."""
    e = edges.select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
    mins = e.groupBy("src").agg(F.min("dst").alias("mn"))
    if small:
        mins = F.broadcast(mins)
    members = (e.join(mins, "src")
               .select(F.col("dst").alias("node"), "mn")
               .unionByName(mins.select(F.col("src").alias("node"), "mn")))
    return (members.where(F.col("node") != F.col("mn"))
            .select(F.col("node").alias("src"), F.col("mn").alias("dst"))
            .distinct())


def _np_min_hook(a, b, n_nodes: int):
    """Vectorized union-find over dense edge index arrays ``a, b`` in
    ``[0, n_nodes)``: alternately pointer-jump every parent chain to
    its fixpoint and hook the larger of each edge's two roots to the
    smaller (``np.minimum.at`` is unbuffered, so colliding hooks keep
    the minimum).  Both moves only ever DECREASE parent indices, so the
    fixpoint — one root per component — is reached in O(log n) rounds,
    and because hooks always point downward the surviving root of each
    component is its minimum index.  Returns the per-node root index
    array."""
    import numpy as np

    parent = np.arange(n_nodes, dtype=np.int64)
    while True:
        while True:
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        ra, rb = parent[a], parent[b]
        hi = np.maximum(ra, rb)
        lo = np.minimum(ra, rb)
        live = hi != lo
        if not live.any():
            return parent
        np.minimum.at(parent, hi[live], lo[live])


def _local_components(edges: DataFrame) -> DataFrame:
    """(node, component) for a live edge set the caller has PROVEN
    bounded (``local.CC_EDGES``, exact count from the convergence
    checksum): one Arrow collect, a vectorized numpy
    union-find (:func:`_np_min_hook` — ids factorized through
    ``np.unique``, whose sorted output makes index order coincide with
    id order, so the min-index root IS the min-id label; works for any
    orderable id dtype, long and string alike), labels re-parallelized
    as a local relation.  Output is the same relation the star loop
    converges to — every edge endpoint labeled with its component's
    minimum id — and ``np.unique``'s sorted node order makes the
    emitted rows independent of collect partition order."""
    import numpy as np
    from pyspark.sql import types as T

    node_t = edges.schema["src"].dataType
    schema = T.StructType([T.StructField("node", node_t, True),
                           T.StructField("component", node_t, True)])
    pdf = edges.select("src", "dst").toPandas()
    sa = pdf["src"].to_numpy()
    sb = pdf["dst"].to_numpy()
    nodes, idx = np.unique(np.concatenate([sa, sb]), return_inverse=True)
    roots = _np_min_hook(idx[:len(sa)], idx[len(sa):], len(nodes))
    return local.to_spark(edges.sparkSession,
                          {"node": nodes, "component": nodes[roots]}, schema)


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal accumulator: SUM over int64 hashes overflows under
        # ANSI mode (Spark 4 default here)
        F.coalesce(F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("h")
    ).collect()[0]
    return int(row.n), int(row.h)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25,
                         slot: str | None = None,
                         assume_normalized: bool = False) -> DataFrame:
    """Undirected edge list → (node, component) with component = the
    smallest node id in each connected component.  Nodes are every
    distinct endpoint (isolated nodes don't appear — they were never in
    an edge).  Ids must be an orderable type (long/string).

    A single min-neighborhood CONTRACTION pass runs first (r6
    optimization): every node hooks to ``m(v) = min(closed
    neighborhood)``, edges contract to their supernodes, and the star
    loop runs on the contracted graph — on dense graphs (the dbscan /
    near-dup shape, avg degree ~20) this shrinks the per-iteration
    relation by the degree factor for the cost of one extra pass.
    Correctness: m(v) shares v's component (v—m(v) is an edge or
    identity); every original edge induces a supernode edge, so
    components biject; each component's minimum z has m(z) = z, so the
    contracted component minimum IS the original minimum, and the final
    map-back ``comp(v) = coalesce(comp'(m(v)), m(v))`` (NULL when v's
    whole component contracted into one supernode) restores per-node
    labels.  The star loop keeps its O(log n) worst-case guarantee —
    contraction alone can be O(diameter) on paths, so it runs ONCE.

    ``slot`` names the pin slot for the hook mapping (callers that
    re-run per session pass one so reruns recycle; None = anonymous).
    ``max_iter`` bounds the alternating rounds (convergence is
    O(log n); 25 covers any realistic graph) — non-convergence raises
    rather than returning partial labels.

    Once the live edge set is within ``local.CC_EDGES`` (the EXACT
    count from the convergence checksum that runs anyway), contraction
    stops and the remainder is solved by one bounded collect +
    union-find on the driver (r6) instead of star iterations that are
    pure job latency at that size; larger graphs keep the star loop.
    """
    from .pinning import fresh_pins, rolling_pins

    spark = edges.sparkSession
    # rolling: only the newest iterate is ever re-read, so superseded
    # rounds release as soon as their successor materializes (bounded
    # at 2 copies instead of max_iter+1).  lazy: every pin below is
    # immediately followed by a _checksum action, which fuses the
    # checkpoint materialization into the checksum job (one job per
    # iteration instead of two)
    pinf = rolling_pins(spark, lazy=True)
    norm = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_normalized:
        # callers that PROVE distinct loop-free edges (dbscan's
        # unordered a<b pair relation) skip this dedup shuffle (r6)
        norm = norm.where(F.col("src") != F.col("dst")).distinct()
    cur = pinf(norm)
    # contraction passes: the hook maps outlive the loop (the final
    # map-back reads their composition), so they pin under their own
    # slot, not the rolling one.  Passes repeat while the edge set
    # keeps collapsing by >2x (dense graphs shrink by the degree
    # factor per pass; a path-shaped graph stops after one), bounded
    # at 3 so the star loop's O(log n) guarantee still carries the
    # worst case.  The convergence checksum doubles as the pass's
    # shrink measurement — no extra jobs.
    hookf = fresh_pins(spark, slot)
    m_total = None
    prev = _checksum(cur)
    for _ in range(3):
        if local.within(prev[0], local.CC_EDGES):
            # empty, or already small enough for the driver finish
            # below — further contraction passes would only add jobs
            break
        sym = cur.unionByName(
            cur.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst")))
        m = hookf(sym.groupBy("src").agg(F.min("dst").alias("_mn"))
                  .select(F.col("src").alias("node"),
                          F.least(F.col("_mn"), F.col("src")).alias("m")))
        cur = pinf(cur
                   .join(m.select(F.col("node").alias("src"),
                                  F.col("m").alias("msrc")), "src")
                   .join(m.select(F.col("node").alias("dst"),
                                  F.col("m").alias("mdst")), "dst")
                   .select(F.col("msrc").alias("src"),
                           F.col("mdst").alias("dst"))
                   .where(F.col("src") != F.col("dst"))
                   .distinct())
        if m_total is None:
            m_total = m
        else:
            # supernodes absent from the next pass's hook map are
            # isolated there — they keep their current label
            m2 = m.select(F.col("node").alias("_mn2"),
                          F.col("m").alias("_mm2"))
            m_total = (m_total.join(m2, m_total["m"] == m2["_mn2"],
                                    "left")
                       .select(m_total["node"],
                               F.coalesce(m2["_mm2"], m_total["m"])
                               .alias("m")))
        n = _checksum(cur)
        shrunk = n[0] * 2 <= prev[0]
        prev = n
        if not shrunk:
            break
    if local.within(prev[0], local.CC_EDGES):
        # bounded driver finish: the live set is provably tiny (exact
        # count above); union-find replaces the remaining ~log(n) star
        # iterations, whose cost at this size is pure job latency
        contracted = _local_components(cur)
    else:
        for _ in range(max_iter):
            # the previous checksum's row count is a free exact size of
            # the live edge set: under the broadcast cutoff, hint both
            # stars' minima relations so the joins skip their exchanges
            # (a node count is bounded by 2·edges; the cutoff keeps the
            # built relation well under the session broadcast threshold)
            small = prev[0] <= _BROADCAST_EDGES
            cur = pinf(_small_star(_large_star(cur, small), small))
            now = _checksum(cur)
            if now == prev:
                break
            prev = now
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"iterations")
        roots = cur.select(F.col("dst").alias("node"),
                           F.col("dst").alias("component")).distinct()
        contracted = (cur.select(F.col("src").alias("node"),
                                 F.col("dst").alias("component"))
                      .unionByName(roots)
                      .distinct())
    if m_total is None:        # empty edge set: no nodes, empty labels
        return contracted
    return (m_total.join(contracted, m_total["m"] == contracted["node"],
                         "left")
            .select(m_total["node"].alias("node"),
                    F.coalesce(contracted["component"], m_total["m"])
                    .alias("component")))


def triangle_counts_local(edges: DataFrame):
    """Driver-side per-node triangle counts over an undirected-distinct
    edge relation ``edges(a, b)`` with a < b — the vectorized twin of
    ``queries.triangle_count_sql``'s orient-by-(degree, node) wedge
    join (r6): identical algebra (orientation by ascending (deg, id),
    wedges = ordered out-neighbor pairs, closed against the oriented
    edge set; nodes in no triangle are absent), exact integer counts.
    Returns None unless BOTH the edge count (one bounded collect,
    ``local.collect_within``) and the exact wedge count (Σ od·(od−1)/2,
    computed from degrees before materializing anything quadratic) are
    within ``local.TRIANGLE_EDGES`` / ``local.TRIANGLE_WEDGES`` — larger
    graphs keep the caller's distributed wedge join.  An empty edge set
    gives an empty frame."""
    import numpy as np
    from pyspark.sql import types as T

    table = local.collect_within(edges, local.TRIANGLE_EDGES)
    if table is None:
        return None
    spark = edges.sparkSession
    node_t = edges.schema[0].dataType
    schema = T.StructType([T.StructField("node", node_t, True),
                           T.StructField("n_tri", T.LongType(), True)])
    a = table.column(0).to_numpy()
    b = table.column(1).to_numpy()
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    da, db = idx[:len(a)], idx[len(a):]
    n = len(nodes)
    deg = np.bincount(da, minlength=n) + np.bincount(db, minlength=n)
    # rank by (deg, node): np.unique's sorted output makes dense index
    # order == node-id order, so lexsort((index, deg)) IS the
    # template's ROW_NUMBER ORDER BY deg, node (relative order is all
    # the wedge join consumes)
    rk = np.empty(n, dtype=np.int64)
    rk[np.lexsort((np.arange(n), deg))] = np.arange(n)
    ra, rb = rk[da], rk[db]
    u = np.where(ra < rb, da, db)
    v = np.where(ra < rb, db, da)
    od = np.bincount(u, minlength=n)
    n_wedges = int((od.astype(np.int64) * (od - 1) // 2).sum())
    if not local.within(n_wedges, local.TRIANGLE_WEDGES):
        return None
    # out-neighbors sorted by (u, rk[v]): within each u-group every
    # ordered following-pair is exactly one wedge (e2.rk_v > e1.rk_v)
    ordr = np.lexsort((rk[v], u))
    su, sv = u[ordr], v[ordr]
    cnt = od[od > 0]                       # group sizes in su order
    reps = np.repeat(cnt, cnt) - (
        np.arange(len(su)) - np.repeat(np.cumsum(cnt) - cnt, cnt)) - 1
    i1 = np.repeat(np.arange(len(su)), reps)
    tot = int(reps.sum())
    i2 = i1 + (np.arange(tot)
               - np.repeat(np.cumsum(reps) - reps, reps) + 1)
    wu, wv, ww = su[i1], sv[i1], sv[i2]
    # close: the wedge (v, w) must itself be an oriented edge
    pk = np.sort(su.astype(np.int64) * n + sv)
    nk = wv.astype(np.int64) * n + ww
    pos = np.clip(np.searchsorted(pk, nk), 0, len(pk) - 1)
    tri = pk[pos] == nk
    n_tri = (np.bincount(wu[tri], minlength=n)
             + np.bincount(wv[tri], minlength=n)
             + np.bincount(ww[tri], minlength=n)).astype(np.int64)
    keep = n_tri > 0
    return local.to_spark(spark, {"node": nodes[keep], "n_tri": n_tri[keep]},
                          schema)


def dedup_keep_representatives(edges: DataFrame, src: str = "src",
                               dst: str = "dst") -> DataFrame:
    """The pipeline verb on top of components: (node, component,
    is_representative) — keep rows where is_representative, drop the
    rest.  The representative is the component minimum (deterministic
    across runs and partitionings)."""
    cc = connected_components(edges, src, dst)
    return cc.withColumn("is_representative",
                         F.col("node") == F.col("component"))
