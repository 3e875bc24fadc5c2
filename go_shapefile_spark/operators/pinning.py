"""Pinned-relation materialization (the LSH-signature durability seam).

Several composed queries (MinHash/SimHash/ngram dedup self-joins, the
exact-kNN frontier, the tile pyramid) must materialize a small
intermediate relation once: Spark inlines CTEs per reference, and
CacheManager substitution silently fails inside banded union-over-agg
self-join compositions (round-4 finding — ``isCached()`` lies while the
planned tree re-inlines the subtree per reference).  A pinned relation
is a plan LEAF, so references physically cannot recompute it.

Two strategies, chosen per session by the ``spark.graft.pin.strategy``
conf (``local`` when unset) — a deployment setting, so no operator
takes a per-call strategy:

``local`` (default)
    ``DataFrame.localCheckpoint()`` — executor-local block storage.
    Fastest, zero external dependencies; the right default for gate
    queries and short jobs.  **Cluster caveat** (VERDICT r4): the blocks
    live only on the executors that computed them, so losing an executor
    after the checkpoint invalidates the RDD and fails the job — a wrong
    default for a multi-hour 100-TB pipeline.

``storage``
    Materialize to reliable storage as parquet and scan it back.  The
    returned DataFrame is a plain parquet scan: it survives executor
    loss (and even a driver restart within the pin directory's
    lifetime), and like the checkpoint it is immune to re-inlining.
    The pin directory comes from ``spark.graft.pin.dir`` (point it at
    shared storage — HDFS/S3 — on a real cluster; any URI pyarrow.fs
    accepts works) or falls back to a per-application temp directory,
    which is only correct on a single machine.  ``df.checkpoint()``
    with ``sc.setCheckpointDir`` is the same durability class; parquet
    is preferred here because the scan-back re-enters Catalyst as a
    columnar source (pushdown/pruning still apply downstream).

This module is the only code in the package that materializes a
relation (no ``.cache()``/``.persist()`` elsewhere; a test parses the
package to keep it so): the distributed join cover and the raster cover
pin here too, so :func:`release_pins` frees them and a ``storage``
deployment makes them durable.

Pins are recycled per (session, slot): a fresh :func:`fresh_pins` call
releases the PREVIOUS call's blocks/files for that slot — without this,
every gate/bench invocation pins fresh blocks forever (measured round
4: +2 persistent RDDs per call; ContextCleaner never reclaims them
while the session lives).

:func:`pin_ctes` is the one way to pin CTEs of a SQL template: it
parses the template's top-level ``WITH`` list, pins the named CTEs in
order through a caller's :func:`fresh_pins` factory and re-points each
pinned CTE's BODY at the materialized relation, so no reference in the
template is ever rewritten.  DataFrame inputs bind the same way, as
leading CTEs; both go through ``spark.sql``'s DataFrame arguments, whose
generated view names are unique per call and dropped once the query is
analyzed (no session-global temp-view names).
"""

from __future__ import annotations

import os
import posixpath
import re
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources import fsio

PIN_STRATEGY_CONF = "spark.graft.pin.strategy"
PIN_DIR_CONF = "spark.graft.pin.dir"

_PINS: dict[tuple[int, str], list[Callable[[], None]]] = {}
_ANON = [0]      # counter for anonymous (per-call, non-recycled) slots


def pin_strategy(spark: SparkSession) -> str:
    s = spark.conf.get(PIN_STRATEGY_CONF, "local")
    if s not in ("local", "storage"):
        raise ValueError(f"unknown pin strategy {s!r} "
                         "(expected 'local' or 'storage')")
    return s


def pin_dir(spark: SparkSession) -> str:
    """Root directory for ``storage`` pins.  On a cluster this MUST be
    shared storage (set ``spark.graft.pin.dir``); the temp-dir fallback
    is only correct for local mode."""
    return spark.conf.get(PIN_DIR_CONF, None) or os.path.join(
        tempfile.gettempdir(),
        f"spark-graft-pins-{spark.sparkContext.applicationId}")


def _anon_slot() -> str:
    _ANON[0] += 1
    return f"anon_{_ANON[0]}"


def _materialize(spark: SparkSession, df: DataFrame, strategy: str,
                 name: str, eager: bool = True
                 ) -> tuple[DataFrame, Callable[[], None]]:
    """Pin ``df`` under ``strategy``: the pinned DataFrame and the call
    that frees it.  ``name`` is the parquet directory of a ``storage``
    pin; ``eager=False`` defers a ``local`` checkpoint to the next
    action over the result."""
    if strategy == "local":
        out = df.localCheckpoint(eager=eager)
        jrdd = out._jdf.queryExecution().analyzed().rdd()
        return out, lambda: jrdd.unpersist(False)
    path = posixpath.join(pin_dir(spark), name)
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), lambda: fsio.rmtree(path)


def _release(releases: list[Callable[[], None]]) -> None:
    for release in releases:
        try:
            release()
        except Exception:
            pass   # session restarted / executor gone — nothing to free


def fresh_pins(spark: SparkSession, slot: str | None
               ) -> Callable[[DataFrame], DataFrame]:
    """Release any previous pins for (session, ``slot``) and return a
    ``pin(df) -> df`` that materializes a DataFrame under the session's
    strategy.

    Release happens at FACTORY time, never between pins of the same
    call: iterative operators (kNN frontier rounds, pyramid levels)
    chain pins — each round reads the previous round's pin, and the
    final union reads ALL of them — so intra-call pins must stay alive
    until the NEXT invocation of the same slot.

    ``slot=None`` allocates an ANONYMOUS per-call slot that is never
    recycled by later calls: public operators use this so a previous
    call's returned DataFrame stays valid when the operator runs again
    in the same session (two tile pyramids, two kNN batches).  Named
    slots are for runners whose previous result is one-shot by
    construction (the gate/bench harness): the recycle releases it.
    Anonymous pins live until session stop or :func:`release_pins`."""
    s = pin_strategy(spark)
    if slot is None:
        slot = _anon_slot()
    key = (id(spark), slot)
    _release(_PINS.pop(key, []))
    handles = _PINS.setdefault(key, [])

    def pin(df: DataFrame) -> DataFrame:
        out, release = _materialize(spark, df, s, f"{slot}_{len(handles)}")
        handles.append(release)
        return out

    return pin


def rolling_pins(spark: SparkSession,
                 lazy: bool = False) -> Callable[[DataFrame], DataFrame]:
    """Pin factory for loops where ONLY the newest iterate is ever read
    again (connected-components contraction): each pin materializes the
    new DataFrame FIRST — its plan reads the previous pin — and then
    releases the superseded one, so block/disk usage stays bounded at
    two iterates instead of one per round (r5 review).  NOT safe for
    loops whose final result unions every round (kNN frontier, pyramid
    levels) — use :func:`fresh_pins` there.

    ``lazy=True`` (local strategy only) defers materialization to the
    caller's NEXT action over the pinned DataFrame — for loops that
    immediately run a convergence probe over each iterate, this fuses
    the checkpoint job and the probe job into one (r6; the probe's
    first pass computes AND persists the blocks).  Only safe when the
    caller guarantees such an action before the following pin."""
    s = pin_strategy(spark)
    slot = _anon_slot()
    key = (id(spark), slot)
    counter = [0]

    def pin(df: DataFrame) -> DataFrame:
        n = counter[0]
        counter[0] += 1
        out, release = _materialize(spark, df, s, f"{slot}_r{n}",
                                    eager=not lazy)
        prev = _PINS.pop(key, [])
        if s == "local" and lazy:
            # the new pin has NOT materialized yet and its plan reads
            # the newest previous pin (whose checkpoint cannot be
            # recomputed once unpersisted) — defer that one's release
            # by one round; anything older is no longer referenced
            _PINS[key] = prev[-1:] + [release]
            prev = prev[:-1]
        else:
            _PINS[key] = [release]
        _release(prev)
        return out

    def release_slot() -> None:
        """Release the newest (last remaining) pin.  For loops whose
        RETURN VALUE does not read the final pin (learn_bpe returns a
        plain list): call after the loop, or the slot leaks one pinned
        relation per invocation until session stop.  Loops whose result
        DataFrame reads the final pin (connected_components) must NOT
        call this."""
        _release(_PINS.pop(key, []))

    pin.release = release_slot
    return pin


def release_pins(spark: SparkSession, slot: str | None = None) -> None:
    """Explicitly release pinned relations: one named slot, or (default)
    every pin this session holds — named and anonymous.  After release,
    DataFrames returned by the affected calls are invalid."""
    sid = id(spark)
    keys = [k for k in _PINS
            if k[0] == sid and (slot is None or k[1] == slot)]
    for k in keys:
        _release(_PINS.pop(k))


_SPACE = re.compile(r"(?:\s+|--[^\n]*|/\*.*?\*/)*", re.S)
_TOKEN = re.compile(r"'(?:\\.|[^'\\])*'|\"(?:\\.|[^\"\\])*\"|`[^`]*`"
                    r"|--[^\n]*|/\*.*?\*/|[()]", re.S)
_HEAD = re.compile(r"(\w+)\s+AS\s*\(", re.I)


def _with_list(sql: str) -> tuple[list[tuple[str, str]], str]:
    """Split ``WITH a AS (...), b AS (...) <query>`` into its CTEs
    ``(name, body)`` and the trailing query text.  Parentheses match
    outside quoted literals (Spark backslash escapes) and comments."""
    m = re.compile(r"WITH\b", re.I).match(sql, _SPACE.match(sql).end())
    if m is None:
        raise ValueError("SQL does not start with a WITH list")
    ctes, i = [], m.end()
    while True:
        head = _HEAD.match(sql, _SPACE.match(sql, i).end())
        if head is None:
            raise ValueError(f"expected 'name AS (' at offset {i}")
        depth, close = 0, None
        for tok in _TOKEN.finditer(sql, head.end() - 1):
            depth += {"(": 1, ")": -1}.get(tok.group(), 0)
            if depth == 0:
                close = tok.start()
                break
        if close is None:
            raise ValueError(f"unbalanced parentheses in CTE {head[1]}")
        ctes.append((head[1], sql[head.end():close]))
        i = _SPACE.match(sql, close + 1).end()
        if not sql.startswith(",", i):
            return ctes, sql[close + 1:]
        i += 1


def pin_ctes(spark: SparkSession, sql: str, names: list[str],
             pin: Callable[[DataFrame], DataFrame] | None = None,
             **inputs: DataFrame
             ) -> tuple[DataFrame | None, dict[str, DataFrame]]:
    """Run ``sql`` (a ``WITH`` list and a final query) with the CTEs in
    ``names`` materialized once each, in order, through ``pin`` (a
    :func:`fresh_pins` factory).

    Spark inlines a CTE at every reference.  A pinned CTE keeps its
    name but its body becomes ``SELECT * FROM <pinned relation>``, so
    every reference, later pinned CTEs included, reads one plan leaf.
    Each pin runs the WITH list only up to its own CTE.  ``inputs``
    bind DataFrames as leading CTEs under their keyword names.

    Returns ``(final, pinned)``: the final query's DataFrame (``None``
    for a bare WITH list, so a caller that needs only the pinned
    relations pays no analysis for a query it never runs) and the
    pinned DataFrames by CTE name."""
    ctes, tail = _with_list(sql)
    order = [name for name, _ in ctes]
    missing = [name for name in names if name not in order]
    if missing:
        raise ValueError(f"no CTE named {missing} in WITH list {order}")
    pinned: dict[str, DataFrame] = {}

    def run(upto: int, query: str) -> DataFrame:
        defs = [(n, ["SELECT * FROM ", df]) for n, df in inputs.items()]
        defs += [(n, ["SELECT * FROM ", pinned[n]] if n in pinned else [b])
                 for n, b in ctes[:upto]]
        parts: list = []
        for k, (name, body) in enumerate(defs):
            parts += [("WITH " if k == 0 else ",\n") + f"{name} AS (",
                      *body, ")"]
        parts.append(query)
        frames = {f"p{k}": p for k, p in enumerate(parts)
                  if isinstance(p, DataFrame)}
        if not frames:
            return spark.sql("".join(parts))
        # DataFrame arguments bind through generated per-call views
        return spark.sql("".join(
            "{p%d}" % k if isinstance(p, DataFrame)
            else p.replace("{", "{{").replace("}", "}}")
            for k, p in enumerate(parts)), **frames)

    for name in names:
        pinned[name] = pin(run(order.index(name) + 1,
                               f"\nSELECT * FROM {name}"))
    has_query = _SPACE.match(tail).end() < len(tail)
    return (run(len(ctes), tail) if has_query else None), pinned
