"""Physical-plan audits: assert the plans we designed are the plans we run.

Used by tests and by ``tools/explain_audit.py`` to keep the scale
properties honest: broadcast joins stay broadcast, filters/projections
reach the parquet scan, hot paths stay inside WholeStageCodegen, and no
accidental Python UDF creeps into a JVM-only operator.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_broadcast_join(df: DataFrame) -> None:
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, \
        f"expected a broadcast join in:\n{plan[:2000]}"


PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")


def assert_no_python_udf(df: DataFrame) -> None:
    plan = executed_plan(df)
    for marker in PYTHON_NODES:
        assert marker not in plan, f"unexpected {marker} in:\n{plan[:2000]}"


def python_operators(df: DataFrame) -> list[str]:
    """The Python nodes of the executed plan's operator tree, walked
    through children only: a cached relation's build plan (e.g. a
    mapInArrow cover build) is not one of the operator's own stages.
    Read with AQE off: an AdaptiveSparkPlan is a leaf."""
    def walk(node):
        if node.nodeName() in PYTHON_NODES:
            yield node.nodeName()
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))
    return list(walk(df._jdf.queryExecution().executedPlan()))


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """The parquet scan must carry PushedFilters mentioning ``fragment``."""
    plan = executed_plan(df)
    assert "PushedFilters: [" in plan, f"no pushed filters in:\n{plan[:2000]}"
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(fragment in ln for ln in pushed), \
        f"filter {fragment!r} not pushed; got: {pushed}"


def assert_pruned_schema(df: DataFrame, max_cols: int) -> None:
    """The scan's ReadSchema must not read more than ``max_cols`` columns."""
    plan = executed_plan(df)
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            schema = ln.split("ReadSchema:", 1)[1]
            n = schema.count(":")
            assert n <= max_cols, f"scan reads {n} columns (> {max_cols}): {schema}"
            return
    raise AssertionError("no ReadSchema found in plan")


def in_wholestage_codegen(df: DataFrame) -> bool:
    """Codegen'd operators print as '*(n) Op' in the executed plan."""
    plan = executed_plan(df)
    return "WholeStageCodegen" in plan or "*(" in plan


HUGE_METHOD_BYTES = 8000   # HotSpot does not JIT a larger method


@contextmanager
def aqe_off(spark: SparkSession):
    """AQE off inside the block, the previous setting restored after:
    the codegen checks below read the executed plan, and AQE's initial
    plan has no codegen stages yet."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def broadcast_joins_in_codegen(df: DataFrame) -> bool:
    """Every BroadcastHashJoin of the executed plan prints as
    '*(n) BroadcastHashJoin', i.e. runs inside whole-stage codegen.
    Read with AQE off: AQE's initial plan has no codegen stages yet."""
    joins = [ln for ln in executed_plan(df).splitlines()
             if "BroadcastHashJoin" in ln]
    return bool(joins) and all(
        re.search(r"\*\(\d+\) BroadcastHashJoin", ln) for ln in joins)


def filter_codegen_stages(df: DataFrame, fragment: str) -> list[str]:
    """Per executed-plan Filter whose condition contains ``fragment``:
    its whole-stage codegen prefix ``*(n)``, or '' where it runs
    interpreted.  Read with AQE off (see broadcast_joins_in_codegen)."""
    return [m.group(1) or "" for ln in executed_plan(df).splitlines()
            if fragment in ln
            and (m := re.search(r"(\*\(\d+\))? ?Filter ", ln))]


def max_generated_method_bytes(df: DataFrame) -> int:
    """The largest generated method, in bytecode bytes, over the
    executed plan's whole-stage codegen subtrees (compiles them)."""
    debug = df.sparkSession.sparkContext._jvm \
        .org.apache.spark.sql.execution.debug.package
    stats = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
    return max((stats.apply(i)._3().maxMethodCodeSize()
                for i in range(stats.size())), default=0)
