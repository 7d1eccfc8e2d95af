"""Plan inspection helpers — the engine's guardrails that Catalyst is
producing the plan shapes we designed for (SURVEY §4: zero custom
optimizer rules are needed; these helpers *verify* the built-in ones
fired instead of re-implementing them).

Used by tests/test_plans.py to pin, per operator family:
* filters reach the parquet scan (``PushedFilters``);
* projections prune the scan schema (``ReadSchema``);
* small dims broadcast (``BroadcastHashJoin``) instead of shuffling;
* aggregations are two-phase (``partial_`` before the exchange);
* top-k plans as ``TakeOrderedAndProject`` (per-partition heaps), not
  a global sort.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


_METADATA_LENGTH = "spark.sql.maxMetadataStringLength"


def executed_plan(df: DataFrame) -> str:
    """Initial physical plan text, built without running a job: under
    AQE it reads ``AdaptiveSparkPlan isFinalPlan=false`` (only the
    DataFrame's own action finalizes it).  The session's conf is left
    as it was found."""
    conf = df.sparkSession.conf
    previous = conf.get(_METADATA_LENGTH, None)
    # default metadata strings truncate at 100 chars, cutting off
    # PushedFilters/ReadSchema lists mid-entry
    conf.set(_METADATA_LENGTH, "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        if previous is None:
            conf.unset(_METADATA_LENGTH)
        else:
            conf.set(_METADATA_LENGTH, previous)


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def pushed_filters(plan: str) -> list[str]:
    """Filter names pushed into the parquet scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)", plan):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def read_schemas(plan: str) -> list[list[str]]:
    """Column lists actually read from each scan (pruning check)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)", plan):
        out.append([f.split(":")[0] for f in m.group(1).split(",") if f])
    return out


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_sort_merge_join(plan: str) -> bool:
    return "SortMergeJoin" in plan


def has_partial_aggregation(plan: str) -> bool:
    """Two-phase hash aggregation: map-side partial before the exchange
    (the distributed twin of the reference's accumulate/merge split,
    interfaces.scala:29-47)."""
    return bool(re.search(r"partial_", plan))

def has_take_ordered(plan: str) -> bool:
    return "TakeOrderedAndProject" in plan


def whole_stage_codegen_spans(plan: str) -> int:
    """Number of WholeStageCodegen regions — wider/fewer is better."""
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))


def exchange_record_counts(df: DataFrame, run: bool = True) -> list[int]:
    """Records that actually crossed each shuffle Exchange in the
    EXECUTED plan (post-AQE), leaf-to-root order.

    Plan-string checks prove shape ("there is a partial aggregate");
    this proves effect: a two-phase aggregate over a skewed input must
    show a keys-sized record count on its exchange, not the input row
    count.  Walks AdaptiveSparkPlan/QueryStage wrappers because AQE
    hides materialized stages behind leaf nodes.

    ``run`` uses collect(), NOT count(): count() executes a DERIVED
    query execution (groupBy().count()'s), leaving df's own plan
    unexecuted with every metric at zero — an assertion against it
    would pass vacuously.  Test-scale helper: call with run=False
    after your own bounded action if collect() would be large."""
    if run:
        df.collect()

    def _walk(node):
        yield node
        name = node.nodeName()
        if "QueryStage" in name:
            yield from _walk(node.plan())
            return
        if name == "AdaptiveSparkPlan":
            yield from _walk(node.executedPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            yield from _walk(ch.apply(i))

    counts = []
    for n in _walk(df._jdf.queryExecution().executedPlan()):
        if "Exchange" in n.nodeName():
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "recordsRead":
                    counts.append(int(kv._2().value()))
    return list(reversed(counts))  # leaf-to-root
