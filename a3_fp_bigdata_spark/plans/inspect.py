"""Helpers for reading a DataFrame's optimized/physical plan.

Usage (tests and perf triage)::

    from a3_fp_bigdata_spark.plans import inspect as PI
    plan = PI.physical_plan(df)
    assert PI.uses_broadcast_join(df)
    assert "l_shipdate" in PI.pushed_filters(df)[0]

All helpers read Spark's own queryExecution through the DataFrame's
JVM handle — no private APIs beyond the stable toString surfaces that
``df.explain()`` itself prints.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-prepare) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`explain('formatted')` as a string (scan details incl. PushedFilters
    and ReadSchema live here, not in executedPlan's tree dump)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of exchange (shuffle) operators in the physical plan.
    Broadcast exchanges don't count — they move only the small side."""
    plan = physical_plan(df)
    return len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))


def _walk_counts(df: DataFrame, node_names: frozenset[str]) -> tuple[int, int]:
    """(per_run, staged) counts of the given exec-node class names from
    a JVM plan walk. ``per_run`` counts nodes that execute on EVERY run
    of the query; ``staged`` counts nodes inside cached
    (InMemoryRelation) subtrees, each distinct relation counted ONCE —
    those run only when the shared stage materializes (per corpus
    snapshot in production: the shingle/bucket/cluster stages are built
    once and every dedup rung reads them). The text-regex alternative
    over-counts: the formatted plan re-expands a cached relation's
    child plan at every reference site, so one staged node can appear
    3x in the dump. ReusedExchange is a pointer, not a second
    execution."""
    jvm = df._sc._jvm
    seen_relations: set[int] = set()
    counts = {"run": 0, "staged": 0}

    def walk(node, in_cache: bool) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), in_cache)
            return
        if name == "ReusedExchangeExec":
            return
        if name.endswith("QueryStageExec"):  # shuffle/broadcast/cache stage
            walk(node.plan(), in_cache)
            return
        if name in node_names:
            counts["staged" if in_cache else "run"] += 1
        if name == "InMemoryTableScanExec":
            rel = node.relation()
            # dedupe on the shared CachedRDDBuilder: the cache manager
            # hands out a fresh InMemoryRelation instance per reference,
            # but all of them share one builder (and one materialization)
            rid = jvm.System.identityHashCode(rel.cacheBuilder())
            if rid not in seen_relations:
                seen_relations.add(rid)
                walk(rel.cachedPlan(), True)
            return
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i), in_cache)

    walk(df._jdf.queryExecution().executedPlan(), False)
    return counts["run"], counts["staged"]


def exchange_counts(df: DataFrame) -> tuple[int, int]:
    """(per_run, staged) shuffle-exchange counts (see _walk_counts).
    Broadcast exchanges are excluded (small-side movement)."""
    return _walk_counts(df, frozenset({"ShuffleExchangeExec"}))


def broadcast_join_counts(df: DataFrame) -> tuple[int, int]:
    """(per_run, staged) broadcast-join counts from the same
    cache-aware JVM walk (r12: the text count over executedPlan
    re-expands cached subtrees at every reference site — pl8's dump
    showed 64 broadcast joins of which only a fraction execute per
    run; the rest live inside staged relations materialized once)."""
    return _walk_counts(
        df,
        frozenset({"BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"}),
    )


def partition_filters(df: DataFrame) -> list[str]:
    """Partition-pruning predicates on file scans (PartitionFilters:
    [...]). Non-empty means the scan reads only matching partition
    directories — the difference between touching one bucket and the
    whole table."""
    return [
        m.group(1)
        for m in re.finditer(
            r"PartitionFilters: \[([^\]]*)\]", formatted_plan(df)
        )
        if m.group(1).strip()
    ]


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates pushed into file scans (PushedFilters: [...])."""
    return [
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))
        if m.group(1).strip()
    ]


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan — the columns actually read.
    A scan reading all columns for a 2-column projection is a pruning
    regression."""
    return [
        m.group(1)
        for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))
    ]


def has_take_ordered(df: DataFrame) -> bool:
    """orderBy+limit compiled to distributed top-k, not a full sort."""
    return "TakeOrderedAndProject" in physical_plan(df)
