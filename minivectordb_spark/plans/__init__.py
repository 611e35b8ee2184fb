"""Physical-plan inspection helpers.

The scale contract of this engine is enforceable from the plan text:
kNN must be TakeOrderedAndProject (no global sort), map-only operators must
have zero Exchanges, dimension joins must broadcast, and filters must reach
the Parquet scan.  tests/test_plans.py pins these shapes so a regression
that silently introduces a shuffle fails CI.  Partition-width decisions
live in ``plans.width``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle boundaries in the physical plan (broadcast
    exchanges excluded — those move only the small side)."""
    plan = physical_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


def assert_plan_contains(df: DataFrame, *fragments: str) -> None:
    plan = physical_plan(df)
    for frag in fragments:
        assert frag in plan, f"expected {frag!r} in physical plan:\n{plan}"


def assert_no_shuffle(df: DataFrame) -> None:
    n = exchange_count(df)
    assert n == 0, f"expected a map-only plan, found {n} shuffle Exchange(s):\n{physical_plan(df)}"


def assert_no_keyed_shuffle(df: DataFrame) -> None:
    """Map-only MODULO the parallelism gate: no key-based data movement
    (hash/range partitioning), but the gate's round-robin redistribution
    (plans.width.ensure_parallelism — fires only when the source has
    fewer splits than cores, identity at real split counts) is permitted.
    Row placement stays data-independent, which is the property the
    map-only contract protects."""
    plan = physical_plan(df)
    keyed = [
        line
        for line in plan.splitlines()
        if "Exchange" in line
        and "BroadcastExchange" not in line
        and "RoundRobinPartitioning" not in line
    ]
    assert not keyed, f"expected no keyed shuffle, found:\n" + "\n".join(keyed)
