"""Reusable relational operator helpers (SURVEY.md §7 M3).

The reference has no relational surface (SURVEY.md §2.2) — this module IS the
generalization: every standard operator family expressed declaratively so
Catalyst owns the physical plan, with explicit scale conventions:

  - dimension joins broadcast (`F.broadcast`) — region/nation/part never
    justify a shuffle of the fact table;
  - money aggregates go through ``decimal(18,4)`` so sums are exact and
    order-independent (double summation order would differ between a
    1000-executor cluster, local[32], and the DuckDB oracle), then cast back
    to double for a stable comparable surface;
  - top-k always carries a total order (unique key last) — the engine-wide
    determinism contract from the reference's unstable tie-break
    (reference coordinator/coordinator.py:251, SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def money(col: Column | str) -> Column:
    """Exact-sum representation for a monetary expression.

    Scale 6 is load-bearing: prices/discounts/taxes have ≤2 true decimal
    places, so any product of up to three of them has ≤6 — the cast then
    recovers the exact decimal value from the (≤2 ulp off) double product in
    every engine, making sums order- and engine-independent.  A smaller scale
    (e.g. 4) rounds exactly at .00005 boundaries where Spark's HALF_UP and
    other engines' rounding disagree.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(24,6)")


def money_sum(col: Column | str) -> Column:
    """Order-independent SUM over money: exact decimal sum, double surface."""
    return F.sum(money(col)).cast("double")


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Ranking-window top-k: one shuffle on the partition keys, no global sort.

    At scale this beats global-sort-then-filter by orders of magnitude; AQE
    handles skewed partition keys.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: lag + cumulative-sum-of-gap-breaks.

    Single shuffle on ``user_col``; both window functions share the same
    partitioning so Catalyst plans one Exchange.  The gap is taken in
    microseconds: whole seconds would read a 1800.7 s gap that straddles a
    second boundary as 1800 s, and miss the break an INTERVAL comparison
    sees.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    return events.withColumn("session_seq", F.sum(is_new).over(w))


def manual_pivot(
    df: DataFrame, group_col: str, pivot_col: str, values: list[str], agg_expr: Column
) -> DataFrame:
    """Portable pivot: conditional aggregation (identical semantics to
    ``.pivot()`` for a known value list, and expressible in ANSI SQL for the
    oracle). ``.pivot()`` itself is exercised in tests against this."""
    aggs = [
        F.sum(F.when(F.col(pivot_col) == v, agg_expr).otherwise(F.lit(None))).alias(f"{pivot_col}_{v}")
        for v in values
    ]
    return df.groupBy(group_col).agg(*aggs)
