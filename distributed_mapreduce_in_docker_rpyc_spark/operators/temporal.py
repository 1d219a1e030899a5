"""Temporal join operators Spark lacks as built-ins: as-of join and
binned range (interval) join.

The reference has no joins at all (SURVEY.md §2.2), so these are extended
scope — but they are the two join shapes every event/timeseries workload
needs, implemented as compositions of existing DataFrame ops (SURVEY.md §7:
composition first, Pandas UDF only when semantics demand it — here they
don't).

Scale posture:
  - ``asof_join`` is ONE shuffle + sort per side (union → window), never a
    range cross-product: cost is O((|L|+|R|) log) per key partition, keys
    hash-partitioned. This is the standard scalable as-of formulation;
    a naive ``l.ts >= r.ts`` join is O(|L|·|R|) per key and dies at scale.
  - ``interval_join_binned`` turns an inequality-only join (which Spark
    executes as BroadcastNestedLoop or a per-key cross product) into an
    EQUI-join on (key, time-bin) by exploding each interval into the bins it
    covers: shuffle volume is |R| × avg-bins-per-interval, and the exact
    range predicate filters after the hash match. Bin size trades fan-out
    vs selectivity; pick ≈ median interval length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_ts <= left_ts`` (inclusive) within the same ``on`` key — the
    backward as-of join (DuckDB ``ASOF JOIN``, pandas ``merge_asof``).

    Union-and-carry formulation: tag both sides, sort each key partition by
    (ts, side) with right rows first on ties, carry the last non-null right
    payload forward with an unbounded-preceding window, keep left rows.
    Left rows with no preceding right row keep nulls (left-outer semantics).
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    carried = [f"{c}{suffix}" for c in right_cols] + [f"{right_ts}{suffix}"]

    l_tag = left.select(
        F.col(on),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left.columns if c not in (on, left_ts)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}") for c in right_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias(f"{right_ts}{suffix}"),
    )
    r_tag = right.select(
        F.col(on),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in (on, left_ts)],
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
        F.col(right_ts).alias(f"{right_ts}{suffix}"),
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.asc("_t"), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l_tag.unionByName(r_tag)
    for c in carried:
        unioned = unioned.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return (
        unioned.filter(F.col("_side") == 1)
        .drop("_side")
        .withColumnRenamed("_t", left_ts)
    )


def interval_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_seconds: int = 3600,
) -> DataFrame:
    """Equi-join ``points`` to the ``intervals`` containing them
    (``start_ts <= point_ts <= end_ts``, same ``on`` key) via time-binning.

    Each interval is exploded to one row per ``bin_seconds`` bucket it
    overlaps; points carry their single bucket; the join is a plain hash
    equi-join on (key, bucket) with the exact range predicate as a residual
    filter. Results are identical to the naive range join.
    """
    bin_of = lambda c: (F.unix_timestamp(c) / bin_seconds).cast("long")  # noqa: E731
    p = points.withColumn("_bin", bin_of(F.col(point_ts)))
    iv = intervals.withColumn(
        "_bin",
        F.explode(F.sequence(bin_of(F.col(start_ts)), bin_of(F.col(end_ts)))),
    )
    return p.join(iv, [on, "_bin"]).filter(
        (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) <= F.col(end_ts))
    ).drop("_bin")

