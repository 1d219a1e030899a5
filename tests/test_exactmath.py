"""Bit-identity guards for the driver-side iteration replay (r11).

`events_markov_stationary` / `events_markov_attribution` replay their
quantized mass-sum steps on the driver (functions/exactmath.py) instead of
launching a Spark job per step.  That is only legal if the replay is
bit-identical to the Spark expression chain — these tests pin the
equivalence DIFFERENTIALLY on the running JVM:

1. the double→DECIMAL(38,12) cast replay over fuzzed + boundary doubles,
2. one full mass-sum step (multiply, quantize, exact sum, cast back) against
   the literal Spark job it replaces, on random transition matrices,
3. the rewritten queries against their DuckDB oracles end-to-end, also on
   an event type literally named after the reserved ``CONV`` state.
"""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.functions.exactmath import (
    mass_step,
    spark_double_to_dec12,
)


def test_dec12_cast_replay_matches_spark(spark):
    rng = random.Random(11)
    vals = [rng.random() for _ in range(3000)]
    vals += [rng.random() * rng.random() for _ in range(3000)]
    # Adversarial: land exactly on / next to the 1e-12 HALF_UP boundary.
    vals += [
        float(Decimal(rng.randrange(10**12)) / Decimal(10**12) + Decimal(5) / Decimal(10**13))
        for _ in range(2000)
    ]
    vals += [5e-13, 1.5e-12, 2.5e-12, 1e-13, 0.1 + 0.2, 1.0, 0.0, 1 / 3]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = df.selectExpr("v", "CAST(CAST(v AS DECIMAL(38,12)) AS STRING) AS s").collect()
    for r in rows:
        assert spark_double_to_dec12(r.v) == Decimal(r.s), repr(r.v)


def test_mass_step_matches_spark_job(spark):
    """The Python step is bit-identical to the Spark job it replaced:
    pr ⋈ pi ON src GROUP BY dst: CAST(SUM(CAST(pi*pv AS DEC(38,12))) AS DOUBLE)."""
    rng = random.Random(7)
    states = [f"s{i}" for i in range(6)]
    for trial in range(3):
        trans = [
            (a, b, rng.random())
            for a in states
            for b in states
            if rng.random() < 0.7
        ]
        pi = {s: rng.random() for s in states if rng.random() < 0.9}
        if not pi or not trans:
            continue
        expected = mass_step(pi, trans)
        pr_df = spark.createDataFrame(trans, "src string, dst string, pv double")
        pi_df = spark.createDataFrame(list(pi.items()), "s string, pi double")
        rows = (
            pr_df.join(F.broadcast(pi_df), F.col("src") == F.col("s"))
            .groupBy("dst")
            .agg(
                F.sum((F.col("pi") * F.col("pv")).cast("decimal(38,12)"))
                .cast("double")
                .alias("pi_new")
            )
            .collect()
        )
        got = {r.dst: r.pi_new for r in rows}
        assert got == expected  # exact float equality, not approx
        # iterate a few chained steps too — error would compound if any
        for _ in range(3):
            pi = mass_step(pi, trans)
            pi_df = spark.createDataFrame(list(pi.items()), "s string, pi double")
            rows = (
                pr_df.join(F.broadcast(pi_df), F.col("src") == F.col("s"))
                .groupBy("dst")
                .agg(
                    F.sum((F.col("pi") * F.col("pv")).cast("decimal(38,12)"))
                    .cast("double")
                    .alias("pi_new")
                )
                .collect()
            )
            assert {r.dst: r.pi_new for r in rows} == mass_step(pi, trans)
            break  # one chained confirmation per trial keeps the test fast


@pytest.mark.parametrize(
    "name", ["events_markov_stationary", "events_markov_attribution"]
)
def test_markov_queries_match_oracle(spark, sf_dir, name):
    from distributed_mapreduce_in_docker_rpyc_spark import registry
    from tests.oracle import compare

    registry.load_all()
    compare(registry.QUERIES[name](spark, sf_dir), registry.ORACLES[name], sf_dir)


def test_markov_attribution_with_conv_event_type_matches_oracle(spark, tmp_path):
    """An event type named ``CONV`` gives the chain a real CONV→CONV edge
    next to the absorbing pv=1.0 self-loop.  The oracle keeps both rows
    (UNION ALL) and sums their quantized products; the driver replay must
    too, not let the self-loop overwrite the real edge.  Removing the CONV
    channel redirects every conversion to NULL, so that chain has no CONV
    state and, as in the oracle, no output row."""
    from datetime import datetime, timedelta

    from distributed_mapreduce_in_docker_rpyc_spark import registry
    from tests.oracle import compare, write_events

    journeys = {
        1: ["view", "click", "purchase"],
        2: ["view", "CONV", "CONV", "click"],
        3: ["click", "view", "purchase"],
        4: ["CONV", "view", "purchase"],
        5: ["view", "CONV", "click", "view"],
    }
    t0 = datetime(2024, 1, 1)
    rows = []
    for user, types in journeys.items():
        for j, et in enumerate(types):
            rows.append((len(rows), t0 + timedelta(minutes=10 * j), user, et))
    write_events(str(tmp_path), rows)

    registry.load_all()
    name = "events_markov_attribution"
    df = registry.QUERIES[name](spark, str(tmp_path))
    assert {r.channel for r in df.collect()} == {"view", "click"}
    compare(df, registry.ORACLES[name], str(tmp_path))
