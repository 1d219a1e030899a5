"""Relational library: oracle differentials at sf0.001 (fast), physical-plan
shape assertions (broadcast joins, parquet pushdown), pivot equivalence."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.operators.relational import manual_pivot, money
from distributed_mapreduce_in_docker_rpyc_spark.registry import ORACLES, QUERIES, load_all
from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table
from tests.oracle import compare, write_events

load_all()

RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority_check",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_revenue_share",
    "q18_large_volume_customers",
    "filter_project_pushdown",
    "join_broadcast_dim",
    "join_left_outer",
    "join_full_outer",
    "join_semi",
    "join_anti",
    "agg_distinct",
    "agg_stats",
    "rollup_agg",
    "cube_agg",
    "window_topk_per_group",
    "window_running_sum",
    "window_lag_gap",
    "setop_union",
    "setop_intersect",
    "setop_except",
    "orderby_limit_global",
    "distinct_projection",
    "scalar_functions",
    "pivot_status_by_flag",
    "scalar_subquery_above_avg",
    "grouping_sets_sql",
    "recursive_cte_inventory",
    "join_null_safe",
]


@pytest.mark.parametrize("name", RELATIONAL)
def test_matches_oracle(spark, sf_dir, name):
    compare(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)


def test_sessionize_sub_second_gaps_match_oracle(spark, tmp_path):
    """Gaps of 1799.3 s, 1800.0 s and 1800.7 s placed across second
    boundaries: only the 1800.7 s gaps open a session, as the oracle's
    ``> INTERVAL '30 minutes'`` says.  User 1's 1800.7 s gap runs from
    .200 to .900 of a second, so whole-second arithmetic reads it as
    1800 s and misses the break; user 2's crosses into the next second."""
    from datetime import datetime, timedelta

    def at(base: datetime, *gaps_s: float) -> list[datetime]:
        out = [base]
        for g in gaps_s:
            out.append(out[-1] + timedelta(microseconds=round(g * 1_000_000)))
        return out

    u1 = at(datetime(2024, 1, 1, 10, 0, 0, 900_000), 1799.3, 1800.0, 1800.7)
    u2 = at(datetime(2024, 1, 1, 10, 0, 0, 500_000), 1800.7, 1799.3)
    rows = [(i, t, 1, "view") for i, t in enumerate(u1)]
    rows += [(10 + i, t, 2, "view") for i, t in enumerate(u2)]
    write_events(str(tmp_path), rows)
    df = QUERIES["events_sessionize"](spark, str(tmp_path))
    compare(df, ORACLES["events_sessionize"], str(tmp_path))
    assert sorted((r.user_id, r.n_events) for r in df.collect()) == [
        (1, 1), (1, 3), (2, 1), (2, 2)
    ]


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_broadcast_join_in_plan(spark, sf_dir):
    """Dimension joins must not shuffle the fact side."""
    import re

    plan = _plan(QUERIES["join_broadcast_dim"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # The only shuffle exchange should be for the aggregation, not the join.
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_filter_pushdown_in_plan(spark, sf_dir):
    """q6's predicates must reach the parquet scan."""
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_column_pruning_in_plan(spark, sf_dir):
    """filter_project must read only the needed columns."""
    plan = _plan(QUERIES["filter_project_pushdown"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_custkey" not in read_schema


def test_native_pivot_equals_manual(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    manual = {
        (r["l_returnflag"], float(r["l_linestatus_O"] or 0), float(r["l_linestatus_F"] or 0))
        for r in manual_pivot(li, "l_returnflag", "l_linestatus", ["O", "F"], money("l_quantity")).collect()
    }
    native = {
        (r["l_returnflag"], float(r["O"] or 0), float(r["F"] or 0))
        for r in li.groupBy("l_returnflag").pivot("l_linestatus", ["O", "F"]).agg(F.sum(money("l_quantity"))).collect()
    }
    assert manual == native


def test_topk_limit_is_take_ordered(spark, sf_dir):
    """Global order-by-limit must compile to TakeOrderedAndProject, not Sort."""
    plan = _plan(QUERIES["orderby_limit_global"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_salted_join_equals_plain_join(spark, sf_dir):
    from distributed_mapreduce_in_docker_rpyc_spark.functions.skew import salted_aggregate, salted_join
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    plain = {tuple(r) for r in li.join(o, "l_orderkey").collect()}
    salted = {tuple(r) for r in salted_join(li, o, on="l_orderkey", n_salts=4).collect()}
    assert salted == plain

    want = {
        tuple(r)
        for r in li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"), F.count("l_quantity").alias("n"))
        .collect()
    }
    got = {
        tuple(r)
        for r in salted_aggregate(
            li, ["l_orderkey"], {"q": ("sum", "l_quantity"), "n": ("count", "l_quantity")}, 4
        ).collect()
    }
    assert got == want


def test_salted_join_left_anti_parity_and_outer_rejected(spark, sf_dir):
    """left/anti preserve the skewed side exactly (one salt per row); right/
    full outer must be REJECTED — the exploded other side would emit each
    unmatched row n_salts times."""
    import pytest

    from distributed_mapreduce_in_docker_rpyc_spark.functions.skew import salted_join
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    o = load_table(spark, sf_dir, "orders").filter("o_orderkey % 3 = 0").select(
        F.col("o_custkey").alias("k"), "o_orderstatus"
    )
    for how in ("left", "left_anti"):
        plain = {tuple(r) for r in cust.join(o, "k", how).collect()}
        salted = {tuple(r) for r in salted_join(cust, o, on="k", n_salts=4, how=how).collect()}
        assert salted == plain and plain
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="preserving"):
            salted_join(cust, o, on="k", how=how)


def test_bag_setops_ground_truth(spark, sf_dir):
    """EXCEPT ALL / INTERSECT ALL multiplicities recomputed with Counters."""
    from collections import Counter

    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    open_c = Counter(r.o_custkey for r in o if r.o_orderstatus == "O")
    fin_c = Counter(r.o_custkey for r in o if r.o_orderstatus == "F")
    want_exc = {k: v - fin_c.get(k, 0) for k, v in open_c.items() if v > fin_c.get(k, 0)}
    want_int = {
        k: min(v, fin_c[k]) for k, v in open_c.items() if k in fin_c and min(v, fin_c[k]) > 0
    }
    got_exc = {
        r.custkey: r.multiplicity
        for r in QUERIES["setop_except_all"](spark, sf_dir).collect()
    }
    got_int = {
        r.custkey: r.multiplicity
        for r in QUERIES["setop_intersect_all"](spark, sf_dir).collect()
    }
    assert got_exc == want_exc
    assert got_int == want_int


def test_mv_join_delta_matches_full_recompute(spark, sf_dir):
    """The incrementally-maintained join view must carry zero deviations
    and its values must equal a plain Python full recompute."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["mv_incremental_join_delta"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.dev_n_rows == 0 and r.dev_revenue == 0.0
    o = {
        r.o_orderkey: r.o_orderdate
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    want = defaultdict(lambda: [0, Decimal(0)])
    for r in li:
        day = o.get(r.l_orderkey)
        if day is not None:
            d = day.date() if hasattr(day, "date") else day
            want[d][0] += 1
            want[d][1] += Decimal(str(round(r.l_extendedprice, 6)))
    got = {r.day: (r.n_rows, r.revenue) for r in rows}
    assert set(got) == set(want)
    for d, (n, s) in want.items():
        assert got[d][0] == n
        assert abs(got[d][1] - float(s)) < 1e-6


def test_effect_sizes_ground_truth(spark, sf_dir):
    """d / g / Glass recomputed from raw rows."""
    import math

    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    out = QUERIES["stat_effect_sizes_report"](spark, sf_dir).collect()
    assert len(out) == 1
    row = out[0]
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    c = {
        r.c_custkey: r.c_mktsegment
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    g0, g1 = [], []
    for r in o:
        seg = c.get(r.o_custkey)
        if seg in ("BUILDING", "MACHINERY") and r.o_totalprice is not None:
            (g0 if seg == "BUILDING" else g1).append(r.o_totalprice)
    n1, n2 = len(g0), len(g1)
    m1, m2 = sum(g0) / n1, sum(g1) / n2
    v1 = (sum(x * x for x in g0) - n1 * m1 * m1) / (n1 - 1)
    v2 = (sum(x * x for x in g1) - n2 * m2 * m2) / (n2 - 1)
    sp = math.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    d = (m1 - m2) / sp
    j = 1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)
    assert row.n_building == n1 and row.n_machinery == n2
    assert abs(row.mean_diff - (m1 - m2)) < 1e-3
    assert abs(row.pooled_sd - sp) < max(1e-3, sp * 1e-6)
    assert abs(row.cohens_d - d) < 1e-5
    assert abs(row.hedges_g - j * d) < 1e-5
    assert abs(row.glass_delta - (m1 - m2) / math.sqrt(v2)) < 1e-5


def test_pagerank_mass_conservation_and_convergence(spark, sf_dir):
    """PageRank invariants the oracle hash can't see: (a) total rank mass
    is 1 (symmetric graph, no dangling nodes, so the damped walk conserves
    probability); (b) ranks are positive; (c) one EXTRA power iteration
    moves no node by more than 0.85^8 of the initial spread — the fixed
    8-round budget really is at/near the fixpoint for this graph."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_relational import (
        _PR_ROUNDS,
        _PR_TERM,
        _copurchase_sym,
        graph_pagerank,
    )
    from pyspark.sql import functions as F

    pr = graph_pagerank(spark, sf_dir)
    rows = pr.collect()
    assert rows, "empty graph on fixture"
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-4, total
    assert all(r["pagerank"] > 0 for r in rows)

    # run one extra round by hand and compare
    sym = _copurchase_sym(spark, sf_dir)
    deg = sym.groupBy("src").agg(F.count("*").alias("outdeg"))
    n = float(deg.count())
    cur = pr.select(F.col("part").alias("v"), F.col("pagerank").alias("pr"))
    nxt = (
        sym.join(deg, "src")
        .join(cur, F.col("src") == F.col("v"))
        .select("dst", F.expr(_PR_TERM).alias("term"))
        .groupBy(F.col("dst").alias("v2"))
        .agg(F.sum("term").alias("s"))
        .select(
            "v2",
            (F.lit(0.15 / n) + F.lit(0.85) * F.col("s").cast("double")).alias("pr2"),
        )
    )
    delta = (
        cur.join(nxt, cur["v"] == nxt["v2"])
        .agg(F.max(F.abs(F.col("pr2") - F.col("pr"))).alias("d"))
        .collect()[0]["d"]
    )
    assert delta < 0.85**_PR_ROUNDS, (delta, _PR_ROUNDS)


def test_pagerank_dangling_redistribution(spark, sf_dir):
    """The general dangling-mass PageRank (r9) keeps total rank mass at 1
    ON A GRAPH THAT ACTUALLY HAS DANGLING NODES — the invariant the leaky
    0.15-floor variant violates.  Asserts (a) the word digraph fixture
    really contains out-degree-0 nodes (else the test proves nothing),
    (b) Σpr = 1 after 8 rounds, (c) all ranks positive."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_column
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import (
        graph_pagerank_dangling,
    )
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())
    edges = (
        docs.select(F.explode(bigrams).alias("b"))
        .select(
            F.split_part("b", F.lit(" "), F.lit(1)).alias("src"),
            F.split_part("b", F.lit(" "), F.lit(2)).alias("dst"),
        )
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 5)
    )
    srcs = edges.select("src").distinct()
    dsts = edges.select(F.col("dst").alias("src")).distinct()
    n_dangling = dsts.join(srcs, "src", "left_anti").count()
    assert n_dangling > 0, "fixture word digraph has no dangling nodes"

    rows = graph_pagerank_dangling(spark, sf_dir).collect()
    assert rows, "empty graph on fixture"
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-4, total
    assert all(r["pagerank"] > 0 for r in rows)
