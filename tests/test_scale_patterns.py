"""Scale-pattern tests: bucketed co-located joins, skew salting.

These assert on the PHYSICAL PLAN (no exchange on bucketed joins) and on
result equivalence (salted == unsalted), because the behaviors they protect
only matter at cluster scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from bigdatabowl_spark.operators.skew import salted_count_sum, salted_join
from bigdatabowl_spark.sources.io import write_bucketed
from bigdatabowl_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(o.select("o_orderkey", "o_totalprice"), "orders_b", ["o_orderkey"])
    write_bucketed(
        li.select("l_orderkey", "l_quantity"), "lineitem_b", ["l_orderkey"]
    )
    ob = spark.table("orders_b")
    lb = spark.table("lineitem_b")
    # at testdata scale the planner prefers broadcast (which would bypass
    # the bucketed scan entirely); force the at-scale shuffle join shape
    joined = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    plan = _plan(joined)
    assert "SortMergeJoin" in plan
    # co-located: neither side shuffles (bucketed scans line up)
    assert "Exchange hashpartitioning" not in plan
    # and the join result is right
    assert joined.count() == li.count()


def test_salted_agg_matches_unsalted(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plain = {
        (r.event_type): (r.n, round(r.total, 6))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    salted = {
        (r.event_type): (r.n, round(r.total, 6))
        for r in salted_count_sum(ev, "event_type", "value", "event_id").collect()
    }
    assert salted == plain


def test_salted_join_matches_unsalted(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o = o.withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(o, "l_orderkey")
    salted = salted_join(li, o, "l_orderkey", big_id_col="l_linenumber", n_salts=4)
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.select(*plain.columns).collect()}
    assert a == b


def test_cpu_delta_is_reap_aware():
    """bench._cpu_delta_sec (ADVICE r7): a worker reaped between samples
    must contribute its CPU via the parent's cutime/cstime roll-up, with
    the vanished pid's pre-window CPU subtracted back out — not silently
    dropped (the old undercount) and not double-counted."""
    import sys as _sys, os as _os
    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    from bench import _cpu_delta_sec

    # live-only growth: two pids each gain 2s self CPU
    start = {1: (10.0, 0.0), 2: (5.0, 0.0)}
    end = {1: (12.0, 0.0), 2: (7.0, 0.0)}
    assert _cpu_delta_sec(start, end) == 4.0

    # pid 2 reaped mid-window after burning 3 more seconds: it vanishes
    # from `end`, its 8s lifetime rolls into pid 1's reaped column; the
    # correct attribution is 2s (pid 1) + 3s (pid 2 post-start) = 5s
    start = {1: (10.0, 0.0), 2: (5.0, 0.0)}
    end = {1: (12.0, 8.0)}
    assert _cpu_delta_sec(start, end) == 5.0

    # a pid spawned AND reaped inside the window contributes fully
    start = {1: (10.0, 0.0)}
    end = {1: (10.0, 6.0)}
    assert _cpu_delta_sec(start, end) == 6.0

    # orphaned-to-init vanish (no roll-up anywhere): the vanished pid's
    # pre-window CPU must NOT be subtracted (nothing rolled up to double
    # count) — live processes' genuine work survives
    start = {1: (10.0, 0.0), 2: (5.0, 0.0)}
    end = {1: (10.0, 0.0)}
    assert _cpu_delta_sec(start, end) == 0.0

    # the m6 case that motivated the cap: the driver burns 2s while idle
    # workers (5s pre-window CPU each) are killed un-waited — the uncapped
    # rule reported 0.0, erasing the driver's work
    start = {1: (10.0, 0.0), 2: (5.0, 0.0), 3: (5.0, 0.0)}
    end = {1: (12.0, 0.0)}
    assert _cpu_delta_sec(start, end) == 2.0

    # mixed: one worker properly reaped mid-window (8s lifetime rolls into
    # pid 1's cutime), one killed un-waited. Which vanished pid rolled up
    # is unknowable from /proc, so the cap subtracts min(vanished, rolled)
    # = 8 — a conservative LOWER bound (true in-window CPU here is 5: the
    # reaped worker's post-start 3s is under-credited), never negative and
    # never erasing live work like the uncapped rule did
    start = {1: (10.0, 0.0), 2: (5.0, 0.0), 3: (4.0, 0.0)}
    end = {1: (12.0, 8.0)}
    assert _cpu_delta_sec(start, end) == 2.0


def test_superstep_skew_split_requires_roundrobin_graph_layout(spark):
    """AQE's skew-join split divides a skewed reduce partition along
    upstream MAP boundaries (ShufflePartitionsUtil splits lists of map
    outputs — it cannot cut inside one map's output). A checkpointed
    graph laid out hash(src) therefore puts a hub node's whole adjacency
    into ONE map, and the superstep rank join's hub partition is silently
    unsplittable no matter the skew conf. Stored round-robin (what
    round4._pr_graph and bench.bench_pagerank_scale now do), the hub's
    bytes spread over every map and the split fires. This test pins BOTH
    directions on a 1M-edge / 20%-hub graph with thresholds sized so only
    the hub partition qualifies (ranks-side partitions stay far below the
    threshold — a hair-trigger threshold would flag both sides and the
    rule skips both-skewed partitions)."""
    from bigdatabowl_spark.plans.round4 import _pr_superstep

    n_edges, n_nodes = 1_000_000, 100_000
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k"
    )
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k"
    )
    try:
        src = (
            F.when(F.col("id") % 5 == 0, F.lit(0))
            .otherwise(F.col("id") % n_nodes)
            .cast("long")
        )
        edges = spark.range(n_edges).select(
            src.alias("src"),
            F.pmod(
                F.hash((F.col("id") * 2654435761).cast("long")),
                F.lit(n_nodes),
            ).cast("long").alias("dst"),
        )
        degs = edges.groupBy("src").agg(
            F.count("*").alias("deg")
        ).withColumnRenamed("src", "node")
        annotated = edges.repartition("src").join(
            degs.select(F.col("node").alias("src"), F.col("deg").alias("deg_src"))
            .hint("shuffle_hash"),
            "src",
        )
        ranks = degs.select(
            "node", F.lit(1000000).cast("long").alias("rank")
        ).localCheckpoint()

        def superstep_plan(graph):
            final = _pr_superstep(graph, ranks).agg(
                F.count("*").alias("n"), F.sum("rank").alias("s")
            )
            row = final.collect()[0]
            return _plan(final), (row["n"], row["s"])

        by_src = annotated.localCheckpoint()
        round_robin = annotated.repartition(64).localCheckpoint()
        plan_src, res_src = superstep_plan(by_src)
        plan_rr, res_rr = superstep_plan(round_robin)
        # same bytes, same result — layout is performance-only
        assert res_src == res_rr
        # by-src layout: hub partition single-map-sourced → no split
        assert "skew=true" not in plan_src
        # round-robin layout: split fires on the hub partition
        assert "skew=true" in plan_rr, plan_rr
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_graph_layout_decision_is_degree_aware(spark):
    """The layout chooser (round4.graph_layout_decision) must keep the
    by-src fast path (map-side shuffle write is a no-op sort — measured
    ~2.5x less CPU/superstep) for uniform degree distributions and flip
    to round-robin only when a hub would dominate its reduce partition
    (the only layout under which AQE's map-boundary skew split can fire
    — see test_superstep_skew_split_requires_roundrobin_graph_layout)."""
    from bigdatabowl_spark.plans.round4 import (
        _HUB_LAYOUT_FACTOR,
        checkpoint_graph,
        graph_layout_decision,
    )

    # pure threshold: uniform stays by_src at any width
    assert graph_layout_decision(100_000_000, 40, 256) == "by_src"
    # a 20% single hub flips
    assert graph_layout_decision(100_000_000, 20_000_000, 256) == "round_robin"
    # boundary: exactly factor x average stays on the fast path
    avg = 1_000_000 // 64
    assert graph_layout_decision(
        1_000_000, _HUB_LAYOUT_FACTOR * avg, 64
    ) == "by_src"
    assert graph_layout_decision(
        1_000_000, _HUB_LAYOUT_FACTOR * avg + 1, 64
    ) == "round_robin"
    # degenerate inputs don't divide by zero
    assert graph_layout_decision(0, 0, 64) == "by_src"

    # end-to-end: the staged layouts match the decision. checkpoint_graph
    # reads n_part from spark.sql.shuffle.partitions (2 x CPUs by default),
    # and the hub's 50,000 of 100,000 edges dominate only when n_part > 8
    # (4 x 100,000 / n_part < 50,000), so pin the width: at 4 CPUs the
    # default 8 put the hub exactly at the 4x boundary, which keeps by_src
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        n_nodes = 10_000
        uniform = spark.range(100_000).select(
            (F.col("id") % n_nodes).cast("long").alias("src"),
            F.pmod(F.hash("id"), F.lit(n_nodes)).cast("long").alias("dst"),
        )
        hubby = spark.range(100_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id") % n_nodes)
            .cast("long")
            .alias("src"),
            F.pmod(F.hash("id"), F.lit(n_nodes)).cast("long").alias("dst"),
        )
        for edges, expected in ((uniform, "by_src"), (hubby, "round_robin")):
            degs = edges.groupBy("src").agg(
                F.count("*").alias("deg")
            ).withColumnRenamed("src", "node")
            graph, layout, degs_ckpt = checkpoint_graph(spark, edges, degs)
            assert layout == expected
            assert graph.count() == 100_000
            # the returned degree table is the build's one materialization
            # (callers reuse it for rank init instead of replaying the
            # edge-scan groupBy) and it matches the lazy original
            plan = degs_ckpt._jdf.queryExecution().executedPlan().toString()
            assert "ExistingRDD" in plan, plan
            assert degs_ckpt.count() == degs.count()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
