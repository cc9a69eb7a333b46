"""Benchmark runner: headline catalog queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line sized to the driver's ~2 KB stdout-tail capture
(BENCH_r06 was tail-truncated to `parsed: null` because the full 176-query
map overflowed it — VERDICT r6 item 2): headline metrics, per-family wall
subtotals, and the top-12 slowest queries. The FULL per-query map — wall
seconds AND process-subtree CPU seconds (python driver + Spark JVM + reused
Python workers, sampled from /proc) — is written to `bench_full_r{N}.json`
at the repo root (round-stamped; a `SPARK_GRAFT_BENCH_SUFFIX` env var is
appended to the stem so a driver run never overwrites the committed idle-box
artifact), so cross-round per-query comparison never depends on the capture
window.

Per-query wall = plan build + execution to a count/collect (results are
small aggregates by design), reported as the min of 2 runs — the VM
instantiates pages lazily, so a single shot can absorb multi-second
first-touch stalls that say nothing about the plan. CPU seconds are the
load-robust companion (VERDICT r6 item 3): external host contention
inflates wall-clock but not CPU charged to our process tree, so a >1.5×
wall delta with flat CPU is environment, not regression. Hypervisor steal
is stamped per stage and per row for the same reason (see _StealMeter).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import sys
import time

N_EPPA_FRAMES = 34  # full eligible window (snap+14..snap+47) — the unit the
#                     reference's 1.13-1.31 frames/s was measured on
N_EPPA_PLAYS = 32  # fixed work, independent of core count, so the leg
#                   stays comparable across rounds and hosts

BENCH_QUERIES = [
    "a1_pricing_summary",
    "etl_normalize_tracking",  # vs BASELINE.md ingest 40.1 s / kinematics 61 s
    "a12_two_level_agg",
    "j1_broadcast_enrich",
    "j13_range_join",
    "j15_asof_join",
    "w1_lag_gaps",
    "w3_rolling_mean",
    "w4_topk_per_group",
    "a16_corr_moments",
    "a18_histogram_2d",
    "a25_cumulative",
    "dedup_exact",
    "dedup_clusters",
    "text_tokens_fingerprint",
    "split_assign",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_docs",
    "embed_knn_brute",
    "embed_lsh_buckets",
    "embed_ivf_knn",
    "multimodal_decode",
    "stream_tumbling_counts",
    "stream_stateful_totals",
    "a20_gamma_moments_fit",
    "a21_adaptive_window_fit",
    "m1_tree_ensemble_score",
    "s3_multi_scan_union",
    "j10_prior_weighted_rank",
    "dedup_embed_cosine",
    "stream_sliding_counts",
    "stream_session_windows",
    "multimodal_frame_sample",
    "m7_grouped_matrix",
    "m2_value_model_width",  # kernel value models at 264k×26 (BASELINE.md row)
    "m6_optimize_defense",  # vs BASELINE.md defensive-optimization row
    "j11_selfjoin_compare",
    "s13_error_channel",
    # round-2 corpus/layout/streaming additions
    "text_repetition",
    "token_topk",
    "mixture_sample",
    "m10_quality_logit",
    "f_json_props",
    "o6_zorder_layout",
    "s14_upsert_merge",
    "stream_dedup",
    "stream_interval_join",
    "bpe_pair_counts",
    "tfidf_topterms",
    "chunk_documents",
    "containment_pairs",
    "skew_salted_agg",
    "s15_rollup_reuse",
    "quality_percentile_filter",
    "w8_zscore_anomaly",
]

# Kernel-path queries that already have a min-of-2 headline representative
# (eppa_kernel_play / m2_value_model_width): timed with a single run in the
# full-catalog sweep so the bench stays fast while every catalog query still
# gets a round-over-round regression number.
SINGLE_RUN = {
    "eppa_field_surface",
    "eppa_pass_summary",
    "eppa_player_stats",
    "s4_prior_artifact_lifecycle",
    "m5_tuning_dataset",
    # materializing kernel chains added in round 5: a second timed run
    # would just redo the full staging write
    "a20b_gamma_mle_fit",
    "analytics_player_rankings",
    "analytics_throw_calibration",
    # iterative superstep queries with per-round checkpoints — one run is
    # representative, and pagerank_fixed keeps the min-of-2 twin
    "pagerank_bucketed",
    "pagerank_converge",
    # runs a full availableNow stream (kernel per micro-batch) per build
    "stream_eppa_kernel",
}


def _synthetic_play(spark, n_frames: int, n_plays: int = 8):
    """22-player plays with snap/throw events for the EPPA kernel bench —
    the reference's benchmark unit is one play (BASELINE.md); multiple plays
    exercise the engine's play-level parallelism (one task per play)."""
    rows = []
    for pid in range(1, n_plays + 1):
        for fid in range(1, n_frames + 16):
            event = "ball_snap" if fid == 1 else ("pass_forward" if fid == n_frames + 14 else None)
            rows.append((1, pid, fid, event, 0, "Football", None, "FTBL", 35.0, 26.5, 0.0, 0.0))
            rows.append((1, pid, fid, event, 99, "QB", "QB", "OFF", 35.0, 26.5, 0.0, 0.0))
            for j in range(10):
                rows.append((1, pid, fid, event, 100 + j, f"O{j}", "WR", "OFF",
                             40.0 + 2 * j + 0.2 * fid + 0.1 * pid, 5.0 + 4.5 * j, 4.0, 0.5 * (j % 3 - 1)))
                rows.append((1, pid, fid, event, 200 + j, f"D{j}", "CB", "DEF",
                             45.0 + 2 * j + 0.2 * fid + 0.1 * pid, 6.0 + 4.5 * j, -2.0, 0.3 * (j % 3 - 1)))
    return spark.createDataFrame(
        rows,
        "gameId long, playId long, frameId int, event string, nflId long, "
        "displayName string, position string, team_pos string, x double, "
        "y double, v_x double, v_y double",
    )


def bench_eppa_kernel(spark) -> tuple[float, float, float]:
    """Returns (sec, frames_per_sec, cpu_sec) for the EPPA field-surface
    kernel over a synthetic play — comparable to BASELINE.md's 1.13-1.31
    frames/s. cpu_sec is the process-subtree CPU paired with the min-wall
    run (VERDICT r8 item 2: the scale legs were the only timings WITHOUT
    CPU pairing, which made the in-suite pagerank swing unattributable).

    A 1-frame-per-play warm-up pass first faults each worker's reused
    kernel workspace (one-time ~1 s/worker under this VM's lazy page
    instantiation); the measured pass then reflects the steady state of
    long-lived executors, which is the regime the throughput figure
    describes."""
    from bigdatabowl_spark.kernels.eppa import eppa_field_surface

    eppa_field_surface(_synthetic_play(spark, 1, N_EPPA_PLAYS)).count()
    play = _synthetic_play(spark, N_EPPA_FRAMES, N_EPPA_PLAYS)
    # min-of-2 with paired CPU, same policy as the catalog queries
    sec, cpu, n = _timed_min(lambda: eppa_field_surface(play).count())
    frames = n / 6600
    return round(sec, 3), round(frames / sec, 3), round(cpu, 3)


def bench_skew_join(
    spark, sf_dir: str, require_skew_split: bool = True
) -> tuple[float, float, float, float, float, float, float, float]:
    """Salted vs unsalted shuffle join on a deliberately skewed slice —
    the 'one viral document' key SCALE.md names (VERDICT r4 item 7).

    Shape: lineitem with ~1/3 of rows remapped onto one hot key, joined to
    a dim carrying 2,000 variant rows for that key (so the hot reducer must
    materialize a ~400M-row fan-out at sf0.1 — the single-reducer critical
    path salting exists to break; measured 0.73 s salted vs 2.09 s plain). Both paths force a shuffle
    join (merge hint): the bench models the beyond-broadcast dim of a real
    100 TB join — a broadcastable dim would sidestep skew entirely. AQE is
    disabled for BOTH runs: explicit salting is the remedy for contexts
    AQE's runtime skew-split can't reach (streaming joins, fixed plans),
    which is exactly where operators/skew.py is documented to apply.

    Returns (salted_sec, unsalted_sec, aqe_sec, aqe_off_sec, plus the
    paired CPU seconds for each in the same order), each min-of-2 with
    CPU paired to the min-wall run; all plans produce identical (n, qsum)
    — asserted, so the timing compares equal work. The third/fourth legs measure AQE's
    runtime skew-split — the remedy Spark applies when the plan is
    adaptive, vs the explicit salting needed where it is not (streaming
    joins, fixed plans) — as its own paired experiment: the big side is
    pre-split into 64 map tasks (localCheckpoint'ed, outside the timed
    region) because the split granularity is per-MAPPER — sf0.1's
    single-file scan yields ONE map block, which cannot be split at all
    (at 100 TB the scan has thousands of splits and this is moot) — then
    the same unsalted join is timed with skew-split on (thresholds lowered
    to the sf0.1 hot-partition size; the 256 MB default triggers on its
    own at real scale; the executed plan is ASSERTED to carry skew=true so
    this metric can never silently measure a non-split run) and with AQE
    off (the paired baseline on the same input).
    """
    import pyspark.sql.functions as F

    from bigdatabowl_spark.operators.skew import salted_join
    from bigdatabowl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    big = li.select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(0).cast("long"))
        .otherwise(F.col("l_partkey"))
        .alias("k"),
        "l_orderkey",
        "l_extendedprice",
    )
    part = load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))
    hot_variants = spark.range(2000).select(
        F.lit(0).cast("long").alias("k"), F.col("id").alias("variant")
    )
    small = part.select(
        "k", F.lit(0).cast("long").alias("variant")
    ).unionByName(hot_variants)

    def agg(joined):
        return joined.agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("l_extendedprice"))).alias("qsum"),
        ).collect()[0]

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        salted_sec, salted_cpu, r_salt = _timed_min(
            lambda: agg(salted_join(big, small.hint("merge"), "k", "l_orderkey", 32))
        )
        unsalted_sec, unsalted_cpu, r_plain = _timed_min(
            lambda: agg(big.join(small.hint("merge"), "k"))
        )
        assert (r_salt["n"], r_salt["qsum"]) == (r_plain["n"], r_plain["qsum"]), (
            r_salt,
            r_plain,
        )
        big64 = big.repartition(64).localCheckpoint()  # staged, untimed

        aqe_off_sec, aqe_off_cpu, r_off = _timed_min(
            lambda: agg(big64.join(small.hint("merge"), "k"))
        )
        assert (r_off["n"], r_off["qsum"]) == (r_plain["n"], r_plain["qsum"]), (
            r_off,
            r_plain,
        )

        aqe_confs = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        }
        prev = {k: spark.conf.get(k, None) for k in aqe_confs}
        for k, v in aqe_confs.items():
            spark.conf.set(k, v)
        try:
            def aqe_run():
                # a FRESH plan per run: AQE mutates the executed plan in
                # place, and the post-loop skew=true assert must read the
                # plan of the run it gates
                joined = big64.join(small.hint("merge"), "k").agg(
                    F.count("*").alias("n"),
                    F.sum(F.floor(F.col("l_extendedprice"))).alias("qsum"),
                )
                return joined, joined.collect()[0]

            aqe_sec, aqe_cpu, (joined, r_aqe) = _timed_min(aqe_run)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # the executed plan must carry skew=true at bench scale (sf0.1);
            # at smoke scale (sf0.001) the hot partition is under even the
            # lowered thresholds and AQE rightly declines to split
            assert "skew=true" in plan or not require_skew_split, plan
            assert (r_aqe["n"], r_aqe["qsum"]) == (r_plain["n"], r_plain["qsum"]), (
                r_aqe,
                r_plain,
            )
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        _release_persistent_rdds(spark)  # big64 is a localCheckpoint:
        # DataFrame.unpersist() would NOT free its blocks (verified — only
        # the RDD-level sweep does), and pinned blocks skew later stages
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return (
        round(salted_sec, 3),
        round(unsalted_sec, 3),
        round(aqe_sec, 3),
        round(aqe_off_sec, 3),
        round(salted_cpu, 3),
        round(unsalted_cpu, 3),
        round(aqe_cpu, 3),
        round(aqe_off_cpu, 3),
    )


def _subtree_cpu_sample() -> dict[int, tuple[float, float]]:
    """Per-pid (self, reaped) CPU seconds of this process and every LIVE
    descendant — the Spark JVM and its reused pyspark.daemon workers.
    `self` is utime+stime; `reaped` is cutime+cstime, the CPU of children
    this pid has already wait()ed on (pyspark workers reaped by their
    daemon land there, recursively). Sampled from /proc so it needs no JVM
    round-trip. Load-robust: host contention stretches wall-clock, not CPU
    charged to this tree."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    parent: dict[int, int] = {}
    cpu: dict[int, tuple[float, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        parent[pid] = int(rest[1])
        cpu[pid] = (
            (int(rest[11]) + int(rest[12])) / tick,
            (int(rest[13]) + int(rest[14])) / tick,
        )
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[float, float]] = {}
    stack = [me]
    while stack:
        p = stack.pop()
        if p in cpu:
            out[p] = cpu[p]
        stack.extend(children.get(p, []))
    return out


def _cpu_delta_sec(
    start: dict[int, tuple[float, float]], end: dict[int, tuple[float, float]]
) -> float:
    """Pid-wise CPU delta between two subtree samples, reap-aware
    (ADVICE r7): a worker reaped between samples vanishes from the live
    sum, but its full lifetime CPU rolls into its parent's cutime/cstime
    (recursively), so summing the pid-wise `reaped` delta recovers it.
    Since that roll-up carries the worker's FULL lifetime — including CPU
    it burned before `start` — the live (self+reaped) CPU the vanished pid
    showed at `start` is subtracted back out, CAPPED at the reaped delta
    actually observed: a pid that vanished WITHOUT rolling up (killed
    un-waited and orphaned to init — pyspark daemons do this to idle
    workers, which is how long queries like m6 read 0.0 CPU under the
    uncapped rule) double-counts nothing, so subtracting its pre-window
    CPU would erase the live processes' genuine work. Residual noise:
    un-rolled vanishing still undercounts the vanished pid's in-window
    CPU, and PID reuse inside the subtree between samples counts a new
    process's lifetime CPU from zero — cpu_sec is a tight estimate, not
    exact accounting (noted next to the field in bench_full_r{N}.json)."""
    gained_self = sum(
        s - start.get(pid, (0.0, 0.0))[0] for pid, (s, _) in end.items()
    )
    gained_reaped = sum(
        r - start.get(pid, (0.0, 0.0))[1] for pid, (_, r) in end.items()
    )
    vanished = sum(s + r for pid, (s, r) in start.items() if pid not in end)
    return max(0.0, gained_self + gained_reaped - min(vanished, gained_reaped))


_FAMILY_PREFIXES = [
    # (family, name-prefixes) — first match wins; bench-scale legs and the
    # kernel chains get their own buckets so the compact line's subtotals
    # separate "engine queries" from "deliberately huge synthetic stages"
    ("scale", ("skew_join", "pagerank_10m", "text_1m", "eppa_kernel_play")),
    ("kernel", ("eppa_", "m1b", "m1c", "m1d", "m2_", "m4_", "m5_", "m6_",
                "s4_", "analytics_", "a20b", "stream_eppa", "rankings_",
                "calibration_")),
    ("stream", ("stream_",)),
    ("dedup", ("dedup_", "minhash", "simhash", "ngram_jaccard", "containment",
               "prefix_", "dup_", "semdedup", "decontaminate", "blocking")),
    ("embed", ("embed_", "pq_", "kmeans", "sim_recall")),
    ("text", ("text_", "token", "bpe_", "tfidf", "encode_", "ngram_lm",
              "chunk_", "oov_", "quality_", "pack_", "mixture", "repeated_")),
    ("graph", ("pagerank",)),
    ("multimodal", ("multimodal_",)),
]


def _family(name: str) -> str:
    for fam, prefixes in _FAMILY_PREFIXES:
        if any(name.startswith(p) for p in prefixes):
            return fam
    return "relational"


def _release_persistent_rdds(spark) -> None:
    """Free every persisted/localCheckpoint'ed RDD block (measured: the
    10M-edge pagerank stage's checkpoint blocks, left pinned, slowed the
    following text stage's 25M-key aggregation 2-5× by squeezing execution
    memory). Called at bench stage boundaries so each timed section starts
    with a clean block manager."""
    sc = spark.sparkContext
    jmap = sc._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        sc._jsc.sc().unpersistRDD(rid, True)


def _timed_min(fn, runs: int = 2):
    """(min wall, paired cpu, last result) over `runs` executions of fn.

    The ONE implementation of the bench's measurement invariant: CPU is
    PAIRED with the min-wall run — an independent min over the CPU
    samples would let a reap-undercounted 0 from the other run win
    (VERDICT r6 item 3). Every leg and the catalog loop go through this
    helper so the invariant can't drift per-site."""
    best = best_cpu = None
    res = None
    for _ in range(runs):
        c0 = _subtree_cpu_sample()
        t0 = time.perf_counter()
        res = fn()
        dt = time.perf_counter() - t0
        dc = _cpu_delta_sec(c0, _subtree_cpu_sample())
        if best is None or dt < best:
            best, best_cpu = dt, dc
    return best, best_cpu, res


def _gc_sweep(spark, pause_sec: float = 2.0) -> None:
    """Reset JVM/suite state before a scale leg (VERDICT r8 item 2, settled
    by r9's CPU pairing): after the ~190-query catalog sweep the 10M-edge
    pagerank superstep burned 124 CPU-s/step vs 15 isolated — REAL extra
    work from accumulated JVM state (broadcast/shuffle cleanup backlog +
    old-gen pressure → GC churn), not host load. A driver-side System.gc()
    is the documented trigger for Spark's ContextCleaner (it cleans
    shuffles/broadcasts off weak-reference queues), and local mode shares
    that JVM with the executor; the pause lets the async cleaner drain.
    Measured on a 22-query dirty heap: 53 → 36 CPU-s/step after two
    gc+pause cycles. Scale legs are controlled experiments — they get a
    swept JVM; catalog queries deliberately run in accumulated steady
    state."""
    import time as _time

    spark.catalog.clearCache()
    _release_persistent_rdds(spark)
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        _time.sleep(pause_sec)


def bench_pagerank_scale(spark, n_edges: int = 10_000_000, n_nodes: int = 1_000_000, apply_engine_conf: bool = True, hub_frac: float = 0.0):
    """Superstep scaling for the no-broadcast pagerank plan on a synthetic
    ~10M-edge graph (VERDICT r5 item 7 — the sf fixture's co-purchase graph
    never stresses the rank join, so the broadcast-free posture was gated
    but unmeasured at size).

    Graph: directed edges (id % N, hash-mixed id % N) from spark.range —
    generated distributed, nothing driver-side. Same superstep shape as
    pagerank_bucketed (plans/round4.py): degree-annotated edges
    hash-partitioned + localCheckpoint'ed once, then per superstep one
    shuffle_hash rank join + one dst aggregation, integer-exact arithmetic.

    Returns (graph_build_sec, supersteps_sec, sec_per_superstep,
    graph_cpu_sec, supersteps_cpu_sec) for 3 supersteps — CPU paired per
    timed window so a wall swing is attributable to work vs host load
    (VERDICT r8 item 2: this leg's r8 3.6-5.8× in-suite slowdown couldn't
    be settled because exactly the scale legs lacked CPU pairing).
    """
    import pyspark.sql.functions as F

    # hub_frac > 0 makes the graph power-law-ish in the way that hurts
    # the rank JOIN: that fraction of all edges originates from node 0,
    # so the superstep join's shuffle has one partition carrying the
    # hub's entire adjacency — the straggler shape AQE's skew split
    # exists for. 0.0 (default) keeps the uniform graph every historical
    # leg measured.
    src_col = (F.col("id") % n_nodes).cast("long")
    if hub_frac:
        src_col = (
            F.when(F.col("id") % int(round(1.0 / hub_frac)) == 0, F.lit(0))
            .otherwise(src_col)
            .cast("long")
        )
    edges = spark.range(n_edges).select(
        src_col.alias("src"),
        F.pmod(F.hash((F.col("id") * 2654435761).cast("long")), F.lit(n_nodes))
        .cast("long")
        .alias("dst"),
    )
    degs = edges.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed(
        "src", "node"
    )

    def build_graph():
        # degree-aware layout shared with the catalog family (r12): by-src
        # keeps the superstep's map-side shuffle write a no-op sort on
        # uniform graphs; a hub graph (hub_frac legs) flips to round-robin
        # so AQE's map-boundary skew split can actually divide the hub
        # partition — see round4.checkpoint_graph / graph_layout_decision
        from bigdatabowl_spark.plans.round4 import checkpoint_graph

        renamed = degs  # (node, deg) — checkpoint_graph's expected shape
        return checkpoint_graph(spark, edges, renamed)

    graph_sec, graph_cpu, built = _timed_min(build_graph, runs=1)
    # reuse the build's materialized degree table for rank init: degrees
    # cost a full edge scan + shuffle, and the lazy `degs` would replay
    # it inside the superstep timing window
    graph, _layout, degs = built
    from bigdatabowl_spark.plans.round4 import (
        _pr_superstep,
        superstep_shuffle_conf,
    )

    def run_supersteps():
        # the engine's own big-graph posture (coalescing off past the
        # node threshold — measured ~2x/superstep at 100M edges); the
        # bench measures the plan users get. The probe's deep legs pass
        # apply_engine_conf=False to keep the raw knob matrix visible.
        ctx = (
            superstep_shuffle_conf(spark, n_nodes)
            if apply_engine_conf
            else contextlib.nullcontext()
        )
        with ctx:
            from bigdatabowl_spark.operators.checkpointing import (
                truncate_lineage,
            )

            ranks = degs.select(
                "node", F.lit(1000000).cast("long").alias("rank")
            )
            for rnd in range(1, 4):
                # materialize each superstep: timed work is real; goes
                # durable when the session has a checkpoint dir set (how
                # the reliable-checkpoint premium is measured)
                ranks = truncate_lineage(_pr_superstep(graph, ranks), rnd=rnd)
            return ranks

    steps_sec, steps_cpu, _ = _timed_min(run_supersteps, runs=1)
    return (
        round(graph_sec, 3),
        round(steps_sec, 3),
        round(steps_sec / 3, 3),
        round(graph_cpu, 3),
        round(steps_cpu, 3),
    )


def bench_text_scale(spark, n_docs: int = 1_000_000, toks_per_doc: int = 20):
    """Throughput for the tokenize→vocab→encode pipeline shape at 1M docs /
    20M tokens (the sf fixture's documents table never stresses the vocab
    aggregation, so encode_tokens' TakeOrdered-top-V posture was plan-gated
    but unmeasured at size).

    Corpus: synthesized distributed (spark.range + hash-mixed token ids,
    nothing driver-side, no Python). Same plan shape as encode_tokens
    (plans/round6.py): token frequencies partial-aggregate map-side, top-V
    via orderBy().limit(V) (TakeOrderedAndProject), encode via broadcast
    left join over the exploded token stream; plus the ngram_lm_score
    bigram-count shape (map-only pair transform + one groupBy).

    Returns (encode_sec, bigram_sec, tokens_per_sec for the encode leg,
    encode_cpu_sec, bigram_cpu_sec) — CPU paired per timed window
    (VERDICT r8 item 2).
    """
    import pyspark.sql.functions as F

    from bigdatabowl_spark.plans.round6 import VOCAB_SIZE

    # STAGE the synthetic corpus (localCheckpoint) before the timed
    # window, like the eppa/pagerank legs stage theirs: the r7 leg
    # re-synthesized all 20M concat/hash token strings TWICE per run —
    # once under the vocab aggregate and once under the encode join — so
    # it timed corpus generation, not the pipeline under test
    # (VERDICT r7 item 4; synthesis measured 0.7 s vs 25.8 s reported).
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"transform(sequence(1, {toks_per_doc}),"
            " j -> concat('w', pmod(hash(id * 31 + j), 5000)))"
        ).alias("arr"),
    ).localCheckpoint()
    n_tokens = n_docs * toks_per_doc
    from pyspark.sql import Window

    def encode_run():
        toks = docs.select("doc_id", F.posexplode("arr").alias("pos", "tok"))
        top = (
            toks.groupBy("tok")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("tok"))
            .limit(VOCAB_SIZE)
        )
        vocab = top.select(
            "tok",
            (F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok"))) - 1)
            .cast("bigint")
            .alias("token_id"),
        )
        # Consume the joined token ids: summing coalesce(token_id, OOV)
        # forces every encoded row through the join — a bare count() would
        # let Catalyst ELIMINATE the left join and the whole vocab subtree
        # (r6's 4.28M tokens/s phantom; commit 543afab).
        encoded = toks.join(F.broadcast(vocab), "tok", "left").select(
            F.coalesce(
                F.col("token_id"), F.lit(VOCAB_SIZE).cast("bigint")
            ).alias("token_id")
        )
        sink = encoded.agg(F.sum("token_id").alias("checksum"))
        sink.collect()
        return sink

    # min-of-2 with paired CPU, the catalog convention
    encode_sec, encode_cpu, sink = _timed_min(encode_run)
    # the leg's own plan gate (not just the catalog twin's): the encode
    # join must survive in the optimized plan it just timed
    opt = sink._jdf.queryExecution().optimizedPlan().toString()
    # a raise, not an assert: `python -O` strips asserts, and this gate is
    # the leg's honesty contract (same precedent as _stage_forest's
    # base_score ValueError)
    if "Join" not in opt:
        raise RuntimeError(f"encode join pruned from timed plan:\n{opt}")
    # gc-only nudge between the sub-legs (NOT _gc_sweep — the staged docs
    # localCheckpoint must survive into the bigram input): the two encode
    # runs leave unreferenced broadcast vocabs + shuffle state whose
    # deferred cleanup otherwise lands inside the timed bigram window
    # (measured in-suite: bigram 13.0 s / 341 CPU-s vs 3.8 s / 88 isolated
    # — same accumulated-JVM-state signature _gc_sweep fixes at stage
    # boundaries)
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.5)

    def bigram_run():
        bi = docs.select(
            F.explode(
                F.expr(
                    "transform(slice(arr, 1, size(arr) - 1),"
                    " (x, i) -> struct(x AS a, arr[i + 1] AS b))"
                )
            ).alias("p")
        ).select("p.a", "p.b")
        # aggregate the counts (not count() of the agg) so the 25M-key
        # groupBy output is consumed, not pruned to a row count
        bi.groupBy("a", "b").agg(F.count("*").alias("n_ab")).agg(
            F.sum("n_ab").alias("checksum")
        ).collect()

    bigram_sec, bigram_cpu, _ = _timed_min(bigram_run, runs=1)
    _release_persistent_rdds(spark)  # the staged-corpus localCheckpoint
    return (
        round(encode_sec, 3),
        round(bigram_sec, 3),
        round(n_tokens / encode_sec, 0),
        round(encode_cpu, 3),
        round(bigram_cpu, 3),
    )


class _StealMeter:
    """Per-stage-window hypervisor steal fraction (/proc/stat `steal`
    ticks over total ticks since the previous window() call).

    Guest-side probes (load average, idle /proc/stat ticks) read THIS
    GUEST's scheduler and cannot see HOST-level oversubscription, where
    the hypervisor deschedules our vCPUs mid-run. That failure mode
    inflates wall AND our own charged CPU seconds (straggler
    amplification + GC churn) on a box whose every guest-side probe reads
    idle: r12's first code-freeze capture started at load 0.22 yet carried
    12.4% measured steal under load, inflating untouched queries 1.3-4.6×
    (text_1m_bigram_counts 3.5 → 16.3 s with its code byte-identical —
    OPTIMIZATION_r12.md "Re-measure"). The meter stamps each artifact
    stage with the steal it actually absorbed, so a wobbling row can be
    attributed to the host from the artifact alone."""

    def __init__(self) -> None:
        self._last = self._snap()

    @staticmethod
    def _snap() -> tuple[int, int]:
        vals = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)

    def window(self) -> float:
        s0, t0 = self._last
        s1, t1 = self._snap()
        self._last = (s1, t1)
        return round((s1 - s0) / max(t1 - t0, 1), 4)


# A row whose measurement window absorbed more than this steal fraction is
# flagged `suspect` in the headline: the r12 episode measured ~10% steal
# inflating memory-bound rows 3-5× on byte-identical code, and stage-level
# stamps alone still let the PERF comparator diff raw walls as if clean
# (VERDICT r12 item 2 — the contaminated rows must self-identify in the
# artifact the comparator reads).
_SUSPECT_STEAL = 0.02


def _suspect_rows(
    timings: dict[str, float], steal_q: dict[str, float]
) -> list[str]:
    """Names of timed rows whose own measurement window exceeded
    _SUSPECT_STEAL hypervisor steal — pure so the threshold and the
    timings∩stamps join are unit-testable. Rows with no stamp (none
    today) are treated as clean rather than inventing a verdict."""
    return sorted(
        n for n in timings if steal_q.get(n, 0.0) > _SUSPECT_STEAL
    )


def _invalidate_kernel_staging() -> int:
    """Remove every _STAGED_FROM marker under KERNEL_OUT so kernel-staging
    catalog rows RE-STAGE during this sweep (builders self-heal a missing
    marker by re-running the owning kernel). Without this, a warm staging
    dir from any earlier run on the box silently satisfies the chain and
    the bench row times a parquet re-read instead of the kernel —
    r10's eppa_field_surface row read 0.097 s vs its real 3.5-4.5 s band
    (VERDICT r11 "what's wrong" #2), corrupting round-over-round diffs.
    Returns the number of markers removed."""
    from bigdatabowl_spark.plans.eppa_queries import KERNEL_OUT, _SF_MARKER

    n = 0
    for root, _dirs, files in os.walk(KERNEL_OUT):
        if _SF_MARKER in files:
            os.remove(os.path.join(root, _SF_MARKER))
            n += 1
    return n


def _staging_markers() -> dict[str, float]:
    """Snapshot {staged-table marker path: mtime} under KERNEL_OUT —
    diffing two snapshots around a timed run shows which staged tables
    that run (re)wrote, i.e. whether a kernel-staging row recomputed or
    reused (the `staged_during` provenance in the full artifact)."""
    from bigdatabowl_spark.plans.eppa_queries import KERNEL_OUT, _SF_MARKER

    out: dict[str, float] = {}
    for root, _dirs, files in os.walk(KERNEL_OUT):
        if _SF_MARKER in files:
            p = os.path.join(root, _SF_MARKER)
            try:
                out[p] = os.stat(p).st_mtime
            except OSError:
                pass
    return out


def _shutdown_jvm(spark) -> None:
    """Stop the session AND kill its JVM. spark.stop() alone stops the
    SparkContext but the py4j-launched java process (full heap, tenured
    set) lives until this python process exits — with that zombie sharing
    the box, a subsequently spawned measurement JVM reads 2.4× slow
    (r10: pagerank 5.8 vs 2.4 s/superstep). Shared by bench main, the
    scale probe, and the spill probe."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if getattr(gateway, "proc", None) is not None:
        gateway.proc.terminate()  # SIGTERM → rc 143, verified
        try:
            gateway.proc.wait(timeout=30)
        except Exception:
            gateway.proc.kill()


def _warmup_session(spark) -> None:
    """Untimed first-job warmup for a fresh measurement JVM: JIT/codegen
    for scan-agg, shuffle-join, and Arrow/python-worker paths (r10: the
    un-warmed fresh-JVM graph-build leg read 6.7 s vs 2.8 s warm)."""
    import pyspark.sql.functions as F

    spark.range(0, 2_000_000, 1, 32).select(F.sum(F.col("id") * 2)).collect()
    warm = spark.range(0, 100_000, 1, 16)
    warm.join(
        warm.withColumnRenamed("id", "id2"), F.col("id") == F.col("id2")
    ).groupBy((F.col("id") % 100).alias("b")).count().count()
    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()


def run_scale_legs(sf_dir: str, leg: str) -> dict:
    """ONE of the bench's scale legs (eppa | pagerank | text | m6) in THIS
    process's own fresh SparkSession — invoked as
    `python bench.py --scale-legs <leg> <sf_dir>` by main() AFTER the
    catalog sweep, one subprocess (one JVM) per leg.

    Three rounds of evidence (VERDICT r9 item 2) showed the in-suite scale
    numbers measured the ~190-query catalog sweep's accumulated JVM state
    (broadcast/shuffle cleanup backlog + old-gen pressure: pagerank 124
    CPU-s/superstep in-suite vs 15 isolated, bigram 13.1 s driver vs 3.8
    isolated) — `_gc_sweep` only partially drained it. A fresh JVM per leg
    is the structural fix: a first cut ran all four legs in ONE subprocess
    with `_gc_sweep`s between them, and the eppa kernel's 411 CPU-s still
    bled into pagerank (3.6 s/superstep vs the 2.2-2.4 isolated probe), so
    each leg gets its own process — the legs measure the operators, not
    each other's garbage, and the driver artifact no longer needs an
    "idle" caveat. The ~5 s JVM start per leg sits OUTSIDE every timed
    window. CPU stays paired per timed window inside `_timed_min` (the
    sampler walks this subprocess's own tree)."""
    from bigdatabowl_spark.session import get_spark
    import bigdatabowl_spark.plans  # noqa: F401

    steal = _StealMeter()
    spark = get_spark(f"bdb-bench-scale-{leg}")
    spark.sparkContext.setLogLevel("ERROR")
    # untimed warmup: first-job JIT/codegen + Python-worker spawn otherwise
    # land inside the leg's first timed window (VERDICT r10 item 3: the
    # fresh-JVM graph-build leg read 6.7 s idle vs 2.8 s r9-warm — a
    # standing fake regression).
    _warmup_session(spark)
    out: dict = {}

    if leg == "eppa":
        eppa_sec, eppa_fps, eppa_cpu = bench_eppa_kernel(spark)
        out.update(
            eppa_kernel_play=eppa_sec,
            eppa_frames_per_sec=eppa_fps,
            eppa_kernel_play_cpu=eppa_cpu,
        )
        print(f"[bench:scale] eppa_kernel_play: {eppa_sec:.3f}s "
              f"{eppa_fps:.1f} fps", file=sys.stderr, flush=True)
    elif leg == "pagerank":
        (
            pr_graph_sec, pr_steps_sec, pr_step_sec, pr_graph_cpu,
            pr_steps_cpu,
        ) = bench_pagerank_scale(spark)
        out.update(
            pagerank_10m_graph_build=pr_graph_sec,
            pagerank_10m_3_supersteps=pr_steps_sec,
            pagerank_10m_sec_per_superstep=pr_step_sec,
            pagerank_10m_graph_build_cpu=pr_graph_cpu,
            pagerank_10m_3_supersteps_cpu=pr_steps_cpu,
        )
        print(f"[bench:scale] pagerank: build {pr_graph_sec:.3f}s, "
              f"{pr_step_sec:.3f}s/superstep", file=sys.stderr, flush=True)
    elif leg == "text":
        enc_sec, bigram_sec, enc_tps, enc_cpu, bigram_cpu = bench_text_scale(
            spark
        )
        out.update(
            text_1m_encode=enc_sec,
            text_1m_bigram_counts=bigram_sec,
            text_1m_encode_tokens_per_sec=enc_tps,
            text_1m_encode_cpu=enc_cpu,
            text_1m_bigram_counts_cpu=bigram_cpu,
        )
        print(f"[bench:scale] text: encode {enc_sec:.3f}s "
              f"({enc_tps:.0f} tok/s), bigram {bigram_sec:.3f}s",
              file=sys.stderr, flush=True)
    elif leg == "m6":
        # M6 exactness-cost pair, isolated (VERDICT r9 item 6): the catalog
        # row and the in-suite surrogate leg keep the steady-state numbers;
        # these two give the suite-noise-free band so the hybrid
        # objective's cost trends round-over-round without an "idle"
        # caveat. Both objectives share one JVM: the hybrid's extra work
        # over the surrogate is exactly the quantity the pair reports, and
        # the surrogate runs FIRST so the pricier hybrid never shadows it.
        from bigdatabowl_spark.kernels.defense import (
            OptimizeConfig,
            optimize_defense,
        )
        from bigdatabowl_spark.plans.eppa_queries import tracking_from_events

        m6s_sec, m6s_cpu, _ = _timed_min(
            lambda: optimize_defense(
                tracking_from_events(spark, sf_dir),
                cfg=OptimizeConfig(objective="surrogate"),
            ).count()
        )
        m6_sec, m6_cpu, _ = _timed_min(
            lambda: optimize_defense(
                tracking_from_events(spark, sf_dir)
            ).count()
        )
        out.update(
            m6_sec_isolated=round(m6_sec, 3),
            m6_cpu_isolated=round(m6_cpu, 3),
            m6_surrogate_sec_isolated=round(m6s_sec, 3),
            m6_surrogate_cpu_isolated=round(m6s_cpu, 3),
        )
        print(f"[bench:scale] m6 isolated: hybrid {m6_sec:.3f}s, "
              f"surrogate {m6s_sec:.3f}s", file=sys.stderr, flush=True)
    else:
        raise ValueError(f"unknown scale leg: {leg!r}")
    out["steal_frac"] = steal.window()
    spark.stop()
    return out


def _spawn_scale_legs(sf_dir: str) -> dict:
    """Run each scale leg in its own child python (own JVM), sequentially;
    each child's stderr streams through (progress lines), its stdout
    carries one JSON line. Merged dict of all four legs' fields."""
    import subprocess

    merged: dict = {}
    for leg in ("eppa", "pagerank", "text", "m6"):
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--scale-legs",
                leg,
                sf_dir,
            ],
            stdout=subprocess.PIPE,
            stderr=None,  # inherit: progress lines stay visible
            cwd=os.path.dirname(os.path.abspath(__file__)),
            text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"scale leg {leg!r} subprocess failed (exit {proc.returncode})"
            )
        # last non-empty stdout line is the JSON payload (Spark banners and
        # the child's own prints all go to stderr, but stay defensive)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        payload = json.loads(lines[-1])
        merged[f"steal_{leg}"] = payload.pop("steal_frac")
        merged.update(payload)
    return merged


def current_round(root: str) -> int:
    """The round an artifact written now belongs to: one past the highest
    BENCH_r{N}.json recorded under `root`, or SPARK_GRAFT_ROUND when set.
    bench.py and the probes in scripts/ stamp their artifacts with it."""
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is not None:
        return int(rnd)
    recorded = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return max(recorded, default=0) + 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    steal_m = _StealMeter()
    steals: dict[str, float] = {}

    from bigdatabowl_spark.session import get_spark
    import bigdatabowl_spark.plans  # noqa: F401
    from bigdatabowl_spark.plans.catalog import CATALOG

    spark = get_spark("bdb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers, and spawn the Python UDF workers once
    # (spark.python.worker.reuse keeps them alive) — otherwise the first
    # Python-stage query in the list absorbs the one-time ~1.5 s spawn cost
    CATALOG["a1_pricing_summary"].builder(spark, sf_dir).collect()
    import pandas as _pd

    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()

    # Isolated kernel measurement BEFORE the catalog sweep (VERDICT r5
    # item 5): nothing else has touched the executors or page cache, so a
    # round-over-round fps change here is a kernel regression, not staging
    # contention; the in-suite measurement at the end keeps continuity.
    eppa_iso_sec, eppa_iso_fps, eppa_iso_cpu = bench_eppa_kernel(spark)
    steals["warmup"] = steal_m.window()

    # Full-catalog sweep: headline queries first (stable ordering for
    # round-over-round diffs), then every remaining catalog entry so a
    # regression in any query is visible in BENCH_r{N} (VERDICT r2 task 6).
    all_names = BENCH_QUERIES + [n for n in CATALOG if n not in set(BENCH_QUERIES)]
    timings: dict[str, float] = {}
    cpu_secs: dict[str, float] = {}
    # Deterministic staging state for the sweep: every kernel-staging row
    # recomputes (or visibly reuses a table another row in THIS sweep just
    # staged) — never a leftover from a previous run on the box
    markers_invalidated = _invalidate_kernel_staging()
    staged_during: dict[str, list[str]] = {}
    marker_snap = _staging_markers()
    # Per-query steal stamps (r13, VERDICT r12 item 2): a second meter
    # whose window is advanced once per timed row, so each row carries the
    # steal ITS OWN runs absorbed — the stage-level stamps above remain
    # for continuity, but a 13% burst inside a 190-query sweep only taxes
    # a few rows and the stage average hides which ones.
    steal_q_m = _StealMeter()
    steal_q: dict[str, float] = {}
    for name in all_names:
        q = CATALOG.get(name)
        if q is None:
            continue
        n_runs = 1 if name in SINGLE_RUN else 2
        # CPU is PAIRED with the min-wall run inside _timed_min (an
        # independent min would let a reap-undercounted 0 win)
        best, best_cpu, _ = _timed_min(
            lambda: q.builder(spark, sf_dir).count(), runs=n_runs
        )
        timings[name] = round(best, 3)
        cpu_secs[name] = round(best_cpu, 3)
        steal_q[name] = steal_q_m.window()
        # staging provenance: which staged tables this row (re)wrote while
        # being timed — a kernel-chain row with an empty entry REUSED bytes
        # staged earlier in this same sweep (by-design for chain followers)
        snap2 = _staging_markers()
        wrote = [
            os.path.basename(os.path.dirname(p))
            for p, mt in snap2.items()
            if marker_snap.get(p) != mt
        ]
        if wrote:
            staged_during[name] = sorted(wrote)
        marker_snap = snap2
        # progress to STDERR (stdout carries only the final JSON line):
        # a stalled sweep is diagnosable from the last line printed
        print(f"[bench] {name}: {best:.3f}s wall {best_cpu:.3f}s cpu",
              file=sys.stderr, flush=True)
    # rounds-to-converge for the iterative-fixpoint query (VERDICT r6
    # item 7's bench-row ask): the sweep above already executed the
    # builder's driver loop — read its recorded decision instead of
    # re-running 5-6 supersteps for one scalar
    from bigdatabowl_spark.plans import round7 as _round7

    pr_conv_rounds = _round7.last_rounds_used
    # M6 cost-of-exactness companion (VERDICT r8 item 6): the catalog row
    # above timed the DEFAULT hybrid objective (surrogate shortlist +
    # full-kernel re-rank); this leg times the surrogate-only objective on
    # the same plays so the ~10× price of reference-exact argmins stays
    # visible round-over-round instead of buried in the catalog total.
    from bigdatabowl_spark.kernels.defense import OptimizeConfig, optimize_defense
    from bigdatabowl_spark.plans.eppa_queries import tracking_from_events

    steal_q_m.window()  # reset: exclude the loop-tail bookkeeping above
    sur_best, sur_cpu, _ = _timed_min(
        lambda: optimize_defense(
            tracking_from_events(spark, sf_dir),
            cfg=OptimizeConfig(objective="surrogate"),
        ).count()
    )
    timings["m6_optimize_defense_surrogate"] = round(sur_best, 3)
    cpu_secs["m6_optimize_defense_surrogate"] = round(sur_cpu, 3)
    steal_q["m6_optimize_defense_surrogate"] = steal_q_m.window()
    print(
        f"[bench] m6_optimize_defense_surrogate: {sur_best:.3f}s wall"
        f" {sur_cpu:.3f}s cpu",
        file=sys.stderr,
        flush=True,
    )
    _gc_sweep(spark)  # catalog checkpoints + JVM state (see _gc_sweep)
    steals["catalog"] = steal_m.window()
    (
        salted_sec, unsalted_sec, aqe_sec, aqe_off_sec,
        salted_cpu, unsalted_cpu, aqe_cpu, aqe_off_cpu,
    ) = bench_skew_join(
        spark, sf_dir, require_skew_split=(sf is None or sf >= 0.1)
    )
    timings["skew_join_salted"] = salted_sec
    timings["skew_join_unsalted_hotkey"] = unsalted_sec
    timings["skew_join_aqe_split"] = aqe_sec
    timings["skew_join_aqe_off_64map"] = aqe_off_sec
    cpu_secs["skew_join_salted"] = salted_cpu
    cpu_secs["skew_join_unsalted_hotkey"] = unsalted_cpu
    cpu_secs["skew_join_aqe_split"] = aqe_cpu
    cpu_secs["skew_join_aqe_off_64map"] = aqe_off_cpu
    steals["skew"] = steal_m.window()
    for k in (
        "skew_join_salted",
        "skew_join_unsalted_hotkey",
        "skew_join_aqe_split",
        "skew_join_aqe_off_64map",
    ):
        steal_q[k] = steals["skew"]
    # Scale legs in a FRESH subprocess/JVM (VERDICT r9 item 2): the
    # in-suite runs measured the catalog sweep's accumulated JVM state
    # (bigram 13.1 s driver vs 3.8 isolated; pagerank 124 vs 15
    # CPU-s/superstep), which _gc_sweep only partially drained. The main
    # session is STOPPED first so each child JVM has the machine to
    # itself; the keys below keep their historical names, so
    # round-over-round diffs hold — the semantic change (suite-state-free
    # numbers) is called out in the `scale_legs_isolation` headline field.
    # spark.stop() alone is NOT enough: it stops the SparkContext but the
    # py4j-launched JVM process (24g heap, full catalog-sweep tenured set)
    # lives until THIS python process exits — shutting the gateway down
    # terminates it so the leg subprocesses don't share the box with a
    # zombie heap (first r10 run: pagerank 5.8 s/superstep with the zombie
    # vs 2.4 solo).
    _shutdown_jvm(spark)
    scale = _spawn_scale_legs(sf_dir)
    for leg in ("eppa", "pagerank", "text", "m6"):
        steals[f"scale_{leg}"] = scale.pop(f"steal_{leg}")
    for key, leg in (
        ("eppa_kernel_play", "eppa"),
        ("pagerank_10m_graph_build", "pagerank"),
        ("pagerank_10m_3_supersteps", "pagerank"),
        ("text_1m_encode", "text"),
        ("text_1m_bigram_counts", "text"),
    ):
        timings[key] = scale[key]
        cpu_secs[key] = scale[f"{key}_cpu"]
        # the leg value OVERWRITES the catalog row, so its suspect stamp
        # must be the leg subprocess's steal window, not the catalog one's
        steal_q[key] = steals[f"scale_{leg}"]
    cpu_secs["eppa_kernel_play_isolated"] = eppa_iso_cpu
    cpu_secs["m6_isolated"] = scale["m6_cpu_isolated"]
    cpu_secs["m6_surrogate_isolated"] = scale["m6_surrogate_cpu_isolated"]
    eppa_fps = scale["eppa_frames_per_sec"]
    pr_step_sec = scale["pagerank_10m_sec_per_superstep"]
    enc_tps = scale["text_1m_encode_tokens_per_sec"]
    total = round(sum(timings.values()), 3)
    suspect_rows = _suspect_rows(timings, steal_q)

    families: dict[str, float] = {}
    for name, sec in timings.items():
        fam = _family(name)
        families[fam] = round(families.get(fam, 0.0) + sec, 3)
    headline = {
        "metric": "catalog_bench_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "eppa_frames_per_sec": eppa_fps,
        "eppa_frames_per_sec_isolated": eppa_iso_fps,
        "eppa_kernel_play_isolated": eppa_iso_sec,
        "pagerank_10m_sec_per_superstep": pr_step_sec,
        "pagerank_converge_rounds": pr_conv_rounds,
        "text_1m_encode_tokens_per_sec": enc_tps,
        # isolated M6 pair (VERDICT r9 item 6) — suite-noise-free band for
        # the hybrid objective's exactness cost; in-suite twins are the
        # m6_optimize_defense catalog row + the surrogate leg above
        "m6_sec_isolated": scale["m6_sec_isolated"],
        "m6_surrogate_sec_isolated": scale["m6_surrogate_sec_isolated"],
        # the five scale-leg timings come from a fresh subprocess/JVM
        # spawned after the catalog sweep (VERDICT r9 item 2)
        "scale_legs_isolation": "fresh JVM subprocess per leg after catalog",
        "sf": sf,
        # wall subtotals per family + the 12 slowest queries — the full
        # 180-query map lives in bench_full_r{N}.json, NOT here: the
        # driver captures only a ~2 KB stdout tail (VERDICT r6 item 2)
        "families": families,
        "queries": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:12]
        ),
        # host contention context: this VM's numbers swing with neighbor
        # load — read wobbles against the hypervisor steal per stage window
        # (see _StealMeter; >2-3% means that stage's rows carry host
        # inflation) and bench_full_r{N}.json's per-query CPU seconds, not
        # as regressions
        "steal_frac": steals,
        # rows whose OWN measurement window exceeded _SUSPECT_STEAL —
        # the machine-readable contamination flag (VERDICT r12 item 2):
        # a comparator should treat these walls as host-inflated, not as
        # code regressions. Capped at 12 names to keep the headline
        # inside the driver's ~2 KB stdout tail; n_suspect is the true
        # count and the full per-row stamps live in bench_full_r{N}.json.
        "suspect": suspect_rows[:12],
        "n_suspect": len(suspect_rows),
    }
    full = dict(
        headline,
        queries=timings,
        cpu_sec=cpu_secs,
        # per-row steal stamps + the UNCAPPED suspect list (the headline
        # caps at 12 for the 2 KB stdout-tail budget)
        steal_per_query=steal_q,
        suspect=suspect_rows,
        # kernel-staging provenance (VERDICT r11 "what's wrong" #2): all
        # _STAGED_FROM markers are invalidated before the sweep, and each
        # row that (re)staged tables during its timed window is listed —
        # a staging row absent from staged_during reused bytes staged
        # earlier in THIS sweep, never a previous run's leftovers
        staging=dict(
            invalidated_markers=markers_invalidated,
            staged_during=staged_during,
        ),
        # reap-aware but not exact: see _cpu_delta_sec — PID reuse inside
        # the subtree between samples and init-orphaned workers leave
        # cpu_sec a tight estimate (ADVICE r7)
        cpu_sec_note="process-tree utime+stime delta incl. reaped children "
        "via cutime/cstime; PID reuse / init-orphaning add noise",
        metric="catalog_bench_full",
    )
    # Round-stamped artifact (VERDICT r7 item 6): the driver's per-round
    # bench and the builder's committed run used to fight over one
    # bench_full.json path, leaving the worktree dirty every round (see
    # current_round). The stamp separates ROUNDS, not WRITERS (VERDICT r8
    # item 3: the driver's r8 run overwrote the committed idle-box r8
    # artifact), so the stem also carries SPARK_GRAFT_BENCH_SUFFIX: the
    # builder commits its idle run as bench_full_r{N}_idle.json while the
    # driver's suffix-less bench_full_r{N}.json is .gitignored — both
    # artifacts survive, the worktree stays clean.
    here = os.path.dirname(os.path.abspath(__file__))
    suffix = os.environ.get("SPARK_GRAFT_BENCH_SUFFIX", "")
    if suffix and not suffix.startswith("_"):
        suffix = "_" + suffix
    stem = f"bench_full_r{current_round(here):02d}{suffix}.json"
    with open(os.path.join(here, stem), "w") as f:
        json.dump(full, f, indent=1)
    # leading newline + flush: even if anything wrote a partial \r-terminated
    # line to stdout, the JSON starts on a fresh line (BENCH_r05 parsed=null
    # was the progress stream glued onto this line)
    sys.stdout.write("\n")
    print(json.dumps(headline), flush=True)
    # spark was already stopped before the scale-leg subprocess spawned


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--scale-legs":
        _leg = sys.argv[2]
        _sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
        _payload = run_scale_legs(_sf_dir, _leg)
        sys.stdout.write("\n")  # fresh line, same guard as main()'s JSON
        print(json.dumps(_payload), flush=True)
    else:
        main()
