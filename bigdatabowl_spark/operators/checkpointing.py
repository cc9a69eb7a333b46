"""Lineage truncation with a durability posture.

Every fixpoint loop in the engine (pagerank supersteps —
plans/round4.py / round7.py; hash-min label propagation and star
contraction — operators/dedup.py) truncates its growing lineage once
per round. On local[...] — and on any cluster where restarting the job
is acceptable — ``localCheckpoint`` is the right tool: blocks live in
executor storage, zero extra I/O. But localCheckpoint truncates lineage
WITHOUT durable storage: on a multi-executor cluster, losing one
executor makes the checkpointed RDD unrecoverable (there is no lineage
left to recompute the lost partitions), and the whole fixpoint restarts
from round 0. At 1000 executors an executor loss is a when, not an if.

The scale posture here is GraphX Pregel's
(``spark.graphx.pregel.checkpointInterval`` precedent): every K rounds
the loop frontier goes to the fault-tolerant checkpoint directory
(HDFS/S3 via ``SparkContext.setCheckpointDir``), bounding the redo
window to K rounds of work, while the common round keeps the cheap
local path. Build-time one-shot artifacts (the degree-annotated edge
table, the degree table) are checkpointed reliably whenever a dir is
configured — they are reused by every subsequent round, so their
durability is what makes a bounded redo possible at all.

Opt-in and zero-cost by default: with no checkpoint dir configured
(the local[...] test/bench reality) every call degrades to
``localCheckpoint`` and plans are byte-identical to the
pre-this-module engine. Configure
``spark.sparkContext.setCheckpointDir(path)`` to turn it on, and
``spark.bigdatabowl.checkpoint.interval`` (default 10) to tune the
redo window. Old checkpoint files are cleaned by Spark itself when
``spark.cleaner.referenceTracking.cleanCheckpoints=true``.

Measured premium (10M-edge / 1M-node synthetic graph, local[32],
interval=1 i.e. EVERY round durable — the worst case): below
run-to-run noise on local disk — two paired fresh-JVM runs read
2.94/2.51 s/superstep durable vs 3.28/2.71 local, with paired CPU
equal (`durable_ckpt_probe_r12.json`; SCALE.md §6l). The whole durable
footprint (edge table + degree table + 3 frontiers) is 142 MB; per
durable round only the O(nodes) frontier is written. On a real cluster
the premium is the DFS write, amortized by the interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_INTERVAL_CONF = "spark.bigdatabowl.checkpoint.interval"
_DEFAULT_INTERVAL = 10


def reliable_round(rnd: int | None, interval: int, dir_set: bool) -> bool:
    """Pure decision: should THIS truncation be a reliable checkpoint?

    rnd=None marks a build-time one-shot (reliable whenever a dir is
    configured); loop rounds are 1-based and go durable every
    ``interval``-th round."""
    if not dir_set:
        return False
    if rnd is None:
        return True
    return interval > 0 and rnd % interval == 0


def truncate_lineage(
    df: DataFrame, rnd: int | None = None, eager: bool = True
) -> DataFrame:
    """Truncate ``df``'s lineage: reliably (``DataFrame.checkpoint``)
    when the session has a checkpoint dir configured and
    ``reliable_round`` says this round is a durable one, else locally.

    Call with ``rnd=None`` for one-shot build artifacts and with the
    1-based round number inside fixpoint loops.

    ``eager=False`` defers the local checkpoint's materialization to the
    caller's next action. NEGATIVE RESULT, kept documented (r12
    optimization round): wiring the fixpoint loops' per-round truncation
    lazy (so the round's scalar action — pagerank_converge's delta
    aggregation, the CC loop's changed-count — materializes the
    checkpoint in the same job, one job per round instead of two)
    measured ~2x SLOWER stash-swapped A/B at sf0.1 (pagerank_converge
    8.5-9.5 -> 18.0 s, dedup_clusters 3.2-3.3 -> 5.7 s, baseline
    re-confirmed after revert): the combined job plans the downstream
    join/aggregate against the un-materialized subtree, without the
    runtime statistics the eager materialization gives AQE, and the lost
    adaptivity costs far more than the saved job launch. Call sites all
    stay eager; the parameter remains for callers whose next action is a
    single-subtree read AND whose downstream plan shape cannot benefit
    from runtime stats. The reliable path stays eager regardless: the
    durable bounded-redo contract is that the frontier IS on stable
    storage when the round returns."""
    spark = df.sparkSession
    sc = spark.sparkContext
    dir_set = sc.getCheckpointDir() is not None
    if dir_set:
        interval = int(spark.conf.get(_INTERVAL_CONF, str(_DEFAULT_INTERVAL)))
        if reliable_round(rnd, interval, dir_set):
            return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)
