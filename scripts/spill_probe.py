"""Spill-regime probe (VERDICT r10 item 6): same operator, same data,
deliberately starved execution memory — the result must be HASH-IDENTICAL
and the slowdown measured, because at 100× the first thing that changes
is that shuffle/agg state stops fitting in memory.

Four workloads, each pinning a different memory regime (r11 probed the
first two; r12 added the last two — VERDICT r11 item 3):
- dedup: dedup_clusters (minhash → LSH band explode → bucket groupBy →
  pair join → hash-min label propagation) over the 2M-doc corpus
  scale_probe.py stages — CPU-BOUND (signature work dominates), so
  spill I/O should overlap compute and cost ~nothing;
- bigram: explode 78M token bigrams → groupBy(a,b) count → order-free
  checksum, same corpus — SHUFFLE-BOUND (the hash-aggregate state is
  the work), the regime where spill is predicted to cost wall-clock;
- kernel: the eppa applyInArrow field-surface kernel over the scale
  probe's 32-play × 40-frame synthetic feed — the ARROW/PYTHON-WORKER
  regime: tight additionally caps each Python worker's address space
  (spark.executor.pyspark.memory → RLIMIT_AS), so the kernel's reused
  per-process buffers and Arrow batches run against a hard ceiling;
- graph: 3 pagerank supersteps over a synthetic 10M-edge / 1M-node
  graph (the engine's shuffle_hash rank join + dst aggregation, graph
  checkpointed untimed) — the FIXPOINT-JOIN regime: per-partition hash
  maps of the rank join plus the localCheckpoint'ed frontier compete
  for the starved unified region, so the tight leg exercises both
  build-side spill and checkpoint-block eviction to disk;
- stream: the RocksDB multibatch stateful pipeline (the
  stream_stateful_totals_eventtime_multibatch plan body) over a
  synthetic 100k-user × 8-bucket purchase feed — the STATE-STORE
  regime: both legs pin the RocksDB provider, tight shrinks its block
  cache to 1 MB and memtables to 2 MB, and the ~10 MB keyed working
  set (every user recurs in every bucket) forces each micro-batch's
  state reads through a cache that can't hold it. (The sf0.1 events
  table's ~1.5k users fit inside even the starved cache — that run
  would prove conf plumbing, not eviction.)

Two legs, each its own subprocess/JVM (the bench r10 isolation pattern):
- roomy: the bench config (24g heap, spark.memory.fraction default 0.6);
- tight: 4g heap, spark.memory.fraction 0.15 — execution memory per task
  drops ~40×, forcing UnsafeExternalSorter/ExternalAppendOnlyMap spills.

Each leg reports wall/CPU (bench's paired sampler), an ORDER-FREE result
hash (row count + sum of per-row crc32 — partitioning/spill order cannot
affect it), and the stage-aggregated memoryBytesSpilled /
diskBytesSpilled / peakExecutionMemory from Spark's REST status API
(spark.ui.enabled on for the probe legs only). The parent asserts the
two hashes are equal and writes spill_probe_r{N}.json; SCALE.md quotes
the spilled-vs-unspilled numbers.

Usage: PYTHONPATH=/root/repo python scripts/spill_probe.py
       PYTHONPATH=/root/repo python scripts/spill_probe.py --leg tight <dir>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def merge_round_section(path: str, key: str, new_map: dict) -> dict:
    """Merge this run's `new_map` over the same section of an existing
    round artifact at `path` — a subset re-run (--workloads a,b) must
    never clobber regimes measured earlier in the round (r12: a partial
    pagerank-only scale-probe rerun briefly replaced the whole 8-family
    artifact; tests/test_bench_discipline.py pins the rule)."""
    if os.path.exists(path):
        with open(path) as f:
            prior = json.load(f)
        return {**prior.get(key, {}), **new_map}
    return dict(new_map)


LEG_CONF = {
    # bench posture: everything fits — the baseline the tight leg is
    # compared against
    "roomy": {"spark.driver.memory": "24g"},
    # ~40x less execution memory per task: 4g heap x 0.15 fraction vs
    # 24g x 0.6 — deep in the spill regime for a 25M-row band shuffle,
    # but enough UNMANAGED headroom (codegen, Arrow, result arrays) that
    # the job survives rather than OOMs
    "tight": {"spark.driver.memory": "4g", "spark.memory.fraction": "0.15"},
}

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

# Per-workload conf on TOP of the leg conf (r12: the two regimes r11 left
# unprobed — VERDICT r11 item 3). The stream workload pins RocksDB on
# BOTH legs so the tight leg isolates memory starvation, not a provider
# swap; its starvation knob is the RocksDB block cache + memtable, the
# state-store analogue of spark.memory.fraction (1 MB cache vs the
# default 8 MB/store × 32 partitions, 2 MB memtables): every state
# lookup past the first batch becomes an SST read through a cache that
# can't hold the working set. The kernel workload's Python side is
# additionally capped via spark.executor.pyspark.memory (RLIMIT_AS on
# each worker), so the applyInArrow path — Arrow batches + the kernel's
# reused per-process buffers — runs against a hard address-space ceiling
# instead of 128 GiB of headroom.
WORKLOAD_CONF: dict[str, dict[str, dict[str, str]]] = {
    "dedup": {},
    "bigram": {},
    "graph": {},
    "kernel": {
        "tight": {"spark.executor.pyspark.memory": "2g"},
    },
    "stream": {
        "roomy": {
            "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
        },
        "tight": {
            "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
            "spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB": "1",
            "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB": "2",
            "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber": "2",
        },
    },
}


def _leg_session(leg: str, workload: str = "dedup"):
    from pyspark.sql import SparkSession

    from bigdatabowl_spark.session import _BUILD_CONF, configure, host_cpus

    b = (
        SparkSession.builder.appName(f"bdb-spill-{leg}")
        .master(f"local[{host_cpus()}]")
    )
    for k, v in _BUILD_CONF.items():
        b = b.config(k, v)
    # REST status API is the spill-metrics source — UI on for probe legs
    b = b.config("spark.ui.enabled", "true")
    b = b.config("spark.sql.shuffle.partitions", "64")
    for k, v in LEG_CONF[leg].items():
        b = b.config(k, v)
    for k, v in WORKLOAD_CONF.get(workload, {}).get(leg, {}).items():
        b = b.config(k, v)
    return configure(b.getOrCreate())


def _result_hash(df) -> dict:
    """Order-free, partitioning-independent witness of the full result:
    row count + sum of per-row crc32 over the canonicalized row string.
    crc32 <= 2^32 and count <= ~10^7, so the sum stays well inside a
    BIGINT — no overflow under ANSI mode."""
    import pyspark.sql.functions as F

    row_str = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in sorted(df.columns)]
    )
    agg = df.agg(
        F.count("*").alias("n"),
        F.sum(F.crc32(row_str)).alias("crc_sum"),
    ).collect()[0]
    return {"rows": agg["n"], "crc_sum": int(agg["crc_sum"])}


def _spill_metrics(spark) -> dict:
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
    )
    return {
        "memory_spilled_mb": round(
            sum(s.get("memoryBytesSpilled", 0) for s in stages) / 1e6, 1
        ),
        "disk_spilled_mb": round(
            sum(s.get("diskBytesSpilled", 0) for s in stages) / 1e6, 1
        ),
        "peak_execution_memory_mb": round(
            max((s.get("peakExecutionMemory", 0) for s in stages), default=0)
            / 1e6,
            1,
        ),
        "n_stages": len(stages),
    }


_SPILL_STREAM_USERS = 100_000
_SPILL_STREAM_ROUNDS = 8


def _stage_stream_feed() -> str:
    """Synthesize the high-cardinality purchase feed the stream workload
    runs over (pyarrow, driver-side, fully deterministic — both legs see
    byte-identical buckets). The sf0.1 events table has only ~1.5k
    distinct users, whose ENTIRE RocksDB state fits inside even the
    starved 1 MB block cache — it proves conf plumbing, not eviction.
    100k users × (n, cents, max_ms) state ≈ 10 MB working set ≫ the
    tight leg's 1 MB cache + 2 MB memtable, and every user recurs in
    every time bucket (6 h span, 8 h TTL — no mid-stream evictions), so
    each micro-batch re-reads all 100k keys through the starved cache."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = "/tmp/bigdatabowl_spill_stream"
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.exists(path):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    n_users, rounds = _SPILL_STREAM_USERS, _SPILL_STREAM_ROUNDS
    user = np.tile(np.arange(n_users, dtype=np.int64), rounds)
    rnd = np.repeat(np.arange(rounds, dtype=np.int64), n_users)
    t0 = 1_700_000_000_000_000  # µs epoch anchor
    span = 6 * 3600 * 1_000_000  # 6 h total < the 8 h event-time TTL
    ts = t0 + rnd * (span // rounds) + (user % 997) * 1_000
    value = ((user * 7 + rnd * 13) % 10_000) / 100.0
    tbl = pa.table(
        {
            "user_id": pa.array(user),
            "ts": pa.array(ts).cast(pa.timestamp("us")),
            "value": pa.array(value, type=pa.float64()),
            "event_type": pa.array(["purchase"] * len(user)),
        }
    )
    pq.write_table(tbl, path)
    return sf_dir


def _bigram_counts(spark, sf_dir: str):
    import pyspark.sql.functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = docs.select(F.split(F.col("text"), " ").alias("arr"))
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(slice(arr, 1, size(arr) - 1),"
                " (x, i) -> struct(x AS a, arr[i + 1] AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return bi.groupBy("a", "b").agg(F.count("*").alias("n_ab"))


def run_leg(leg: str, workload: str, sf_dir: str) -> dict:
    from bench import _release_persistent_rdds, _timed_min, _warmup_session
    import bigdatabowl_spark.plans  # noqa: F401
    from bigdatabowl_spark.plans.catalog import CATALOG
    import pyspark.sql.functions as F

    spark = _leg_session(leg, workload)
    spark.sparkContext.setLogLevel("ERROR")
    _warmup_session(spark)

    result: dict = {}
    kernel_play = None
    if workload == "kernel":
        # the scale probe's large leg shape: 32 plays × 40 frames → 7.18M
        # field rows through the applyInArrow kernel (built untimed)
        from bench import _synthetic_play

        kernel_play = _synthetic_play(spark, 40, 32).localCheckpoint()

    graph_df = degs_df = None
    if workload == "graph":
        # bench_pagerank_scale's graph shape, built UNTIMED through the
        # engine's own degree-aware checkpoint — in the tight leg its
        # blocks already overflow the starved storage region to disk
        from bigdatabowl_spark.plans.round4 import checkpoint_graph

        n_nodes = 1_000_000
        edges = spark.range(10_000_000).select(
            (F.col("id") % n_nodes).cast("long").alias("src"),
            F.pmod(
                F.hash((F.col("id") * 2654435761).cast("long")),
                F.lit(n_nodes),
            ).cast("long").alias("dst"),
        )
        degs = edges.groupBy("src").agg(
            F.count("*").alias("deg")
        ).withColumnRenamed("src", "node")
        graph_df, _, degs_df = checkpoint_graph(spark, edges, degs)

    def job():
        if workload == "dedup":
            df = CATALOG["dedup_clusters"].builder(spark, sf_dir)
        elif workload == "bigram":
            df = _bigram_counts(spark, sf_dir)
        elif workload == "kernel":
            from bigdatabowl_spark.kernels.eppa import eppa_field_surface

            df = eppa_field_surface(kernel_play)
        elif workload == "graph":
            from bigdatabowl_spark.operators.checkpointing import (
                truncate_lineage,
            )
            from bigdatabowl_spark.plans.round4 import (
                _pr_superstep,
                superstep_shuffle_conf,
            )

            ranks = degs_df.select(
                "node", F.lit(1000000).cast("long").alias("rank")
            )
            with superstep_shuffle_conf(spark, 1_000_000):
                for rnd_i in range(1, 4):
                    ranks = truncate_lineage(
                        _pr_superstep(graph_df, ranks), rnd=rnd_i
                    )
            df = ranks
        else:  # stream — the RocksDB multibatch stateful pipeline
            from bigdatabowl_spark.streaming.events import (
                run_multibatch_totals,
            )

            df = run_multibatch_totals(spark, stream_stage)
        result["hash"] = _result_hash(df)
        _release_persistent_rdds(spark)  # label-prop checkpoints

    stream_stage = None
    if workload == "stream":
        # feed synthesis + bucket staging are UNTIMED (both legs reuse
        # the same marker-guarded staged dir, so neither leg pays it)
        from bigdatabowl_spark.streaming.events import _stage_event_buckets

        stream_stage = _stage_event_buckets(
            _stage_stream_feed(), stage_name="events_spill_stream"
        )

    wall, cpu, _ = _timed_min(job, runs=1)
    out = {
        "leg": leg,
        "workload": workload,
        "conf": LEG_CONF[leg],
        "wall_sec": round(wall, 3),
        "cpu_sec": round(cpu, 3),
        **result["hash"],
        **_spill_metrics(spark),
    }
    spark.stop()
    return out


def main() -> None:
    if "--leg" in sys.argv:
        i = sys.argv.index("--leg")
        leg, workload, sf_dir = (
            sys.argv[i + 1], sys.argv[i + 2], sys.argv[i + 3]
        )
        print(json.dumps(run_leg(leg, workload, sf_dir)), flush=True)
        return

    # workload selection: default = the two r12 regimes (kernel Arrow
    # path, RocksDB stateful stream); pass --workloads a,b,... for any
    # subset incl. the r11 pair (dedup, bigram)
    want = ("kernel", "stream")
    if "--workloads" in sys.argv:
        want = tuple(
            sys.argv[sys.argv.index("--workloads") + 1].split(",")
        )

    docs_dir = None
    if {"dedup", "bigram"} & set(want):
        # stage the 2M-doc corpus with a roomy throwaway session, then
        # kill the JVM so the legs own the box (bench.py gateway teardown)
        from bench import _shutdown_jvm
        from bigdatabowl_spark.session import get_spark
        from scripts.scale_probe import _stage_docs

        spark = get_spark("bdb-spill-stage")
        spark.sparkContext.setLogLevel("ERROR")
        docs_dir = _stage_docs(spark, "docs_x100", 2_000_000)
        _shutdown_jvm(spark)

    # kernel and stream synthesize their own deterministic data in the
    # leg subprocess (kernel in-session, stream via marker-guarded
    # pyarrow staging) — no sf dir needed
    workload_dirs = {
        "dedup": docs_dir,
        "bigram": docs_dir,
        "kernel": "-",
        "stream": "-",
        "graph": "-",
    }

    workloads: dict = {}
    for workload in want:
        sf_dir = workload_dirs[workload]
        legs = {}
        for leg in ("roomy", "tight"):
            proc = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--leg", leg, workload, sf_dir,
                ],
                stdout=subprocess.PIPE,
                stderr=None,
                cwd=ROOT,
                text=True,
            )
            if proc.returncode != 0:
                raise RuntimeError(
                    f"spill leg {workload}/{leg!r} failed ({proc.returncode})"
                )
            lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
            legs[leg] = json.loads(lines[-1])
            print(f"[spill] {workload}/{leg}: {legs[leg]['wall_sec']}s, "
                  f"disk spilled {legs[leg]['disk_spilled_mb']} MB, "
                  f"hash ({legs[leg]['rows']}, {legs[leg]['crc_sum']})",
                  file=sys.stderr, flush=True)
        same = (
            legs["roomy"]["rows"] == legs["tight"]["rows"]
            and legs["roomy"]["crc_sum"] == legs["tight"]["crc_sum"]
        )
        if not same:
            raise SystemExit(
                f"HASH MISMATCH under spill ({workload}): "
                f"roomy={legs['roomy']} tight={legs['tight']}"
            )
        workloads[workload] = {
            "hash_identical": True,
            "slowdown": round(
                legs["tight"]["wall_sec"]
                / max(legs["roomy"]["wall_sec"], 1e-9),
                2,
            ),
            "legs": legs,
        }
    from bench import current_round

    path = os.path.join(ROOT, f"spill_probe_r{current_round(ROOT):02d}.json")
    payload = {
        "metric": "spill_probe",
        "workloads": merge_round_section(path, "workloads", workloads),
        "cpus": os.cpu_count(),
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
