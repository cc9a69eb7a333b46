"""Per-layer metrics of a traced run.

Three sources, all read from outside the engine:

- spans recorded by the benchmark around its calls into the engine
  (``session.*``, ``plans.build``/``plans.action``, ``sources.load_table``);
- the Spark event log, each op's jobs tagged with a job group
  ``op<i>:<phase>`` (streaming jobs carry their query's run id instead),
  folded into ``exec.*``, ``sources.input_*`` and ``python.*``;
- the streaming queries' ``recentProgress`` (``stream.*``) and a direct,
  Spark-free call of ``kernels.eppa.frame_surfaces`` (``kernels.frame_ms``).

Counts and byte totals are per op (total over the measured ops divided by
their number), so they do not depend on how many ops fit the window;
stream phase timings are medians over micro-batches.
"""

from __future__ import annotations

import os
import time

from measure import event_log_files, fold_event_log, median, self_times

_EXEC_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "shuffle_fetch_wait_s": "s", "spill_bytes": "bytes",
}
_STREAM_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "get_batch_ms": "getBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def probe(wl, ctx) -> dict:
    """Traced ``eppa_surface`` runs only, after the measured window:

    - ``frame_ms``: wall ms of 5 direct ``frame_surfaces`` calls on the
      sampled frame, without Spark;
    - ``stream_progress``: the micro-batch progress of one warm
      ``stream_multibatch`` op (after one cold op), so the streaming layer
      is measured although it has no workload of its own in BENCHMARK.json.
    """
    from workloads import EppaSurface, StreamMultibatch

    if not isinstance(wl, EppaSurface):
        return {}
    frame_ms = []
    for _ in range(5):
        t = time.perf_counter()
        wl.direct_surface(wl.sample_frame)
        frame_ms.append((time.perf_counter() - t) * 1000.0)
    ctx.op_index = -1  # probe jobs are not measured ops
    ctx.tag("probe", "probe")
    stream = StreamMultibatch()
    stream.stage(ctx)
    for _ in range(2):
        res = stream.run_op(ctx, "stream")
        if problems := stream.check("stream", res):
            raise RuntimeError(f"stream probe: {problems}")
    return {"frame_ms": frame_ms, "stream_progress": [res.info["progress"]]}


def per_layer(wl, records, tracer, run_dir, setup, probed, cpus, op_p50_s, untraced_op_p50_s):
    """Every per-layer metric as ``name: (value, unit)``. ``probed`` is what
    ``probe`` returned; ``op_p50_s`` is this traced run's, and
    ``untraced_op_p50_s`` that of the untraced run with the same workload
    and seed, 0 when there was none."""
    n = len(records)
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "session.stage_s": (setup["stage_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
    }

    # spans: per-op totals of each boundary, and the self time of plans.build
    self_t = self_times(tracer.spans)
    per: dict[str, float] = {}
    for s in tracer.spans:
        if s.op is not None:
            per[s.name] = per.get(s.name, 0.0) + (s.end - s.start)
            if s.name == "plans.build":
                per["plans.build_self"] = per.get("plans.build_self", 0.0) + self_t[s.sid]
    for name in ("plans.build", "plans.build_self", "plans.action", "sources.load_table"):
        m[f"{name}_s"] = (per.get(name, 0.0) / n, "s")

    # event log: map job groups to measured ops
    run_ids = {r["info"]["run_id"]: i for i, r in enumerate(records) if "run_id" in r["info"]}

    def group_of(g: str) -> str:
        if g in run_ids:
            return f"op{run_ids[g]}:stream"
        return g

    lines = []
    for path in event_log_files(os.path.join(run_dir, "eventlog")):
        with open(path) as fh:
            lines.extend(fh)
    fold = fold_event_log(lines, group_of)
    tot: dict[str, float] = {}
    build_jobs = 0.0
    for g, row in fold.items():
        op, _, phase = g.partition(":")
        if not op.startswith("op") or not op[2:].isdigit() or int(op[2:]) >= n:
            continue  # setup, warm-up and untagged jobs
        for k, v in row.items():
            tot[k] = tot.get(k, 0.0) + v
        if phase == "build":
            build_jobs += row["jobs"]
    m["plans.build_jobs"] = (build_jobs / n, "count")
    for k, unit in _EXEC_UNITS.items():
        m[f"exec.{k}"] = (tot.get(k, 0.0) / n, unit)
    m["sources.input_bytes"] = (tot.get("input_bytes", 0.0) / n, "bytes")
    m["sources.input_rows"] = (tot.get("input_rows", 0.0) / n, "count")
    m["python.rows_sent"] = (tot.get("py_rows_sent", 0.0) / n, "count")
    m["python.bytes_sent"] = (tot.get("py_bytes_sent", 0.0) / n, "bytes")
    m["python.worker_s"] = (tot.get("py_worker_s", 0.0) / n, "s")
    m["python.worker_boot_s"] = (tot.get("py_worker_boot_s", 0.0) / n, "s")

    # kernel: direct per-frame cost and the share of the op it explains
    kernel_ms = probed.get("frame_ms", [])
    frame_ms = median(kernel_ms) if kernel_ms else 0.0
    frames = getattr(wl, "frames_per_op", 0)
    base = cpus * op_p50_s
    m["kernels.frame_ms"] = (frame_ms, "ms")
    m["kernels.parallel_eff"] = (frames * frame_ms / 1000.0 / base if frames else 0.0, "fraction")
    m["kernels.parallel_base_s"] = (base if frames else 0.0, "s")

    # streaming progress: of the measured ops, or of the probe's stream op
    ops = [r["info"]["progress"] for r in records if "progress" in r["info"]]
    ops = ops or probed.get("stream_progress", [])
    batches = [p for op in ops for p in op]
    m["stream.batches"] = (len(batches) / len(ops) if ops else 0.0, "count")
    for key, field in _STREAM_PHASES.items():
        xs = [p["durationMs"].get(field, 0) for p in batches]
        m[f"stream.{key}"] = (median(xs) if xs else 0.0, "ms")
    m["stream.batch_p50_s"] = (m["stream.trigger_ms"][0] / 1000.0, "s")
    states = [[(p["stateOperators"] or [{}])[0] for p in op] for op in ops]
    m["stream.state_rows_total"] = (
        sum(max(s.get("numRowsTotal", 0) for s in st) for st in states) / max(1, len(ops)),
        "count",
    )
    commit = [s.get("commitTimeMs", 0) for st in states for s in st]
    m["stream.state_commit_ms"] = (median(commit) if commit else 0.0, "ms")
    m["stream.state_memory_bytes"] = (
        sum(max(s.get("memoryUsedBytes", 0) for s in st) for st in states) / max(1, len(ops)),
        "bytes",
    )

    # tracing overhead against the untraced run of the same workload and seed
    m["trace.op_p50_s"] = (op_p50_s, "s")
    m["trace.untraced_op_p50_s"] = (untraced_op_p50_s, "s")
    m["trace.overhead_frac"] = (
        op_p50_s / untraced_op_p50_s - 1.0 if untraced_op_p50_s else 0.0, "fraction"
    )
    return m
