"""Benchmark entry point: one closed-loop client in one process, ``local[nproc]``.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run stages seeded inputs in a private
directory under ``.perfbench_runs/``, starts a SparkSession, warms up, runs
ops for ``--seconds`` (whole passes, at least ``min_passes``), checks every
op's output, and prints a human-readable summary followed by ONE JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on spans and the Spark event
log and reports the per-layer metrics instead. perfbench/README.md lists
every metric, its unit, and the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
DRIVER_MEM_CAP_MB = 6144


def machine_shape() -> dict:
    """CPUs this process may use and a Spark heap well below MemTotal."""
    with open("/proc/meminfo") as fh:
        mem_total_mb = int(fh.readline().split()[1]) // 1024
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb,
        "driver_mem_mb": min(DRIVER_MEM_CAP_MB, mem_total_mb // 2),
    }


def pin_environment(shape: dict, run_dir: str, trace: bool) -> None:
    """Pin the engine's machine-shape knobs and give this run private
    kernel-staging, Spark-local and temp directories, so nothing staged by
    another run, test or tool can satisfy an op. Must run before pyspark
    starts the JVM."""
    dirs = {k: os.path.join(run_dir, k) for k in ("kernel_out", "local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(shape["cpus"]),
        SPARK_DRIVER_MEM=f"{shape['driver_mem_mb']}m",
        SPARK_GRAFT_KERNEL_OUT=dirs["kernel_out"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    conf = {
        # JVM temp files (streaming checkpoints) stay in the run directory;
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.eventLog.enabled": str(trace).lower(),
        "spark.eventLog.dir": "file://" + dirs["eventlog"],
        "spark.eventLog.rolling.enabled": "true",
        # zstd, the default codec, needs the zstandard module to read back
        "spark.eventLog.compress": "false",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop Spark, its JVM and every Python worker it forked, and wait
    for each of them to exit."""
    from pyspark import SparkContext

    from measure import descendants, wait_gone

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(30)
        except Exception:  # noqa: BLE001 - escalate to a kill below
            proc.kill()
            proc.wait(30)
    for pid in wait_gone(children, 30):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    wait_gone(children, 10)


def wrap_load_table(tracer) -> None:
    """Span every ``sources.tables.load_table`` call, wherever the engine
    imported it from (traced runs only)."""
    from bigdatabowl_spark.sources import tables

    original = tables.load_table

    def load_table(*args, **kwargs):
        with tracer.span("sources.load_table"):
            return original(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("bigdatabowl_spark") and (
            getattr(mod, "load_table", None) is original
        ):
            mod.load_table = load_table


def run_ops(wl, ctx, seconds: float) -> tuple[list[dict], float]:
    """Closed loop: whole passes until another pass would overrun
    ``seconds`` (at least ``wl.min_passes``). Only the op call and its
    materialization are timed; checks run between ops."""
    records: list[dict] = []
    pass_s: list[float] = []
    t0 = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        for key in wl.pass_ops(ctx, len(pass_s)):
            ctx.op_index = ctx.tracer.op = len(records)
            t = time.perf_counter()
            res, problems = None, []
            try:
                with ctx.tracer.span("op"):
                    res = wl.run_op(ctx, key)
                wall = time.perf_counter() - t
                problems = wl.check(key, res)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                wall = time.perf_counter() - t
                problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            for p in problems:
                print(f"[perfbench] FAILED op {ctx.op_index} {key}: {p}", file=sys.stderr)
            records.append(
                {"key": key, "kind": wl.kind(key), "wall": wall, "ok": not problems,
                 "info": res.info if res is not None else {}}
            )
        pass_s.append(time.perf_counter() - p0)
        elapsed = time.perf_counter() - t0
        if len(pass_s) >= wl.min_passes and elapsed + sum(pass_s) / len(pass_s) > seconds:
            return records, elapsed


def end_to_end(records, setup_s: float, peak_rss: int) -> dict:
    from measure import median, tail

    walls = [r["wall"] for r in records]
    tail_s, _ = tail(walls)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(walls) / sum(walls), "1/s"),
        "op_p50_s": (median(walls), "s"),
        "op_tail_s": (tail_s, "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def workload_extras(wl, records) -> dict:
    """The workload-specific end-to-end figures (summary lines and the
    traced run's per-layer block)."""
    from measure import median

    walls = [r["wall"] for r in records]
    out = {}
    for kind in ("relational", "dedup"):
        xs = [r["wall"] for r in records if r["kind"] == kind]
        out[f"mix.{kind}_p50_s"] = (median(xs) if xs else 0.0, "s")
    frames = sum(r["info"].get("frames", 0) for r in records)
    out["kernels.frames_per_s"] = (frames / sum(walls), "1/s")
    batches = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for r in records for p in r["info"].get("progress", [])
    ]
    out["stream.batch_p50_s"] = (median(batches) if batches else 0.0, "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import layers
    from measure import RssPeak, Tracer, host_cpu_ticks, tail
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    shape = machine_shape()
    run_dir = os.path.join(
        RUNS, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    pin_environment(shape, run_dir, bool(args.trace))
    import bigdatabowl_spark.session  # fails fast outside a full checkout

    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = bigdatabowl_spark.session.get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        ctx = Ctx(spark, run_dir, args.seed, shape["cpus"], tracer)
        with tracer.span("session.stage"):
            wl.stage(ctx)
        t2 = time.perf_counter()
        if tracer.enabled:
            wrap_load_table(tracer)
        with tracer.span("session.warmup"):
            wl.warm_up(ctx)
        t3 = time.perf_counter()
        host0 = host_cpu_ticks()
        with RssPeak(os.getpid()) as rss:
            records, window_s = run_ops(wl, ctx, args.seconds)
        host1 = host_cpu_ticks()
        tracer.op = None
        probed = layers.probe(wl, ctx) if tracer.enabled else {}
    finally:
        if spark is not None:
            stop_session(spark)

    setup = {"get_spark_s": t1 - t0, "stage_s": t2 - t1, "warmup_s": t3 - t2}
    e2e = end_to_end(records, t3 - t0, rss.peak)
    extras = workload_extras(wl, records)
    hz = os.sysconf("SC_CLK_TCK")
    host = {
        "host.cpu_s": ((host1[0] - host0[0]) / hz, "s"),
        "host.steal_frac": (
            (host1[1] - host0[1]) / max(1, host1[2] - host0[2]), "fraction"
        ),
    }
    failed = sum(not r["ok"] for r in records)
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "machine": shape, "window_s": window_s, "setup": setup,
        "ops": [{k: r[k] for k in ("key", "wall", "ok")} for r in records],
        "end_to_end": e2e, "extras": extras, "host": host,
    }
    results_dir = os.path.join(RUNS, "results")
    if tracer.enabled:
        untraced = os.path.join(results_dir, f"{args.workload}-s{args.seed}-t0.json")
        base = 0.0
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["op_p50_s"][0]
        metrics = layers.per_layer(
            wl, records, tracer, run_dir, setup, probed, shape["cpus"],
            e2e["op_p50_s"][0], base,
        )
        for name, value in {**extras, **host}.items():
            metrics.setdefault(name, value)
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
    else:
        metrics = e2e
    result["metrics"] = {k: v for k, (v, _) in metrics.items()}
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    for d in ("data", "kernel_out", "local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if not tracer.enabled:
        shutil.rmtree(run_dir, ignore_errors=True)

    _, tail_pct = tail([r["wall"] for r in records])
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cpus {shape['cpus']} driver_mem {shape['driver_mem_mb']}m "
          f"mem_total {shape['mem_total_mb']}m")
    print(f"ops {len(records)} failed {failed} failed_frac {failed / len(records):.4f} "
          f"window {window_s:.2f} s  op_tail = p{tail_pct:.0f} of {len(records)}")
    for name, (v, unit) in {**e2e, **extras, **host}.items():
        print(f"  {name:<28} {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
