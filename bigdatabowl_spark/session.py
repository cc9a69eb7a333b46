"""SparkSession factory with scale-appropriate defaults.

The reference parallelizes with ``multiprocessing.Pool`` (normalize.py:107-111,
optimize_def.py:188-190); here Spark's scheduler owns parallelism and these
configs set the knobs that matter at cluster scale (AQE, shuffle partitions,
Arrow) while remaining correct on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf applied at build time (static-ish) — tuned for local[N] test runs but
# chosen to be the right defaults on a real cluster too.
_BUILD_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    # the console progress bar interleaves \r-separated [Stage ...] fragments
    # into the same output stream as bench.py's single JSON line, which can
    # glue junk onto that line and break a line-oriented JSON parse
    "spark.ui.showConsoleProgress": "false",
}


def host_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``SPARK_DRIVER_MEM``, else 24g capped at half of the host's MemTotal."""
    if mem := os.environ.get("SPARK_DRIVER_MEM"):
        return mem
    cap_mb = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    cap_mb = min(cap_mb, int(line.split()[1]) // 2048)
                    break
    except OSError:
        pass
    return f"{cap_mb}m"


def runtime_conf(cpus: int | None = None) -> dict[str, str]:
    """Conf that is runtime-settable — applied defensively to externally
    provided sessions (the correctness driver builds its own SparkSession)."""
    cpus = cpus or host_cpus()
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": str(2 * cpus),
    }


_SHIPPED_CONTEXTS: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make `bigdatabowl_spark` importable on every Python worker.

    Kernel queries ship module-level functions (applyInPandas /
    applyInPandasWithState) that cloudpickle serializes BY REFERENCE —
    workers must be able to `import bigdatabowl_spark`, which only happens
    to work when the driver's cwd is the repo root. The driver's own
    SparkSession (bare conf, arbitrary cwd) breaks that assumption, so zip
    the package and addPyFile it: tasks fetch the zip and prepend it to
    worker sys.path, which is also exactly the mechanism that works on a
    real multi-executor cluster."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_CONTEXTS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"bigdatabowl_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    try:
        sc.addPyFile(zpath)
    except Exception:
        pass  # e.g. identical file re-added on a shared context
    _SHIPPED_CONTEXTS.add(key)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (idempotent)."""
    for k, v in runtime_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep whatever it has
    _ship_package(spark)
    return spark


def get_spark(app_name: str = "bigdatabowl-spark", master: str | None = None) -> SparkSession:
    cpus = host_cpus()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in _BUILD_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(2 * cpus))
    builder = builder.config("spark.driver.memory", driver_memory())
    return configure(builder.getOrCreate())
