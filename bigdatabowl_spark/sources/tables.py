"""Testdata table readers (parquet star schema, see TESTDATA.md).

Mirrors the reference's scan layer (SURVEY §2.1): the reference reads CSVs with
manual ``usecols`` pruning (comb_model_big_run_cpu.py:17-20) and multi-file
week globs (completion_probability_torch.py:29-34). Here every scan is a
parquet read through Catalyst, so column pruning and predicate pushdown reach
the reader automatically — ``.select``/``.filter`` downstream is enough.

``events.ts`` is stored as parquet ``timestamp[us]`` (verified with pyarrow at
sf0.001/0.01/0.1); Spark reads it as TIMESTAMP_NTZ. We standardize on derived
``ts_us``/``ts_ns`` BIGINT columns and keep all time arithmetic in epoch
integers — deterministic, timezone-free, and identical in the DuckDB oracle
(``epoch_us(ts)``). ``load_table`` dtype-dispatches so the same code also
accepts an int64-nanos column (e.g. a source that pre-materialized epoch
nanos) without any session conf dependency.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bigdatabowl_spark.session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session-timezone-independent epoch-micros for a TIMESTAMP_NTZ column —
# equals DuckDB's epoch_us(ts) exactly (naive == UTC by construction).
_NTZ_EPOCH_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
)


def epoch_us_col(df: DataFrame, col: str = "ts"):
    """Epoch-micros Column for ``col``, dispatching on its arrival dtype.

    timestamp/timestamp_ntz → timestampdiff from the NTZ epoch (timezone
    free); int64 is treated as pre-epoched nanos and floor-divided.
    """
    ts_type = dict(df.dtypes).get(col, "")
    if ts_type.startswith("timestamp"):
        return F.expr(_NTZ_EPOCH_US.format(col=col))
    return F.expr(f"CAST({col} AS BIGINT) div 1000")


# Per-session RELATION memo (r13, guide §1.2/§6): every catalog builder
# re-ran `spark.read.parquet` for its tables — a driver-side footer read +
# schema inference costing ~0.1-0.2 s per call, ~190 bench rows deep (the
# longtail probe measured builder construction at 0.21 s/query mean, most
# of it here). The memo caches the lazy DataFrame OBJECT (the analyzed
# relation), never data: every action still scans parquet. Keyed on the
# session's applicationId (a dead session's entries are unreachable and
# evicted by the cap) AND the path's (mtime, size), so a rewritten test
# corpus under the same path gets a fresh read — fuzz harnesses that
# regenerate tables stay correct.
_RELATION_MEMO: dict[tuple, DataFrame] = {}
_RELATION_MEMO_CAP = 256


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; events gains ``ts_us``/``ts_ns`` BIGINT epochs."""
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        st = os.stat(path)
        key = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # nonexistent yet / non-posix path: no memo, plain read
    if key is not None:
        hit = _RELATION_MEMO.get(key)
        if hit is not None:
            return hit
    if name == "events":
        configure(spark)  # ship package zip for driver-owned sessions
    df = spark.read.parquet(path)
    if name == "events":
        # Dispatch on the arrival dtype: testdata is timestamp[us] (read as
        # TIMESTAMP_NTZ); an int64 column is treated as pre-epoched nanos.
        # DuckDB TIMESTAMP is microsecond-precision, so oracle-matched
        # queries must use ts_us, not ts_ns.
        df = df.withColumn("ts_us", epoch_us_col(df, "ts"))
        df = df.withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
    if key is not None:
        if len(_RELATION_MEMO) >= _RELATION_MEMO_CAP:
            _RELATION_MEMO.clear()  # tiny + rebuildable: flush beats LRU here
        _RELATION_MEMO[key] = df
    return df


def local_rows_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Small local-rows DataFrame built through the Arrow/pandas path.

    The row-list ``createDataFrame`` path parallelizes into
    ``defaultParallelism`` Python-RDD slices; a later ``coalesce(1)``
    (the artifact writers' one-file-per-artifact layout) then re-evaluates
    every slice through a Python-worker round-trip SEQUENTIALLY inside one
    task — measured ~0.15 s per slice, ~5 s per tiny artifact write at
    local[32] (r12 bench isolation: `roundtrip_priors` was 11 s of
    `s4_prior_artifact_lifecycle`'s 17 s). Arrow batches are JVM-local, so
    the same coalesced write is ~0.2 s. Values are identical — float64
    crosses Arrow bit-exactly, ints/strings/arrays losslessly (verified
    against the row-list path on the priors and tree schemas)."""
    import pandas as pd
    from pyspark.sql.types import StructType

    # Real DDL parser, not a comma-split: types containing commas
    # (`decimal(10, 2)`, nested structs) would silently mis-split the
    # column list (ADVICE r12). fromDDL goes through the JVM's parser, so
    # every schema createDataFrame accepts parses identically here.
    names = [f.name for f in StructType.fromDDL(schema).fields]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)
