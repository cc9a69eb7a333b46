"""Scalar function library (SURVEY §2.8 F1–F19) + oracle-determinism helpers.

The reference's scalar surface is NumPy elementwise math on float64
(normalize.py:62-82, play_eppa_cpu.py:250-300). Every helper here is a pure
Column expression — JVM-side, inside WholeStageCodegen, no Python in the hot
path.

Determinism helpers: the correctness gate hash-compares Spark vs DuckDB
results. Money/metric columns in the testdata are 2-decimal doubles, so
casting to DECIMAL before SUM makes grouped sums *bit-exact* across engines
(decimal arithmetic is exact; the final cast-to-double is a single identical
IEEE operation). See plans/catalog.py for the SQL twins.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

# ---------------------------------------------------------------- determinism


def dec(c: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Cast to exact decimal; input data holds ≤2 fractional digits."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(f"decimal({prec},{scale})")


def dec_sum(c: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Exact SUM of a 2-decimal double column, returned as double.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)``.
    """
    return F.sum(dec(c, prec, scale)).cast("double")


def dec_avg(c: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Exact-numerator AVG: decimal sum (exact) divided by count in double.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE) / COUNT(x)``.
    """
    col = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec(col, prec, scale)).cast("double") / F.count(col)).alias("avg")


# ------------------------------------------------------------------- F1–F8


def sigmoid(x: Column) -> Column:
    """Logistic sigmoid (F4) — p_int field activation, play_eppa_cpu.py:269."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def clip(x: Column, lo: float, hi: float) -> Column:
    """np.clip (F3) — play_eppa_cpu.py:254,262."""
    return F.greatest(F.least(x, F.lit(hi)), F.lit(lo))


def angle_wrap_deg(deg: Column) -> Column:
    """Angle wrap ``(o + 180) % 360`` (F5) — normalize.py:54-55."""
    return F.pmod(deg + F.lit(180.0), F.lit(360.0))


def kinematic_pos(x0: Column, v: Column, a: Column, t: Column) -> Column:
    """x + v·t + ½·a·t² (F7) — play_eppa_cpu.py:235-240."""
    return x0 + v * t + F.lit(0.5) * a * t * t


def surname(name: Column) -> Column:
    """Last whitespace token (F9) — visualize.py:366."""
    return F.element_at(F.split(name, " "), -1)


def md5_bucket(c: Column, hexlen: int = 8) -> Column:
    """Deterministic cross-engine integer hash: leading ``hexlen`` hex chars of
    md5 as a BIGINT. md5 is identical in Spark and DuckDB, so this is the
    hash primitive for dedup/LSH operators that must oracle-match.

    Oracle twin (DuckDB): arithmetic fold of ``substr(md5(x),1,hexlen)``.
    """
    return F.conv(F.substring(F.md5(c), 1, hexlen), 16, 10).cast("long")
