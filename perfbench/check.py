"""Result digests for the correctness checks.

A Spark result and its DuckDB oracle are equal when their digests are:
same column names, same row count, and the same multiset of rows after a
canonical rendering — float columns as float64 (``-0.0`` folded into
``0.0``, nulls as NaN), every other column as its string form. Which
columns are floats is decided once per query from BOTH frames (a column
is a float if either engine returned it as one), the same rule the repo's
oracle harness compares by, so an integer-valued DOUBLE on one side and a
BIGINT on the other still match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def float_columns(*frames: pd.DataFrame) -> frozenset[str]:
    return frozenset(
        c for df in frames for c in df.columns if pd.api.types.is_float_dtype(df[c])
    )


def digest(df: pd.DataFrame, floats: frozenset[str]) -> tuple:
    """Order-insensitive digest: (sorted column names, row count,
    wrapped sum of per-row hashes)."""
    cols = sorted(df.columns)
    canon = pd.DataFrame(index=range(len(df)))
    for c in cols:
        v = df[c].reset_index(drop=True)
        if c in floats:
            canon[c] = pd.to_numeric(v, errors="coerce").astype(np.float64) + 0.0
        else:
            canon[c] = v.astype(str)
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return tuple(cols), len(df), int(rows.sum(dtype=np.uint64))
