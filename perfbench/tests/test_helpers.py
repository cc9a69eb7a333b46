"""Unit tests of the benchmark's pure helpers (no SparkSession):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import run  # noqa: E402
from measure import Span, Tracer, fold_event_log, self_times, tail  # noqa: E402
from workloads import OpResult, final_rows  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 201))  # 200 samples: p95 has exactly 10 above it
    value, pct = tail(xs)
    assert value == 190 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(95.0)


def test_tail_never_drops_below_p90():
    # 24 samples: the order statistic with 10 above it would be p58
    value, pct = tail(list(range(24)))
    assert value == 21 and pct == pytest.approx(100 * 22 / 24)
    assert tail(list(range(16)))[0] == 14
    assert tail([3.0]) == (3.0, 100.0)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        Span(0, None, "op", 0.0, 10.0),
        Span(1, 0, "plans.build", 1.0, 3.0),
        Span(2, 0, "plans.build", 2.0, 5.0),  # overlaps span 1
        Span(3, 0, "plans.action", 8.0, 12.0),  # runs past the parent
        Span(4, 1, "sources.load_table", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 2))
    assert st[1] == pytest.approx(2 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_disabled_records_nothing():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("plans.build"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("op", None), ("plans.build", 0)]
    off = Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_event_log_fold_on_recorded_log():
    """A recorded Spark 4.1 log: one catalog query (group op1:a1) and one
    EPPA surface over 2 plays x 2 frames (group op2:eppa)."""
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as fh:
        fold = fold_event_log(fh)
    a1, eppa = fold["op1:a1"], fold["op2:eppa"]
    assert (a1["jobs"], a1["stages"], a1["tasks"]) == (3, 3, 3)
    assert a1["input_rows"] == 60000 and a1["py_rows_sent"] == 0
    assert (eppa["jobs"], eppa["stages"], eppa["tasks"]) == (3, 3, 17)
    # 2 plays x 2 eligible frames x 22 tracked rows reach the kernel
    assert eppa["py_rows_sent"] == 88
    assert eppa["py_bytes_sent"] == 11808
    assert eppa["py_worker_s"] > 0 and eppa["py_worker_boot_s"] > 0
    assert eppa["shuffle_read_bytes"] == eppa["shuffle_write_bytes"] > 0


def test_event_log_fold_maps_groups():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as fh:
        fold = fold_event_log(fh, lambda g: g.partition(":")[0])
    assert set(fold) == {"op1", "op2"}


def test_digest_matches_int_and_float_renderings_and_ignores_order():
    spark = pd.DataFrame({"k": [2, 1], "v": [0.5, -0.0]})
    duck = pd.DataFrame({"v": [0.0, 0.5], "k": [1.0, 2.0]})
    floats = check.float_columns(spark, duck)
    assert check.digest(spark, floats) == check.digest(duck, floats)
    assert check.digest(spark, floats) != check.digest(duck.assign(v=[0.0, 0.25]), floats)


class _FakeWorkload:
    """Three ops per pass; op "b" returns a result its oracle rejects and
    op "c" raises."""

    min_passes = 1

    def pass_ops(self, ctx, i):
        return ["a", "b", "c"]

    def kind(self, key):
        return "relational"

    def run_op(self, ctx, key):
        if key == "c":
            raise RuntimeError("boom")
        return OpResult(pd.DataFrame({"x": [1.0 if key == "a" else 2.0]}))

    def check(self, key, res):
        want = check.digest(pd.DataFrame({"x": [1.0]}), frozenset({"x"}))
        got = check.digest(res.value, frozenset({"x"}))
        return [] if got == want else ["digest mismatch"]


class _Ctx:
    tracer = Tracer(enabled=False)
    op_index = -1


def test_oracle_mismatch_and_exception_count_as_failed():
    records, _ = run.run_ops(_FakeWorkload(), _Ctx(), seconds=0.0)
    assert [r["ok"] for r in records] == [True, False, False]
    assert all(r["wall"] >= 0 for r in records)


def test_stream_final_rows_fold():
    updates = pd.DataFrame(
        {
            "user_id": [7, 7, 7, 8],
            "n_events": [2, -1, 1, 3],
            "total_value": [1.5, 1.5, 4.0, 2.0],
            "last_ms": [100, 100, 900, 50],
        }
    )
    out = final_rows(updates).sort_values("user_id", ignore_index=True)
    assert out.n_events.tolist() == [1, 3]
    assert out.evictions.tolist() == [1, 0]
    assert np.array_equal(out.total_value.to_numpy(), [4.0, 2.0])
