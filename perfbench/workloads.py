"""The benchmark workloads.

Each workload stages its seeded inputs, warms up, and then runs ops: one
op is one public engine call plus materializing its result. ``run_op``
returns the materialized result and ``check`` compares it with an
independent reference, so every op is verified. Why each workload exists,
and which engine layers it stresses, is written in perfbench/README.md.

The ``tracer`` spans wrap calls into the engine's public functions from
the outside; the engine itself is not modified.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import check
import gen
from measure import Tracer


@dataclass
class Ctx:
    spark: object
    root: str  # private per-run directory
    seed: int
    cpus: int
    tracer: Tracer
    op_index: int = -1

    def tag(self, phase: str, desc: str) -> None:
        """Tag the jobs of the current op and phase (traced runs only:
        the group ids are read back from the event log)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"op{self.op_index}:{phase}", desc)


@dataclass
class OpResult:
    value: object
    info: dict = field(default_factory=dict)


# ------------------------------------------------------------- query_mix

QUERY_SF = 0.05
RELATIONAL = (
    "a1_pricing_summary",
    "j5_derived_key_join",
    "w1_lag_gaps",
    "u4_semi_anti",
    "j15_asof_join",
)
DEDUP = (
    "minhash_lsh_pairs",
    "dedup_exact",
    "text_quality",
)


class QueryMix:
    """Catalog queries with DuckDB oracles, each pass in a seed-shuffled
    order. An op is ``CatalogQuery.builder`` followed by ``toPandas``."""

    name = "query_mix"
    min_passes = 2

    def stage(self, ctx: Ctx) -> None:
        import duckdb

        import bigdatabowl_spark.plans  # noqa: F401  (registers the catalog)
        from bigdatabowl_spark.plans.catalog import CATALOG

        self.catalog = CATALOG
        self.data = os.path.join(ctx.root, "data")
        rows = gen.write_star_schema(self.data, ctx.seed, QUERY_SF)
        con = duckdb.connect()
        try:
            for table in rows:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            self.oracle = {
                q: con.execute(CATALOG[q].oracle).fetchdf() for q in RELATIONAL + DEDUP
            }
        finally:
            con.close()
        self.floats: dict[str, frozenset] = {}
        self.want: dict[str, tuple] = {}

    def warm_up(self, ctx: Ctx) -> None:
        # Every query once concurrently: the cold cost is query
        # planning, code generation and JIT, which overlap across jobs.
        # Then one sequential pass, since the JIT is still compiling after
        # the first run (a measured first pass ran up to 2x its second).
        from concurrent.futures import ThreadPoolExecutor

        queries = RELATIONAL + DEDUP
        with ThreadPoolExecutor(ctx.cpus) as pool:
            results = list(pool.map(lambda q: self.run_op(ctx, q), queries))
        results += [self.run_op(ctx, q) for q in queries]
        for q, res in zip(queries + queries, results):
            if problems := self.check(q, res):
                raise RuntimeError(f"warm-up: {problems}")

    def pass_ops(self, ctx: Ctx, i: int) -> list[str]:
        return gen.shuffled(list(RELATIONAL + DEDUP), ctx.seed * 1000 + i)

    def kind(self, key: str) -> str:
        return "dedup" if key in DEDUP else "relational"

    def run_op(self, ctx: Ctx, key: str) -> OpResult:
        with ctx.tracer.span("plans.build"):
            ctx.tag("build", key)
            df = self.catalog[key].builder(ctx.spark, self.data)
        with ctx.tracer.span("plans.action"):
            ctx.tag("action", key)
            return OpResult(df.toPandas())

    def check(self, key: str, res: OpResult) -> list[str]:
        if key not in self.floats:
            self.floats[key] = check.float_columns(res.value, self.oracle[key])
            self.want[key] = check.digest(self.oracle[key], self.floats[key])
        got = check.digest(res.value, self.floats[key])
        if got != self.want[key]:
            return [f"{key}: digest {got[:2]} != oracle {self.want[key][:2]}"]
        return []


# ---------------------------------------------------------- eppa_surface

EPPA_PLAYS = 8
EPPA_FRAMES = 4


class EppaSurface:
    """``kernels.eppa.eppa_field_surface`` over seeded synthetic plays;
    the input DataFrame is cached during staging, outside the timed ops."""

    name = "eppa_surface"
    min_passes = 3
    frames_per_op = EPPA_PLAYS * EPPA_FRAMES

    def stage(self, ctx: Ctx) -> None:
        from bigdatabowl_spark.kernels import eppa

        self.eppa = eppa
        plays = gen.tracking_plays(ctx.seed, EPPA_PLAYS, EPPA_FRAMES)
        self.input = ctx.spark.createDataFrame(plays).cache()
        self.input.count()
        # reference surface for one seed-chosen frame, by direct kernel call
        rng = np.random.default_rng(ctx.seed)
        self.sample = (
            1 + int(rng.integers(EPPA_PLAYS)),
            1 + gen.MIN_T_FRAME + int(rng.integers(EPPA_FRAMES)),
        )
        self.sample_frame = plays[
            (plays.playId == self.sample[0]) & (plays.frameId == self.sample[1])
        ]
        self.expect = self.direct_surface(self.sample_frame)

    def direct_surface(self, frame: pd.DataFrame) -> pd.DataFrame:
        """eppa1/eppa1m per field cell of one frame from ``frame_surfaces``."""
        from bigdatabowl_spark.kernels.params import field_grid

        e = self.eppa
        qb = frame[frame.position == "QB"]
        players = frame[(frame.nflId != 0) & (frame.position != "QB")]
        s = e.frame_surfaces(
            players,
            qb[["x", "y"]].iloc[0].to_numpy(dtype=np.float64),
            int(frame.frameId.iloc[0]) - 1,  # snap is frame 1
            e.EppaParams(),
            e.EppaPriors.default(),
        )
        grid = field_grid()
        return pd.DataFrame(
            {
                "ball_end_x": grid[:, 0],
                "ball_end_y": grid[:, 1],
                "eppa1": s["eppa_ft"].sum(axis=1),
                "eppa1m": s["eppa_ft"].max(axis=1),
            }
        ).sort_values(["ball_end_x", "ball_end_y"], ignore_index=True)

    def warm_up(self, ctx: Ctx) -> None:
        # two ops: the first measured op after a single cold one still ran
        # ~20% slow, and skewed runs that fit 2 ops against those with 3
        for _ in range(2):
            if problems := self.check("eppa", self.run_op(ctx, "eppa")):
                raise RuntimeError(f"warm-up: {problems}")

    def pass_ops(self, ctx: Ctx, i: int) -> list[str]:
        return ["eppa"]

    def kind(self, key: str) -> str:
        return "eppa"

    def run_op(self, ctx: Ctx, key: str) -> OpResult:
        with ctx.tracer.span("plans.build"):
            ctx.tag("build", key)
            df = self.eppa.eppa_field_surface(self.input)
        with ctx.tracer.span("plans.action"):
            ctx.tag("action", key)
            return OpResult(df.toPandas(), {"frames": self.frames_per_op})

    def check(self, key: str, res: OpResult) -> list[str]:
        out = res.value
        problems = []
        n_frames = out.groupby(["playId", "frameId"]).ngroups
        if n_frames != self.frames_per_op:
            problems.append(f"{n_frames} frames, expected {self.frames_per_op}")
        if int(out["invariant_violations"].sum()):
            problems.append(f"{int(out['invariant_violations'].sum())} invariant violations")
        got = (
            out[(out.playId == self.sample[0]) & (out.frameId == self.sample[1])]
            [["ball_end_x", "ball_end_y", "eppa1", "eppa1m"]]
            .sort_values(["ball_end_x", "ball_end_y"], ignore_index=True)
        )
        if not (len(got) == len(self.expect) and np.array_equal(got.to_numpy(), self.expect.to_numpy())):
            problems.append(f"frame {self.sample} differs from the direct kernel call")
        return problems


# ----------------------------------------------------- stream_multibatch

STREAM_SF = 0.01  # 150 users, ~2k purchase events
STREAM_BUCKETS = 2


class StreamMultibatch:
    """One ``availableNow`` run of ``streaming.events.start_multibatch_query``
    over file-per-batch event buckets, then the memory sink is collected.
    The final per-user rows are checked against ``_mb_oracle_sql``."""

    name = "stream_multibatch"
    min_passes = 1

    def stage(self, ctx: Ctx) -> None:
        import duckdb

        from bigdatabowl_spark.streaming import events

        self.events = events
        data = os.path.join(ctx.root, "data")
        gen.write_star_schema(data, ctx.seed, STREAM_SF)
        self.stage_dir = events._stage_event_buckets(data, k=STREAM_BUCKETS)
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM '{os.path.join(data, 'events.parquet')}'"
            )
            want = con.execute(events._mb_oracle_sql(k=STREAM_BUCKETS)).fetchdf()
        finally:
            con.close()
        self.floats = check.float_columns(want)
        self.want = check.digest(want, self.floats)

    def warm_up(self, ctx: Ctx) -> None:
        if problems := self.check("stream", self.run_op(ctx, "stream")):
            raise RuntimeError(f"warm-up: {problems}")

    def pass_ops(self, ctx: Ctx, i: int) -> list[str]:
        return ["stream"]

    def kind(self, key: str) -> str:
        return "stream"

    def run_op(self, ctx: Ctx, key: str) -> OpResult:
        ev = self.events
        with ctx.tracer.span("stream.run"):
            ctx.tag("build", key)  # the source's schema read; batches carry the run id
            with ev._state_partitions(ctx.spark):
                q, sink = ev.start_multibatch_query(ctx.spark, self.stage_dir)
                q.awaitTermination()
        with ctx.tracer.span("plans.action"):
            ctx.tag("action", key)
            rows = ctx.spark.table(sink).toPandas()
        ctx.spark.catalog.dropTempView(sink)
        return OpResult(rows, {"progress": q.recentProgress, "run_id": str(q.runId)})

    def check(self, key: str, res: OpResult) -> list[str]:
        got = check.digest(final_rows(res.value), self.floats)
        if got != self.want:
            return [f"stream totals digest {got[:2]} != oracle {self.want[:2]}"]
        return []


def final_rows(updates: pd.DataFrame) -> pd.DataFrame:
    """Per user, the update with the latest event-time horizon (a tombstone
    outranks its own segment's last update) plus the tombstone count —
    the fold ``streaming.events.run_multibatch_totals`` applies in Spark."""
    u = updates.assign(tomb=(updates.n_events == -1).astype(np.int64))
    evictions = u.groupby("user_id")["tomb"].sum()
    last = (
        u.sort_values(["user_id", "last_ms", "tomb"], ascending=[True, False, False])
        .drop_duplicates("user_id")
        .set_index("user_id")
    )
    return pd.DataFrame(
        {
            "user_id": last.index.to_numpy(dtype=np.int64),
            "n_events": last.n_events.to_numpy(dtype=np.int64),
            "total_value": last.total_value.to_numpy(dtype=np.float64),
            "evictions": evictions.loc[last.index].to_numpy(dtype=np.int64),
        }
    )


WORKLOADS = {w.name: w for w in (QueryMix, EppaSurface, StreamMultibatch)}

