"""EPPA kernel queries (SURVEY §2.10 M3/M4, §3.2) through the driver contract.

The testdata star schema has no tracking table, so these queries derive a
tracking-shaped play deterministically from the `events` table with pure
DataFrame ops (player identities = smallest distinct user_ids; kinematics =
arithmetic on the slot index and a per-player jitter from user_id). The
kernel itself — p_int sigmoid field, historical transition prior,
trajectory-integrated completion, value models, per-player attribution
(play_eppa_cpu.py:222-641) — is genuinely non-SQL-expressible, so these are
rows-only entries (no oracle SQL); numeric correctness is covered by
tests/test_kernels.py against hand-computed invariants and the probability
asserts the reference left commented out (play_eppa_cpu.py:338-339).

Scale posture: groups are (gameId, playId) — at 100 TB there are millions of
plays, so parallelism is ample and each Arrow batch holds one play (~22
players × ~35 frames). Priors/params ride inside the kernel closure
(broadcast once per executor via task serialization, S4).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bigdatabowl_spark.kernels.eppa import (
    eppa_pass_summary,
)
from bigdatabowl_spark.plans.catalog import register, t

# Kernel-output staging dir. Each kernel-chain query overwrites its table
# here as a side effect; the matching *_readside query later in catalog
# order aggregates this SAME parquet on both engines (Spark and the DuckDB
# oracle), so the analytics half of every kernel chain gets a real
# cross-engine hash check (VERDICT r4 item 2) while the kernel numerics
# stay pinned by tests/test_kernels.py. The path must be one static string
# per process (the DuckDB oracle SQL templates bake it in at import time),
# so concurrent sessions sharing one machine must each set
# SPARK_GRAFT_KERNEL_OUT — two sessions on the default dir would overwrite
# each other's staging mid-read. Every staged table carries a _STAGED_FROM
# marker naming the sf_dir it was built from, and the readside self-heal
# re-runs the owning kernel whenever the marker doesn't match the requested
# sf — a readside check is never satisfied by another scale's bytes.
KERNEL_OUT = os.environ.get("SPARK_GRAFT_KERNEL_OUT", "/tmp/bigdatabowl_kernel")

_SF_MARKER = "_STAGED_FROM"  # underscore prefix: invisible to Spark's
#                              parquet listing and to the oracle's *.parquet glob

_KERNEL_FP: str | None = None


def kernel_fingerprint() -> str:
    """md5 of every kernels/*.py source file (12 hex chars, cached per
    process). Staging markers embed it so staged tables are invalidated
    when KERNEL CODE changes, not just when the sf changes — without it a
    warm staging dir would keep serving (and green-lighting, since both
    engines read the same stale bytes) pre-edit results (round-6 review
    finding)."""
    global _KERNEL_FP
    if _KERNEL_FP is None:
        import hashlib

        import bigdatabowl_spark.kernels as kernels_pkg

        root = os.path.dirname(kernels_pkg.__file__)
        h = hashlib.md5()
        for fname in sorted(os.listdir(root)):
            if fname.endswith(".py"):
                with open(os.path.join(root, fname), "rb") as fh:
                    h.update(fh.read())
        _KERNEL_FP = h.hexdigest()[:12]
    return _KERNEL_FP


def marker_value(sf_dir: str) -> str:
    """Staging-marker payload: source sf_dir + kernel-code fingerprint."""
    return sf_dir.rstrip("/") + "|" + kernel_fingerprint()


def materialize_kernel(df: DataFrame, name: str, sf_dir: str) -> DataFrame:
    """Persist a kernel output table to the staging dir and hand back the
    re-read — the caller returns disk-backed rows, so its own result and
    the readside queries see byte-identical float64 values (S11 artifact
    persistence; the reference's per-play pickle dirs, play_eppa_cpu.py:670).
    The _STAGED_FROM marker (written AFTER the parquet, since overwrite
    truncates the dir) records which sf_dir + kernel-code version produced
    the table."""
    path = os.path.join(KERNEL_OUT, name)
    df.write.mode("overwrite").parquet(path)
    with open(os.path.join(path, _SF_MARKER), "w") as f:
        f.write(marker_value(sf_dir))
    return df.sparkSession.read.parquet(path)


def staged_fresh(name: str, sf_dir: str) -> bool:
    """True iff the staged table exists AND was built from this sf_dir by
    the CURRENT kernel code — the marker keeps a staged read from being
    silently satisfied by another scale's (or another code version's)
    bytes."""
    path = os.path.join(KERNEL_OUT, name)
    if not os.path.isdir(path) or not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return False
    try:
        with open(os.path.join(path, _SF_MARKER)) as f:
            return f.read().strip() == marker_value(sf_dir)
    except OSError:
        return False


# The three per-frame projections of one kernel pass: split column lists
# mirror FIELD_SCHEMA / PASS_SCHEMA / PLAYER_SCHEMA (kernels/eppa.py).
_EPPA_CHAIN_SLICES = {
    "eppa_field_surface": (
        "field",
        [
            "gameId", "playId", "frameId", "ball_end_x", "ball_end_y",
            "eppa1", "eppa1m", "p_int_off", "p_int_def", "ppc_off",
            "ppc_def", "trans", "xyac", "xepa_comp", "invariant_violations",
        ],
    ),
    "eppa_pass_summary": (
        "pass",
        [
            "gameId", "playId", "frameId", "frames_after_snap", "eppa1_tot",
            "max_eppa1_x", "max_eppa1_y", "max_eppa1_T", "max_eppa1_ppc_off",
            "max_eppa1_trans", "max_eppa1", "invariant_violations",
        ],
    ),
    "eppa_player_stats": (
        "player",
        [
            "gameId", "playId", "frameId", "nflId", "team_pos", "ind_eppa1",
            "invariant_violations",
        ],
    ),
}


def stage_eppa_chain(spark: SparkSession, sf_dir: str) -> None:
    """Stage field/pass/player tables from ONE kernel pass (VERDICT r5
    item 4 — the per-projection kernels tripled the dominant bench cost).

    The combined discriminated-union table is written once (the single
    kernel execution), then each per-table slice is a pure column
    projection of the parquet re-read — bit-identical float64 to the
    per-projection kernels, since every value comes from the same
    frame_surfaces arrays (pinned by test_kernels.py::
    test_combined_kernel_slices_match_individual). Idempotent and cheap
    when all three tables are already staged from this sf."""
    if all(staged_fresh(n, sf_dir) for n in _EPPA_CHAIN_SLICES):
        return
    from bigdatabowl_spark.kernels.eppa import eppa_combined

    combined_path = os.path.join(KERNEL_OUT, "eppa_combined")
    eppa_combined(tracking_from_events(spark, sf_dir)).write.mode(
        "overwrite"
    ).parquet(combined_path)
    combined = spark.read.parquet(combined_path)
    for name, (kind, cols) in _EPPA_CHAIN_SLICES.items():
        materialize_kernel(
            combined.filter(F.col("row_kind") == kind).select(*cols), name, sf_dir
        )


N_SLOTS = 20  # 10 OFF + 10 DEF (ball and QB added separately)
N_FRAMES = 20  # snap@1, throw@16 (2 eligible EPPA frames), arrival@19, outcome@20
THROW_FRAME = 16
ARRIVE_FRAME = 19
N_PLAYS = 2


def tracking_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tracking-shaped plays derived from the events table."""
    ev = t(spark, sf_dir, "events")
    slots = (
        ev.select("user_id")
        .distinct()
        .withColumn("slot", F.row_number().over(Window.orderBy("user_id")) - 1)
        .filter(F.col("slot") < N_SLOTS)
    )
    plays = spark.range(1, N_PLAYS + 1).select(F.col("id").alias("playId"))
    frames = spark.range(1).select(
        F.explode(F.sequence(F.lit(1), F.lit(N_FRAMES))).alias("frameId")
    )
    base = slots.crossJoin(plays).crossJoin(frames)

    # alternate sides by slot parity: robust when the table has fewer than
    # N_SLOTS distinct users (sf0.001 has 15)
    lane = F.floor(F.col("slot") / 2).cast("double")
    is_off = F.col("slot") % 2 == 0
    jitter = (F.col("user_id") % 7).cast("double") * 0.37
    event = (
        F.when(F.col("frameId") == 1, F.lit("ball_snap"))
        .when(F.col("frameId") == THROW_FRAME, F.lit("pass_forward"))
        .when(F.col("frameId") == ARRIVE_FRAME, F.lit("pass_arrived"))
        .when(
            F.col("frameId") == N_FRAMES,
            # odd plays complete, even plays fall incomplete — gives the
            # tuning dataset (M5) both outcome labels
            F.when(F.col("playId") % 2 == 1, F.lit("pass_outcome_caught")).otherwise(
                F.lit("pass_outcome_incomplete")
            ),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    players = base.select(
        F.lit(1).cast("long").alias("gameId"),
        F.col("playId").cast("long"),
        F.col("frameId").cast("int"),
        event.alias("event"),
        (F.col("user_id") + 100).cast("long").alias("nflId"),
        F.concat(F.lit("P"), F.col("slot")).alias("displayName"),
        F.when(is_off, F.lit("WR")).otherwise(F.lit("CB")).alias("position"),
        F.when(is_off, F.lit("OFF")).otherwise(F.lit("DEF")).alias("team_pos"),
        (12.0 + 4.0 * lane + 0.3 * F.col("frameId") + 0.5 * jitter
         + F.when(is_off, 0.0).otherwise(3.0) + F.col("playId").cast("double")).alias("x"),
        (3.0 + 4.8 * lane + F.when(is_off, 0.0).otherwise(1.2)).alias("y"),
        (F.when(is_off, 4.0).otherwise(-2.0) + 0.1 * jitter).alias("v_x"),
        (0.4 * (lane - 4.5) / 4.5).alias("v_y"),
    )
    anchors = plays.crossJoin(frames).select(
        F.lit(1).cast("long").alias("gameId"),
        F.col("playId").cast("long"),
        F.col("frameId").cast("int"),
        event.alias("event"),
        F.lit(0).cast("long").alias("nflId"),
        F.lit("Football").alias("displayName"),
        F.lit(None).cast("string").alias("position"),
        F.lit("FTBL").alias("team_pos"),
        (28.0 + F.col("playId").cast("double") + 0.4 * F.col("frameId")).alias("x"),
        F.lit(26.5).alias("y"),
        F.lit(4.0).alias("v_x"),
        F.lit(0.0).alias("v_y"),
    )
    qbs = anchors.select(
        "gameId", "playId", "frameId", "event",
        F.lit(999).cast("long").alias("nflId"),
        F.lit("QB1").alias("displayName"),
        F.lit("QB").alias("position"),
        F.lit("OFF").alias("team_pos"),
        "x", "y", "v_x", "v_y",
    )
    return players.unionByName(anchors).unionByName(qbs)


@register(
    "eppa_field_surface",
    "M3,M4,M9,S4,J12,O3,A23,A25,W7",
    None,  # non-SQL-expressible kernel → rows-only check
)
def q_eppa_field_surface(spark: SparkSession, sf_dir: str):
    """field_df viz surface: 6,600 cells × eligible frames — the per-frame
    EPPA hot path (play_eppa_cpu.py:222-641) as applyInArrow over plays.
    Staged from the shared single-pass kernel (stage_eppa_chain)."""
    stage_eppa_chain(spark, sf_dir)
    return spark.read.parquet(os.path.join(KERNEL_OUT, "eppa_field_surface"))


@register("eppa_pass_summary", "M3,A26,A28", None)
def q_eppa_pass_summary(spark: SparkSession, sf_dir: str):
    """passes_df: per-frame argmax — best hypothetical pass via
    unravel_index(argmax) (play_eppa_cpu.py:564-614,621-637).
    Staged from the shared single-pass kernel (stage_eppa_chain)."""
    stage_eppa_chain(spark, sf_dir)
    return spark.read.parquet(os.path.join(KERNEL_OUT, "eppa_pass_summary"))


@register("eppa_player_stats", "M3,A24,A9", None)
def q_eppa_player_stats(spark: SparkSession, sf_dir: str):
    """player_stats_df: per-player EPPA attribution shares
    (play_eppa_cpu.py:553-559). Staged from the shared single-pass kernel
    (stage_eppa_chain)."""
    stage_eppa_chain(spark, sf_dir)
    return spark.read.parquet(os.path.join(KERNEL_OUT, "eppa_player_stats"))


@register(
    "m5_tuning_dataset",
    "M5,J7,J8,P2",
    """
    WITH plays AS (SELECT unnest(range(1, 3)) AS playId),
    frames AS (SELECT unnest(range(1, 21)) AS frameId),
    ball AS (
        SELECT p.playId, f.frameId,
               CASE WHEN f.frameId = 1 THEN 'ball_snap'
                    WHEN f.frameId = 16 THEN 'pass_forward'
                    WHEN f.frameId = 19 THEN 'pass_arrived'
                    WHEN f.frameId = 20 THEN
                         CASE WHEN p.playId % 2 = 1 THEN 'pass_outcome_caught'
                              ELSE 'pass_outcome_incomplete' END
               END AS event,
               28.0 + CAST(p.playId AS DOUBLE) + 0.4 * f.frameId AS x,
               26.5 AS y
        FROM plays p CROSS JOIN frames f
    ),
    slots AS (
        SELECT user_id, row_number() OVER (ORDER BY user_id) - 1 AS slot
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    defenders AS (
        SELECT p.playId, f.frameId,
               12.0 + 4.0 * CAST(floor(s.slot / 2) AS DOUBLE)
                    + 0.3 * f.frameId
                    + 0.5 * (CAST(s.user_id % 7 AS DOUBLE) * 0.37)
                    + 3.0 + CAST(p.playId AS DOUBLE) AS x,
               3.0 + 4.8 * CAST(floor(s.slot / 2) AS DOUBLE) + 1.2 AS y
        FROM slots s CROSS JOIN plays p CROSS JOIN frames f
        WHERE s.slot < 20 AND s.slot % 2 = 1
    ),
    start AS (SELECT playId, x AS sx, y AS sy FROM ball WHERE event = 'pass_forward'),
    endr AS (
        SELECT playId, frameId, x AS ex, y AS ey
        FROM (SELECT playId, frameId, x, y,
                     row_number() OVER (PARTITION BY playId ORDER BY frameId) AS rn
              FROM ball
              WHERE event IN ('pass_arrived','pass_outcome_caught','pass_outcome_incomplete'))
        WHERE rn = 1
    ),
    passes AS (
        SELECT s.playId, s.sx, s.sy, e.frameId, e.ex, e.ey
        FROM start s JOIN endr e ON s.playId = e.playId
        WHERE e.ex BETWEEN 0 AND 120 AND e.ey BETWEEN 0 AND 160.0/3
    ),
    feats AS (
        SELECT pa.playId, pa.sx, pa.sy, pa.ex, pa.ey,
               MIN(sqrt((d.x - pa.ex) * (d.x - pa.ex)
                        + (d.y - pa.ey) * (d.y - pa.ey))) AS nearest_def_dist
        FROM passes pa LEFT JOIN defenders d
          ON d.playId = pa.playId AND d.frameId = pa.frameId
        GROUP BY pa.playId, pa.sx, pa.sy, pa.ex, pa.ey
    ),
    outcome AS (
        SELECT playId,
               MAX(CASE WHEN event = 'pass_outcome_caught' THEN 1 ELSE 0 END) AS completed
        FROM ball GROUP BY playId
    )
    SELECT CAST(1 AS BIGINT) AS gameId, CAST(f.playId AS BIGINT) AS playId,
           sqrt((f.ex - f.sx) * (f.ex - f.sx)
                + (f.ey - f.sy) * (f.ey - f.sy)) AS pass_dist,
           f.nearest_def_dist,
           o.completed
    FROM feats f JOIN outcome o ON f.playId = o.playId
    """,
)
def q_m5_tuning_dataset(spark: SparkSession, sf_dir: str):
    """Parameter-tuning dataset (PlaysDataset ETL,
    completion_probability_torch.py:22-216): ball-start/ball-end self-join
    per pass (J7), off-field passes dropped (J8), completion label — one
    row per true pass. The fit itself (kernels/tuning.py) is driver-side
    model training, not query execution (SURVEY §7 Phase 5).

    Oracle-checked (not rows-only): the synthetic tracking derivation and
    every feature are pure arithmetic, so the twin recomputes the whole
    chain in SQL — products instead of POWER and matching evaluation
    order keep the doubles bit-identical across engines."""
    from bigdatabowl_spark.kernels.tuning import pass_dataset

    return pass_dataset(tracking_from_events(spark, sf_dir))


@register(
    "s4_prior_artifact_lifecycle",
    "S4,S5,S11,S12,A20,A21,M4",
    None,  # kernel consumer → rows-only; bit-equality certified in-query
)
def q_s4_prior_artifact_lifecycle(spark: SparkSession, sf_dir: str):
    """Full prior-artifact lifecycle (ref play_eppa_cpu.py:72-77): fit the
    p(t)/P(T|L) priors, persist them as parquet artifacts (S11, overwrite →
    idempotent resume S12), reload into ndarrays (S5), broadcast into the
    EPPA kernel closure (S4), and certify the reloaded-prior run is
    bit-identical to the in-memory-prior run. Output: one row per pass
    frame with `bitexact` (must be true everywhere) and the reloaded run's
    headline metric."""
    from bigdatabowl_spark.sources.artifacts import roundtrip_priors

    norm = tracking_from_events(spark, sf_dir)
    reloaded = roundtrip_priors(spark)
    base = eppa_pass_summary(norm).select(
        "gameId", "playId", "frameId", F.col("eppa1_tot").alias("eppa1_tot_base")
    )
    redo = eppa_pass_summary(norm, priors=reloaded).select(
        "gameId", "playId", "frameId", "eppa1_tot", "max_eppa1",
        "invariant_violations",
    )
    out = redo.join(base, ["gameId", "playId", "frameId"]).select(
        "gameId",
        "playId",
        "frameId",
        "eppa1_tot",
        "max_eppa1",
        (F.col("eppa1_tot") == F.col("eppa1_tot_base")).alias("bitexact"),
        "invariant_violations",
    )
    return materialize_kernel(out, "s4_prior_artifact_lifecycle", sf_dir)


_ENSEMBLE_LOADED = None  # per-process model cache (S6: load once at startup)


@register(
    "m2_value_model_width",
    "M1,M2,M3,S6",
    None,  # kernel path → rows-only; envelope property asserted in tests
)
def q_m2_value_model_width(spark: SparkSession, sf_dir: str):
    """EPPA with the value models at the reference's full inference width:
    every hypothetical pass of each frame — (F·T, 26) = 264,000 rows × 26
    features — scored through the vectorized 8-class softprob tree ensemble
    and dotted with the class value vector inside the kernel
    (play_eppa_cpu.py:424-459). Same applyInArrow plan as
    eppa_pass_summary; only the value-model stage widens.

    The model rides the full S6 model-binary lifecycle at the reference's
    real artifact fidelity: a DEPTH-4 forest (deeper than any special-cased
    path — the reference's value models train at xgboost's default depth,
    Rishav's xyac.ipynb · cells 5-11) is emitted as an xgboost
    ``save_model`` JSON document, reloaded through the generic any-depth
    loader (kernels/xgb_json.py), persisted as parquet node relations, and
    reloaded again before inference (mirroring the version-pinned
    treelite/xgboost binary load, play_eppa_cpu.py:80-87). JSON repr and
    parquet both round-trip float64 bit-exactly, so the reloaded model
    scores bit-identically to the in-memory spec. Loaded once per process
    (the reference loads binaries at startup, not per query)."""
    import tempfile

    from bigdatabowl_spark.kernels.ensemble import FlatForest
    from bigdatabowl_spark.kernels.xgb_json import load_xgb_json, save_xgb_json
    from bigdatabowl_spark.sources.artifacts import roundtrip_forest

    global _ENSEMBLE_LOADED
    if _ENSEMBLE_LOADED is None:
        with tempfile.TemporaryDirectory() as td:
            json_path = os.path.join(td, "model.json")
            save_xgb_json(FlatForest.default_deep(depth=4), json_path)
            from_json = load_xgb_json(json_path)
        _ENSEMBLE_LOADED = roundtrip_forest(spark, from_json)
    return materialize_kernel(
        eppa_pass_summary(
            tracking_from_events(spark, sf_dir), value_ensemble=_ENSEMBLE_LOADED
        ),
        "m2_value_model_width",
        sf_dir,
    )


@register("m6_optimize_defense", "M6", None)
def q_m6_optimize_defense(spark: SparkSession, sf_dir: str):
    """Greedy defensive-position optimizer (optimize_def.py:52-139):
    sequential argmin-EPPA placement per defender inside one task per play.
    Default objective is HYBRID (r8): the surrogate scores all candidates
    in one vectorized pass, the full frame kernel re-ranks the k-best ∪
    k-worst shortlist and decides — full-mode-exact placements on every
    fixture frame at a bounded kernel-call budget (kernels/defense.py)."""
    from bigdatabowl_spark.kernels.defense import optimize_defense

    return materialize_kernel(
        optimize_defense(tracking_from_events(spark, sf_dir)),
        "m6_optimize_defense",
        sf_dir,
    )
