"""Greedy defensive-position optimizer (SURVEY §2.10 M6).

Reference: optimize_def.py:52-139 — per frame, project every player forward
one planning horizon, then loop defenders from the line of scrimmage
backward; for each defender enumerate the field cells reachable under
(a_max, s_max) kinematics and greedily move him to the cell minimizing the
conceded EPPA surface. Inherently sequential across defenders (each move
changes the surface the next defender sees) — SURVEY §7 Phase 5.

Spark shape: the whole greedy loop runs INSIDE applyInPandas per
(gameId, playId) — plays are independent, so the cluster parallelizes
across plays exactly like the reference's per-GPU play round-robin
(optimize_def.py:188-190), with no driver orchestration. Within one
defender step the reference re-runs the full frame kernel once per
reachable cell (a Python loop, :120-126); here the candidate axis is
vectorized through the same `player_intercept_field` geometry the kernel
uses — all candidates are scored in one NumPy pass over a strided
evaluation grid.

Three candidate objectives (OptimizeConfig.objective):

- ``"surrogate"``: the transition-weighted completion value
  (trans · [p_off·xepa_comp + (1−p_off)·xepa_inc]) WITHOUT the
  trajectory-integration stage — ppc needs the full-resolution path gather
  (play_eppa_cpu.py:336-390). MEASURED agreement with the full kernel
  (tests/test_kernels.py::test_m6_surrogate_ranks_like_full_kernel, on
  the optimizer's own candidate sets): the surrogate's argmin is EXACT on
  the majority of fixture frames, but on one divergent frame it picked
  the full objective's WORST candidate — the first-arrival ordering that
  ppc encodes can dominate when candidate p_int deltas are small. The
  surrogate is the throughput mode, not an exact substitute.
- ``"hybrid"`` (default, VERDICT r7 item 5): the surrogate ranks ALL
  candidates in one vectorized pass, then the full frame kernel re-ranks
  a shortlist of the ``shortlist_k`` BEST plus ``shortlist_k`` WORST
  surrogate candidates (default 4+4) — bounded kernel calls (≤ 2k per
  defender step + 2 per frame for before/after) with the full objective
  deciding the argmin. Both ends, not just the top: measured per-step
  surrogate ranks of the full objective's argmin are BIMODAL — top-2 or
  within the last 4 of ~10 on every fixture-frame defender step (observed
  ranks 0/1 or 6-9 of 8-11 candidates, never mid-pack) — because when
  first-arrival mass (the ppc stage the surrogate drops) dominates, the
  surrogate's ordering flips sign rather than merely blurring, so the
  full-best hides at the surrogate's WORST end. k=4 covers every measured
  step; reference-exact whenever the full argmin lands in either extreme
  — pinned on every fixture frame, including the divergent one, by
  tests/test_kernels.py::test_m6_hybrid_argmin_matches_full; a mid-rank
  full-best would fall back to the better surrogate extreme (bounded
  regret, never the sign-flipped worst the bare surrogate can pick).
- ``"full"``: re-runs the full frame kernel per candidate, exactly the
  reference's loop (optimize_def.py:120-126) — reference-exact argmin at
  ~R kernel calls per defender step; pair with a small max_candidates.

An ADAPTIVE shortlist (skip the kernel re-rank when the surrogate's
rank-1-over-rank-2 margin is wide, VERDICT r8 item 6's optional idea) was
measured and REJECTED (r9): scoring every fixture defender step with both
objectives, the steps where the full argmin disagrees with the surrogate
have margins 0.0002-0.0042 and spreads 0.009-0.022 — fully inside the
agreeing steps' ranges (margins 0.0002-0.0042, spreads 0.004-0.064). No
margin/spread band separates sign-flip steps from trustworthy ones, so
any skip threshold either never fires (no savings) or silently trades
away the exactness the hybrid exists to guarantee. The bounded 2k-call
re-rank stays unconditional; the cheap mode remains `"surrogate"`, now
benched side-by-side (bench.py `m6_optimize_defense_surrogate`).

`reduce` supports the reference's sum/max modes (optimize_def.py:40-50).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from bigdatabowl_spark.kernels.eppa import (
    EppaPriors,
    _frame_guard,
    _frame_surfaces_core,
    _with_frame_meta,
    _ws,
    default_ep_curve,
    default_xyac_scorer,
    player_intercept_field,
)
from bigdatabowl_spark.kernels.params import (
    N_CELLS,
    N_TOF,
    EppaParams,
    field_grid,
    tof_values,
)

OPT_SCHEMA = (
    "gameId long, playId long, frameId int, nflId long, x_opt double, "
    "y_opt double, v_x_opt double, v_y_opt double, eppa_before double, "
    "eppa_after double, invariant_violations long"
)


@dataclass
class OptimizeConfig:
    plan_horizon: float = 0.8  # seconds each defender plans over (optimize_def.py:18)
    grid_stride: int = 8  # evaluation/candidate grid subsampling
    reduce: str = "sum"  # 'sum' | 'max' (reduce_eppa, optimize_def.py:40-50)
    max_candidates: int = 512
    n_steps: int = 1  # rollout length (re-plan points per play)
    frame_stride: int = 3  # eligible frames between re-plans (plan_res/dt)
    objective: str = "hybrid"  # 'surrogate' | 'hybrid' | 'full' (module doc)
    shortlist_k: int = 4  # hybrid: k best + k worst surrogate candidates


def _objective(
    log_no: np.ndarray,  # (F, T, J) per-player log(1-p_int)
    trans: np.ndarray,  # (F, T)
    xepa_comp: np.ndarray,  # (F,)
    xepa_inc: float,
    is_off: np.ndarray,
    reduce: str,
) -> float:
    p_off = 1.0 - np.exp(log_no[:, :, is_off].sum(-1))
    p_def = 1.0 - np.exp(log_no[:, :, ~is_off].sum(-1))
    p_any = 1.0 - np.exp(log_no.sum(-1))
    p_off_part = p_any * p_off / (p_off + p_def + 1e-12)
    value = p_off_part * xepa_comp[:, None] + (1.0 - p_off_part) * xepa_inc
    surface = trans * value
    return float(surface.max() if reduce == "max" else surface.sum())


def optimize_defense_frame(
    players: pd.DataFrame,
    ball_start: np.ndarray,
    frames_after_snap: int,
    params: EppaParams,
    priors: EppaPriors,
    cfg: OptimizeConfig,
) -> tuple[pd.DataFrame, float, float]:
    """One greedy optimization step over all defenders of one frame.

    Returns (per-defender placements, eppa_before, eppa_after)."""
    grid = field_grid()[:: cfg.grid_stride]
    tof = tof_values()
    px = players[["x", "y"]].to_numpy(dtype=np.float64)
    pv = players[["v_x", "v_y"]].to_numpy(dtype=np.float64)
    is_off = (players["team_pos"] == "OFF").to_numpy()
    h = cfg.plan_horizon

    # project everyone forward one horizon, speed-clipped (optimize_def.py:79-91)
    proj_p = px + pv * h
    vmag = np.sqrt((pv**2).sum(-1))
    scale = np.where(vmag > params.s_max, params.s_max / np.maximum(vmag, 1e-9), 1.0)
    proj_v = pv * scale[:, None]

    # transition prior + value curves on the strided grid (M4 twin)
    L = np.sqrt(((grid - ball_start[None, :]) ** 2).sum(-1))
    Lbin = np.clip(np.rint(L).astype(np.int64), 1, 60) - 1
    mask = (L > 1.0) & (L <= 60.0)
    t_idx = min(max(frames_after_snap, 1), len(priors.p_t)) - 1
    trans = priors.T_given_L[Lbin, :] * priors.p_t[t_idx] * mask[:, None]
    s = trans.sum()
    trans = trans / s if s > 0 else trans

    d_mag, p_int = player_intercept_field(proj_p, proj_v, grid, tof, params)
    log_no = np.log1p(-np.clip(p_int, 0.0, 1.0 - 1e-12))  # (F, T, J)
    d_def = d_mag[:, ~is_off]
    nearest_def = d_def.min(axis=1) if d_def.shape[1] else np.full(len(grid), 60.0)
    xepa_comp = default_ep_curve(grid[:, 0] + default_xyac_scorer(nearest_def, grid[:, 0]))
    xepa_inc = float(default_ep_curve(ball_start[0] - 10.0))

    full_mode = cfg.objective == "full"
    hybrid = cfg.objective == "hybrid"
    nfl_arr = players["nflId"].to_numpy()
    tp_arr = players["team_pos"].to_numpy()
    J = len(players)

    # Incremental full-kernel objective (r12 optimization): the reference
    # re-runs the whole frame kernel per candidate (optimize_def.py:120-126)
    # — but between consecutive evaluations only ONE player's position
    # changes, so the (F,T,J) sigmoid tensor differs in one column.
    # base_d/base_p mirror player_intercept_field(cur_p, cur_v) at all
    # times: candidate evaluations recompute just the moved column (J=1 —
    # elementwise math, bit-identical to the column of a J-batch call) and
    # run the kernel's steps 6-11 unchanged on the spliced tensor, so every
    # objective value equals the from-scratch kernel's bit for bit (pinned
    # by tests/test_kernels.py::test_m6_fast_full_obj_matches_frame_surfaces).
    full_grid_k = field_grid()  # kernel evaluates at full 1-yd resolution
    base_d = _ws("m6.base_d", (N_CELLS, J))
    base_p = _ws("m6.base_p", (N_CELLS, N_TOF, J))

    def _splice(j: int, p: np.ndarray, v: np.ndarray) -> None:
        d1, p1 = player_intercept_field(
            p[None, :], v[None, :], full_grid_k, tof, params, reuse=True
        )
        base_d[:, j] = d1[:, 0]
        base_p[:, :, j] = p1[:, :, 0]

    def full_obj() -> float:
        """Reference-exact candidate objective over the current base
        tensors: the frame kernel's steps 6-11 (trajectory integration
        included), reduced to one scalar."""
        e = _frame_surfaces_core(
            proj_p, proj_v, is_off, nfl_arr, tp_arr, ball_start,
            frames_after_snap, params, priors,
            precomputed=(base_d, base_p), lean=True,
        )["eppa_ft"]
        return float(e.max() if cfg.reduce == "max" else e.sum())

    if full_mode or hybrid:
        cur_p, cur_v = proj_p.copy(), proj_v.copy()
        dm, pi = player_intercept_field(
            cur_p, cur_v, full_grid_k, tof, params, reuse=True
        )
        np.copyto(base_d, dm)
        np.copyto(base_p, pi)
        before = full_obj()
    else:
        before = _objective(log_no, trans, xepa_comp, xepa_inc, is_off, cfg.reduce)

    # defenders from LoS to backfield: ascending x (optimize_def.py:103-104)
    def_order = np.argsort(px[:, 0], kind="stable")
    def_order = def_order[~is_off[def_order]]
    placements = []
    full_grid = field_grid()  # candidates at full 1-yd resolution
    for j in def_order:
        loc, vel = px[j], pv[j]
        # reachable-cell enumeration under kinematic limits (:110-118)
        reach_vecs = full_grid - loc[None, :]
        reach_accs = 2.0 * (reach_vecs - vel[None, :] * h) / (h * h)
        reach_vels = reach_accs * h + vel[None, :]
        ok = (np.sqrt((reach_accs**2).sum(-1)) < params.a_max) & (
            np.sqrt((reach_vels**2).sum(-1)) < params.s_max
        )
        cand_idx = np.flatnonzero(ok)
        if cand_idx.size == 0:
            placements.append((j, proj_p[j], proj_v[j]))
            continue
        if cand_idx.size > cfg.max_candidates:  # even subsample, keep spread
            step = int(np.ceil(cand_idx.size / cfg.max_candidates))
            cand_idx = cand_idx[::step]
        cand_p = full_grid[cand_idx]  # (R, 2)
        cand_v = reach_vels[cand_idx]
        if full_mode:
            scores = np.empty(cand_idx.size)
            for r in range(cand_idx.size):
                cur_p[j], cur_v[j] = cand_p[r], cand_v[r]
                _splice(j, cand_p[r], cand_v[r])
                scores[r] = full_obj()
            best = int(scores.argmin())
            cur_p[j], cur_v[j] = cand_p[best], cand_v[best]
            _splice(j, cand_p[best], cand_v[best])
            px[j], pv[j] = cand_p[best], cand_v[best]
            placements.append((j, cand_p[best], cand_v[best]))
            continue
        # vectorized candidate scoring: candidate axis plays the J axis of
        # the shared intercept-field geometry (one NumPy pass, not R kernel
        # re-runs as in optimize_def.py:120-126)
        _, p_int_c = player_intercept_field(cand_p, cand_v, grid, tof, params)
        log_no_c = np.log1p(-np.clip(p_int_c, 0.0, 1.0 - 1e-12))  # (F, T, R)
        static = np.delete(log_no, j, axis=2)
        static_off = static[:, :, np.delete(is_off, j)]
        off_sum = static_off.sum(-1)  # unchanged by the candidate
        def_sum = static[:, :, ~np.delete(is_off, j)].sum(-1)
        p_off = 1.0 - np.exp(off_sum)  # (F, T)
        scores = np.empty(cand_idx.size)
        for r in range(cand_idx.size):  # small R; memory-bounded loop
            p_def = 1.0 - np.exp(def_sum + log_no_c[:, :, r])
            p_any = 1.0 - np.exp(off_sum + def_sum + log_no_c[:, :, r])
            p_off_part = p_any * p_off / (p_off + p_def + 1e-12)
            value = p_off_part * xepa_comp[:, None] + (1.0 - p_off_part) * xepa_inc
            surface = trans * value
            scores[r] = surface.max() if cfg.reduce == "max" else surface.sum()
        if hybrid:
            # full kernel re-ranks only the surrogate's k-best ∪ k-worst
            # shortlist — bounded kernel calls, full objective decides; both
            # ends because the surrogate's ordering SIGN-FLIPS when
            # first-arrival mass dominates (module doc; VERDICT r7 #5)
            k = min(cfg.shortlist_k, cand_idx.size)
            rank_order = np.argsort(scores, kind="stable")
            short = np.unique(np.concatenate([rank_order[:k], rank_order[-k:]]))
            fscores = np.empty(len(short))
            for i, r in enumerate(short):
                cur_p[j], cur_v[j] = cand_p[r], cand_v[r]
                _splice(j, cand_p[r], cand_v[r])
                fscores[i] = full_obj()
            best = int(short[int(fscores.argmin())])
            cur_p[j], cur_v[j] = cand_p[best], cand_v[best]
            _splice(j, cand_p[best], cand_v[best])
        else:
            best = int(scores.argmin())  # greedy argmin EPPA (:127)
        px[j], pv[j] = cand_p[best], cand_v[best]
        log_no[:, :, j] = log_no_c[:, :, best]
        placements.append((j, cand_p[best], cand_v[best]))

    if full_mode or hybrid:
        after = full_obj()
    else:
        after = _objective(log_no, trans, xepa_comp, xepa_inc, is_off, cfg.reduce)
    nfl = players["nflId"].to_numpy()
    out = pd.DataFrame(
        {
            "nflId": [int(nfl[j]) for j, _, _ in placements],
            "x_opt": [float(p[0]) for _, p, _ in placements],
            "y_opt": [float(p[1]) for _, p, _ in placements],
            "v_x_opt": [float(v[0]) for _, _, v in placements],
            "v_y_opt": [float(v[1]) for _, _, v in placements],
        }
    )
    return out, before, after


def optimize_defense(
    norm: DataFrame,
    params: EppaParams | None = None,
    priors: EppaPriors | None = None,
    cfg: OptimizeConfig | None = None,
) -> DataFrame:
    """Multi-step greedy defensive rollout per play (optimize_def.py:142-163).

    The reference replays a play re-planning the defense every plan_res
    seconds: offense follows its recorded track; defenders carry their
    OPTIMIZED positions/velocities from the previous step (inherently
    sequential across frames — SURVEY §7 Phase 5). One rollout = one
    applyInPandas task; the cluster fans out across plays. Output: one row
    per (defender, optimized frame)."""
    params = params or EppaParams()
    priors = priors or EppaPriors.default()
    cfg = cfg or OptimizeConfig()
    cols = [f.split()[0] for f in OPT_SCHEMA.split(", ")]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = sorted(pdf["frameId"].unique())
        chosen = frames[:: cfg.frame_stride][: cfg.n_steps]
        def_state: dict[int, tuple[float, float, float, float]] = {}
        out = []
        for fid in chosen:
            fr = pdf[pdf["frameId"] == fid]
            guard = _frame_guard(fr)
            if guard is None:
                continue
            idx, ball_start, fas = guard
            players = fr.iloc[idx].reset_index(drop=True).copy()
            # defenders resume from their optimized state; offense follows
            # the recorded track (optimize_def.py:101-107 semantics)
            for i, row in players.iterrows():
                st = def_state.get(int(row["nflId"]))
                if st is not None and row["team_pos"] == "DEF":
                    players.loc[i, ["x", "y", "v_x", "v_y"]] = st
            placed, before, after = optimize_defense_frame(
                players, ball_start, fas, params, priors, cfg
            )
            for r in placed.itertuples(index=False):
                def_state[int(r.nflId)] = (r.x_opt, r.y_opt, r.v_x_opt, r.v_y_opt)
            placed.insert(0, "gameId", int(fr["gameId"].iloc[0]))
            placed.insert(1, "playId", int(fr["playId"].iloc[0]))
            placed.insert(2, "frameId", int(fid))
            placed["eppa_before"] = before
            placed["eppa_after"] = after
            # self-certification for the rows-only driver check: every
            # placement must be kinematically feasible (speed ≤ s_max — the
            # candidate filter's own constraint, optimize_def.py:110-118)
            # and both objective values finite. Greedy argmin is not
            # guaranteed monotone (the discrete candidate grid may exclude
            # the current position), so eppa_after ≤ eppa_before is NOT an
            # invariant — feasibility and finiteness are.
            speed = np.sqrt(placed["v_x_opt"] ** 2 + placed["v_y_opt"] ** 2)
            placed["invariant_violations"] = int(
                (speed > params.s_max + 1e-9).sum()
                + (0 if np.isfinite(before) and np.isfinite(after) else 1)
            )
            out.append(placed)
        if not out:
            return pd.DataFrame(columns=cols)
        return pd.concat(out, ignore_index=True)

    eligible = _with_frame_meta(norm)
    return eligible.groupBy("gameId", "playId").applyInPandas(kernel, OPT_SCHEMA)
