"""EPPA per-frame kernel (SURVEY Phase 3, §2.10 M3/M4).

The reference's hot path (play_eppa_cpu.py:222-641; maintained GPU twin
frame_eppa.py:157-445) computes, for every frame: a 6,600-cell × 40-ToF
surface of P(intercept), historical transition priors, trajectory-integrated
completion probability, value-model expectations, and argmax summaries.

Spark-first shape: everything before/after is DataFrame ops; the kernel is a
float64 NumPy routine inside ``groupBy("gameId", "playId").applyInArrow``
(the iterator form): one task loops the frames of whole plays, reads the
Arrow columns as NumPy arrays and yields ``pa.RecordBatch`` blocks built
straight from the kernel's arrays — no pandas on either side of the
boundary. Broadcast-small priors ride in the closure.

Fidelity notes (replicating GPU-path semantics per SURVEY §7.5):
- float64 throughout (play_eppa_cpu.py:47);
- the 1e-3 distance epsilon (frame_eppa.py:185);
- piecewise reach-time kinematics (play_eppa_cpu.py:279-297);
- memoized p_int gathered along the ball path (play_eppa_cpu.py:337,355);
- cumprod survival with shift-by-1 seed 1 (play_eppa_cpu.py:373-375);
- team aggregation 1−∏(1−p) (play_eppa_cpu.py:270-271).

Deliberate divergence (documented per SURVEY §7): teams are aggregated
*before* the trajectory gather — mathematically equivalent for the
product-form team probabilities, and it shrinks the per-frame tensor from
(F,T,T,J)≈1.4 GB to (Fc,T,T) chunks of ~1 MB (Fc=330 keeps the whole
working set L2-resident — measured 28% faster than Fc=1100 under 32-way
concurrency), removing the reference's memory
cliff (BASELINE.md "peak per-frame tensor").

The value models (M1/M2, xgboost/treelite in the reference) enter through a
pluggable batch scorer; the default is a deterministic closed-form stand-in
(xgboost is not installed here) with the same feature interface.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bigdatabowl_spark.kernels.params import (
    DT,
    FIELD_X,
    FIELD_Y,
    G,
    N_CELLS,
    N_TOF,
    EppaParams,
    field_grid,
    tof_values,
)
from bigdatabowl_spark.kernels.priors import T_given_L_prior, p_t_prior

_SIGMOID_K = np.pi / np.sqrt(3.0)  # logistic ≈ normal CDF scaling

_TRAJ_CACHE: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}

# Arrival-block width for step 8 (trajectory integration). Module-level so
# the compact-block cache below and the kernel loop agree on the blocking.
_AB = 10

# Compacted valid-(step, arrival) structure per arrival block, cached per
# z-window (r12 optimization-round-1 second pass): zv is only ~6% dense —
# the z-window admits a handful of steps per arrival (8/5/1/1 max across
# the four blocks at the default window) while the dense loop processed
# the full (Fc, S, B) tensor (10/20/30/40 steps). Masked steps contribute
# an EXACT 1.0 factor to the survival cumprod and an EXACT 0.0 term to the
# arrival sum, and numpy's non-contiguous-axis reductions accumulate
# sequentially in step order, so gathering/cumprod-ing only the valid
# slots (padded to each block's m_max, pad slots masked to 0.0) yields
# bit-identical ppc surfaces at ~6x less tensor traffic — measured in
# tests/test_kernels.py::test_step8_compact_bit_identical_vs_dense against
# a dense reference replay.
_COMPACT_CACHE: dict[tuple, list] = {}


def _compact_blocks(params: EppaParams) -> list:
    """Per arrival-block compacted step structure: for each block of _AB
    arrivals, the sorted valid step index per slot (step_idx, int32
    (m_max, B)), a 1.0/0.0 pad mask (m_max, B), and frac sampled at the
    valid (step, arrival) pairs. Blocks with no valid slot are None."""
    key = (params.z_min, params.z_max)
    cached = _COMPACT_CACHE.get(key)
    if cached is not None:
        return cached
    frac, zv = _traj_constants(params)
    blocks = []
    for b0 in range(0, N_TOF, _AB):
        b1 = min(b0 + _AB, N_TOF)
        S, B = b1, b1 - b0
        z = zv[:S, b0:b1]  # (S, B) exact 0.0/1.0
        m_per = z.sum(axis=0).astype(np.int64)
        m_max = int(m_per.max()) if B else 0
        if m_max == 0:
            blocks.append(None)
            continue
        step_idx = np.zeros((m_max, B), np.int64)
        pad = np.zeros((m_max, B), np.float64)
        for j in range(B):
            v = np.flatnonzero(z[:, j])
            step_idx[: len(v), j] = v
            pad[: len(v), j] = 1.0
        frac_c = frac[step_idx, np.arange(b0, b1)[None, :]]  # (m_max, B)
        blocks.append((b0, b1, m_max, step_idx.astype(np.int32), pad, frac_c))
    _COMPACT_CACHE[key] = blocks
    return blocks

# Ball-path index cache (r12 optimization): step 8's (cx, cy, flat) path
# indices depend only on (ball_start, z-window, chunking) — NOT on players —
# so consumers that evaluate many player configurations against one ball
# position (the M6 optimizer: ~80 kernel calls per frame; the bench's
# synthetic play: one ball position across every frame) recompute identical
# int32 tensors per call. Keyed by the exact float ball position; capped at
# 2 keys per worker (~4 MB each after r12's step compaction) with FIFO
# eviction. Cached arrays hold exactly the values the inline computation
# produced, so the gather — and every downstream float — is bit-identical.
_PATH_CACHE: dict[tuple, list[np.ndarray]] = {}
_PATH_CACHE_MAX = 2

# Per-process buffer workspace for the kernel's large intermediates.
#
# Why: the hot path allocates ~300 MB of >32 MB NumPy temporaries per frame;
# glibc serves blocks that size via mmap/munmap, so EVERY call re-faults the
# pages (expensive under virtualized memory — measured 2-17 s first-touch
# cost per worker under 16-way concurrency vs 0.5 s compute). Reusing
# buffers keyed by (name, shape, dtype) faults once per worker process and
# then runs at pure-compute speed. Python workers are single-threaded
# processes, so no locking is needed; key count is bounded (shapes vary only
# with J ∈ [2, ~22] and the F-chunk size).
_WS: dict[tuple, np.ndarray] = {}


def _ws(name: str, shape: tuple, dtype=np.float64) -> np.ndarray:
    key = (name, shape, np.dtype(dtype).str)
    buf = _WS.get(key)
    if buf is None:
        buf = np.empty(shape, dtype=dtype)
        _WS[key] = buf
    return buf


def _traj_constants(params: EppaParams) -> tuple[np.ndarray, np.ndarray]:
    """Frame-independent trajectory tensors, cached per params:
    frac (T_step, T_arr) path fraction, and zv = z-window × validity mask
    (projectile z per F8 with z(0)=z(T)=2, play_eppa_cpu.py:340-351)."""
    key = (params.z_min, params.z_max)
    if key not in _TRAJ_CACHE:
        tof = tof_values()
        step_t = (np.arange(N_TOF, dtype=np.float64) + 1.0) * DT
        frac = np.minimum(step_t[:, None] / tof[None, :], 1.0)  # (T_step, T_arr)
        v_z = 0.5 * G * tof  # (T_arr,)
        zt = 2.0 + v_z[None, :] * step_t[:, None] - 0.5 * G * step_t[:, None] ** 2
        zmask = (zt >= params.z_min) & (zt <= params.z_max)
        valid = step_t[:, None] <= tof[None, :] + 1e-9
        _TRAJ_CACHE[key] = (frac, (zmask & valid).astype(np.float64))
    return _TRAJ_CACHE[key]


@dataclass
class EppaPriors:
    p_t: np.ndarray  # (54,)
    T_given_L: np.ndarray  # (60, 40)

    @classmethod
    def default(cls) -> "EppaPriors":
        return cls(p_t=p_t_prior(), T_given_L=T_given_L_prior())


def default_xyac_scorer(nearest_def_dist: np.ndarray, end_x: np.ndarray) -> np.ndarray:
    """Stand-in for the 8-class xgboost YAC model (play_eppa_cpu.py:456-459):
    expected yards-after-catch from openness, bounded like the class values
    [-2.5..30]. Deterministic closed form — swap for predict_batch_udf with a
    real artifact in production."""
    return 2.0 + 6.0 / (1.0 + np.exp(-0.8 * (nearest_def_dist - 5.0)))


def default_ep_curve(x: np.ndarray) -> np.ndarray:
    """Stand-in for the 7-class EP model (play_eppa_cpu.py:136-149,
    epvals=[7,-7,3,-3,2,-2,0]): expected points as a function of field
    position, monotone from own goal line (−2) to opponent end zone (+7)."""
    return -2.0 + 9.0 / (1.0 + np.exp(-0.08 * (x - 60.0)))


def _reach_times(
    px: np.ndarray,
    pv: np.ndarray,
    grid: np.ndarray,
    params: EppaParams,
    reuse: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Steps 1-4 of the frame kernel: reaction projection, intercept
    geometry, piecewise time-to-reach — everything before the (F, T, J)
    sigmoid expansion. Returns (d_mag (F, J), t_tot (F, J) pre-scaled by
    the sigmoid slope k), so callers can expand the sigmoid either in one
    full pass (player_intercept_field) or F-chunk-fused with the team
    log-sum contraction (_frame_surfaces_core) — elementwise per row, so
    both orders are bit-identical."""
    F, J = grid.shape[0], px.shape[0]
    alloc = _ws if reuse else (lambda name, shape, dtype=np.float64: np.empty(shape, dtype=dtype))

    # 1-2. reaction projection + intercept geometry (play_eppa_cpu.py:235-251)
    reax_p = px + pv * params.reax_t
    d_vec = alloc("pif.d_vec", (F, J, 2))
    np.subtract(grid[:, None, :], reax_p[None, :, :], out=d_vec)  # grid crossJoin J12
    dx, dy = d_vec[:, :, 0], d_vec[:, :, 1]
    tmp = alloc("pif.tmp", (F, J))
    d_mag = alloc("pif.d_mag", (F, J))
    np.multiply(dx, dx, out=d_mag)
    np.multiply(dy, dy, out=tmp)
    d_mag += tmp
    np.sqrt(d_mag, out=d_mag)
    d_mag += 1e-3  # epsilon frame_eppa.py:185

    # 3. initial speed toward target (F17 dot projection, :254)
    int_s0 = alloc("pif.int_s0", (F, J))
    np.multiply(pv[None, :, 0], dx, out=int_s0)
    np.multiply(pv[None, :, 1], dy, out=tmp)
    int_s0 += tmp
    int_s0 /= d_mag
    # min+max beats np.clip ~25% (generic-bounds overhead); identical bits
    np.minimum(int_s0, params.s_max, out=int_s0)
    np.maximum(int_s0, -params.s_max, out=int_s0)

    # 4. piecewise time-to-reach (F16 np.select kinematics, :279-297)
    t_acc = alloc("pif.t_acc", (F, J))
    np.subtract(params.s_max, int_s0, out=t_acc)
    t_acc /= params.a_max
    d_acc = alloc("pif.d_acc", (F, J))  # int_s0·t + ½·a_max·t²
    np.multiply(t_acc, t_acc, out=d_acc)
    d_acc *= 0.5 * params.a_max
    np.multiply(int_s0, t_acc, out=tmp)
    d_acc += tmp
    reaches_early = alloc("pif.early", (F, J), np.bool_)
    np.greater_equal(d_acc, d_mag, out=reaches_early)
    disc = alloc("pif.disc", (F, J))  # sqrt(max(s0² + 2·a_max·d, 0))
    np.multiply(int_s0, int_s0, out=disc)
    np.multiply(d_mag, 2.0 * params.a_max, out=tmp)
    disc += tmp
    np.maximum(disc, 0.0, out=disc)
    np.sqrt(disc, out=disc)
    t_quad = alloc("pif.t_quad", (F, J))
    np.subtract(disc, int_s0, out=t_quad)  # ≡ −s0 + disc
    t_quad /= params.a_max
    np.subtract(d_mag, d_acc, out=tmp)  # t_acc + (d − d_acc)/s_max
    tmp /= params.s_max
    tmp += t_acc
    t_tot = alloc("pif.t_tot", (F, J))
    np.copyto(t_tot, tmp)
    np.copyto(t_tot, t_quad, where=reaches_early)
    t_tot += params.reax_t

    # pre-scale by the sigmoid slope so step 5 needs one fewer full pass
    # over the 46 MB tensor (k·t_tot − k·tof ≡ −k·(tof − t_tot))
    t_tot *= _SIGMOID_K / params.tti_sigma
    return d_mag, t_tot


def _sigmoid_expand(
    t_tot_scaled: np.ndarray,
    tof_scaled: np.ndarray,
    out: np.ndarray,
) -> np.ndarray:
    """Step 5: P(intercept) sigmoid field (M3 core, play_eppa_cpu.py
    :268-269) over pre-scaled reach times. Elementwise, so computing it
    whole or F-chunk-slice by slice is bit-identical."""
    np.subtract(t_tot_scaled[:, None, :], tof_scaled[None, :, None], out=out)
    np.exp(out, out=out)
    out += 1.0
    np.reciprocal(out, out=out)
    return out


def player_intercept_field(
    px: np.ndarray,
    pv: np.ndarray,
    grid: np.ndarray,
    tof: np.ndarray,
    params: EppaParams,
    reuse: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Steps 1-5 of the frame kernel: reaction projection, intercept
    geometry, piecewise time-to-reach, P(intercept) sigmoid.

    px/pv: (J, 2) positions/velocities; grid: (F, 2); tof: (T,).
    Returns (d_mag (F, J), p_int (F, T, J)). Shared by the EPPA kernel
    (play_eppa_cpu.py:235-269) and the defensive optimizer's candidate
    evaluation (optimize_def.py:52-139), where J is the candidate axis.

    With reuse=True the returned arrays live in the per-process workspace
    (_WS) and are only valid until the next reuse=True call. The in-place
    ufunc forms are chosen to be bit-identical to the allocating forms
    (same ops, same operand order — IEEE add/mul commute bitwise).
    """
    F, J = grid.shape[0], px.shape[0]
    T = tof.shape[0]
    alloc = _ws if reuse else (lambda name, shape, dtype=np.float64: np.empty(shape, dtype=dtype))
    d_mag, t_tot = _reach_times(px, pv, grid, params, reuse=reuse)
    k = _SIGMOID_K / params.tti_sigma
    p_int = alloc("pif.p_int", (F, T, J))
    _sigmoid_expand(t_tot, tof * k, p_int)
    return d_mag, p_int


def frame_surfaces(
    players: pd.DataFrame,
    ball_start: np.ndarray,
    frames_after_snap: int,
    params: EppaParams,
    priors: EppaPriors,
    chunk: int = 330,
    value_ensemble=None,
) -> dict[str, np.ndarray]:
    """Compute all per-frame surfaces. Returns dict of (F,)/(F,T)/(J,) arrays,
    each owned by the caller (copied out of the per-process workspace).

    players: one row per non-ball, non-QB player with columns
    x, y, v_x, v_y, team_pos ('OFF'/'DEF'), nflId.
    """
    px = players[["x", "y"]].to_numpy(dtype=np.float64)  # (J, 2)
    pv = players[["v_x", "v_y"]].to_numpy(dtype=np.float64)
    is_off = (players["team_pos"] == "OFF").to_numpy()
    s = _frame_surfaces_core(
        px,
        pv,
        is_off,
        players["nflId"].to_numpy(),
        players["team_pos"].to_numpy(),
        ball_start,
        frames_after_snap,
        params,
        priors,
        chunk=chunk,
        value_ensemble=value_ensemble,
        attribution=True,
    )
    return {k: v.copy() if isinstance(v, np.ndarray) else v for k, v in s.items()}


def _ppc_surfaces(
    p_off_part: np.ndarray,
    p_def_part: np.ndarray,
    ball_start: np.ndarray,
    params: EppaParams,
    chunk: int = 330,
) -> tuple[np.ndarray, np.ndarray]:
    """Step 8: trajectory-integrated completion (get_ppc,
    play_eppa_cpu.py:336-390). F-chunked, arrival-blocked AND
    step-compacted: zv is only ~6% dense (the z-window admits 8/5/1/1 steps
    max per arrival across the four blocks at the default window), masked
    steps contribute an EXACT 1.0 cumprod factor / 0.0 sum term, and
    numpy's axis-1 reduction accumulates sequentially in slot order — so
    gathering and cumprod-ing only the valid slots (padded per block to
    m_max, pad slots masked to exact 0.0) is bit-identical to the dense
    (Fc,S,B) sweep at ~6x less tensor traffic (dense replay pinned by
    tests/test_kernels.py::test_step8_compact_bit_identical_vs_dense).
    Path indices are int32 (flat < F·T = 264,000 « 2³¹).

    Returns workspace-backed (F, T) arrays — valid until the next call in
    this process; callers that keep results copy them out."""
    F, T = N_CELLS, N_TOF
    ppc_off = _ws("fs.ppc_off", (F, T))
    ppc_def = _ws("fs.ppc_def", (F, T))
    compact = _compact_blocks(params)  # per-block (b0,b1,m_max,steps,pad,frac)
    grid = field_grid()
    bx, by = ball_start[0], ball_start[1]
    p_off_flat = p_off_part.ravel()  # single-gather addressing (views)
    p_def_flat = p_def_part.ravel()
    # path indices depend only on (ball, z-window, chunking): fetch or
    # build the per-block flat tensors once per ball position (_PATH_CACHE;
    # identical index math per call otherwise — the M6 optimizer makes
    # ~80 same-ball calls per frame)
    path_key = (float(bx), float(by), params.z_min, params.z_max, chunk)
    cached_blocks = _PATH_CACHE.get(path_key)
    building_cache = cached_blocks is None
    if building_cache:
        cached_blocks = []
        while len(_PATH_CACHE) >= _PATH_CACHE_MAX:
            _PATH_CACHE.pop(next(iter(_PATH_CACHE)))
        _PATH_CACHE[path_key] = cached_blocks
    block_i = 0
    for lo in range(0, N_CELLS, chunk):
        hi = min(lo + chunk, N_CELLS)
        gc = grid[lo:hi]  # (Fc, 2)
        Fc = hi - lo
        dx = (gc[:, 0] - bx)[:, None, None]  # (Fc,1,1)
        dy = (gc[:, 1] - by)[:, None, None]
        for blk in compact:
            if blk is None:
                continue  # no valid slots: dense sum was exactly 0.0 —
                # ppc rows for such blocks are zeroed below before use
            b0, b1, m_max, steps_c, pad, frac_c = blk
            B = b1 - b0
            if building_cache:
                # ball path cell index at valid slot (step, arrival) only,
                # without materializing a path tensor (F13 ravel, :352).
                # Pad slots compute step 0's index — in-range after the
                # clips, and their gathered value is masked to exact 0.0.
                work = _ws("fs.work", (Fc, m_max, B))
                cx = _ws("fs.cx", (Fc, m_max, B), np.int32)
                np.multiply(frac_c, dx, out=work)  # rint(bx + frac·dx − 0.5)
                work += bx - 0.5
                np.rint(work, out=work)
                np.copyto(cx, work, casting="unsafe")  # ≡ astype(int32)
                np.minimum(cx, FIELD_X - 1, out=cx)
                np.maximum(cx, 0, out=cx)
                cy = _ws("fs.cy", (Fc, m_max, B), np.int32)
                np.multiply(frac_c, dy, out=work)
                work += by - 0.5
                np.rint(work, out=work)
                np.copyto(cy, work, casting="unsafe")
                np.minimum(cy, FIELD_Y - 1, out=cy)
                np.maximum(cy, 0, out=cy)
                flat = np.empty((Fc, m_max, B), np.int32)  # owned by the cache
                np.multiply(cy, FIELD_X, out=flat)  # (cy·X + cx)·T + step
                flat += cx
                flat *= N_TOF
                flat += steps_c[None, :, :]  # (Fc, m_max, B)
                cached_blocks.append(flat)
            else:
                flat = cached_blocks[block_i]
            block_i += 1
            # memoized gather: partitioned team p at (path cell, step time)
            # (:337,355)
            catch_off = _ws("fs.catch_off", (Fc, m_max, B))
            # mode='clip' skips the bounds-check transfer buffer numpy
            # inserts for out= with mode='raise' (~3x on this gather);
            # flat is in-range by construction (cx/cy clipped above)
            np.take(p_off_flat, flat, out=catch_off, mode="clip")
            catch_off *= pad  # valid slots ×1.0 (= dense z mult), pad → 0.0
            catch_def = _ws("fs.catch_def", (Fc, m_max, B))
            np.take(p_def_flat, flat, out=catch_def, mode="clip")
            catch_def *= pad
            # cumprod survival, shift-by-1 seed 1 (W7, :373-375); pad slots
            # are exact 1.0 factors, so per-arrival slot order ≡ step order
            no_event = _ws("fs.work", (Fc, m_max, B))  # reuse float scratch
            np.subtract(1.0, catch_off, out=no_event)
            no_event -= catch_def
            np.minimum(no_event, 1.0, out=no_event)
            np.maximum(no_event, 0.0, out=no_event)
            cum = _ws("fs.cum", (Fc, m_max, B))
            np.cumprod(no_event, axis=1, out=cum)
            # shift-by-1 survival applied as a slice product (slot 0 keeps
            # survival 1: all earlier steps are exact-1.0 factors)
            catch_off[:, 1:, :] *= cum[:, :-1, :]
            catch_def[:, 1:, :] *= cum[:, :-1, :]
            catch_off.sum(axis=1, out=ppc_off[lo:hi, b0:b1])  # (:385)
            catch_def.sum(axis=1, out=ppc_def[lo:hi, b0:b1])
    for blk_j, blk in enumerate(compact):
        if blk is None:  # dense sweep produced exact 0.0 for empty blocks
            b0, b1 = blk_j * _AB, min((blk_j + 1) * _AB, N_TOF)
            ppc_off[:, b0:b1] = 0.0
            ppc_def[:, b0:b1] = 0.0
    return ppc_off, ppc_def


def _frame_surfaces_core(
    px: np.ndarray,
    pv: np.ndarray,
    is_off: np.ndarray,
    nfl_ids: np.ndarray,
    team_pos_arr: np.ndarray,
    ball_start: np.ndarray,
    frames_after_snap: int,
    params: EppaParams,
    priors: EppaPriors,
    chunk: int = 330,
    value_ensemble=None,
    precomputed: tuple[np.ndarray, np.ndarray] | None = None,
    lean: bool = False,
    attribution: bool = False,
) -> dict[str, np.ndarray]:
    """Array-level kernel body (r12: extracted from frame_surfaces so the
    M6 optimizer can evaluate candidate placements without a pandas
    round-trip per call).

    The returned (F,T) surfaces are VIEWS of the per-process workspace,
    valid until the next kernel call in this process: the Spark emits read
    each frame before the next call, and frame_surfaces copies them out.
    attribution=True adds step 12's per-player ``ind_eppa`` — only the
    player and combined emits read it; without it the full (F,T,J) sigmoid
    tensor is never materialized (step 5 runs chunk by chunk in the log
    scratch) and the raw per-team sums are skipped.

    precomputed: optional (d_mag (F,J), p_int (F,T,J)) — steps 1-5 skipped;
    used when the caller maintains the sigmoid tensor incrementally (only
    one player moved between evaluations, so recomputing all J columns is
    redundant; per-column values are elementwise and therefore identical
    whether computed in a J-batch or singly).
    lean=True computes ONLY what eppa_ft needs: the per-player attribution
    matmuls (steps 6's raw_sums and 12) and the invariant certification
    (step 13) are skipped and the returned eppa_ft aliases the per-process
    workspace — valid until the next kernel call, for callers that reduce
    it immediately (the M6 objective). Every float that IS produced is
    bit-identical to the full path.
    """
    grid = field_grid()  # (F, 2)
    tof = tof_values()  # (T,)
    J = px.shape[0]
    F, T = N_CELLS, N_TOF
    idx_off = np.flatnonzero(is_off)
    idx_def = np.flatnonzero(~is_off)

    # All large intermediates live in the per-process workspace (_WS): the
    # kernel's ~300 MB/call of >32 MB temporaries would otherwise be
    # mmap/munmap'd by glibc every call and re-fault their pages (measured
    # 2-17 s/call first-touch under concurrency vs ~0.5 s compute). Returned
    # surfaces alias the workspace; frame_surfaces copies them out once.

    # 1-5. reaction projection → P(intercept) sigmoid field. When the
    # tensor is not supplied, step 5's expansion is FUSED into step 6's
    # F-chunk loop below: each p_int chunk is consumed by the log1p+dgemm
    # while still cache-warm instead of being re-streamed from DRAM — the
    # kernel is memory-bound under 32-way worker concurrency (charged CPU
    # per frame ran ~2.3x its idle single-thread time), and both step 5
    # and step 6 are row-independent, so chunked evaluation is
    # bit-identical to the full-pass form. Only step 12 re-reads the whole
    # tensor, so without attribution each chunk's sigmoid lands in the log
    # scratch itself and the (F,T,J) buffer is never allocated.
    fuse_sigmoid = precomputed is None
    if fuse_sigmoid:
        d_mag, t_tot = _reach_times(px, pv, grid, params, reuse=True)
        tof_scaled = tof * (_SIGMOID_K / params.tti_sigma)
        p_int = _ws("pif.p_int", (F, T, J)) if attribution else None
    else:
        d_mag, p_int = precomputed

    # 6. team aggregates 1−∏(1−p) (A23, :270-271). For the trajectory step
    # probabilities the event space is partitioned properly: P(any) split
    # between teams proportionally — this is the invariant the reference
    # asserts (commented, play_eppa_cpu.py:338-339): off + def = p_any ≤ 1.
    # The per-team log sums contract the (F,T,J) tensor against a (J,2)
    # one-hot team matrix with dgemm — the tensor is read once, replacing
    # two boolean-slice copies plus three axis reduces. The log1p runs
    # F-chunked through a small scratch (rows are independent, so chunked
    # dgemm output is identical) instead of materializing a second full
    # (F,T,J) buffer — that buffer was ~25% of the worker's workspace
    # first-touch cost.
    team_mask = np.zeros((J, 2), dtype=np.float64)
    team_mask[idx_off, 0] = 1.0
    team_mask[idx_def, 1] = 1.0
    team_sums = _ws("fs.team_sums", (F * T, 2))
    if attribution:
        raw_sums = _ws("fs.raw_sums", (F * T, 2))
    with np.errstate(divide="ignore"):
        for lo in range(0, F, chunk):
            hi = min(lo + chunk, F)
            lc = _ws("fs.log_chunk", (hi - lo, T, J))
            p_chunk = lc if p_int is None else p_int[lo:hi]
            if fuse_sigmoid:  # step 5 for this chunk (see comment above)
                _sigmoid_expand(t_tot[lo:hi], tof_scaled, p_chunk)
            # the attribution stage (step 12) needs raw per-team p_int sums;
            # computing them here reuses the cache-resident chunk instead of
            # re-reading the full 36 MB tensor later (row-chunked dgemm is
            # bit-identical: each output row sees only its own input row).
            if attribution:
                np.matmul(
                    p_chunk.reshape((hi - lo) * T, J),
                    team_mask,
                    out=raw_sums[lo * T : hi * T],
                )
            # log1p(-clip(p, 0, 1-1e-12)) in two passes: p is a sigmoid
            # output, never below +0.0, so negate-then-floor equals the
            # min → max(·, 0) → negate sequence bit for bit (NaN included)
            np.negative(p_chunk, out=lc)
            np.maximum(lc, -(1.0 - 1e-12), out=lc)
            np.log1p(lc, out=lc)
            np.matmul(lc.reshape((hi - lo) * T, J), team_mask, out=team_sums[lo * T : hi * T])
    p_off = _ws("fs.p_off", (F, T))
    po = p_off.reshape(-1)
    np.exp(team_sums[:, 0], out=po)
    np.subtract(1.0, po, out=po)  # (F, T)
    p_def = _ws("fs.p_def", (F, T))
    pd_ = p_def.reshape(-1)
    np.exp(team_sums[:, 1], out=pd_)
    np.subtract(1.0, pd_, out=pd_)
    p_any = _ws("fs.p_any", (F, T))
    pa = p_any.reshape(-1)
    np.add(team_sums[:, 0], team_sums[:, 1], out=pa)
    np.exp(pa, out=pa)
    np.subtract(1.0, pa, out=pa)
    denom = _ws("fs.denom", (F, T))
    np.add(p_off, p_def, out=denom)
    denom += 1e-12
    p_off_part = _ws("fs.p_off_part", (F, T))  # partitioned: off + def = p_any
    np.multiply(p_any, p_off, out=p_off_part)
    p_off_part /= denom
    p_def_part = _ws("fs.p_def_part", (F, T))
    np.multiply(p_any, p_def, out=p_def_part)
    p_def_part /= denom

    # 7. historical transition prior (M4, :301-334)
    L = np.sqrt(((grid - ball_start[None, :]) ** 2).sum(-1))
    Lbin = np.clip(np.rint(L).astype(np.int64), 1, 60) - 1
    mask = (L > 1.0) & (L <= 60.0)
    t_idx = min(max(frames_after_snap, 1), len(priors.p_t)) - 1
    h = _ws("fs.h", (F, T))
    np.take(priors.T_given_L, Lbin, axis=0, out=h, mode="clip")
    h *= priors.p_t[t_idx]
    h *= mask[:, None]
    h_sum = h.sum()
    trans_prior = _ws("fs.trans_prior", (F, T))
    if h_sum > 0:
        np.divide(h, h_sum, out=trans_prior)
    else:
        np.copyto(trans_prior, h)

    # 8. trajectory-integrated completion (get_ppc, :336-390) — see
    # _ppc_surfaces.
    ppc_off, ppc_def = _ppc_surfaces(p_off_part, p_def_part, ball_start, params, chunk)


    # 9. value models on arrival features (get_xyac, :392-464)
    d_def = d_mag[:, ~is_off]
    nearest_def = d_def.min(axis=1) if d_def.shape[1] else np.full(N_CELLS, 60.0)
    if value_ensemble is not None:
        # Full-width inference — the reference's exact batch shape: every
        # hypothetical pass of the frame (F·T = 264,000 rows) × 26 features
        # through the 8-class softprob ensemble, then ·epvals
        # (play_eppa_cpu.py:424-459). Buffers live in the reused workspace.
        from bigdatabowl_spark.kernels.ensemble import pass_feature_matrix

        X = _ws("fs.vm_X", (F * T, 26))
        pm = _ws("fs.vm_p", (F * T, value_ensemble.n_classes))
        pass_feature_matrix(
            grid, tof, ball_start, nearest_def, ppc_off, ppc_def, trans_prior, out=X
        )
        xepa_comp_ft = value_ensemble.expectation(X, out=pm).reshape(F, T)
        xyac_ft = np.clip(xepa_comp_ft - default_ep_curve(grid[:, 0])[:, None], 0.0, None)
        xyac = xyac_ft.mean(axis=1)  # (F,) summary for the emit schema
        xepa_comp = xepa_comp_ft.mean(axis=1)
    else:
        xyac = default_xyac_scorer(nearest_def, grid[:, 0])  # (F,)
        end_x = np.clip(grid[:, 0] + xyac, 0.0, 110.0)
        xepa_comp = default_ep_curve(end_x)  # (F,)
        xepa_comp_ft = None
    xepa_inc = np.full(N_CELLS, -0.45)  # incompletion value

    # 10. trans = prior · ppc^α renormalized (:469-497)
    trans = _ws("fs.trans", (F, T))
    np.clip(ppc_off, 1e-12, None, out=trans)
    np.power(trans, params.alpha, out=trans)
    trans *= trans_prior
    t_sum = trans.sum()
    if t_sum > 0:
        trans /= t_sum

    # 11. EPPA surfaces (F,T) → cell/frame reductions (A26/A27, :502-641)
    value_ft = _ws("fs.value_ft", (F, T))
    tmp_ft = _ws("fs.tmp_ft", (F, T))
    # ensemble path values each (cell, tof) pass at full width; the default
    # path broadcasts the per-cell value across T
    comp_val = xepa_comp_ft if xepa_comp_ft is not None else xepa_comp[:, None]
    np.multiply(ppc_off, comp_val, out=value_ft)
    np.subtract(1.0, ppc_off, out=tmp_ft)
    tmp_ft *= xepa_inc[:, None]
    value_ft += tmp_ft
    eppa_ft = _ws("fs.eppa_ft", (F, T))
    np.multiply(trans, value_ft, out=eppa_ft)

    if lean:
        # objective-only mode: the caller reduces eppa_ft immediately
        # (M6 candidate scoring); certification is skipped too.
        return {"eppa_ft": eppa_ft}

    out = {}
    if attribution:
        # 12. per-player attribution: share of team p_int at each (F,T).
        # Both contractions over the (F,T,J) sigmoid tensor are BLAS
        # matmuls that read it once each — no per-team slice copies.
        p_int_off_sum = raw_sums[:, 0]  # (F·T,) strided view, filled chunk-wise above
        p_int_off_sum += 1e-12
        weight = tmp_ft  # (F,T) scratch: eppa_ft / team p_int sum
        np.divide(eppa_ft.reshape(-1), p_int_off_sum, out=weight.reshape(-1))
        contrib = np.matmul(weight.reshape(1, F * T), p_int.reshape(F * T, J))
        # attribution stays on offense (play_eppa_cpu.py:553-559): the
        # defense's entries are exact zeros by construction
        out["ind_eppa"] = np.where(is_off, contrib[0], 0.0)

    # 13. self-certification: re-assert the invariants the reference left as
    # commented-out asserts (play_eppa_cpu.py:338-339) plus the probability-
    # mass identities the doc promises, so downstream rows-only consumers
    # (driver t2 without an oracle) carry a machine-checkable verdict in
    # every row. O(F·T) comparisons — noise next to the kernel itself.
    # All comparisons write into reused workspace buffers — fresh 2 MB
    # allocations per frame would re-fault pages every call under this VM's
    # lazy first-touch instantiation and measurably drag kernel throughput.
    eps = 1e-9
    violations = 0
    bws = _ws("fs.inv_bool", (F, T), dtype=np.bool_)
    fws = tmp_ft  # (F,T) float scratch; weight is dead after the contrib matmul
    for prob in (p_off, p_def, p_any):  # team probabilities are probabilities
        np.less(prob, -eps, out=bws)
        violations += int(np.count_nonzero(bws))
        np.greater(prob, 1.0 + eps, out=bws)
        violations += int(np.count_nonzero(bws))
    # partitioned split preserves total mass: off + def = p_any
    np.add(p_off_part, p_def_part, out=fws)
    fws -= p_any
    np.abs(fws, out=fws)
    np.greater(fws, 1e-6, out=bws)
    violations += int(np.count_nonzero(bws))
    # trajectory-integrated catch probs: disjoint events, so sum ≤ 1
    np.less(ppc_off, -eps, out=bws)
    violations += int(np.count_nonzero(bws))
    np.less(ppc_def, -eps, out=bws)
    violations += int(np.count_nonzero(bws))
    np.add(ppc_off, ppc_def, out=fws)
    np.greater(fws, 1.0 + 1e-6, out=bws)
    violations += int(np.count_nonzero(bws))
    # transition surfaces are (possibly empty) probability masses over cells
    for mass in (trans_prior, trans):
        np.less(mass, -eps, out=bws)
        violations += int(np.count_nonzero(bws))
        msum = float(mass.sum())
        violations += int(not (msum == 0.0 or abs(msum - 1.0) <= 1e-6))
    np.isfinite(eppa_ft, out=bws)
    violations += int(eppa_ft.size - np.count_nonzero(bws))

    out.update(
        invariant_violations=violations,
        p_off=p_off,
        p_def=p_def,
        ppc_off=ppc_off,
        ppc_def=ppc_def,
        trans_prior=trans_prior,
        trans=trans,
        xyac=xyac,
        xepa_comp=xepa_comp,
        xepa_inc=xepa_inc,
        value_ft=value_ft,
        eppa_ft=eppa_ft,
        nflId=nfl_ids,
        team_pos_players=team_pos_arr,
    )
    return out


# ----------------------------------------------------------- Spark wrappers

FIELD_SCHEMA = (
    "gameId long, playId long, frameId int, ball_end_x double, ball_end_y double, "
    "eppa1 double, eppa1m double, p_int_off double, p_int_def double, "
    "ppc_off double, ppc_def double, trans double, xyac double, xepa_comp double, "
    "invariant_violations long"
)

PASS_SCHEMA = (
    "gameId long, playId long, frameId int, frames_after_snap int, "
    "eppa1_tot double, max_eppa1_x double, max_eppa1_y double, max_eppa1_T double, "
    "max_eppa1_ppc_off double, max_eppa1_trans double, max_eppa1 double, "
    "invariant_violations long"
)

PLAYER_SCHEMA = (
    "gameId long, playId long, frameId int, nflId long, team_pos string, "
    "ind_eppa1 double, invariant_violations long"
)


_ARROW_TYPES = {
    "long": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "string": pa.string(),
}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The exact Arrow types Spark expects back for a DDL schema string —
    the grouped Arrow UDF rejects a batch whose types differ."""
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in (f.split() for f in ddl.split(", "))])


def _frame_guard(frame) -> tuple[np.ndarray, np.ndarray, int] | None:
    """Frame guards (P15, play_eppa_cpu.py:92-98,225-232) over one frame's
    rows; ``frame`` maps column name → 1-D array (a dict of NumPy arrays or
    a pandas DataFrame). Needs a ball row (nflId 0) and players of ≥ 2
    teams; the first QB row is the throw origin, else the first ball row;
    ball and QB rows leave the defender/receiver set; a duplicate nflId
    keeps its first row.

    Returns (player row indices in row order, ball_start, frames_after_snap),
    or None when the frame is skipped.
    """
    nfl = np.asarray(frame["nflId"])
    is_qb = np.asarray(frame["position"]) == "QB"
    ball = np.flatnonzero(nfl == 0)
    if ball.size == 0:
        return None
    qb = np.flatnonzero(is_qb)
    o = qb[0] if qb.size else ball[0]
    ball_start = np.array([np.asarray(frame["x"])[o], np.asarray(frame["y"])[o]], np.float64)
    cand = np.flatnonzero((nfl != 0) & ~is_qb)
    _, first = np.unique(nfl[cand], return_index=True)  # :232
    idx = cand[np.sort(first)]
    # null teams (None, or NaN from pandas) do not count, as in nunique()
    teams = {t for t in np.asarray(frame["team_pos"])[idx].tolist() if t is not None and t == t}
    if len(teams) < 2:
        return None
    return idx, ball_start, int(np.asarray(frame["frames_after_snap"])[0])


def _with_frame_meta(
    norm: DataFrame,
    min_t_frame: int = 14,
    max_t_frame: int = 47,
) -> DataFrame:
    """Eligibility + frame window (play_eppa_gpu.py:46-47; loop :651).

    snap/throw frames located per play; EPPA frames are
    [snap+min_t, min(throw, snap+max_t)]; plays without pass_forward or with
    a fumble are excluded (runtime guards, play_eppa_cpu.py:94-98).

    The result is range-partitioned by (gameId, playId) into one task per
    core, the plan's only exchange: the per-play window and the caller's
    ``groupBy("gameId", "playId").applyInArrow`` both accept it, so the
    window, the filter and the kernel run in one stage. A user-set width is
    exempt from AQE's byte-based coalescing, which would funnel this
    compute-bound kernel (~KBs of input per frame) into one task. Range
    bounds balance sampled rows, and a batch of k plays gets at most k + 1
    partitions.
    Measured on 8 equal plays at 4 cores: the former 12-way hash
    repartition ran 3 waves with a 2-play straggler; the range split runs
    one wave of 2 plays per task. The price is a sampling job over
    ``norm``, which re-runs ``norm``'s last stage unless it is cached.
    """
    sc = norm.sparkSession.sparkContext
    part = norm.repartitionByRange(sc.defaultParallelism, "gameId", "playId")
    w = Window.partitionBy("gameId", "playId")
    snap = F.min(F.when(F.col("event") == "ball_snap", F.col("frameId"))).over(w)
    throw = F.min(F.when(F.col("event") == "pass_forward", F.col("frameId"))).over(w)
    fumble = F.max(F.when(F.col("event") == "fumble", F.lit(1)).otherwise(F.lit(0))).over(w)
    # one projection: each withColumn re-analyzes the whole plan
    return part.select(
        "*",
        snap.alias("snap_frame"),
        throw.alias("throw_frame"),
        fumble.alias("has_fumble"),
        (F.col("frameId") - snap).cast("int").alias("frames_after_snap"),
    ).filter(
        F.col("throw_frame").isNotNull()
        & (F.col("has_fumble") == 0)
        & (F.col("frameId") >= F.col("snap_frame") + min_t_frame)
        & (F.col("frameId") <= F.least(F.col("throw_frame"), F.col("snap_frame") + max_t_frame))
    )


_KERNEL_COLS = (
    "gameId", "playId", "frameId", "nflId", "position", "team_pos",
    "x", "y", "v_x", "v_y", "frames_after_snap",
)


def _make_kernel(
    schema: str,
    emit,
    params: EppaParams | None,
    priors: EppaPriors | None,
    value_ensemble=None,
):
    """Per-PLAY kernel: loops the play's eligible frames inside one task —
    the reference's own loop structure (play_eppa_cpu.py:651). Grouping at
    play grain amortizes worker warmup and keeps shuffle groups ≈ plays;
    at 100 TB parallelism across plays is ample (millions of groups).

    The play arrives as Arrow batches and leaves as one batch per emitted
    block, typed exactly as ``schema``. Each frame's block is built before
    the next kernel call, so the workspace views the core returns are
    never copied here. Only the player and combined emits read the
    per-player attribution, so only they pay for step 12."""
    params = params or EppaParams()
    priors = priors or EppaPriors.default()
    out_schema = _arrow_schema(schema)
    attribution = emit in (_emit_player, _emit_combined)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        play = pa.Table.from_batches(list(batches))
        cols = {c: play.column(c).to_numpy() for c in _KERNEL_COLS}
        fids = cols["frameId"]
        for fid in np.unique(fids):
            rows = np.flatnonzero(fids == fid)
            guard = _frame_guard({c: a[rows] for c, a in cols.items()})
            if guard is None:
                continue
            idx, ball_start, fas = guard
            idx = rows[idx]
            team_pos = cols["team_pos"][idx]
            s = _frame_surfaces_core(
                np.column_stack((cols["x"][idx], cols["y"][idx])),
                np.column_stack((cols["v_x"][idx], cols["v_y"][idx])),
                team_pos == "OFF",
                cols["nflId"][idx],
                team_pos,
                ball_start,
                fas,
                params,
                priors,
                value_ensemble=value_ensemble,
                attribution=attribution,
            )
            key = (int(cols["gameId"][rows[0]]), int(cols["playId"][rows[0]]), int(fid))
            for n, block in emit(key, fas, s):
                yield _batch(out_schema, n, block)

    return kernel


def _batch(schema: pa.Schema, n: int, cols: dict) -> pa.RecordBatch:
    """One emitted block of n rows in ``schema``'s exact types: scalar
    values repeat over the rows, and schema columns absent from ``cols``
    are null (the other blocks of the combined union)."""
    arrays = []
    for f in schema:
        v = cols.get(f.name)
        if v is None:
            arrays.append(pa.nulls(n, f.type))
        elif np.ndim(v) == 0:
            arrays.append(pa.repeat(pa.scalar(v, f.type), n))
        else:
            arrays.append(pa.array(v, f.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


# Emits map one frame's surfaces to [(rows, {column: array or scalar})]
# blocks; _batch types them against the op's schema.


def _emit_field(key, fas, s) -> list[tuple[int, dict]]:
    """field_df block: one row per cell (play_eppa_cpu.py:616-639)."""
    gid, pid, fid = key
    grid = field_grid()
    best_T = s["eppa_ft"].argmax(axis=1)  # per-cell best ToF
    rng = np.arange(N_CELLS)
    return [
        (
            N_CELLS,
            {
                "gameId": gid,
                "playId": pid,
                "frameId": fid,
                "ball_end_x": grid[:, 0],
                "ball_end_y": grid[:, 1],
                "eppa1": s["eppa_ft"].sum(axis=1),
                "eppa1m": s["eppa_ft"].max(axis=1),
                "p_int_off": s["p_off"][rng, best_T],
                "p_int_def": s["p_def"][rng, best_T],
                "ppc_off": s["ppc_off"][rng, best_T],
                "ppc_def": s["ppc_def"][rng, best_T],
                "trans": s["trans"].sum(axis=1),
                "xyac": s["xyac"],
                "xepa_comp": s["xepa_comp"],
                "invariant_violations": int(s["invariant_violations"]),
            },
        )
    ]


def _emit_pass(key, fas, s) -> list[tuple[int, dict]]:
    """passes_df block: per-frame argmax (play_eppa_cpu.py:564-614)."""
    gid, pid, fid = key
    grid = field_grid()
    tof = tof_values()
    flat = int(s["eppa_ft"].argmax())
    f_i, T_i = np.unravel_index(flat, s["eppa_ft"].shape)
    return [
        (
            1,
            {
                "gameId": gid,
                "playId": pid,
                "frameId": fid,
                "frames_after_snap": fas,
                "eppa1_tot": float(s["eppa_ft"].sum()),
                "max_eppa1_x": float(grid[f_i, 0]),
                "max_eppa1_y": float(grid[f_i, 1]),
                "max_eppa1_T": float(tof[T_i]),
                "max_eppa1_ppc_off": float(s["ppc_off"][f_i, T_i]),
                "max_eppa1_trans": float(s["trans"][f_i, T_i]),
                "max_eppa1": float(s["eppa_ft"][f_i, T_i]),
                "invariant_violations": int(s["invariant_violations"]),
            },
        )
    ]


def _emit_player(key, fas, s) -> list[tuple[int, dict]]:
    """player_stats_df block: per-player attribution (play_eppa_cpu.py:553-559)."""
    gid, pid, fid = key
    return [
        (
            len(s["nflId"]),
            {
                "gameId": gid,
                "playId": pid,
                "frameId": fid,
                "nflId": s["nflId"],
                "team_pos": s["team_pos_players"],
                "ind_eppa1": s["ind_eppa"],
                "invariant_violations": int(s["invariant_violations"]),
            },
        )
    ]


def eppa_field_surface(
    norm: DataFrame,
    params: EppaParams | None = None,
    priors: EppaPriors | None = None,
    value_ensemble=None,
) -> DataFrame:
    """field_df: one row per field cell per eligible frame (viz surface,
    play_eppa_cpu.py:616-639)."""
    eligible = _with_frame_meta(norm)
    return eligible.groupBy("gameId", "playId").applyInArrow(
        _make_kernel(FIELD_SCHEMA, _emit_field, params, priors, value_ensemble),
        FIELD_SCHEMA,
    )


def eppa_pass_summary(
    norm: DataFrame,
    params: EppaParams | None = None,
    priors: EppaPriors | None = None,
    value_ensemble=None,
) -> DataFrame:
    """passes_df: per-frame argmax summary — the best hypothetical pass
    (unravel_index(argmax), play_eppa_cpu.py:564-614,621-637)."""
    eligible = _with_frame_meta(norm)
    return eligible.groupBy("gameId", "playId").applyInArrow(
        _make_kernel(PASS_SCHEMA, _emit_pass, params, priors, value_ensemble),
        PASS_SCHEMA,
    )


def eppa_player_stats(
    norm: DataFrame,
    params: EppaParams | None = None,
    priors: EppaPriors | None = None,
    value_ensemble=None,
) -> DataFrame:
    """player_stats_df: per-player EPPA attribution (play_eppa_cpu.py:553-559)."""
    eligible = _with_frame_meta(norm)
    return eligible.groupBy("gameId", "playId").applyInArrow(
        _make_kernel(PLAYER_SCHEMA, _emit_player, params, priors, value_ensemble),
        PLAYER_SCHEMA,
    )


# Combined emission: all three output tables from ONE frame_surfaces call.
# The bench's chain queries each need a different projection of the same
# per-frame surfaces; recomputing the ~0.6 s/frame kernel per projection
# tripled the dominant cost (VERDICT r5 item 4). The combined row layout is
# a discriminated union: `row_kind` picks the block, absent columns are
# null, and the staging splitter (plans/eppa_queries.py::stage_eppa_chain)
# projects each block back to its exact per-table schema — bit-identical
# floats, since every value comes from the same frame_surfaces arrays.
COMBINED_SCHEMA = (
    "row_kind string, gameId long, playId long, frameId int, frames_after_snap int, "
    "ball_end_x double, ball_end_y double, eppa1 double, eppa1m double, "
    "p_int_off double, p_int_def double, ppc_off double, ppc_def double, "
    "trans double, xyac double, xepa_comp double, "
    "eppa1_tot double, max_eppa1_x double, max_eppa1_y double, max_eppa1_T double, "
    "max_eppa1_ppc_off double, max_eppa1_trans double, max_eppa1 double, "
    "nflId long, team_pos string, ind_eppa1 double, "
    "invariant_violations long"
)


def _emit_combined(key, fas, s) -> list[tuple[int, dict]]:
    return [
        (n, {**cols, "row_kind": kind, "frames_after_snap": fas})
        for kind, emit in (
            ("field", _emit_field),
            ("pass", _emit_pass),
            ("player", _emit_player),
        )
        for n, cols in emit(key, fas, s)
    ]


def eppa_combined(
    norm: DataFrame,
    params: EppaParams | None = None,
    priors: EppaPriors | None = None,
    value_ensemble=None,
) -> DataFrame:
    """All three EPPA output tables (field/pass/player) from a single
    kernel pass, as a row_kind-discriminated union."""
    eligible = _with_frame_meta(norm)
    return eligible.groupBy("gameId", "playId").applyInArrow(
        _make_kernel(COMBINED_SCHEMA, _emit_combined, params, priors, value_ensemble),
        COMBINED_SCHEMA,
    )
