"""EPPA kernel + priors tests (SURVEY §5: the reference's disabled invariant
asserts, enabled as property tests, plus determinism and geometry sanity)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bigdatabowl_spark.kernels.eppa import (
    EppaParams,
    EppaPriors,
    eppa_field_surface,
    eppa_pass_summary,
    eppa_player_stats,
    frame_surfaces,
)
from bigdatabowl_spark.kernels.params import N_CELLS, N_TOF
from bigdatabowl_spark.kernels.priors import (
    fit_gamma_by_group,
    gamma_mle,
    gamma_pdf,
    p_t_prior,
    T_given_L_prior,
)

# ------------------------------------------------------------------- priors


def test_gamma_mle_recovers_parameters():
    rng = np.random.default_rng(42)
    sample = rng.gamma(shape=3.0, scale=2.0, size=20000)
    k, theta = gamma_mle(sample)
    assert k == pytest.approx(3.0, rel=0.05)
    assert theta == pytest.approx(2.0, rel=0.05)


def test_gamma_pdf_integrates_to_one():
    x = np.linspace(0.001, 100, 200000)
    p = gamma_pdf(x, 3.0, 2.0)
    assert np.trapz(p, x) == pytest.approx(1.0, abs=1e-3)


def test_priors_normalized():
    p_t = p_t_prior()
    assert p_t.shape == (54,)
    assert p_t.sum() == pytest.approx(1.0)
    T_L = T_given_L_prior()
    assert T_L.shape == (60, N_TOF)
    np.testing.assert_allclose(T_L.sum(axis=1), 1.0, atol=1e-9)


def test_fit_gamma_by_group_spark(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "grp": ["a"] * 5000 + ["b"] * 5000,
            "v": np.concatenate(
                [rng.gamma(2.0, 1.5, 5000), rng.gamma(6.0, 0.5, 5000)]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    out = {r.grp: r for r in fit_gamma_by_group(df, ["grp"], "v").collect()}
    assert out["a"].shape == pytest.approx(2.0, rel=0.1)
    assert out["b"].shape == pytest.approx(6.0, rel=0.1)


# ------------------------------------------------------------------- kernel


def _players_frame() -> pd.DataFrame:
    # 3 OFF receivers + 4 DEF, spread around midfield
    return pd.DataFrame(
        {
            "nflId": [11, 12, 13, 21, 22, 23, 24],
            "x": [40.0, 45.0, 50.0, 42.0, 47.0, 52.0, 60.0],
            "y": [10.0, 26.0, 40.0, 12.0, 28.0, 42.0, 26.0],
            "v_x": [5.0, 2.0, 0.0, -1.0, 0.0, 1.0, -3.0],
            "v_y": [0.0, 1.0, 3.0, 0.5, -1.0, 0.0, 0.0],
            "team_pos": ["OFF", "OFF", "OFF", "DEF", "DEF", "DEF", "DEF"],
            "position": ["WR"] * 3 + ["CB"] * 4,
        }
    )


@pytest.fixture(scope="module")
def surfaces():
    return frame_surfaces(
        _players_frame(),
        ball_start=np.array([35.0, 26.5]),
        frames_after_snap=20,
        params=EppaParams(),
        priors=EppaPriors.default(),
    )


def test_probability_bounds(surfaces):
    for key in ("p_off", "p_def", "ppc_off", "ppc_def"):
        arr = surfaces[key]
        assert arr.shape == (N_CELLS, N_TOF)
        assert np.isfinite(arr).all()
        assert (arr >= 0).all() and (arr <= 1.0 + 1e-12).all(), key


def test_ppc_mass_invariant(surfaces):
    """The reference's commented assert (play_eppa_cpu.py:338-339):
    catch probabilities partition — off + def ≤ 1 pointwise after
    trajectory integration."""
    total = surfaces["ppc_off"] + surfaces["ppc_def"]
    assert (total <= 1.0 + 1e-9).all()


def test_trans_normalized(surfaces):
    assert surfaces["trans_prior"].sum() == pytest.approx(1.0, abs=1e-9)
    assert surfaces["trans"].sum() == pytest.approx(1.0, abs=1e-9)
    assert (surfaces["trans"] >= 0).all()


def test_invariant_certification(surfaces):
    """The kernel's step-13 self-certification (the reference's disabled
    asserts, play_eppa_cpu.py:338-339) must report zero violations on a
    well-formed frame — this is the value the rows-only driver check sees."""
    assert surfaces["invariant_violations"] == 0


def test_defender_suppresses_completion(surfaces):
    """Geometry sanity: a cell on top of a defender (60,26) has higher
    def-intercept probability than an empty deep corner."""
    from bigdatabowl_spark.kernels.params import FIELD_X

    def_cell = 26 * FIELD_X + 60
    empty_cell = 50 * FIELD_X + 5
    assert (
        surfaces["p_def"][def_cell, -1] > surfaces["p_def"][empty_cell, -1]
    )


def test_kernel_deterministic():
    a = frame_surfaces(
        _players_frame(), np.array([35.0, 26.5]), 20, EppaParams(), EppaPriors.default()
    )
    b = frame_surfaces(
        _players_frame(), np.array([35.0, 26.5]), 20, EppaParams(), EppaPriors.default()
    )
    np.testing.assert_array_equal(a["eppa_ft"], b["eppa_ft"])
    # chunk size must not change results (F-axis chunking is pure partitioning)
    c = frame_surfaces(
        _players_frame(), np.array([35.0, 26.5]), 20, EppaParams(), EppaPriors.default(),
        chunk=777,
    )
    np.testing.assert_array_equal(a["eppa_ft"], c["eppa_ft"])


# ------------------------------------------------------- Spark integration


@pytest.fixture(scope="module")
def norm_fixture(spark):
    rows = []
    for fid in range(1, 26):
        event = "ball_snap" if fid == 2 else ("pass_forward" if fid == 20 else None)
        rows.append((1, 100, fid, event, 0, "Football", None, "FTBL", 35.0, 26.5, 0.0, 0.0))
        rows.append((1, 100, fid, event, 99, "QB", "QB", "OFF", 35.0, 26.5, 0.0, 0.0))
        for nid, pos, tp, x0, y0, vx, vy in [
            (11, "WR", "OFF", 40.0, 10.0, 5.0, 0.0),
            (12, "WR", "OFF", 45.0, 26.0, 2.0, 1.0),
            (21, "CB", "DEF", 42.0, 12.0, -1.0, 0.5),
            (22, "S", "DEF", 47.0, 28.0, 0.0, -1.0),
        ]:
            rows.append((1, 100, fid, event, nid, f"P{nid}", pos, tp,
                         x0 + 0.3 * fid, y0, vx, vy))
    # ineligible play: no pass_forward → must be excluded (guard P15)
    for fid in range(1, 20):
        event = "ball_snap" if fid == 2 else None
        rows.append((1, 200, fid, event, 0, "Football", None, "FTBL", 35.0, 26.5, 0.0, 0.0))
        rows.append((1, 200, fid, event, 11, "WR", "WR", "OFF", 40.0, 10.0, 5.0, 0.0))
        rows.append((1, 200, fid, event, 21, "CB", "CB", "DEF", 42.0, 12.0, -1.0, 0.5))
    return spark.createDataFrame(
        rows,
        "gameId long, playId long, frameId int, event string, nflId long, "
        "displayName string, position string, team_pos string, x double, "
        "y double, v_x double, v_y double",
    )


def test_eppa_field_surface_spark(spark, norm_fixture):
    out = eppa_field_surface(norm_fixture)
    # eligible frames: snap=2, throw=20 → frames 16..20 (snap+14 .. throw)
    pdf = out.filter("frameId = 16").toPandas()
    assert len(pdf) == N_CELLS
    assert (pdf["eppa1"] >= -5).all() and np.isfinite(pdf["eppa1"]).all()
    frames = [r.frameId for r in out.select("frameId").distinct().collect()]
    assert sorted(frames) == [16, 17, 18, 19, 20]
    assert (pdf["invariant_violations"] == 0).all()


def test_eppa_pass_summary_spark(spark, norm_fixture):
    pdf = eppa_pass_summary(norm_fixture).toPandas()
    assert len(pdf) == 5  # one row per eligible frame
    assert (pdf["max_eppa1"] > 0).all()
    assert pdf["playId"].unique().tolist() == [100]  # play 200 guarded out
    assert (pdf["invariant_violations"] == 0).all()


def test_eppa_player_stats_spark(spark, norm_fixture):
    pdf = eppa_player_stats(norm_fixture).toPandas()
    # 4 non-QB players × 5 frames
    assert len(pdf) == 20
    off_share = pdf[pdf.team_pos == "OFF"]["ind_eppa1"].sum()
    assert off_share > 0
    assert (pdf["invariant_violations"] == 0).all()


def test_combined_kernel_slices_match_individual(spark, norm_fixture):
    """The single-pass combined kernel's field/pass/player slices are
    bit-identical to the per-projection kernels (the staging contract of
    plans/eppa_queries.py::stage_eppa_chain)."""
    from bigdatabowl_spark.kernels.eppa import eppa_combined
    from bigdatabowl_spark.plans.eppa_queries import _EPPA_CHAIN_SLICES

    combined = eppa_combined(norm_fixture).toPandas()
    for name, fn in (
        ("eppa_field_surface", eppa_field_surface),
        ("eppa_pass_summary", eppa_pass_summary),
        ("eppa_player_stats", eppa_player_stats),
    ):
        kind, cols = _EPPA_CHAIN_SLICES[name]
        got = (
            combined[combined["row_kind"] == kind][cols]
            .sort_values(cols[:5])
            .reset_index(drop=True)
        )
        want = fn(norm_fixture).toPandas().sort_values(cols[:5]).reset_index(drop=True)
        assert list(got.columns) == list(want.columns), name
        for c in cols:
            gv, wv = got[c], want[c]
            if gv.dtype != wv.dtype:
                gv = gv.astype(wv.dtype)
            assert (gv.values == wv.values).all(), (name, c)


def test_eppa_plan_has_one_range_exchange(spark, norm_fixture):
    """The per-play window and the grouped kernel share one exchange: the
    range partitioning by (gameId, playId) satisfies both."""
    import re

    df = eppa_field_surface(norm_fixture)
    df.count()  # run it, so AQE's plan is final
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert re.findall(r"Exchange (\w+)", plan) == ["rangepartitioning"], plan


def test_eppa_range_split_puts_two_equal_plays_per_task(spark):
    """2 x defaultParallelism equal plays (8 at width 4) land 2 per
    partition: one wave, no straggler, no empty task."""
    from pyspark.sql import functions as F

    from bigdatabowl_spark.kernels.eppa import _with_frame_meta

    width = spark.sparkContext.defaultParallelism
    rows = [
        (1, play, fid, "ball_snap" if fid == 1 else ("pass_forward" if fid == 16 else None),
         nid, tp, 40.0 + nid, 26.0, 0.0, 0.0)
        for play in range(1, 2 * width + 1)
        for fid in range(1, 21)
        for nid, tp in ((0, "FTBL"), (11, "OFF"), (21, "DEF"))
    ]
    norm = spark.createDataFrame(
        rows,
        "gameId long, playId long, frameId int, event string, nflId long, "
        "team_pos string, x double, y double, v_x double, v_y double",
    )
    per_part = (
        _with_frame_meta(norm)
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.countDistinct("playId").alias("plays"))
        .collect()
    )
    assert sorted(r.plays for r in per_part) == [2] * width


def test_eppa_surface_bit_identical_to_direct_kernel(spark, norm_fixture):
    """Every eligible fixture frame's eppa1/eppa1m surface equals a direct
    frame_surfaces call bit for bit: the partitioning moves no float."""
    out = eppa_field_surface(norm_fixture).toPandas()
    fixture = norm_fixture.toPandas()
    assert sorted(out.frameId.unique()) == [16, 17, 18, 19, 20]
    for fid, got in out.groupby("frameId"):
        frame = fixture[(fixture.playId == 100) & (fixture.frameId == fid)]
        qb = frame[frame.position == "QB"]
        s = frame_surfaces(
            frame[(frame.nflId != 0) & (frame.position != "QB")],
            qb[["x", "y"]].iloc[0].to_numpy(dtype=np.float64),
            int(fid) - 2,  # snap is frame 2
            EppaParams(),
            EppaPriors.default(),
        )
        got = got.sort_values(["ball_end_y", "ball_end_x"])  # field_grid order
        np.testing.assert_array_equal(got["eppa1"].to_numpy(), s["eppa_ft"].sum(axis=1))
        np.testing.assert_array_equal(got["eppa1m"].to_numpy(), s["eppa_ft"].max(axis=1))


# ------------------------------------------------ worker zip-import cache


def _write_zip(path, modules: dict[str, str]) -> None:
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zipcache_skips_reread_of_unchanged_archive(tmp_path, monkeypatch):
    import zipimport

    from bigdatabowl_spark import zipcache

    zipcache.install()
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # first call may re-read: no stat recorded yet
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == []
    assert imp.find_spec("zc_mod_a") is not None


def test_zipcache_rereads_archive_rewritten_in_place(tmp_path, monkeypatch):
    import importlib
    import os
    import sys
    import zipimport

    from bigdatabowl_spark import zipcache

    zipcache.install()
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zc_old").X == 1
    importlib.invalidate_caches()  # records the archive's stat
    _write_zip(archive, {"zc_old": "X = 1\n", "zc_new": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("zc_new").Y == 2
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    finally:
        for name in ("zc_old", "zc_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


# ------------------------------------------------- full-width value models


def test_tree_ensemble_matches_naive_reference():
    """The vectorized depth-2 traversal must agree with a per-row Python
    walk of the same spec — margins, softprob, and expectation."""
    from bigdatabowl_spark.kernels.ensemble import TreeEnsemble

    ens = TreeEnsemble.default()
    rng = np.random.default_rng(3)
    X = rng.normal(size=(500, 26))
    m = ens.margins(X)
    for i in (0, 7, 123, 499):
        naive = np.zeros(ens.n_classes)
        for t in range(len(ens.feat_a)):
            a = X[i, ens.feat_a[t]] < ens.thr_a[t]
            b = X[i, ens.feat_b[t]] < ens.thr_b[t]
            l0, l1, l2, l3 = ens.leaves[t]
            naive[ens.tree_class[t]] += (l0 if b else l1) if a else (l2 if b else l3)
        assert np.allclose(m[i], naive)
    p = ens.softprob(X)
    assert np.allclose(p.sum(axis=1), 1.0)
    e = ens.expectation(X)
    assert np.all(e <= ens.epvals.max()) and np.all(e >= ens.epvals.min())


def test_frame_surfaces_full_width_value_model():
    """With an ensemble, the kernel scores every hypothetical pass —
    (F·T, 26) = 264,000 × 26, the reference's exact batch shape
    (play_eppa_cpu.py:424-459) — and stays within the epvals envelope."""
    from bigdatabowl_spark.kernels.ensemble import TreeEnsemble

    ens = TreeEnsemble.default()
    s = frame_surfaces(
        _players_frame(), np.array([35.0, 26.5]), 20, EppaParams(),
        EppaPriors.default(), value_ensemble=ens,
    )
    assert s["xepa_comp"].shape == (N_CELLS,)
    assert np.all(s["xepa_comp"] <= ens.epvals.max() + 1e-9)
    assert np.all(s["xepa_comp"] >= ens.epvals.min() - 1e-9)
    assert np.all(s["xyac"] >= 0.0)
    # deterministic across calls (reused workspace must not leak state)
    s2 = frame_surfaces(
        _players_frame(), np.array([35.0, 26.5]), 20, EppaParams(),
        EppaPriors.default(), value_ensemble=ens,
    )
    assert np.array_equal(s["eppa_ft"], s2["eppa_ft"])
    # and differs from the closed-form stand-in path
    s0 = frame_surfaces(
        _players_frame(), np.array([35.0, 26.5]), 20, EppaParams(),
        EppaPriors.default(),
    )
    assert not np.array_equal(s["eppa_ft"], s0["eppa_ft"])


# ----------------------------------------------- M4 prior surface parity


def test_m4_prior_surface_matches_kernel_formula(spark):
    """The oracle-checked m4_prior_surface relation reproduces the kernel's
    in-frame transition prior (kernels/eppa.py:303-316 — np.take gather,
    mask, renormalize; play_eppa_cpu.py:301-334) at its config to ppm
    resolution, so the driver's hash verdict certifies the SAME math the
    EPPA kernel runs."""
    import bigdatabowl_spark.plans  # noqa: F401
    from bigdatabowl_spark.kernels.params import field_grid
    from bigdatabowl_spark.kernels.priors import T_given_L_prior, p_t_prior
    from bigdatabowl_spark.plans.catalog import CATALOG
    from bigdatabowl_spark.plans.round6 import _BALL_X, _BALL_Y, _FRAME_TO_PASS

    # kernel-side formula at the query's fixed config
    grid = field_grid()
    ball = np.array([_BALL_X, _BALL_Y])
    L = np.sqrt(((grid - ball[None, :]) ** 2).sum(-1))
    Lbin = np.clip(np.rint(L).astype(np.int64), 1, 60) - 1
    mask = (L > 1.0) & (L <= 60.0)
    h = T_given_L_prior()[Lbin] * p_t_prior()[_FRAME_TO_PASS - 1]
    h *= mask[:, None]
    trans_prior = h / h.sum()

    rows = CATALOG["m4_prior_surface"].builder(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 6600 * 40
    got = np.zeros((6600, 40))
    for r in rows:
        got[r["flat"], r["T"] - 1] = r["p_ppm"] / 1e6
    # floor-quantized ppm: each cell within 1 ppm below the true mass
    assert np.all(got <= trans_prior + 1e-12)
    assert np.all(trans_prior - got <= 2e-6)
    # total mass: floor quantization only loses, at most 1 ppm per cell
    assert got.sum() <= 1.0 + 1e-12
    assert 1.0 - got.sum() <= 264000 * 1e-6


def test_m1b_forest_score_matches_numpy_forest(spark):
    """The join-based relational forest walk (m1b_forest_score) produces
    the same integer-quantized margins as FlatForest.margins on the same
    feature vectors — the relational inference path and the kernel path
    score one model identically."""
    import bigdatabowl_spark.plans  # noqa: F401
    from bigdatabowl_spark.kernels.ensemble import FlatForest
    from bigdatabowl_spark.plans.advanced import _FEATURES
    from bigdatabowl_spark.plans.catalog import CATALOG
    import pyspark.sql.functions as F

    from bigdatabowl_spark.plans.round6 import scaled_forest

    sf_dir = "/root/testdata/sf0.001"
    rows = CATALOG["m1b_forest_score"].builder(spark, sf_dir).collect()
    assert rows and all(r["unresolved"] == 0 for r in rows)
    got = {(r["o_orderkey"], r["cls"]): r["margin_q"] for r in rows}

    # same features through the NumPy scorer
    from bigdatabowl_spark.plans.catalog import t as _t

    feats = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", *[F.expr(e).alias(f"f{i}") for i, (e, _) in enumerate(_FEATURES)])
        .toPandas()
        .sort_values("o_orderkey")
    )
    X = feats[[f"f{i}" for i in range(26)]].to_numpy(np.float64)
    forest = scaled_forest()
    # per-tree leaf values quantized then summed, matching the SQL exactly
    want = {}
    lv = forest.leaf_val
    n = X.shape[0]
    import numpy as _np

    rows_idx = _np.arange(n)
    acc = {}
    leaf_diversity = []
    for tr in range(forest.n_trees):
        cur = _np.full(n, forest.offsets[tr], dtype=_np.int64)
        for _ in range(int(forest.depth[tr])):
            f = forest.feat[cur]
            go_left = X[rows_idx, f] < forest.thr[cur]
            cur = _np.where(go_left, forest.left[cur], forest.right[cur])
        leaf_diversity.append(len(_np.unique(cur)))
        q = _np.floor(lv[cur] * 1e9).astype(_np.int64)
        c = int(forest.tree_class[tr])
        acc[c] = acc.get(c, 0) + q
    # the scaled thresholds must make the certification EXERCISE the
    # trees: every tree routes rows into several distinct leaves (the
    # stock default_deep thresholds sent ~everything down one spine)
    assert min(leaf_diversity) >= 3, leaf_diversity
    for c, qs in acc.items():
        for i, key in enumerate(feats["o_orderkey"].tolist()):
            want[(key, c)] = want.get((key, c), 0) + int(qs[i])
    assert got == want


def test_m1c_udf_matches_m1b_join_walk(spark):
    """The Pandas-UDF scorer and the relational join walk emit identical
    rows for the same staged model — the two production inference paths
    agree bit-for-bit."""
    import bigdatabowl_spark.plans  # noqa: F401
    from bigdatabowl_spark.plans.catalog import CATALOG

    sf_dir = "/root/testdata/sf0.001"
    b = {
        (r["o_orderkey"], r["cls"]): (r["margin_q"], r["unresolved"])
        for r in CATALOG["m1b_forest_score"].builder(spark, sf_dir).collect()
    }
    c = {
        (r["o_orderkey"], r["cls"]): (r["margin_q"], r["unresolved"])
        for r in CATALOG["m1c_forest_udf_score"].builder(spark, sf_dir).collect()
    }
    assert b == c and len(b) > 0


def test_m1d_compiled_matches_m1b_join_walk(spark):
    """The compiled-CASE path agrees bit-for-bit with the join walk —
    closing the four-way certification (CASE = join = UDF = DuckDB)."""
    import bigdatabowl_spark.plans  # noqa: F401
    from bigdatabowl_spark.plans.catalog import CATALOG

    sf_dir = "/root/testdata/sf0.001"
    b = {
        (r["o_orderkey"], r["cls"]): (r["margin_q"], r["unresolved"])
        for r in CATALOG["m1b_forest_score"].builder(spark, sf_dir).collect()
    }
    d = {
        (r["o_orderkey"], r["cls"]): (r["margin_q"], r["unresolved"])
        for r in CATALOG["m1d_forest_compiled_score"].builder(spark, sf_dir).collect()
    }
    assert b == d and len(b) > 0


def test_staging_marker_invalidates_on_kernel_code_change(tmp_path, monkeypatch):
    """A staged kernel table is stale when the marker's kernel-code
    fingerprint differs from the current one — a warm staging dir must not
    serve pre-edit bytes after kernels/*.py changes (round-6 fix)."""
    from bigdatabowl_spark.plans import eppa_queries as eq

    monkeypatch.setattr(eq, "KERNEL_OUT", str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    d = tmp_path / "some_table"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x")

    # current-code marker → fresh
    (d / eq._SF_MARKER).write_text(eq.marker_value(sf_dir))
    assert eq.staged_fresh("some_table", sf_dir)

    # pre-fingerprint marker format (bare sf_dir) → stale
    (d / eq._SF_MARKER).write_text(sf_dir)
    assert not eq.staged_fresh("some_table", sf_dir)

    # same sf, different (old) fingerprint → stale
    (d / eq._SF_MARKER).write_text(sf_dir + "|deadbeef0000")
    assert not eq.staged_fresh("some_table", sf_dir)

    # different sf, current fingerprint → stale
    other = eq.marker_value("/root/testdata/sf0.01")
    (d / eq._SF_MARKER).write_text(other)
    assert not eq.staged_fresh("some_table", sf_dir)


def test_executor_forest_cache_invalidates_on_restage(spark, tmp_path):
    """load_forest_arrays' per-process cache is keyed on the node-file
    content stamp: overwriting the staged model at the SAME path must serve
    the NEW leaves on the next call (warm Python workers survive across
    queries, so a path-only cache would score a stale model — round-6 fix)."""
    import numpy as np

    from bigdatabowl_spark.kernels.ensemble import FlatForest
    from bigdatabowl_spark.sources.artifacts import (
        load_forest_arrays,
        save_forest,
    )

    out = str(tmp_path / "forest")
    f1 = FlatForest.default_deep(depth=3)
    save_forest(spark, f1, out)
    got1 = load_forest_arrays(out)
    assert np.array_equal(got1.leaf_val, f1.leaf_val)

    bumped = FlatForest.from_node_arrays(
        [
            {
                "left_children": f1.tree_nodes(t)["left_children"],
                "right_children": f1.tree_nodes(t)["right_children"],
                "split_indices": f1.tree_nodes(t)["split_indices"],
                "split_conditions": [
                    c + (1.0 if lc == -1 else 0.0)
                    for c, lc in zip(
                        f1.tree_nodes(t)["split_conditions"],
                        f1.tree_nodes(t)["left_children"],
                    )
                ],
                "default_left": f1.tree_nodes(t)["default_left"],
            }
            for t in range(f1.n_trees)
        ],
        [int(c) for c in f1.tree_class],
        f1.epvals.copy(),
    )
    save_forest(spark, bumped, out)
    got2 = load_forest_arrays(out)  # same path, cache must notice the restage
    is_leaf = f1.left == np.arange(len(f1.left))
    assert np.array_equal(got2.leaf_val[is_leaf], f1.leaf_val[is_leaf] + 1.0)
    assert np.array_equal(got2.leaf_val[~is_leaf], f1.leaf_val[~is_leaf])


# ------------------------------------------------- M6 objective certification


def _m6_random_frame(seed: int):
    rng = np.random.default_rng(seed)
    n_off, n_def = 4, 4
    players = pd.DataFrame(
        {
            "nflId": list(range(11, 11 + n_off)) + list(range(21, 21 + n_def)),
            "x": np.concatenate(
                [38 + rng.uniform(0, 20, n_off), 40 + rng.uniform(0, 22, n_def)]
            ),
            "y": rng.uniform(5, 48, n_off + n_def),
            "v_x": rng.uniform(-4, 6, n_off + n_def),
            "v_y": rng.uniform(-3, 3, n_off + n_def),
            "team_pos": ["OFF"] * n_off + ["DEF"] * n_def,
        }
    )
    return players, np.array([34.0 + rng.uniform(0, 4), 26.5])


def _m6_candidates(px, pv, j, h, params, n_cand):
    """The optimizer's own reachable-cell enumeration + even subsample
    (defense.py optimize_defense_frame)."""
    from bigdatabowl_spark.kernels.params import field_grid

    full_grid = field_grid()
    rv = full_grid - px[j]
    ra = 2.0 * (rv - pv[j] * h) / (h * h)
    rvel = ra * h + pv[j]
    ok = (np.sqrt((ra**2).sum(-1)) < params.a_max) & (
        np.sqrt((rvel**2).sum(-1)) < params.s_max
    )
    ci = np.flatnonzero(ok)
    if ci.size > n_cand:  # the optimizer's exact subsample formula
        ci = ci[:: int(np.ceil(ci.size / n_cand))]
    return full_grid[ci], rvel[ci]


def test_m6_surrogate_ranks_like_full_kernel():
    """VERDICT r6 item 6: the surrogate objective's 'ordering is dominated
    by p_int/trans' claim, MEASURED instead of asserted. For each fixture
    frame, score one defender's candidate set with (a) the surrogate
    (defense._objective on the strided grid — exactly the optimizer's
    math) and (b) the full frame kernel (trajectory integration included),
    then pin argmin agreement and regret. The thresholds encode observed
    behavior including its known weakness (seed 4 is the divergent frame —
    see the defense.py module doc): the surrogate is a good-but-not-exact
    ranker, and objective='full' exists for reference-exact argmins."""
    from bigdatabowl_spark.kernels.defense import OptimizeConfig, _objective
    from bigdatabowl_spark.kernels.eppa import (
        default_ep_curve,
        default_xyac_scorer,
        player_intercept_field,
    )
    from bigdatabowl_spark.kernels.params import field_grid, tof_values

    params, priors, cfg = EppaParams(), EppaPriors.default(), OptimizeConfig()
    h = cfg.plan_horizon
    grid = field_grid()[:: cfg.grid_stride]
    tof = tof_values()

    ranks, regrets = [], []
    for seed, fas, jdef in [(1, 12, 0), (4, 25, 3), (6, 22, 0)]:
        players, ball = _m6_random_frame(seed)
        px = players[["x", "y"]].to_numpy(float)
        pv = players[["v_x", "v_y"]].to_numpy(float)
        is_off = (players["team_pos"] == "OFF").to_numpy()
        proj_p = px + pv * h
        vmag = np.sqrt((pv**2).sum(-1))
        scale = np.where(
            vmag > params.s_max, params.s_max / np.maximum(vmag, 1e-9), 1.0
        )
        proj_v = pv * scale[:, None]
        j = 4 + jdef
        cand_p, cand_v = _m6_candidates(px, pv, j, h, params, 12)

        L = np.sqrt(((grid - ball[None, :]) ** 2).sum(-1))
        Lbin = np.clip(np.rint(L).astype(np.int64), 1, 60) - 1
        mask = (L > 1.0) & (L <= 60.0)
        ti = min(max(fas, 1), len(priors.p_t)) - 1
        trans = priors.T_given_L[Lbin, :] * priors.p_t[ti] * mask[:, None]
        s = trans.sum()
        trans = trans / s if s > 0 else trans
        xi = float(default_ep_curve(ball[0] - 10.0))
        d0, _ = player_intercept_field(proj_p, proj_v, grid, tof, params)
        xc = default_ep_curve(
            grid[:, 0] + default_xyac_scorer(d0[:, ~is_off].min(axis=1), grid[:, 0])
        )

        sur, full = [], []
        for r in range(len(cand_p)):
            pp, vv = proj_p.copy(), proj_v.copy()
            pp[j], vv[j] = cand_p[r], cand_v[r]
            _, pi = player_intercept_field(pp, vv, grid, tof, params)
            sur.append(
                _objective(
                    np.log1p(-np.clip(pi, 0, 1 - 1e-12)), trans, xc, xi, is_off, "sum"
                )
            )
            pdf = players.copy()
            pdf[["x", "y"]] = pp
            pdf[["v_x", "v_y"]] = vv
            full.append(
                float(frame_surfaces(pdf, ball, fas, params, priors)["eppa_ft"].sum())
            )
        sur, full = np.array(sur), np.array(full)
        ranks.append(int((full < full[sur.argmin()]).sum()))
        spread = full.max() - full.min()
        regrets.append(
            float((full[sur.argmin()] - full.min()) / spread) if spread > 0 else 0.0
        )

    # measured: ranks [0, 9, 0], regret shares [0.0, 1.0, 0.0] — the
    # surrogate's argmin is EXACT on the majority of frames, but on the
    # divergent frame (seed 4) it picks the full objective's WORST
    # candidate: first-arrival ordering (the ppc stage the surrogate
    # drops) can dominate when candidate p_int deltas are small. Pin the
    # majority-exact behavior; the divergence is the documented reason
    # objective='full' exists.
    # sorted[1] == 0 ⇔ at least 2 of the 3 frames have an EXACT argmin
    assert sorted(ranks)[1] == 0, (ranks, regrets)
    assert float(np.median(regrets)) <= 0.15, (ranks, regrets)


def test_m6_full_objective_mode_matches_reference_loop():
    """objective='full' re-runs the full frame kernel per candidate
    (optimize_def.py:120-126); with a single defender the greedy step IS
    the global argmin over its candidate set — assert the optimizer's
    placement equals an independent brute-force recomputation, and that
    eppa_after equals the brute minimum."""
    from bigdatabowl_spark.kernels.defense import (
        OptimizeConfig,
        optimize_defense_frame,
    )

    params, priors = EppaParams(), EppaPriors.default()
    players = pd.DataFrame(
        {
            "nflId": [11, 12, 13, 21],
            "x": [40.0, 45.0, 50.0, 47.0],
            "y": [10.0, 26.0, 40.0, 28.0],
            "v_x": [5.0, 2.0, 0.0, 0.0],
            "v_y": [0.0, 1.0, 3.0, -1.0],
            "team_pos": ["OFF", "OFF", "OFF", "DEF"],
        }
    )
    ball, fas = np.array([35.0, 26.5]), 20
    cfg = OptimizeConfig(objective="full", max_candidates=6)
    placed, before, after = optimize_defense_frame(
        players.copy(), ball, fas, params, priors, cfg
    )
    assert len(placed) == 1 and int(placed["nflId"].iloc[0]) == 21
    assert np.isfinite(before) and np.isfinite(after)

    px = players[["x", "y"]].to_numpy(float)
    pv = players[["v_x", "v_y"]].to_numpy(float)
    h = cfg.plan_horizon
    proj_p = px + pv * h
    vmag = np.sqrt((pv**2).sum(-1))
    scale = np.where(vmag > params.s_max, params.s_max / np.maximum(vmag, 1e-9), 1.0)
    proj_v = pv * scale[:, None]
    cand_p, cand_v = _m6_candidates(px, pv, 3, h, params, cfg.max_candidates)
    best_v, best_r = None, None
    for r in range(len(cand_p)):
        pp, vv = proj_p.copy(), proj_v.copy()
        pp[3], vv[3] = cand_p[r], cand_v[r]
        pdf = players.copy()
        pdf[["x", "y"]] = pp
        pdf[["v_x", "v_y"]] = vv
        v = float(frame_surfaces(pdf, ball, fas, params, priors)["eppa_ft"].sum())
        if best_v is None or v < best_v:
            best_v, best_r = v, r
    assert placed["x_opt"].iloc[0] == cand_p[best_r][0]
    assert placed["y_opt"].iloc[0] == cand_p[best_r][1]
    assert after == best_v


def test_m6_hybrid_argmin_matches_full(monkeypatch):
    """VERDICT r7 item 5: the hybrid objective (surrogate ranks all
    candidates, full kernel re-ranks the k-best ∪ k-worst shortlist,
    default shortlist_k=4 — asserted below, and the call budget is
    computed from that same default) must produce the EXACT placements of
    objective='full' on all three fixture frames — including seed 4, the
    frame where the bare surrogate picks the full objective's worst
    candidate — within a pinned kernel-call budget of 2·shortlist_k per
    defender step + 2 per frame (before/after). Both ends of the surrogate
    ordering are re-ranked because the measured per-step rank of the full
    argmin is bimodal (top of the ordering or bottom-4 of ~10):
    first-arrival mass flips the surrogate's sign rather than blurring it
    (defense.py module doc)."""
    import bigdatabowl_spark.kernels.defense as defense
    from bigdatabowl_spark.kernels.defense import (
        OptimizeConfig,
        optimize_defense_frame,
    )

    params, priors = EppaParams(), EppaPriors.default()
    calls = {"n": 0}
    # r12: the full objective runs through _frame_surfaces_core (lean
    # incremental evaluation, bit-identical to frame_surfaces — pinned by
    # test_m6_fast_full_obj_matches_frame_surfaces); one core call with
    # lean=True is one full-kernel objective evaluation
    real = defense._frame_surfaces_core

    def counting(*a, **kw):
        if kw.get("lean"):
            calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(defense, "_frame_surfaces_core", counting)

    for seed, fas in [(1, 12), (4, 25), (6, 22)]:
        players, ball = _m6_random_frame(seed)
        full_cfg = OptimizeConfig(objective="full", max_candidates=12)
        hyb_cfg = OptimizeConfig(objective="hybrid", max_candidates=12)
        assert hyb_cfg.shortlist_k == 4  # the default the budget pins

        placed_f, before_f, after_f = optimize_defense_frame(
            players.copy(), ball, fas, params, priors, full_cfg
        )
        calls["n"] = 0
        placed_h, before_h, after_h = optimize_defense_frame(
            players.copy(), ball, fas, params, priors, hyb_cfg
        )
        n_def = int((players["team_pos"] == "DEF").sum())
        budget = 2 * hyb_cfg.shortlist_k * n_def + 2
        assert calls["n"] <= budget, (seed, calls["n"], budget)

        # exact agreement: same defenders, same placements, same objective
        # values (both modes report the full kernel's before/after)
        pd.testing.assert_frame_equal(
            placed_h.reset_index(drop=True), placed_f.reset_index(drop=True)
        )
        assert before_h == before_f and after_h == after_f, seed


def test_m6_fast_full_obj_matches_frame_surfaces():
    """r12 optimization invariant: the incremental full-kernel objective
    (single-column p_int splice + lean _frame_surfaces_core) must equal a
    from-scratch frame_surfaces evaluation BIT FOR BIT at every step of a
    simulated greedy sequence — moves change one player at a time, exactly
    the optimizer's access pattern. Also pins the ball-path index cache
    (same ball across calls → cache hit on every call after the first)."""
    from bigdatabowl_spark.kernels.eppa import (
        _frame_surfaces_core,
        player_intercept_field,
    )
    from bigdatabowl_spark.kernels.params import N_CELLS, N_TOF, field_grid, tof_values

    params, priors = EppaParams(), EppaPriors.default()
    players, ball = _m6_random_frame(3)
    fas = 18
    px = players[["x", "y"]].to_numpy(float)
    pv = players[["v_x", "v_y"]].to_numpy(float)
    is_off = (players["team_pos"] == "OFF").to_numpy()
    nfl = players["nflId"].to_numpy()
    tp = players["team_pos"].to_numpy()
    grid, tof = field_grid(), tof_values()
    J = len(players)

    base_d = np.empty((N_CELLS, J))
    base_p = np.empty((N_CELLS, N_TOF, J))
    dm, pi = player_intercept_field(px, pv, grid, tof, params)
    base_d[...] = dm
    base_p[...] = pi

    rng = np.random.default_rng(9)
    cur = players.copy()
    for step in range(4):
        # move one defender, splice its column, evaluate lean
        j = int(rng.integers(4, J))
        new_xy = np.array([rng.uniform(20, 60), rng.uniform(5, 48)])
        new_v = np.array([rng.uniform(-5, 5), rng.uniform(-3, 3)])
        cur.iloc[j, cur.columns.get_loc("x")] = new_xy[0]
        cur.iloc[j, cur.columns.get_loc("y")] = new_xy[1]
        cur.iloc[j, cur.columns.get_loc("v_x")] = new_v[0]
        cur.iloc[j, cur.columns.get_loc("v_y")] = new_v[1]
        d1, p1 = player_intercept_field(
            new_xy[None, :], new_v[None, :], grid, tof, params
        )
        base_d[:, j] = d1[:, 0]
        base_p[:, :, j] = p1[:, :, 0]

        fast = _frame_surfaces_core(
            px, pv, is_off, nfl, tp, ball, fas, params, priors,
            precomputed=(base_d, base_p), lean=True,
        )["eppa_ft"]
        scratch = frame_surfaces(cur, ball, fas, params, priors)["eppa_ft"]
        assert np.array_equal(fast, scratch), step
        assert float(fast.sum()) == float(scratch.sum()), step


def test_path_index_cache_bit_identical_and_bounded():
    """The ball-path index cache must (a) return bit-identical surfaces on
    hits, (b) stay bounded at _PATH_CACHE_MAX keys under many distinct
    ball positions, and (c) never leak one ball position's indices into
    another's result."""
    from bigdatabowl_spark.kernels import eppa as E

    params, priors = EppaParams(), EppaPriors.default()
    players, _ = _m6_random_frame(5)
    E._PATH_CACHE.clear()

    balls = [np.array([20.0 + 3 * i, 15.0 + 2 * i]) for i in range(4)]
    first = [frame_surfaces(players, b, 10, params, priors) for b in balls]
    assert len(E._PATH_CACHE) <= E._PATH_CACHE_MAX
    # recompute in reverse order: mix of evicted (rebuild) and cached keys
    for b, want in reversed(list(zip(balls, first))):
        got = frame_surfaces(players, b, 10, params, priors)
        for k in ("ppc_off", "ppc_def", "eppa_ft"):
            assert np.array_equal(got[k], want[k]), k
    assert len(E._PATH_CACHE) <= E._PATH_CACHE_MAX


def test_step8_compact_bit_identical_vs_dense():
    """The step-compacted trajectory integration (_ppc_surfaces) must be
    bit-identical to the dense (Fc, S, B) sweep it replaced (r12
    optimization round: zv is ~6% dense; masked steps are exact 1.0
    cumprod factors / 0.0 sum terms, and numpy's axis-1 reduction is
    sequential, so skipping them cannot move a bit). The dense reference
    below is the pre-compaction loop, replayed verbatim with fresh
    allocations."""
    from bigdatabowl_spark.kernels import eppa as E
    from bigdatabowl_spark.kernels.params import (
        FIELD_X,
        FIELD_Y,
        field_grid,
    )

    def dense_ppc(p_off_part, p_def_part, ball, params, chunk=330):
        grid = field_grid()
        frac, zv = E._traj_constants(params)
        ppc_off = np.empty((N_CELLS, N_TOF))
        ppc_def = np.empty((N_CELLS, N_TOF))
        bx, by = ball
        p_off_flat = p_off_part.ravel()
        p_def_flat = p_def_part.ravel()
        steps = np.arange(N_TOF, dtype=np.int32)[None, :, None]
        for lo in range(0, N_CELLS, chunk):
            hi = min(lo + chunk, N_CELLS)
            gc = grid[lo:hi]
            dx = (gc[:, 0] - bx)[:, None, None]
            dy = (gc[:, 1] - by)[:, None, None]
            for b0 in range(0, N_TOF, 10):
                b1 = min(b0 + 10, N_TOF)
                S = b1
                fr = frac[:S, b0:b1]
                z = zv[:S, b0:b1]
                work = np.multiply(fr, dx)
                work += bx - 0.5
                np.rint(work, out=work)
                cx = work.astype(np.int32)
                np.minimum(cx, FIELD_X - 1, out=cx)
                np.maximum(cx, 0, out=cx)
                work = np.multiply(fr, dy)
                work += by - 0.5
                np.rint(work, out=work)
                cy = work.astype(np.int32)
                np.minimum(cy, FIELD_Y - 1, out=cy)
                np.maximum(cy, 0, out=cy)
                flat = cy * FIELD_X
                flat += cx
                flat *= N_TOF
                flat += steps[:, :S]
                catch_off = np.take(p_off_flat, flat, mode="clip")
                catch_off *= z
                catch_def = np.take(p_def_flat, flat, mode="clip")
                catch_def *= z
                no_event = 1.0 - catch_off
                no_event -= catch_def
                np.minimum(no_event, 1.0, out=no_event)
                np.maximum(no_event, 0.0, out=no_event)
                cum = np.cumprod(no_event, axis=1)
                catch_off[:, 1:, :] *= cum[:, :-1, :]
                catch_def[:, 1:, :] *= cum[:, :-1, :]
                catch_off.sum(axis=1, out=ppc_off[lo:hi, b0:b1])
                catch_def.sum(axis=1, out=ppc_def[lo:hi, b0:b1])
        return ppc_off, ppc_def

    rng = np.random.default_rng(12)
    # windows: default, low, sliver (only blocks 0-1 populated), and one
    # where the first block has empty arrival columns
    for z_min, z_max in [(1.0, 3.0), (0.5, 2.0), (2.9, 3.0), (2.0, 2.2)]:
        params = EppaParams(z_min=z_min, z_max=z_max)
        p = rng.random((N_CELLS, N_TOF))
        q = rng.random((N_CELLS, N_TOF)) * (1.0 - p)  # off + def <= 1
        ball = np.array([rng.uniform(10, 100), rng.uniform(5, 48)])
        E._PATH_CACHE.clear()
        for _ in range(2):  # second call exercises the cache-hit path
            got_off, got_def = E._ppc_surfaces(p, q, ball, params)
            want_off, want_def = dense_ppc(p, q, ball, params)
            assert np.array_equal(got_off, want_off), (z_min, z_max)
            assert np.array_equal(got_def, want_def), (z_min, z_max)


# ------------------------------------- Arrow kernel path: guard and work


def _pandas_prep_frame(pdf: pd.DataFrame):
    """The pandas frame guard the array-level _frame_guard replaced, kept
    verbatim as its specification (P15, play_eppa_cpu.py:92-98,225-232)."""
    ball = pdf[pdf["nflId"] == 0]
    qb = pdf[pdf["position"] == "QB"]
    if ball.empty:
        return None
    origin = qb if not qb.empty else ball
    ball_start = origin[["x", "y"]].iloc[0].to_numpy(dtype=np.float64)
    players = pdf[(pdf["nflId"] != 0) & (pdf["position"] != "QB")]
    players = players.drop_duplicates(subset=["nflId"])
    if players.empty or players["team_pos"].nunique() < 2:
        return None
    return players, ball_start, int(pdf["frames_after_snap"].iloc[0])


def _guard_frame(rows) -> pd.DataFrame:
    return pd.DataFrame(
        rows, columns=["nflId", "position", "team_pos", "x", "y", "v_x", "v_y"]
    ).assign(frames_after_snap=17)


_BALL = (0, None, "FTBL", 35.0, 26.5, 0.0, 0.0)
_QB = (99, "QB", "OFF", 33.0, 25.0, 0.0, 0.0)
_WR = (11, "WR", "OFF", 40.0, 10.0, 5.0, 0.0)
_WR2 = (12, "WR", "OFF", 45.0, 26.0, 2.0, 1.0)
_CB = (21, "CB", "DEF", 42.0, 12.0, -1.0, 0.5)


def _assert_guard_matches_pandas(frame: pd.DataFrame):
    from bigdatabowl_spark.kernels.eppa import _frame_guard

    want = _pandas_prep_frame(frame)
    # the Spark path hands the guard NumPy arrays, defense.py a DataFrame
    for arg in (frame, {c: frame[c].to_numpy() for c in frame.columns}):
        got = _frame_guard(arg)
        if want is None:
            assert got is None
            continue
        idx, ball_start, fas = got
        players, want_ball, want_fas = want
        pd.testing.assert_frame_equal(frame.iloc[idx], players)
        assert np.array_equal(ball_start, want_ball) and fas == want_fas
    return want


def test_frame_guard_skips_frame_without_ball():
    assert _assert_guard_matches_pandas(_guard_frame([_QB, _WR, _CB])) is None


def test_frame_guard_throws_from_ball_without_qb():
    _, ball_start, _ = _assert_guard_matches_pandas(_guard_frame([_WR, _BALL, _CB]))
    assert ball_start.tolist() == [35.0, 26.5]


def test_frame_guard_keeps_first_duplicate_in_row_order():
    dup = (21, "CB", "DEF", 50.0, 30.0, 0.0, 0.0)  # a second nflId-21 row
    players, ball_start, _ = _assert_guard_matches_pandas(
        _guard_frame([_WR2, _CB, _BALL, _QB, dup, _WR])
    )
    assert players["nflId"].tolist() == [12, 21, 11]
    assert players["x"].tolist() == [45.0, 42.0, 40.0]
    assert ball_start.tolist() == [33.0, 25.0]


def test_frame_guard_skips_one_team_frame():
    assert _assert_guard_matches_pandas(_guard_frame([_BALL, _QB, _WR, _WR2])) is None


def _play_batch(frames) -> "pa.RecordBatch":
    import pyarrow as pa

    pdf = pd.concat(
        [_guard_frame(rows).assign(frameId=fid) for fid, rows in frames],
        ignore_index=True,
    ).assign(gameId=1, playId=7)
    return pa.RecordBatch.from_pandas(pdf, preserve_index=False)


def test_field_kernel_skips_attribution_tensor(monkeypatch):
    """The field emit never reads ind_eppa, so its kernel call builds no
    (F,T,J) sigmoid tensor; the player emit, which reads it, does. Both
    emit exactly their schema's Arrow types, and skip a guarded frame."""
    from bigdatabowl_spark.kernels import eppa as E

    batch = _play_batch([(3, [_BALL, _QB, _WR, _CB, _WR2]), (4, [_QB, _WR, _CB])])
    for schema, emit, builds_tensor in (
        (E.FIELD_SCHEMA, E._emit_field, False),
        (E.PLAYER_SCHEMA, E._emit_player, True),
    ):
        monkeypatch.setattr(E, "_WS", {})
        out = list(E._make_kernel(schema, emit, None, None)(iter([batch])))
        assert [b.schema for b in out] == [E._arrow_schema(schema)]
        assert set(out[0].column("frameId").to_pylist()) == {3}  # frame 4: no ball
        has_tensor = any(k[0] == "pif.p_int" for k in E._WS)
        assert has_tensor == builds_tensor, schema


def test_frame_surfaces_owns_its_arrays():
    """frame_surfaces copies out of the kernel workspace: a second call
    with other players leaves the first result untouched."""
    params, priors = EppaParams(), EppaPriors.default()
    first = frame_surfaces(_players_frame(), np.array([35.0, 26.5]), 20, params, priors)
    kept = {k: np.array(v, copy=True) for k, v in first.items() if isinstance(v, np.ndarray)}
    other, _ = _m6_random_frame(3)
    frame_surfaces(other.assign(nflId=range(len(other))), np.array([30.0, 20.0]), 9, params, priors)
    for k, v in kept.items():
        assert np.array_equal(first[k], v), k


def test_step6_fold_matches_min_max_negate_bitwise():
    """Step 6 negates then floors at −(1−1e-12) instead of min → max(·, 0)
    → negate. On sigmoid outputs (never below +0.0) the two agree bit
    for bit, signed zero and NaN payload included."""
    c = 1.0 - 1e-12
    p = np.array(
        [0.0, 5e-324, np.nextafter(c, -1.0), c, np.nextafter(c, 1.0), 1.0, np.nan]
    )
    old = np.minimum(p, c)
    np.maximum(old, 0.0, out=old)
    np.negative(old, out=old)
    new = np.negative(p)
    np.maximum(new, -c, out=new)
    assert np.array_equal(old.view(np.uint64), new.view(np.uint64))
