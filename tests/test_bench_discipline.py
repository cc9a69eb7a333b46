"""Bench capture-discipline helpers (VERDICT r11 "what's wrong" #2,
VERDICT r12 item 2).

r10's eppa_field_surface bench row read 0.097 s because a previous run's
staged kernel parquet silently satisfied the chain, and r12's idle
captures carried hypervisor steal that every guest-side probe missed.
These tests pin the marker invalidation + per-row staging provenance,
the steal meters and the `suspect` rule, the round stamp every artifact
carries, and that each script's imports from bench.py and scripts/ still
resolve (the probes import bench's private helpers inside functions, so
a removed helper would otherwise only fail when that probe runs).
"""

from __future__ import annotations

import ast
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402
from bigdatabowl_spark.plans import eppa_queries  # noqa: E402


def _plant_staged_table(root: str, name: str, marker_text: str) -> str:
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.parquet"), "w") as f:
        f.write("x")
    marker = os.path.join(path, eppa_queries._SF_MARKER)
    with open(marker, "w") as f:
        f.write(marker_text)
    return marker


def test_invalidation_strips_every_marker_and_snapshot_diffs(
    tmp_path, monkeypatch
):
    root = str(tmp_path / "kernel_out")
    monkeypatch.setattr(eppa_queries, "KERNEL_OUT", root)
    m1 = _plant_staged_table(root, "eppa_field_surface", "sfA|deadbeef")
    _plant_staged_table(
        os.path.join(root, "nested"), "m4_priors", "sfA|deadbeef"
    )

    snap = bench._staging_markers()
    assert len(snap) == 2 and m1 in snap

    assert bench._invalidate_kernel_staging() == 2
    assert bench._staging_markers() == {}
    # parquet bytes survive (overwrite staging rewrites them); only the
    # freshness markers are gone, so builders self-heal by re-staging
    assert os.path.exists(
        os.path.join(root, "eppa_field_surface", "part-0.parquet")
    )

    # a re-staged table shows up as a diff against the pre-run snapshot —
    # the per-row `staged_during` provenance in bench main
    before = bench._staging_markers()
    marker = _plant_staged_table(root, "eppa_field_surface", "sfA|cafe")
    after = bench._staging_markers()
    wrote = [p for p, mt in after.items() if before.get(p) != mt]
    assert wrote == [marker]


def test_invalidation_tolerates_missing_kernel_out(tmp_path, monkeypatch):
    monkeypatch.setattr(
        eppa_queries, "KERNEL_OUT", str(tmp_path / "never_created")
    )
    assert bench._invalidate_kernel_staging() == 0
    assert bench._staging_markers() == {}


def test_merge_round_section_preserves_prior_regimes(tmp_path):
    """Subset probe re-runs must merge into the round artifact, never
    clobber it — the r12 incident: a pagerank-only scale-probe rerun
    briefly replaced the whole 8-family artifact with one family."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from scripts.spill_probe import merge_round_section

    path = str(tmp_path / "probe_r99.json")
    # no prior artifact: pass-through (and a copy, not an alias)
    fresh = {"a": 1}
    merged = merge_round_section(path, "workloads", fresh)
    assert merged == {"a": 1} and merged is not fresh

    with open(path, "w") as f:
        json.dump({"workloads": {"kernel": {"s": 1}, "stream": {"s": 2}},
                   "cpus": 32}, f)
    merged = merge_round_section(path, "workloads", {"graph": {"s": 3},
                                                     "stream": {"s": 9}})
    # prior regimes survive; re-measured keys take the new value
    assert merged == {"kernel": {"s": 1}, "stream": {"s": 9},
                      "graph": {"s": 3}}
    # a different section of the same artifact merges independently
    assert merge_round_section(path, "load_avg", {"start": 0.1}) == {
        "start": 0.1
    }


def test_steal_meter_windows_are_fractions_and_advance():
    # r12: the first code-freeze idle capture passed the loadavg gate AND
    # the ambient probe yet carried 12.4% hypervisor steal — both
    # guest-side signals are structurally blind to host oversubscription,
    # so artifacts now stamp per-stage steal fractions.
    meter = bench._StealMeter()
    first = meter.window()
    assert 0.0 <= first <= 1.0
    # the snapshot must ADVANCE: a second window measures only new ticks
    s0, t0 = meter._last
    second = meter.window()
    assert 0.0 <= second <= 1.0
    s1, t1 = meter._last
    assert t1 >= t0 and s1 >= s0


def test_steal_meter_reads_the_steal_column(monkeypatch):
    # pin the column: /proc/stat field 8 (index 7 after the 'cpu' label)
    lines = iter(
        [
            "cpu  100 0 0 800 0 0 0 100 0 0\n",
            "cpu  150 0 0 1550 0 0 0 300 0 0\n",
        ]
    )

    class _F:
        def readline(self):
            return next(lines)

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    monkeypatch.setattr(
        "builtins.open",
        lambda path, *a, **k: _F() if path == "/proc/stat" else open(path),
    )
    # construction snaps (steal=100, total=1000); window sees +200 steal
    # over +1000 total ticks
    meter = bench._StealMeter()
    assert meter.window() == 0.2


def test_suspect_rows_flags_only_stamped_contamination():
    # r13 (VERDICT r12 item 2): contaminated rows must self-identify to
    # the PERF comparator. Only rows whose OWN window exceeded the 2%
    # threshold are flagged; unstamped rows are treated as clean, and the
    # output is sorted for stable artifact diffs.
    timings = {"q_clean": 1.0, "q_hot": 2.0, "q_edge": 3.0, "q_nostamp": 4.0}
    steal_q = {"q_clean": 0.001, "q_hot": 0.139, "q_edge": 0.02}
    # 0.02 is NOT suspect (strictly greater-than, matching the stage-stamp
    # guidance ">2-3% means inflation")
    assert bench._suspect_rows(timings, steal_q) == ["q_hot"]
    assert bench._suspect_rows({}, steal_q) == []
    # stamps for rows not in timings (e.g. a renamed key) never leak in
    assert bench._suspect_rows({"q_hot": 1.0}, {"q_hot": 0.5, "gone": 0.5}) == [
        "q_hot"
    ]


def test_current_round_is_one_past_the_recorded_bench(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    assert bench.current_round(str(tmp_path)) == 1
    # low-core companions (BENCH_r12_c8.json) are not round records
    for stem in ("BENCH_r03.json", "BENCH_r11.json", "BENCH_r12_c8.json",
                 "bench_full_r40.json"):
        (tmp_path / stem).write_text("{}")
    assert bench.current_round(str(tmp_path)) == 12
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "99")
    assert bench.current_round(str(tmp_path)) == 99


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), filename=path)


def _top_level_names(path: str) -> set[str]:
    names: set[str] = set()
    for node in _parse(path).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target
            ]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
    return names


def test_script_imports_from_bench_and_scripts_resolve():
    scripts_dir = os.path.join(_REPO, "scripts")
    defined: dict[str, set[str]] = {}
    checked = 0
    for fname in sorted(os.listdir(scripts_dir)):
        if not fname.endswith(".py"):
            continue
        path = os.path.join(scripts_dir, fname)
        # ast.walk reaches function-level imports, not just the header
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.ImportFrom) or node.module is None:
                continue
            mod = node.module
            if mod == "bench":
                target = os.path.join(_REPO, "bench.py")
            elif mod.startswith("scripts."):
                target = os.path.join(scripts_dir, mod.split(".", 1)[1] + ".py")
            else:
                continue
            assert os.path.exists(target), (
                f"{fname}:{node.lineno} imports missing module {mod}"
            )
            if target not in defined:
                defined[target] = _top_level_names(target)
            for alias in node.names:
                assert alias.name in defined[target], (
                    f"{fname}:{node.lineno} imports {alias.name!r} from "
                    f"{mod}, which does not define it"
                )
                checked += 1
    assert checked > 0
