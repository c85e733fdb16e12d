"""Wall-budget regression harness (r7 verdict item 4): queries whose
DuckDB oracle DNFs at corpus-scale fixtures have no ratio to catch a
perf regression, so their committed 1000x pins get an absolute budget
(1.5x the pin) enforced by tools/measure.py --budget <label> and by
the gates of tools/ann_scale.py.

These tests exercise the check itself — including the
intentional-regression case the verdict asked for — plus the shape of
the committed budget file.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from tools.measure import check_budgets, exit_on, failures

REPO = Path(__file__).resolve().parents[1]

BUDGETS = {
    "dedup_clusters": {
        "fixture": "x1000",
        "pinned_s": 60.0,
        "budget_s": 90.0,
        "pinned_round": 8,
    },
    "bpe_encode_corpus": {
        "fixture": "x1000",
        "pinned_s": 70.0,
        "budget_s": 105.0,
        "pinned_round": 8,
    },
    # a ratio row: the value checked is a fraction, not seconds
    "ann_refresh_cow_ratio": {
        "fixture": "ann2m_refresh",
        "pinned_s": 0.121,
        "budget_s": 0.25,
        "pinned_round": 11,
    },
}


# (query, fixture, a value within budget, a value over it): a wall row
# and a ratio row, which the check compares alike
ROWS = [
    ("dedup_clusters", "x1000", 85.0, 180.0),
    ("ann_refresh_cow_ratio", "ann2m_refresh", 0.2, 0.5),
]


def test_within_budget_passes():
    for name, fixture, ok, _ in ROWS:
        assert check_budgets({name: ok}, BUDGETS, fixture) == []


def test_intentional_regression_is_flagged():
    # The harness-of-the-harness case: a 2x slowdown past the budget
    # MUST produce a violation naming the query, fixture, and pin.
    for name, fixture, _, over in ROWS:
        out = check_budgets({name: over}, BUDGETS, fixture)
        assert len(out) == 1
        assert name in out[0]
        assert fixture in out[0]
        row = BUDGETS[name]
        # unitless, so a ratio row prints its own figures, not seconds
        assert f": {over:g} > {row['budget_s']:g} (pin {row['pinned_s']:g}, r" in out[0]


def test_failed_query_fails_the_run(capsys):
    # A query that raised has no wall to compare with its budget; the
    # run must still exit 1 and name it, or a crash at the corpus-scale
    # fixture would pass the gate.
    out = {"dedup_clusters": {"error": "MemoryError: "}, "flagship": {"best_s": 1.0}}
    for fixture in ("x1000", None):
        with pytest.raises(SystemExit) as ex:
            exit_on(failures(out, BUDGETS, fixture), "ok")
        assert ex.value.code == 1
        assert "FAILED: dedup_clusters" in capsys.readouterr().out
    out["dedup_clusters"] = {"best_s": 180.0}
    assert failures(out, BUDGETS, None) == []
    assert len(failures(out, BUDGETS, "x1000")) == 1


def test_other_fixture_and_unbudgeted_queries_ignored():
    # A sf0.1 run of the same query must not trip the x1000 budget,
    # and queries with no budget row are never checked.
    assert check_budgets({"dedup_clusters": 999.0}, BUDGETS, "x100") == []
    assert check_budgets({"flagship": 999.0}, BUDGETS, "x1000") == []


def test_committed_budget_file_is_coherent():
    budgets = json.loads((REPO / "tools" / "budgets.json").read_text())
    assert budgets, "budget file must not be empty"
    for name, row in budgets.items():
        if name.startswith("_"):
            continue  # comment/metadata keys
        assert row["budget_s"] >= 1.4 * row["pinned_s"], name
        # xN = scale_fixture multiples (measure.py --budget);
        # ann2m = the 2M-vector ANN fixture (ann_scale.py probes);
        # ann2m_bulk = the 100k x 2M bulk faces (ann_scale.py bulk);
        # ann2m_refresh = the fixed-batch CDC fold + post-compaction
        # COW rewrite ratio (ann_scale.py refresh, r11);
        # ann33m = the 33.6M-vector p=12 index legs
        # (ann_scale.py bigbuild/maintain33m, r12)
        assert row["fixture"].startswith("x") or row["fixture"] in (
            "ann2m",
            "ann2m_bulk",
            "ann2m_refresh",
            "ann33m",
        ), name
        assert row["pinned_round"] >= 8, name
