"""The window-debt gate (tools/window_gate.py) must pass on the tree
as committed — every oracle-backed registry entry either holds a
_DRIVER_WINDOW slot this round or was driver-green within its freshness
horizon — and must actually detect debt when it exists.  It must also
stay green when the driver writes the CURRENT round's CORRECTNESS
artifact mid-round (round-artifact safety: the r9 defect flipped
test_window_order red the instant CORRECTNESS_r09.json appeared)."""

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

import __spark_entry__ as e  # noqa: E402
from window_gate import (  # noqa: E402
    EXPECTED_NEW_PER_ROUND,
    LONG_GREEN_THRESHOLD,
    load_green_history,
    never_green_order_ok,
    steady_state_demand,
    window_debt,
    window_debt_round_safe,
)


def _write_round(repo, rnd, verdicts):
    rows = {
        name: {
            "rows_match": True,
            "schema_match": True,
            "hash_match": bool(ok),
            "err": None,
        }
        for name, ok in verdicts.items()
    }
    (repo / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))


def test_current_window_has_no_debt():
    bad = window_debt_round_safe(
        list(e.all_queries()), list(e._DRIVER_WINDOW), set(e.oracle_sql())
    )
    assert not bad, "\n".join(bad)


def test_window_fits_driver_cap_and_registry():
    w = e._DRIVER_WINDOW
    assert len(w) <= 50 and len(set(w)) == len(w)
    assert set(w) <= set(e.all_queries())


def test_gate_detects_stale_and_unknown_entries(tmp_path):
    # synthetic repo: q_old green only at r1; by r4 (artifacts r1..r3)
    # it is stale without a slot under BOTH interpretations
    registry = ["q_old", "q_fresh"]
    oracle_keys = {"q_old", "q_fresh"}
    _write_round(tmp_path, 1, {"q_old": True, "q_fresh": True})
    _write_round(tmp_path, 2, {"q_fresh": True})
    _write_round(tmp_path, 3, {"q_fresh": True})
    _write_round(tmp_path, 4, {"q_fresh": True})
    bad = window_debt_round_safe(
        registry, ["q_fresh"], oracle_keys, repo=str(tmp_path)
    )
    assert any("q_old" in b for b in bad), bad
    # a phantom window name is a violation too
    bad2 = window_debt(registry, ["not_a_query"], oracle_keys, repo=str(tmp_path))
    assert any("not_a_query" in b for b in bad2)
    # oversized window is rejected regardless of content
    many = [f"q{i}" for i in range(51)]
    bad3 = window_debt(many, many, set(), repo=str(tmp_path))
    assert any("caps at 50" in b for b in bad3)


def test_round_artifact_does_not_retro_invalidate_order(tmp_path):
    """Exactly the r9 state: window shipped with never-green entries
    leading (on r1 evidence), the driver then writes r2 greening some
    head entries but hash-failing a non-first one.  The shipped order
    must still pass (judge-phase interpretation)."""
    oracle_keys = {"q1", "q2", "q3", "q4"}
    _write_round(tmp_path, 1, {"q1": True})
    window = ["q2", "q3", "q4", "q1"]  # never-green first, on r1 evidence
    assert never_green_order_ok(window, oracle_keys, repo=str(tmp_path))
    # driver writes r2: q3 stays hash-red (the cube scenario)
    _write_round(tmp_path, 2, {"q1": True, "q2": True, "q3": False, "q4": True})
    # build-phase-only evaluation now fails (q3 is the sole never-green
    # but sits at position 2) — the round-safe check must still pass
    assert never_green_order_ok(window, oracle_keys, repo=str(tmp_path))
    # a genuinely bad order fails under BOTH interpretations
    assert not never_green_order_ok(
        ["q1", "q2", "q3", "q4"], oracle_keys, repo=str(tmp_path)
    )


def test_round_artifact_does_not_retro_stale_freshness(tmp_path):
    """An entry green at ship time must not become a freshness violation
    merely because the driver wrote the current round's artifact."""
    registry = ["q_a", "q_b"]
    oracle_keys = {"q_a", "q_b"}
    _write_round(tmp_path, 1, {"q_a": True, "q_b": True})
    _write_round(tmp_path, 2, {"q_b": True})
    # window shipped for r3: q_a last green r1, current 3, max_age 2 -> ok
    window = ["q_b"]
    assert not window_debt_round_safe(
        registry, window, oracle_keys, repo=str(tmp_path)
    )
    # driver writes r3: build-phase current becomes 4 and q_a (last green
    # r1 <= 4-3) would be stale — judge-phase evaluation saves the tree
    _write_round(tmp_path, 3, {"q_b": True})
    assert not window_debt_round_safe(
        registry, window, oracle_keys, repo=str(tmp_path)
    )
    # but one MORE round of neglect is a real violation in both phases
    _write_round(tmp_path, 4, {"q_b": True})
    bad = window_debt_round_safe(registry, window, oracle_keys, repo=str(tmp_path))
    assert any("q_a" in b for b in bad), bad


def test_long_green_entries_rotate_at_half_cadence(tmp_path):
    """>= LONG_GREEN_THRESHOLD lifetime greens -> max_age 4: still fresh
    at a 3-4 round gap where a young entry would be stale."""
    registry = ["q_vet", "q_young"]
    oracle_keys = {"q_vet", "q_young"}
    for r in range(1, LONG_GREEN_THRESHOLD + 1):
        _write_round(tmp_path, r, {"q_vet": True, "q_young": r == LONG_GREEN_THRESHOLD})
    base = LONG_GREEN_THRESHOLD
    _write_round(tmp_path, base + 1, {})
    _write_round(tmp_path, base + 2, {})
    # current = base+3: q_vet last green base, gap 3 <= max_age 4 -> fresh;
    # q_young last green base with 1 lifetime green -> stale
    bad = window_debt(registry, [], oracle_keys, repo=str(tmp_path))
    assert not any("q_vet" in b for b in bad), bad
    assert any("q_young" in b for b in bad), bad


def test_capacity_threshold_fails_before_contract_breaks(tmp_path):
    """Projected demand (steady-state + expected-new) above 50 is a
    violation even when every entry is individually fresh."""
    n = 2 * (50 - EXPECTED_NEW_PER_ROUND + 1)  # young demand just over cap
    registry = [f"q{i}" for i in range(n)]
    oracle_keys = set(registry)
    _write_round(tmp_path, 1, {q: True for q in registry})
    green, _, _ = load_green_history(str(tmp_path))
    assert steady_state_demand(registry, oracle_keys, green) == n // 2
    bad = window_debt(registry, registry[:50], oracle_keys, repo=str(tmp_path))
    assert any("capacity" in b for b in bad), bad


def test_real_registry_has_capacity_headroom():
    green, _, _ = load_green_history()
    demand = steady_state_demand(
        list(e.all_queries()), set(e.oracle_sql()), green
    )
    assert demand + EXPECTED_NEW_PER_ROUND <= 50, demand


def test_real_window_survives_current_round_artifact(tmp_path):
    """VERDICT r9 #2's done-criterion: the gates must pass on a tree
    that contains THIS round's CORRECTNESS artifact — simulated by
    copying every committed artifact plus a synthetic next-round file
    recording plausible driver output for the shipped window (all green,
    and the worse case: one mid-window entry hash-red)."""
    import glob
    import shutil

    repo = str(REPO)
    for f in glob.glob(f"{repo}/CORRECTNESS_r*.json"):
        shutil.copy(f, tmp_path)
    _, _, current = load_green_history(str(tmp_path))
    registry = list(e.all_queries())
    window = list(e._DRIVER_WINDOW)
    oracle_keys = set(e.oracle_sql())
    for red in (None, window[len(window) // 2]):
        verdicts = {n: n != red for n in window}
        _write_round(tmp_path, current, verdicts)
        assert not window_debt_round_safe(
            registry, window, oracle_keys, repo=str(tmp_path)
        ), red
        assert never_green_order_ok(window, oracle_keys, repo=str(tmp_path)), red
