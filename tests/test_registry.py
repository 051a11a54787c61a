"""Driver-registry contract: the driver evaluates only the first 50
queries() entries (observed r7), so the window must stay <=50, stay a
subset of all_queries(), keep every oracle pair consistent, and follow
the rotation policy (never-driver-green entries first; freshness debt
enforced by tools/window_gate.py, which has its own test module)."""

import sys
from pathlib import Path

import __spark_entry__ as e

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from window_gate import never_green_order_ok  # noqa: E402


def test_window_size_and_membership():
    q = e.queries()
    aq = e.all_queries()
    assert len(q) <= 50
    assert set(q) <= set(aq)


def test_oracle_keys_match_registry():
    aq = e.all_queries()
    o = e.oracle_sql()
    # oracles only for registered queries; oracle-less rows are the
    # documented five (recall metrics + approximate PQ/IVFPQ legs)
    assert set(o) <= set(aq)
    assert set(aq) - set(o) == {
        "ann_recall_at10", "ivf_recall_at10", "ann_routed_recall_at10",
        "pq_adc_embeddings_top10", "ivfpq_embeddings_top10",
    }


def test_window_order_puts_never_green_first():
    """Entries with no driver-green row in ANY recorded round lead the
    window, so a truncated evaluation still reaches them first.  Checked
    under both phase interpretations (window_gate.never_green_order_ok):
    the r9 defect was judging the shipped order against the driver
    artifact written AFTER the order was shipped."""
    assert never_green_order_ok(list(e.queries()), set(e.oracle_sql()))
