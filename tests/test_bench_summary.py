"""bench.py's final stdout line must stay parseable inside the
driver's 2000-char tail (VERDICT r8 wrong #4): compact, valid JSON,
with the contract fields, whatever the extra payload grows to."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import compact_summary_line  # noqa: E402


def _timings(n=26):
    return {f"leg_{i:02d}_some_name": 1.2345678 for i in range(n)}


def test_compact_line_fits_tail_and_parses():
    extra = {
        "fm_search_q_per_s_matched_protocol": 114942.0,
        "fm_recall_at_10_single_graph": 0.945,
        "baseline_fm_search_q_per_s_m16": 26112.0,
        "sift1m": {"sift1m_search_q_per_s": 203034.3,
                   "sift1m_recall_at_10": 0.7088,
                   "sift1m_config": "m=16 efC=500"},
        "glove1m": {"glove1m_search_q_per_s": 189367.9,
                    "glove1m_recall_at_10": 0.849},
        # junk that must NOT leak into the compact line
        "fm_routed_curve_np2": "recall=0.9 q_per_s=100",
        "artifact": "/tmp/x" * 100,
    }
    line = compact_summary_line(31.8, _timings(), 0.1, extra)
    assert len(line) < 1500
    d = json.loads(line)
    assert d["metric"] == "anndb_spark_headline_runtime"
    assert d["unit"] == "sec" and d["sf"] == 0.1
    assert len(d["queries"]) == 26
    assert d["extra"]["sift1m_search_q_per_s"] == 203034.3
    assert "artifact" not in json.dumps(d)
    assert "fm_routed_curve_np2" not in d["extra"]


def test_overflow_guard_drops_extra_not_parseability():
    # pathological: hundreds of legs — the guard must still emit valid
    # JSON under the hard 1500-char cap (the driver reads a 2000-char
    # tail that also carries its own wrapping), truncating the queries
    # dict itself if dropping extra isn't enough
    for n_legs in (45, 80, 300):
        line = compact_summary_line(1.0, _timings(n_legs), 0.1,
                                    {"fm_recall_at_10": 0.9})
        d = json.loads(line)
        assert len(line) <= 1500
        assert d["value"] == 1.0 and d["unit"] == "sec" and d["sf"] == 0.1
        assert len(d["queries"]) >= 1
        if len(d["queries"]) < n_legs:
            assert d["queries_truncated"] is True


def test_extras_shed_least_important_first():
    """Near the cap, extras must degrade gradually in priority order —
    the r10 all-or-nothing guard silently dropped every baseline-compare
    number from the driver tail once the leg list grew past the flip."""
    extra = {
        "fm_search_q_per_s_matched_protocol": 140845.1,
        "fm_recall_at_10_single_graph": 0.945,
        "baseline_fm_search_q_per_s_m16": 26112.0,
        # a nested passthrough whose keys pack after the headline set
        "sift1m": {f"sift1m_search_q_per_s": 169915.3,
                   "sift1m_recall_at_10": 0.7088},
    }
    # enough legs that the full extras set cannot fit
    line = compact_summary_line(31.7, _timings(40), 0.1, extra)
    d = json.loads(line)
    assert len(line) <= 1500
    # the FIRST headline keys always survive while any extra fits
    if d["extra"]:
        assert "fm_search_q_per_s_matched_protocol" in d["extra"]
    # with few legs everything fits, in order
    line2 = compact_summary_line(31.7, _timings(5), 0.1, extra)
    d2 = json.loads(line2)
    assert list(d2["extra"])[0] == "fm_search_q_per_s_matched_protocol"
    assert d2["extra"]["sift1m_recall_at_10"] == 0.7088


def test_counters_packed_into_driver_record():
    """VERDICT r12 wrong #1: the host-independent work counters must
    reach the DRIVER record.  Six individual keys cannot all fit the
    1.5 KB budget next to the fm/baseline/host set (measured on the
    r13 local run: only one survived), so they ride as ONE packed
    "counters" key — which must carry every counter, ahead of the
    1M-corpus passthroughs, even at a realistic 33-leg line."""
    extra = {
        "fm_search_q_per_s_matched_protocol": 140845.1,
        "fm_recall_at_10_single_graph": 0.945,
        "fm_single_build_inserts_per_s": 5084.7,
        "fm_build_inserts_per_s": 11684.5,
        "fm_recall_at_10": 0.9548,
        "hnsw_build_inserts_per_s": 31238.2,
        "hnsw_search_q_per_s_beam": 969.9,
        "fm_search_q_per_s_routed": 588.6,
        "fm_recall_at_10_routed": 0.9556,
        "baseline_fm_search_q_per_s_m16": 26112.0,
        "baseline_fm_build_inserts_per_s_m16": 3382.0,
        "baseline_fm_recall_at_10_m16": 0.9453,
        "host_gflops_1t": 92.7,
        "host_gflops_all": 973.2,
        "host_membw_gbps": 5.8,
        "counter_knn_exact_dist_evals": 48_000_000,
        "counter_hnsw_scatter_graph_walks": 32_000,
        "counter_dedup_minhash_pairs": 3621,
        "counter_winnow_pairs": 512,
        "counter_dsir_corpus_grams": 12_345_678,
        "counter_bm25_batch_postings_rows": 98_765,
        "dedup1m": {"dedup1m_lsh_docs_per_s": 4565,
                    "dedup1m_lsh_recall": 0.8754},
    }
    # realistic leg count (33 in the r13 local record): the packed key
    # must survive with EVERY counter inside
    for n_legs in (5, 33):
        d = json.loads(compact_summary_line(73.6, _timings(n_legs), 0.1, extra))
        assert "counters" in d["extra"], (n_legs, list(d["extra"]))
        packed = d["extra"]["counters"]
        for ab, val in (
            ("kex", 48_000_000), ("walks", 32_000), ("mh", 3621),
            ("win", 512), ("dsir", 12_345_678), ("bm25", 98_765),
        ):
            assert f"{ab}={val}" in packed, (ab, packed)
        # the baseline-compare constants ride packed too (r10 lesson:
        # never drop them from the driver tail)
        assert d["extra"]["baseline_fm_m16"] == (
            "build=3382 search=26112 recall=0.9453"
        )
    # and the counters pack ahead of the 1M passthroughs
    d5 = json.loads(compact_summary_line(73.6, _timings(5), 0.1, extra))
    keys = list(d5["extra"])
    assert keys.index("counters") < keys.index("dedup1m_lsh_docs_per_s")


def test_host_calibration_in_process_wiring(monkeypatch):
    """_host_calibration must call tools.host_probe.probe IN-PROCESS
    and pass its keys through verbatim (r12: the old outer-subprocess
    shape shipped keyless records exactly when the host was contended
    — the probe had printed nothing when the outer timeout fired)."""
    from bench import _host_calibration
    from tools import host_probe

    sentinel = {"host_gflops_1t": 42.0, "host_membw_gbps": 7.0}
    monkeypatch.setattr(host_probe, "probe", lambda: sentinel)
    assert _host_calibration() == sentinel

    def boom():
        raise RuntimeError("probe bug")

    monkeypatch.setattr(host_probe, "probe", boom)
    assert _host_calibration() == {}  # guarded, never a crashed bench
