"""Determinism of the benchmark's input generators.

    python3 -m pytest perfbench/test_gen.py

The same seed must give byte-identical input and truth files; another
seed must change every family's inputs.
"""

import hashlib
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def write_all(out: str, seed: int) -> None:
    gen.write_vectors(os.path.join(out, "vectors"), seed, 400, 16, 30, join_left=25)
    gen.write_churn(os.path.join(out, "churn"), seed, 400, 8, 3, 30, 15, 15, 20)
    gen.write_text(os.path.join(out, "text"), seed, 400, n_probes=10)


def digests(out: str) -> dict[str, str]:
    """relative path -> sha256 of the file's bytes"""
    found = {}
    for root, _, files in os.walk(out):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                found[os.path.relpath(p, out)] = hashlib.sha256(fh.read()).hexdigest()
    return found


def test_same_seed_gives_identical_bytes(tmp_path):
    write_all(str(tmp_path / "a"), 7)
    write_all(str(tmp_path / "b"), 7)
    a, b = digests(str(tmp_path / "a")), digests(str(tmp_path / "b"))
    assert a and a == b


def test_other_seed_changes_every_input(tmp_path):
    write_all(str(tmp_path / "a"), 7)
    write_all(str(tmp_path / "b"), 8)
    a, b = digests(str(tmp_path / "a")), digests(str(tmp_path / "b"))
    assert set(a) == set(b)
    for name in ("vectors/corpus.parquet", "vectors/queries.parquet",
                 "churn/base.parquet", "churn/insert_r0.parquet",
                 "text/docs.parquet"):
        assert a[name] != b[name], name


def test_truth_matches_brute_force(tmp_path):
    out = str(tmp_path)
    gen.write_vectors(out, 3, 300, 8, 12)
    x = gen.clustered(3, 300, 8, "base")
    q = gen.clustered(3, 12, 8, "queries")
    d = ((q[:, None, :].astype(np.float64) - x[None, :, :]) ** 2).sum(-1)
    want = np.argsort(d, axis=1, kind="stable")[:, :10]
    assert (np.load(os.path.join(out, "truth.npy")) == want).all()


def test_churn_plan_model(tmp_path):
    meta = gen.write_churn(str(tmp_path), 5, 300, 8, 4, 20, 10, 10, 5)
    live = 300
    removed: set[str] = set()
    for r in meta["rounds"]:
        live += r["inserts"] - r["removes"]
        assert r["live"] == live
        assert not removed & set(r["removed"])
        removed |= set(r["removed"])
        assert [e for _, e in r["rejects"]] == ["ItemAlreadyExistsError", "ItemNotFoundError"]


def test_text_plants(tmp_path):
    meta = gen.write_text(str(tmp_path), 11, 600, n_probes=5)
    assert meta["near_pairs"] and all(a < b for a, b in meta["near_pairs"])
    assert 0 < meta["curate_survivors"] < 600
    assert len(meta["probes"]) == 5
    with open(os.path.join(str(tmp_path), "text.json")) as f:
        assert json.load(f)["curate_survivors"] == meta["curate_survivors"]
