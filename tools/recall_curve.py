"""Recall-vs-M curve calibration against the reference's published
SIFT sweep (VERDICT r8 task 3).

The reference measured sift-128-euclidean at M=4..96, ef=20
(`/root/reference/results.txt:64-126`):

    M:      4       8       12      16      24      36
    recall: 0.3488  0.5859  0.7168  0.7796  0.8361  0.8921

Our 1M synthetic stand-in (isotropic Gaussian blobs, NOISE=1.0) gives
0.7088 at M=16 — close, but the open question was whether the CURVE
SHAPE matches, i.e. whether the synthetic geometry stresses the graph
the way real SIFT does.  Real SIFT has a low local intrinsic
dimensionality (~12–16 effective directions out of 128); isotropic
noise has local ID ≈ 128, which punishes small-M graphs much harder.

This tool builds graphs at several M values over parameterized corpus
geometries and reports recall@10 at matched ef, entirely in-process
(no Spark — recall is a property of the graph, not the serving path):

* ``blobs``    — centers + isotropic noise (the bench_sift1m geometry)
* ``lowdim``   — centers + anisotropic noise through a shared linear
  map with eigenvalue spectrum λ_j ∝ exp(-j/eff_rank): local ID ≈
  eff_rank, global spread unchanged (renormalized to match the
  isotropic noise energy)
* ``manifold`` — x = tanh(W z + b) for an eff_rank-dim latent z: a
  SMOOTH connected manifold (no cluster islands), intrinsic dim =
  eff_rank, plus ``noise``·N(0, I) ambient jitter.  Real SIFT is a
  continuum with low local intrinsic dimension; the island geometries
  above produce recall-vs-M curves that are non-monotone at 1M
  (cluster-hopping failures at mid M), which real SIFT never shows.

Usage:
  python tools/recall_curve.py [--n 200000] [--geometry lowdim]
      [--eff-rank 16] [--noise 1.0] [--m 4,8,12,16] [--ef 20]
      [--out /tmp/recall_curve.json]
Prints one JSON line; baseline deltas included when M values overlap
the reference sweep.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_sift1m import DIM, N_CENTERS, SEED, exact_topk  # noqa: E402

BASELINE = {4: 0.3488, 8: 0.5859, 12: 0.7168, 16: 0.7796,
            24: 0.8361, 36: 0.8921, 48: 0.9177, 64: 0.9369, 96: 0.9569}
K = 10


def make_corpus(
    n: int,
    nq: int,
    geometry: str,
    noise: float,
    eff_rank: int,
    n_centers: int = N_CENTERS,
    mix_anchors: int = 64,
    mix_alpha: float = 1.0,
    mix_sigma: float = 0.75,
    mix_scale: float = 0.5,
):
    """(corpus, queries): queries are independent draws from the same
    distribution (held-out, like real ann-benchmarks query sets)."""
    rng = np.random.default_rng(SEED)
    centers = rng.normal(0, 1.0, (n_centers, DIM)).astype(np.float32)
    if geometry == "lowdim":
        # shared anisotropic map: spectrum exp(-j/eff_rank), scaled so
        # total noise energy equals the isotropic case (trace parity —
        # the clusters overlap as much as before; only the local
        # intrinsic dimension changes)
        g = np.random.default_rng(SEED + 3)
        q_mat, _ = np.linalg.qr(g.normal(0, 1, (DIM, DIM)))
        spec = np.exp(-np.arange(DIM) / float(eff_rank))
        spec *= np.sqrt(DIM / (spec ** 2).sum())
        W = (q_mat * spec[None, :]).astype(np.float32)  # cols scaled
    elif geometry == "blobs":
        W = None
    elif geometry == "manifold":
        g = np.random.default_rng(SEED + 4)
        Wm = (g.normal(0, 1, (DIM, eff_rank)) / np.sqrt(eff_rank)).astype(
            np.float32
        )
        bm = g.normal(0, 1, DIM).astype(np.float32)

        def draw_manifold(m: int, seed: int) -> np.ndarray:
            r = np.random.default_rng(seed)
            z = r.normal(0, 1, (m, eff_rank)).astype(np.float32)
            x = np.tanh(z @ Wm.T + bm[None, :])
            if noise > 0:
                x = x + r.normal(0, noise, (m, DIM)).astype(np.float32)
            return x.astype(np.float32)

        return draw_manifold(n, SEED + 10), draw_manifold(nq, SEED + 11)
    elif geometry == "mixture":
        # heavy-tailed DENSITY on the same tanh manifold (PLANS r9
        # finding 3: uniform latent density fragments an M=4 graph
        # where real SIFT's dense cores keep it navigable).  Latent
        # points cluster around J anchors with power-law popularity
        # (alpha) and lognormal per-point radial scales (sigma): dense
        # cores + sparse tails.  Same ambient map (SEED+4) as
        # 'manifold', so only the density changes.
        g = np.random.default_rng(SEED + 4)
        Wm = (g.normal(0, 1, (DIM, eff_rank)) / np.sqrt(eff_rank)).astype(
            np.float32
        )
        bm = g.normal(0, 1, DIM).astype(np.float32)
        ga = np.random.default_rng(SEED + 5)
        anchors = ga.normal(0, 1.0, (mix_anchors, eff_rank)).astype(
            np.float32
        )
        w = 1.0 / np.arange(1, mix_anchors + 1) ** mix_alpha
        w /= w.sum()

        def draw_mixture(m: int, seed: int) -> np.ndarray:
            r = np.random.default_rng(seed)
            j = r.choice(mix_anchors, size=m, p=w)
            s = (
                np.exp(r.normal(0, mix_sigma, m)).astype(np.float32)
                * mix_scale
            )
            z = anchors[j] + s[:, None] * r.normal(
                0, 1, (m, eff_rank)
            ).astype(np.float32)
            x = np.tanh(z @ Wm.T + bm[None, :])
            if noise > 0:
                x = x + r.normal(0, noise, (m, DIM)).astype(np.float32)
            return x.astype(np.float32)

        return draw_mixture(n, SEED + 10), draw_mixture(nq, SEED + 11)
    else:
        raise ValueError(f"unknown geometry {geometry!r}")

    def draw(m: int, seed: int) -> np.ndarray:
        r = np.random.default_rng(seed)
        assign = r.integers(0, n_centers, m)
        z = r.normal(0, noise, (m, DIM)).astype(np.float32)
        if W is not None:
            z = z @ W.T
        return (centers[assign] + z).astype(np.float32)

    return draw(n, SEED + 10), draw(nq, SEED + 11)


def curve(
    mat: np.ndarray,
    q: np.ndarray,
    m_values: list[int],
    ef: int,
    workers: int,
) -> dict[int, float]:
    from dataclasses import replace

    from anndb_spark.operators.hnsw import HnswConfig, HnswGraph

    n = mat.shape[0]
    truth = exact_topk(mat, q, K)
    out: dict[int, float] = {}
    for m in m_values:
        cfg = replace(
            HnswConfig(m=m, ef_construction=500, heuristic=True),
            heuristic_pool=0,
        )
        lr = np.random.default_rng(SEED + 7)
        levels = (
            np.floor(
                -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12))
                * cfg.level_multiplier
            )
            .astype(int)
            .tolist()
        )
        t0 = time.perf_counter()
        g = HnswGraph.build(mat, levels, cfg, workers=workers)
        build_s = time.perf_counter() - t0
        ids, _d = g.search_fast_batch(q, K, ef=ef, threads=workers)
        hits = sum(
            len(set(ids[qi].tolist()) & set(truth[qi].tolist()))
            for qi in range(q.shape[0])
        )
        rec = hits / (K * q.shape[0])
        out[m] = round(rec, 4)
        print(
            f"[curve] M={m}: recall@10={rec:.4f} (ef={ef}, "
            f"build {build_s:.0f}s, {n/build_s:.0f} inserts/s)",
            file=sys.stderr,
        )
        del g
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--nq", type=int, default=1_000)
    ap.add_argument("--geometry", default="lowdim",
                    choices=["blobs", "lowdim", "manifold", "mixture"])
    ap.add_argument("--eff-rank", type=int, default=16)
    ap.add_argument("--noise", type=float, default=1.0)
    ap.add_argument("--n-centers", type=int, default=N_CENTERS)
    ap.add_argument("--mix-anchors", type=int, default=64)
    ap.add_argument("--mix-alpha", type=float, default=1.0)
    ap.add_argument("--mix-sigma", type=float, default=0.75)
    ap.add_argument("--mix-scale", type=float, default=0.5)
    ap.add_argument("--m", default="4,8,12,16")
    ap.add_argument("--ef", type=int, default=20)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    workers = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    m_values = [int(x) for x in args.m.split(",")]
    mat, q = make_corpus(
        args.n, args.nq, args.geometry, args.noise, args.eff_rank,
        args.n_centers, args.mix_anchors, args.mix_alpha,
        args.mix_sigma, args.mix_scale,
    )
    rc = curve(mat, q, m_values, args.ef, workers)
    deltas = {
        m: round(rc[m] - BASELINE[m], 4) for m in m_values if m in BASELINE
    }
    result = {
        "n": args.n,
        "geometry": args.geometry,
        "eff_rank": (
            args.eff_rank
            if args.geometry in ("lowdim", "manifold", "mixture")
            else None
        ),
        "mixture_params": (
            {
                "anchors": args.mix_anchors,
                "alpha": args.mix_alpha,
                "sigma": args.mix_sigma,
                "scale": args.mix_scale,
            }
            if args.geometry == "mixture"
            else None
        ),
        "noise": args.noise,
        "n_centers": args.n_centers,
        "ef": args.ef,
        "recall_by_m": rc,
        "baseline_delta_by_m": deltas,
        "within_003": sum(1 for d in deltas.values() if abs(d) <= 0.03),
    }
    print(json.dumps(result))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f)


if __name__ == "__main__":
    main()
