"""One-off scale experiment: a GloVe-1M-shaped corpus (1.18M x 100,
angular/cosine) against BASELINE.md's glove-100-angular rows
(`/root/reference/results.txt:148-154`: m=16 -> build 1,678 inserts/s,
search 21,876 q/s, recall@10 0.4847; the reference measures on real
GloVe — ours is a seeded synthetic stand-in, so recall values are
indicative, throughputs are directly comparable work rates).

The corpus is built to be angularly HARD like GloVe (whose recall at
M=16/ef=20 is only 0.48): low-dimensional cluster structure + large
isotropic noise means each query's true cosine top-10 spreads across
many clusters, and vector norms vary (cosine is not equivalent to L2
here — exercises the un-normalized cosine kernel path end to end).

Protocol mirrors tools/bench_sift1m.py / the reference benchmark
(`cmd/benchmark/ann-benchmark/main.go:279-307`): ONE resident graph,
concurrent inserts, in-process search across all cores.

Usage: python tools/bench_glove1m.py [N] [--rebuild]
Writes /tmp/anndb_bench_cache/glove1m_meta.json (bench.py reports it
under `extra` when present) and prints one JSON line.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import replace

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 7171
DIM = 100
N_CENTERS = 2048
NOISE = 1.0
# norms vary by ~lognormal like word-frequency-weighted embeddings;
# irrelevant to the angular metric but stresses the norm-handling path
NORM_SIGMA = 0.4
N_QUERIES = 10_000
TRUTH_QUERIES = 1_000
K = 10
CACHE_ROOT = "/tmp/anndb_bench_cache"
META_PATH = os.path.join(CACHE_ROOT, "glove1m_meta.json")


def _points(rng: np.ndarray, n: int, centers: np.ndarray):
    assign = rng.integers(0, N_CENTERS, n)
    x = centers[assign] + rng.normal(0, NOISE, (n, DIM)).astype(np.float32)
    scale = np.exp(rng.normal(0, NORM_SIGMA, n)).astype(np.float32)
    return x * scale[:, None]


def corpus(n: int):
    rng = np.random.default_rng(SEED)
    centers = rng.normal(0, 1.0, (N_CENTERS, DIM)).astype(np.float32)
    return _points(rng, n, centers).astype(np.float32)


def queries(nq: int):
    centers = np.random.default_rng(SEED).normal(
        0, 1.0, (N_CENTERS, DIM)
    ).astype(np.float32)
    rng = np.random.default_rng(SEED + 1)
    return _points(rng, nq, centers).astype(np.float32)


def exact_topk_cosine(mat: np.ndarray, q: np.ndarray, k: int, chunk: int = 64):
    """Blocked exact ground truth under the engine's cosine metric
    (|1 - dot/(|x||q|)| — the abs wrapper matches functions/spaces.py
    and the C beam kernel)."""
    xn = np.sqrt((mat.astype(np.float32) ** 2).sum(axis=1))
    out = np.empty((q.shape[0], k), dtype=np.int64)
    for s in range(0, q.shape[0], chunk):
        qc = q[s : s + chunk]
        qn = np.sqrt((qc**2).sum(axis=1))
        d = np.abs(1.0 - (qc @ mat.T) / (qn[:, None] * xn[None, :]))
        idx = np.argpartition(d, k, axis=1)[:, :k]
        row = np.take_along_axis(d, idx, axis=1)
        out[s : s + chunk] = np.take_along_axis(
            idx, np.argsort(row, axis=1, kind="stable"), axis=1
        )
    return out


def main():
    n = 1_183_514  # glove-100-angular train row count
    rebuild = "--rebuild" in sys.argv
    for a in sys.argv[1:]:
        if a.isdigit():
            n = int(a)

    from anndb_spark.operators import ckernel as _ck_mod
    from anndb_spark.operators import hnsw as _hnsw_mod
    from anndb_spark.operators.hnsw import (
        HnswConfig,
        HnswGraph,
        config_to_json,
        save_graph_partition,
        search_index_local,
    )
    from anndb_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    cfg = HnswConfig(m=16, ef_construction=500, heuristic=True, space="cosine")
    cfg = replace(cfg, heuristic_pool=0)

    kern = hashlib.sha1(
        open(_hnsw_mod.__file__, "rb").read() + open(_ck_mod.__file__, "rb").read()
    ).hexdigest()[:12]
    skey = hashlib.sha1(
        f"{config_to_json(cfg)}|{n}|{SEED}|{N_CENTERS}|{NOISE}|{NORM_SIGMA}|{kern}"
        .encode()
    ).hexdigest()[:16]
    sdir = os.path.join(CACHE_ROOT, f"glove1m_{skey}")
    smeta = os.path.join(sdir, "build_meta.json")

    print(f"[glove1m] corpus n={n} dim={DIM} ...", file=sys.stderr)
    t0 = time.perf_counter()
    mat = corpus(n)
    print(f"[glove1m] corpus in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    if rebuild and os.path.isdir(sdir):
        shutil.rmtree(sdir, ignore_errors=True)
    if os.path.exists(smeta):
        with open(smeta) as f:
            build_s = json.load(f)["build_s"]
        print(f"[glove1m] cached build artifact ({build_s}s)", file=sys.stderr)
    else:
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
        g = HnswGraph.build(mat, levels, cfg, workers=cpus)
        build_s = time.perf_counter() - t0
        print(
            f"[glove1m] build {n} in {build_s:.1f}s "
            f"({n/build_s:.0f} inserts/s)",
            file=sys.stderr,
        )
        tmp = f"{sdir}.tmp.{os.getpid()}"
        save_graph_partition(g, [str(i) for i in range(n)], tmp)
        with open(os.path.join(tmp, "build_meta.json"), "w") as f:
            json.dump({"build_s": round(build_s, 1)}, f)
        os.makedirs(CACHE_ROOT, exist_ok=True)
        try:
            os.rename(tmp, sdir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
        del g

    q = queries(N_QUERIES)
    qids = [str(i) for i in range(N_QUERIES)]

    spark = get_spark("anndb-glove1m", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    search_index_local(
        spark, sdir, (qids[:100], q[:100]), K, ef=20, config=cfg,
        strategy="beam",
    )
    print("[glove1m] exact ground truth ...", file=sys.stderr)
    truth = exact_topk_cosine(mat, q[:TRUTH_QUERIES], K)

    def leg(ef: int):
        s = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            tbl = search_index_local(
                spark, sdir, (qids, q), K, ef=ef, config=cfg,
                strategy="beam",
            )
            s = min(s, time.perf_counter() - t0)
        got: dict[str, set] = {}
        for qid, rid in zip(
            tbl.column("query_id").to_pylist(), tbl.column("id").to_pylist()
        ):
            got.setdefault(qid, set()).add(int(rid))
        hits = sum(
            len(got.get(str(i), set()) & set(truth[i].tolist()))
            for i in range(TRUTH_QUERIES)
        )
        return s, hits / (K * TRUTH_QUERIES)

    search_s, recall = leg(20)
    ef40_s, ef40_recall = leg(40)

    result = {
        "glove1m_n": n,
        "glove1m_dim": DIM,
        "glove1m_build_s": round(build_s, 1),
        "glove1m_build_inserts_per_s": round(n / build_s, 1),
        "glove1m_search_10kq_s": round(search_s, 3),
        "glove1m_search_q_per_s": round(N_QUERIES / search_s, 1),
        "glove1m_recall_at_10": round(recall, 4),
        "glove1m_ef40_search_q_per_s": round(N_QUERIES / ef40_s, 1),
        "glove1m_ef40_recall_at_10": round(ef40_recall, 4),
        "glove1m_config": f"m=16 efC=500 ef=20 k=10 {n}x{DIM} cosine",
        "baseline_glove_build_inserts_per_s_m16": 1678.0,
        "baseline_glove_search_q_per_s_m16": 21876.0,
        "baseline_glove_recall_at_10_m16": 0.4847,
        "artifact": sdir,
    }
    os.makedirs(CACHE_ROOT, exist_ok=True)
    with open(META_PATH, "w") as f:
        json.dump(result, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
