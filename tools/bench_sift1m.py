"""One-off scale experiment: a SIFT-1M-shaped corpus (1M x 128,
euclidean) against BASELINE.md's sift-128-euclidean rows
(`/root/reference/results.txt:85-91`: m=16 -> build 2,095 inserts/s,
search 32,052 q/s, recall@10 0.7796; the reference measures on real
SIFT — ours is a seeded synthetic stand-in with a clustered geometry,
so recall values are indicative, throughputs are directly comparable
work rates).

Protocol mirrors the reference benchmark's literal shape
(`cmd/benchmark/ann-benchmark/main.go:279-307`): ONE resident graph,
built with concurrent inserts (our fork-parallel wave build), searched
in-process across all cores (our `search_index_local` — same C kernel
as the Spark serving tasks).

Usage: python tools/bench_sift1m.py [N] [--rebuild]
Writes results JSON to /tmp/anndb_bench_cache/sift1m_meta.json (bench.py
reports them under `extra` when present) and prints one JSON line.
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

SEED = 4242
DIM = 128
N_CENTERS = 1024
# cluster overlap tuned so ef=20 search is genuinely stressed (recall
# well below 1.0, like real SIFT at m=16/ef=20 -> 0.7796): center
# spread ~N(0,1) with per-point noise comparable to the inter-center
# distance leaves each query's true top-10 spread across clusters
NOISE = 1.0
N_QUERIES = 10_000
TRUTH_QUERIES = 1_000
K = 10
CACHE_ROOT = "/tmp/anndb_bench_cache"
META_PATH = os.path.join(CACHE_ROOT, "sift1m_meta.json")


def corpus(n: int):
    rng = np.random.default_rng(SEED)
    centers = rng.normal(0, 1.0, (N_CENTERS, DIM)).astype(np.float32)
    assign = rng.integers(0, N_CENTERS, n)
    mat = centers[assign] + rng.normal(0, NOISE, (n, DIM)).astype(np.float32)
    return mat.astype(np.float32)


def queries(nq: int):
    """Independent draws from the corpus distribution (real
    ann-benchmarks query sets are held-out samples, not perturbations
    of indexed points — perturbed queries are trivially easy)."""
    rng = np.random.default_rng(SEED + 1)
    centers = np.random.default_rng(SEED).normal(
        0, 1.0, (N_CENTERS, DIM)
    ).astype(np.float32)
    assign = rng.integers(0, N_CENTERS, nq)
    q = centers[assign] + rng.normal(0, NOISE, (nq, DIM)).astype(np.float32)
    return q.astype(np.float32)


def exact_topk(mat: np.ndarray, q: np.ndarray, k: int, chunk: int = 64):
    """Blocked-GEMM exact ground truth (float32, ||x||^2 - 2 q.x)."""
    xn = (mat.astype(np.float32) ** 2).sum(axis=1)
    out = np.empty((q.shape[0], k), dtype=np.int64)
    for s in range(0, q.shape[0], chunk):
        qc = q[s : s + chunk]
        d = xn[None, :] - 2.0 * (qc @ mat.T)
        idx = np.argpartition(d, k, axis=1)[:, :k]
        row = np.take_along_axis(d, idx, axis=1)
        out[s : s + chunk] = np.take_along_axis(
            idx, np.argsort(row, axis=1, kind="stable"), axis=1
        )
    return out


def main():
    n = 1_000_000
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
    cfg = HnswConfig(m=16, ef_construction=500, heuristic=True)
    cfg = replace(cfg, heuristic_pool=0)

    kern = hashlib.sha1(
        open(_hnsw_mod.__file__, "rb").read() + open(_ck_mod.__file__, "rb").read()
    ).hexdigest()[:12]
    skey = hashlib.sha1(
        f"{config_to_json(cfg)}|{n}|{SEED}|{N_CENTERS}|{NOISE}|{kern}".encode()
    ).hexdigest()[:16]
    sdir = os.path.join(CACHE_ROOT, f"sift1m_{skey}")
    smeta = os.path.join(sdir, "build_meta.json")

    print(f"[sift1m] corpus n={n} dim={DIM} ...", file=sys.stderr)
    t0 = time.perf_counter()
    mat = corpus(n)
    print(f"[sift1m] corpus in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    if rebuild and os.path.isdir(sdir):
        shutil.rmtree(sdir, ignore_errors=True)
    if os.path.exists(smeta):
        with open(smeta) as f:
            build_s = json.load(f)["build_s"]
        print(f"[sift1m] cached build artifact ({build_s}s)", file=sys.stderr)
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
            f"[sift1m] build {n} in {build_s:.1f}s "
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

    spark = get_spark("anndb-sift1m", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm (loads the graph into the driver-local cache), then time
    search_index_local(
        spark, sdir, (qids[:100], q[:100]), K, ef=20, config=cfg,
        strategy="beam",
    )
    print("[sift1m] exact ground truth ...", file=sys.stderr)
    truth = exact_topk(mat, q[:TRUTH_QUERIES], K)

    def leg(ef: int):
        # min-of-2: the first full pass through a cold mmap pays page
        # faults over the whole graph, not search cost
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
    q_per_s = N_QUERIES / search_s
    # the accuracy/throughput knob: one more point up the ef curve
    ef40_s, ef40_recall = leg(40)

    result = {
        "sift1m_n": n,
        "sift1m_dim": DIM,
        "sift1m_build_s": round(build_s, 1),
        "sift1m_build_inserts_per_s": round(n / build_s, 1),
        "sift1m_search_10kq_s": round(search_s, 3),
        "sift1m_search_q_per_s": round(q_per_s, 1),
        "sift1m_recall_at_10": round(recall, 4),
        "sift1m_ef40_search_q_per_s": round(N_QUERIES / ef40_s, 1),
        "sift1m_ef40_recall_at_10": round(ef40_recall, 4),
        "sift1m_config": f"m=16 efC=500 ef=20 k=10 {n}x{DIM} euclidean",
        "baseline_sift_build_inserts_per_s_m16": 2095.0,
        "baseline_sift_search_q_per_s_m16": 32052.0,
        "baseline_sift_recall_at_10_m16": 0.7796,
        "artifact": sdir,
    }
    os.makedirs(CACHE_ROOT, exist_ok=True)
    with open(META_PATH, "w") as f:
        json.dump(result, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
