"""IVFPQ at 1M scale: does the "billion-scale layout" claim hold a
bench?  Same SIFT-1M-shaped corpus as tools/bench_sift1m.py (1M × 128,
euclidean, seeded synthetic), driven through the REAL artifact path:

    corpus parquet → build_ivfpq (train + distributed residual encode,
    hive-partitioned codes) → search_ivfpq (driver-routed cells,
    worker-cached codes, ADC LUT scan) ± exact rerank (IVFADC+R)

Legs recorded (to /tmp/anndb_bench_cache/pq1m_meta.json, reported by
bench.py under ``extra.pq1m``):

* build: train+encode wall time, codes bytes vs raw vector bytes
* nprobe sweep × {adc, rerank}: recall@10 + q/s on 10k queries
* flat exact-GEMM scan on the same queries (the brute-force floor)
* headline: best (q/s, recall) point clearing recall ≥ 0.90

Usage: python tools/bench_pq1m.py [N] [--rebuild] [--geometry blobs|manifold]

``--geometry manifold`` swaps in the recall-calibrated smooth corpus
(tools/recall_curve.py, intrinsic dim 18 — the one whose HNSW
recall-vs-M curve matches real SIFT): isolates how much of the ADC
recall ceiling is the blob corpus' full-rank isotropic residuals
(hard to quantize) vs the codec itself.  The official meta record
(pq1m_meta.json) is written only for the default blobs geometry.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_sift1m import (  # noqa: E402
    CACHE_ROOT,
    DIM,
    K,
    N_QUERIES,
    SEED,
    TRUTH_QUERIES,
    corpus,
    exact_topk,
    queries,
)

META_PATH = os.path.join(CACHE_ROOT, "pq1m_meta.json")
N_CELLS = 1024
M_SUB = 16          # 16 subquantizers × 8 dims
N_CODE = 256        # 8-bit codes -> 16 bytes/vector vs 512 raw (32×)


def _write_corpus_parquet(mat: np.ndarray, path: str) -> None:
    """Arrow-direct write (id, vector) — the realistic ingest artifact;
    row-group sized so Spark's scan parallelizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = mat.shape[0]
    ids = pa.array([str(i) for i in range(n)], pa.string())
    flat = pa.array(mat.reshape(-1), pa.float32())
    vecs = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(
        pa.list_(pa.float32())
    )
    tbl = pa.table({"id": ids, "vector": vecs})
    pq.write_table(tbl, path, row_group_size=65536)


def main():
    import argparse

    ap = argparse.ArgumentParser(
        description="PQ/IVFPQ 1M-corpus benchmark (ADVICE r9: argparse "
        "instead of hand-rolled argv scanning)"
    )
    ap.add_argument("n", nargs="?", type=int, default=1_000_000,
                    help="corpus size (default 1M)")
    ap.add_argument("--rebuild", action="store_true",
                    help="ignore cached artifacts")
    ap.add_argument("--geometry", default="blobs",
                    choices=["blobs", "manifold"],
                    help="corpus geometry (default blobs)")
    opts = ap.parse_args()
    n, rebuild, geometry = opts.n, opts.rebuild, opts.geometry

    from anndb_spark.operators import ivfpq as _ivfpq_mod
    from anndb_spark.operators import pq as _pq_mod
    from anndb_spark.operators.ivfpq import (
        build_ivfpq,
        load_ivfpq_config,
        search_ivfpq,
    )
    from anndb_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    kern = hashlib.sha1(
        open(_pq_mod.__file__, "rb").read()
        + open(_ivfpq_mod.__file__, "rb").read()
    ).hexdigest()[:12]
    skey = hashlib.sha1(
        f"pq1m|{geometry}|{n}|{SEED}|{N_CELLS}|{M_SUB}|{N_CODE}|{kern}".encode()
    ).hexdigest()[:16]
    adir = os.path.join(CACHE_ROOT, f"pq1m_{skey}")
    corpus_pq = os.path.join(
        CACHE_ROOT, f"pq1m_corpus_{geometry}_{n}_{SEED}.parquet"
    )

    print(f"[pq1m] corpus n={n} dim={DIM} geometry={geometry} ...",
          file=sys.stderr)
    if geometry == "blobs":
        mat = corpus(n)
        q_all = queries(N_QUERIES).astype(np.float32)
    elif geometry == "manifold":
        from tools.recall_curve import make_corpus

        mat, q_all = make_corpus(
            n, N_QUERIES, "manifold", noise=0.05, eff_rank=18
        )
    else:
        raise ValueError(f"unknown geometry {geometry!r}")
    os.makedirs(CACHE_ROOT, exist_ok=True)
    if not os.path.exists(corpus_pq):
        t0 = time.perf_counter()
        _write_corpus_parquet(mat, corpus_pq)
        print(
            f"[pq1m] corpus parquet in {time.perf_counter()-t0:.1f}s",
            file=sys.stderr,
        )

    spark = get_spark("anndb-pq1m", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    vectors = spark.read.parquet(corpus_pq)

    if rebuild and os.path.isdir(adir):
        shutil.rmtree(adir, ignore_errors=True)
    bmeta_p = os.path.join(adir, "bench_build.json")
    if os.path.exists(bmeta_p):
        build_s = json.load(open(bmeta_p))["build_s"]
        print(f"[pq1m] cached artifact ({build_s}s)", file=sys.stderr)
    else:
        t0 = time.perf_counter()
        build_ivfpq(
            vectors, adir, n_cells=N_CELLS, m=M_SUB, n_centroids=N_CODE,
            sample_n=100_000, seed=SEED,
        )
        build_s = round(time.perf_counter() - t0, 1)
        with open(bmeta_p, "w") as f:
            json.dump({"build_s": build_s}, f)
        print(
            f"[pq1m] build {n} in {build_s}s ({n/build_s:.0f} rows/s)",
            file=sys.stderr,
        )

    cent, books, _meta = load_ivfpq_config(spark, adir)
    q = q_all
    qids = [str(i) for i in range(N_QUERIES)]
    print("[pq1m] exact ground truth ...", file=sys.stderr)
    t0 = time.perf_counter()
    truth = exact_topk(mat, q[:TRUTH_QUERIES], K)
    flat_s_1k = time.perf_counter() - t0  # brute-force floor, 1k queries

    def recall_of(df) -> float:
        got: dict[str, set] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(int(r["id"]))
        hits = sum(
            len(got.get(str(i), set()) & set(truth[i].tolist()))
            for i in range(TRUTH_QUERIES)
        )
        return hits / (K * TRUTH_QUERIES)

    rerank_src = vectors  # (id, vector) float table for IVFADC+R

    result = {
        "pq1m_n": n,
        "pq1m_dim": DIM,
        "pq1m_cells": N_CELLS,
        "pq1m_m": M_SUB,
        "pq1m_build_s": build_s,
        "pq1m_code_bytes_per_vec": M_SUB,
        "pq1m_raw_bytes_per_vec": DIM * 4,
        "pq1m_flat_gemm_q_per_s": round(TRUTH_QUERIES / flat_s_1k, 1),
    }
    best = (0.0, 0.0, None)  # (q_per_s, recall, label) at recall>=0.90
    # legs: ADC-only nprobe sweep (code-resolution ceiling), rerank at
    # the default shortlist (5k), and a shortlist sweep at nprobe=8 —
    # at 1M the SHORTLIST is the recall knob (ADC plateaus by nprobe=4;
    # P(true neighbor in the ADC top-S) is what rerank converts)
    legs = [(npb, rr, None) for npb in (1, 2, 4, 8, 16, 32)
            for rr in (False, True)]
    legs += [(8, True, sl) for sl in (100, 200, 500, 1000)]
    for nprobe, rerank, sl in legs:
            kwargs = dict(
                k=K, nprobe=nprobe, centroids=cent, codebooks=books,
                # ~1k-row cells: pack work so ~2 tasks/core, not 1 task
                # per probed cell (scheduling would dominate the ADC)
                cells_per_task=max(1, N_CELLS // (2 * cpus)),
            )
            if rerank:
                kwargs.update(rerank_with=rerank_src, shortlist=sl or 5 * K)
            label = f"np{nprobe}{'_rr' if rerank else ''}" + (
                f"_sl{sl}" if sl else ""
            )
            # recall on the truth prefix (cheap), then timed full batch;
            # first timed pass warms the worker codes cache, report best
            # of 2 (same convention as bench_sift1m's cold-mmap note)
            rec = recall_of(
                search_ivfpq(spark, adir, (qids[:TRUTH_QUERIES],
                                           q[:TRUTH_QUERIES]), **kwargs)
            )
            s = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                search_ivfpq(spark, adir, (qids, q), **kwargs).count()
                s = min(s, time.perf_counter() - t0)
            qps = round(N_QUERIES / s, 1)
            result[f"pq1m_{label}_q_per_s"] = qps
            result[f"pq1m_{label}_recall_at_10"] = round(rec, 4)
            print(f"[pq1m] {label}: recall={rec:.4f} {qps} q/s",
                  file=sys.stderr)
            if rec >= 0.90 and qps > best[0]:
                best = (qps, round(rec, 4), label)
    if best[2] is not None:
        result["pq1m_best_q_per_s"] = best[0]
        result["pq1m_best_recall_at_10"] = best[1]
        result["pq1m_best_config"] = best[2]
    # flat-HNSW comparison if the sift1m experiment has run on this host
    try:
        s1 = json.load(open(os.path.join(CACHE_ROOT, "sift1m_meta.json")))
        result["pq1m_vs_hnsw_q_per_s"] = s1.get("sift1m_search_q_per_s")
        result["pq1m_vs_hnsw_recall_at_10"] = s1.get("sift1m_recall_at_10")
    except (OSError, ValueError):
        pass
    result["pq1m_geometry"] = geometry
    if geometry == "blobs":  # the official bench.py passthrough record
        with open(META_PATH, "w") as f:
            json.dump(result, f)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
