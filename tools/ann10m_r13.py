"""10M-vector ANN build + search decade record (VERDICT r12 task 1).

The dedup side of the scale table has 1M/5M/10M committed rows
(winnow, LSH); the index side stopped at 100k-build legs and the 1M
corpora (tools/bench_sift1m.py, bench_glove1m.py).  This tool commits
the missing cell: a 10M x 128 (sift-shaped, euclidean) CLUSTER-ROUTED
partitioned HNSW — the 100 TB serving shape, where the index is built
as ~n_clusters independent partition graphs (`build_index`,
hnsw.py:2373-era API) and a query's work is ``nprobe`` graph walks
with unprobed partition directories never entering the plan
(`search_index_path`).

Reference anchor: the baseline's own 1M-scale sift builds
(`/root/reference/results.txt:85-91`: m=16 -> 2,095 inserts/s,
32,052 q/s @ recall 0.7796 on one resident graph).  Our corpus is the
seeded synthetic sift-shaped stand-in bench_sift1m uses (1024 gaussian
centers, noise 1.0 — recall genuinely stressed at ef=20), so recalls
are indicative, throughputs are directly comparable work rates.

Two-phase process isolation (the winnow10m lesson: shuffle scratch and
JVM heap live until the process dies — at 10M, phases must not
co-reside):

  prep   — Spark synthesizes the corpus DISTRIBUTED (one rng per
           50k-row block, stable under repartitioning; only the tiny
           center matrix rides the closure) and writes it to parquet;
           exits.
  truth  — no JVM at all: pyarrow reads the corpus columns, blocked
           float32 GEMM computes exact top-10 for the first 1k
           queries (per-row introselect — the r12 allocation
           discipline), writes truth.npz; exits.
  build  — fresh JVM (SPARK_DRIVER_MEM=48g): k-means coarse quantizer
           (bounded 100k sample), `assign_clusters` +
           `build_index(partition_col="cluster_id")` + `save_index`
           timed as ONE unit (assign is lazy, so the timed action is
           the full "index this table" cost a user pays); exits.
  search — fresh JVM: warm, then (a) full-scatter beam search, 10k
           queries; (b) the routed nprobe sweep (2/4/8/16) with
           recall@10 vs the exact truth; headline routed point =
           smallest nprobe clearing recall 0.90 (the bench q13b
           convention).

Usage:
  python tools/ann10m_r13.py all     # runs every phase, probe-bracketed
  python tools/ann10m_r13.py prep|truth|build|search   [N]
Artifacts under /tmp/anndb_bench_cache/ann10m/; final meta mirrored to
tools/artifacts_r13/ann10m_meta.json by the ``all`` wrapper.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 4242
DIM = 128
N_CENTERS = 1024
NOISE = 1.0
BLOCK = 50_000
N_DEFAULT = 10_000_000
N_CLUSTERS = 64
N_QUERIES = 10_000
TRUTH_QUERIES = 1_000
K = 10
ROOT = "/tmp/anndb_bench_cache/ann10m"
CORPUS = os.path.join(ROOT, "corpus")
TRUTH = os.path.join(ROOT, "truth.npz")
CENTS = os.path.join(ROOT, "centroids.npy")
INDEX = os.path.join(ROOT, "index")
META = os.path.join(ROOT, "ann10m_meta.json")


def _centers() -> np.ndarray:
    return (
        np.random.default_rng(SEED)
        .normal(0, 1.0, (N_CENTERS, DIM))
        .astype(np.float32)
    )


def queries(nq: int) -> np.ndarray:
    """Held-out draws from the corpus distribution (bench_sift1m
    convention: perturbed-index-point queries are trivially easy)."""
    rng = np.random.default_rng(SEED + 1)
    centers = _centers()
    assign = rng.integers(0, N_CENTERS, nq)
    return (
        centers[assign] + rng.normal(0, NOISE, (nq, DIM)).astype(np.float32)
    ).astype(np.float32)


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def phase_prep(n: int) -> dict:
    import pandas as pd

    from anndb_spark.session import get_spark

    cpus = _cpus()
    spark = get_spark("anndb-ann10m-prep", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    centers = _centers()
    n_blocks = -(-n // BLOCK)

    def gen(batches):
        for pdf in batches:
            for b in pdf["id"].tolist():
                lo, hi = b * BLOCK, min((b + 1) * BLOCK, n)
                m = hi - lo
                r = np.random.default_rng((SEED, int(b)))
                assign = r.integers(0, N_CENTERS, m)
                mat = centers[assign] + r.normal(0, NOISE, (m, DIM)).astype(
                    np.float32
                )
                yield pd.DataFrame(
                    {
                        "id": [str(i) for i in range(lo, hi)],
                        "vector": list(mat.astype(np.float32)),
                    }
                )

    t0 = time.perf_counter()
    (
        spark.range(n_blocks)
        .repartition(cpus)
        .mapInPandas(gen, schema="id STRING, vector ARRAY<FLOAT>")
        .write.mode("overwrite")
        .parquet(CORPUS)
    )
    gen_s = time.perf_counter() - t0
    rows = spark.read.parquet(CORPUS).count()
    spark.stop()
    return {"prep_s": round(gen_s, 1), "rows": rows}


def _load_corpus_np() -> tuple[np.ndarray, np.ndarray]:
    """(ids, matrix) via pyarrow — list<float> flattened, no python
    objects per row."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(CORPUS, format="parquet").to_table(
        columns=["id", "vector"]
    )
    ids = np.asarray(tbl.column("id").to_numpy(zero_copy_only=False)).astype("U")
    vec = tbl.column("vector").combine_chunks()
    flat = vec.flatten().to_numpy(zero_copy_only=False).astype(
        np.float32, copy=False
    )
    return ids, flat.reshape(len(ids), DIM)


def phase_truth(n: int) -> dict:
    t0 = time.perf_counter()
    ids, mat = _load_corpus_np()
    load_s = time.perf_counter() - t0
    # SAME draw as the search phase, then slice: queries(nq) consumes
    # rng state proportional to nq (the integers draw), so
    # queries(1000) != queries(10000)[:1000] — truth must be computed
    # on the exact vectors the search phase sends
    q = queries(N_QUERIES)[:TRUTH_QUERIES]
    xn = np.einsum("ij,ij->i", mat, mat)  # rank-invariant: skip ||q||^2
    t0 = time.perf_counter()
    out = np.empty((TRUTH_QUERIES, K), dtype=np.int64)
    chunk = 128
    d = np.empty((chunk, mat.shape[0]), dtype=np.float32)
    for s in range(0, TRUTH_QUERIES, chunk):
        qc = q[s : s + chunk]
        dv = d[: qc.shape[0]]
        np.matmul(qc, mat.T, out=dv)
        np.multiply(dv, -2.0, out=dv)
        dv += xn[None, :]
        for i in range(qc.shape[0]):
            row = dv[i]
            idx = np.argpartition(row, K - 1)[:K]
            out[s + i] = idx[np.argsort(row[idx], kind="stable")]
    gemm_s = time.perf_counter() - t0
    truth_ids = ids[out]  # (1k, K) of string ids
    np.savez(TRUTH, truth_ids=truth_ids)
    return {"truth_load_s": round(load_s, 1), "truth_gemm_s": round(gemm_s, 1)}


def phase_build(n: int) -> dict:
    from pyspark.sql import functions as F

    from anndb_spark.operators.hnsw import HnswConfig, build_index, save_index
    from anndb_spark.operators.ivf import assign_clusters, train_centroids
    from anndb_spark.session import get_spark

    cpus = _cpus()
    spark = get_spark("anndb-ann10m-build", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(CORPUS)
    t0 = time.perf_counter()
    cent = train_centroids(corpus, N_CLUSTERS, sample_n=100_000)
    train_s = time.perf_counter() - t0
    np.save(CENTS, cent)
    cfg = HnswConfig(m=16, ef_construction=500, heuristic=True)
    # one timed unit = what a user pays for a searchable on-storage
    # index: cluster assignment (lazy, runs inside the build job),
    # 64 independent partition-graph builds, persist
    t0 = time.perf_counter()
    save_index(
        build_index(
            assign_clusters(corpus, cent),
            cfg,
            partition_col="cluster_id",
            num_tasks=N_CLUSTERS,
        ),
        INDEX,
    )
    build_s = time.perf_counter() - t0
    spark.stop()
    return {
        "train_centroids_s": round(train_s, 1),
        "build_s": round(build_s, 1),
        "build_inserts_per_s": round(n / build_s, 1),
        "config": f"m=16 efC=500 heuristic k-routed {N_CLUSTERS} clusters",
    }


def phase_search(n: int) -> dict:
    from anndb_spark.operators.hnsw import HnswConfig, search_index_path
    from anndb_spark.session import get_spark

    cpus = _cpus()
    spark = get_spark("anndb-ann10m-search", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = HnswConfig(m=16, ef_construction=500, heuristic=True)
    cent = np.load(CENTS)
    q = queries(N_QUERIES)
    qids = [str(i) for i in range(N_QUERIES)]
    truth = np.load(TRUTH, allow_pickle=False)["truth_ids"]
    truth_sets = [set(truth[i].tolist()) for i in range(TRUTH_QUERIES)]

    def recall(rows) -> float:
        got: dict[str, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["id"])
        hits = sum(
            len(got.get(str(i), set()) & truth_sets[i])
            for i in range(TRUTH_QUERIES)
        )
        return hits / (K * TRUTH_QUERIES)

    out: dict = {}
    # ---- full scatter (every partition walked per query) ------------
    search_index_path(  # warm: build /dev/shm graphs + worker handles
        spark, INDEX, (qids, q), K, ef=20, config=cfg, strategy="beam",
    ).collect()
    # the accuracy/throughput knob: ann-benchmark-style ef sweep (the
    # corpus is deliberately recall-stressed — 1024 overlapping
    # gaussians at noise 1.0, the bench_sift1m geometry)
    for ef in (20, 40, 80, 160):
        t0 = time.perf_counter()
        rows = search_index_path(
            spark, INDEX, (qids, q), K, ef=ef, config=cfg, strategy="beam",
        ).collect()
        dt = time.perf_counter() - t0
        rec = recall(rows)
        out[f"scatter_ef{ef}"] = f"recall={rec:.4f} q_per_s={N_QUERIES / dt:.0f}"
        if ef == 20:
            out["scatter_search_10kq_s"] = round(dt, 2)
            out["scatter_q_per_s"] = round(N_QUERIES / dt, 1)
            out["scatter_recall_at_10"] = round(rec, 4)
    # ---- routed sweep: per-query work = nprobe graph walks ----------
    routed_nprobe = None
    for np_probe in (2, 4, 8, 16):
        t0 = time.perf_counter()
        rows = search_index_path(
            spark, INDEX, (qids, q), K, centroids=cent, nprobe=np_probe,
            ef=20, config=cfg, strategy="beam",
        ).collect()
        dt = time.perf_counter() - t0
        rec = recall(rows)
        out[f"routed_np{np_probe}"] = (
            f"recall={rec:.4f} q_per_s={N_QUERIES / dt:.0f}"
        )
        if routed_nprobe is None and rec >= 0.90:
            routed_nprobe = np_probe
            out["routed_nprobe"] = np_probe
            out["routed_recall_at_10"] = round(rec, 4)
            out["routed_q_per_s"] = round(N_QUERIES / dt, 1)
    if routed_nprobe is None:
        out["routed_nprobe"] = "none cleared recall 0.90 (see curve)"
    spark.stop()
    return out


def main() -> None:
    os.makedirs(ROOT, exist_ok=True)
    phase = sys.argv[1] if len(sys.argv) > 1 else "all"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else N_DEFAULT
    if phase in ("prep", "truth", "build", "search"):
        res = {"prep": phase_prep, "truth": phase_truth,
               "build": phase_build, "search": phase_search}[phase](n)
        print(json.dumps({phase: res}))
        return
    # ---- wrapper: probe-bracketed subprocess per phase --------------
    from tools.host_probe import probe

    meta: dict = {
        "what": "10M ANN decade record (r13 task 1)",
        "n": n,
        "dim": DIM,
        "k": K,
        "n_queries": N_QUERIES,
        "truth_queries": TRUTH_QUERIES,
        "baseline_sift1m_build_inserts_per_s_m16": 2095.0,
        "baseline_sift1m_search_q_per_s_m16": 32052.0,
        "baseline_sift1m_recall_at_10_m16": 0.7796,
    }
    meta["probe_pre"] = probe()
    env = dict(os.environ, SPARK_DRIVER_MEM="48g")
    for ph in ("prep", "truth", "build", "search"):
        t0 = time.perf_counter()
        cp = subprocess.run(
            [sys.executable, os.path.abspath(__file__), ph, str(n)],
            capture_output=True, text=True, env=env,
        )
        wall = time.perf_counter() - t0
        if cp.returncode != 0:
            meta[f"{ph}_error"] = cp.stderr[-2000:]
            print(json.dumps(meta))
            sys.exit(1)
        last = cp.stdout.strip().splitlines()[-1]
        meta.update(json.loads(last)[ph])
        meta[f"{ph}_wall_s"] = round(wall, 1)
        if ph == "build":
            meta["probe_mid"] = probe()
    meta["probe_post"] = probe()
    with open(META, "w") as f:
        json.dump(meta, f)
    art = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "artifacts_r13"
    )
    os.makedirs(art, exist_ok=True)
    with open(os.path.join(art, "ann10m_meta.json"), "w") as f:
        json.dump(meta, f)
    print(json.dumps(meta))


if __name__ == "__main__":
    main()
