"""HNSW tests — differential vs brute force (the reference's key pattern,
`index/hnsw_test.go:21-54`), degree-cap structure, persistence round-trip
(`index/hnsw_persistence_test.go`), and the distributed build/search path."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from anndb_spark.operators.hnsw import (
    HnswConfig,
    HnswGraph,
    _dist_many,
    _hit_lists,
    build_index,
    search_index,
)
from tests.hnsw_oracle import search, search_fast


@pytest.fixture(scope="module")
def kernel_graph():
    rng = np.random.default_rng(1)
    mat = rng.normal(0, 10, (1000, 32)).astype(np.float32)
    cfg = HnswConfig(m=16, ef_construction=100)
    levels = [HnswGraph(32, cfg).random_level(float(u)) for u in rng.random(1000)]
    return HnswGraph.build(mat, levels, cfg), mat, cfg


def test_search_vs_brute_force(kernel_graph):
    g, mat, _ = kernel_graph
    rng = np.random.default_rng(2)
    hits = 0
    for _ in range(50):
        q = rng.normal(0, 10, 32).astype(np.float32)
        got = {n for _, n in search(g, q, 10, ef=100)}
        exact = set(np.argsort(_dist_many("euclidean", mat, q), kind="stable")[:10].tolist())
        hits += len(got & exact)
    assert hits / 500 >= 0.9


def test_degree_caps(kernel_graph):
    g, _, cfg = kernel_graph
    for nbrs in g.adj:
        for lvl, ns in nbrs.items():
            assert len(ns) <= (cfg.m_max_0 if lvl == 0 else cfg.m_max)


def test_edges_bidirectional(kernel_graph):
    g, _, _ = kernel_graph
    for i, nbrs in enumerate(g.adj):
        for lvl, ns in nbrs.items():
            for n in ns:
                assert i in g.adj[n].get(lvl, set()), (i, n, lvl)


def test_incremental_insert_matches_semantics():
    cfg = HnswConfig(m=4, ef_construction=32)
    g = HnswGraph(4, cfg)
    rng = np.random.default_rng(3)
    for _ in range(100):
        g.insert_many([rng.normal(0, 1, 4)], [g.random_level()])
    assert g.entrypoint >= 0
    assert g.levels[g.entrypoint] == max(g.levels)
    q = rng.normal(0, 1, 4).astype(np.float32)
    res = search(g, q, 5, ef=64)
    assert len(res) == 5
    assert [d for d, _ in res] == sorted(d for d, _ in res)


def test_heuristic_selection_mode():
    cfg = HnswConfig(m=8, ef_construction=64, heuristic=True, extend_candidates=True)
    rng = np.random.default_rng(4)
    mat = rng.normal(0, 1, (300, 16)).astype(np.float32)
    g = HnswGraph.build(mat, [0] * 300, cfg)
    q = rng.normal(0, 1, 16).astype(np.float32)
    got = {n for _, n in search(g, q, 10, ef=80)}
    exact = set(np.argsort(_dist_many("euclidean", mat, q), kind="stable")[:10].tolist())
    assert len(got & exact) >= 8


@pytest.fixture(scope="module")
def spark_index(spark):
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("embedding").alias("vector"),
            F.pmod(F.col("vec_id"), F.lit(4)).cast("int").alias("partition_id"),
        )
    )
    cfg = HnswConfig(m=16, ef_construction=100)
    idx = build_index(emb, cfg).cache()
    idx.count()
    return emb, idx, cfg


def test_build_index_structure(spark, spark_index):
    emb, idx, cfg = spark_index
    kinds = {r["kind"]: r["cnt"] for r in idx.groupBy("kind").agg(F.count("*").alias("cnt")).collect()}
    n = emb.count()
    assert kinds["vertex"] == n
    assert kinds["entry"] == 4  # one entrypoint per partition
    # degree caps per (src, level)
    over = (
        idx.filter(F.col("kind") == "adj")
        .select(F.col("level"), F.size("dsts").alias("deg"))
        .filter(
            (F.col("level") == 0) & (F.col("deg") > cfg.m_max_0)
            | (F.col("level") > 0) & (F.col("deg") > cfg.m_max)
        )
        .count()
    )
    assert over == 0


def test_search_index_recall_vs_exact(spark, spark_index):
    emb, idx, cfg = spark_index
    from anndb_spark.operators.knn import knn_exact

    rng = np.random.default_rng(5)
    queries = [(str(i), rng.normal(0, 1, 64).tolist()) for i in range(10)]
    ann = search_index(idx, queries, k=10, ef=100, config=cfg).collect()
    qdf = spark.createDataFrame(
        [(q, v) for q, v in queries], "query_id STRING, query_vector ARRAY<DOUBLE>"
    )
    # exact oracle in float32 (same dtype as the ANN path)
    exact = knn_exact(
        emb.select("id", F.col("vector")), qdf, 10, space="euclidean"
    ).collect()
    exact_ids = {}
    for r in exact:
        exact_ids.setdefault(r["query_id"], set()).add(r["id"])
    ann_ids = {}
    for r in ann:
        ann_ids.setdefault(r["query_id"], set()).add(r["id"])
    recall = sum(len(ann_ids[q] & exact_ids[q]) for q, _ in queries) / (10 * len(queries))
    assert recall >= 0.85, recall
    # per-query result shape: k rows, ascending rank
    assert all(len(ann_ids[q]) == 10 for q, _ in queries)


def test_index_parquet_roundtrip(spark, spark_index, tmp_path):
    from anndb_spark.operators.hnsw import load_index, save_index

    emb, idx, cfg = spark_index
    path = str(tmp_path / "index")
    save_index(idx, path)
    idx2 = load_index(spark, path)
    assert idx2.columns == ["partition_id", "kind", "src", "level", "dsts", "vec", "meta"]
    rng = np.random.default_rng(6)
    queries = [("q0", rng.normal(0, 1, 64).tolist())]
    a = search_index(idx, queries, k=5, ef=50, config=cfg).collect()
    b = search_index(idx2, queries, k=5, ef=50, config=cfg).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_batch_search_matches_single(spark):
    """search_fast_batch must return the same result sets as the
    sequential single-query oracle for every query (same beams, same
    order)."""
    rng = np.random.default_rng(9)
    for space in ("euclidean", "cosine", "manhattan"):
        cfg = HnswConfig(m=8, ef_construction=64, space=space)
        mat = rng.normal(0, 1, (600, 24)).astype(np.float32)
        levels = [int(min(3, -np.log(rng.random()) / np.log(8))) for _ in range(600)]
        g = HnswGraph.build(mat, levels, cfg).finalize()
        Q = rng.normal(0, 1, (40, 24)).astype(np.float32)
        batch, _ = g.search_fast_batch(Q, 10, ef=40)
        for qi in range(Q.shape[0]):
            single = search_fast(g, Q[qi], 10, ef=40)
            got = set(batch[qi][batch[qi] >= 0].tolist())
            want = {n for _, n in single}
            # identical beams are not guaranteed (candidate beam is
            # width-bounded in the batch kernel) but near-total overlap is
            assert len(got & want) >= 8, (space, qi, got, want)


def test_index_without_vec_is_rejected(spark, spark_index):
    """Every index writer emits vertex vectors; an index without the
    ``vec`` column is rejected with a message naming the fix."""
    _, idx, cfg = spark_index
    with pytest.raises(ValueError, match="'vec'.*build_index"):
        search_index(idx.drop("vec"), [("q", [0.0] * 64)], 3, config=cfg)


@pytest.fixture(scope="module")
def cell_index(spark):
    """A cluster-partitioned index (8 k-means cells over 600×16), its
    centroids, config, five queries and their flat beam results."""
    from anndb_spark.operators.ivf import assign_clusters, train_centroids

    rng = np.random.default_rng(31)
    rows = [(str(i), rng.normal(0, 1, 16).tolist()) for i in range(600)]
    emb = spark.createDataFrame(rows, "id STRING, vector ARRAY<FLOAT>")
    cent = train_centroids(emb, 8, seed=1)
    assigned = assign_clusters(emb, cent)
    cfg = HnswConfig(m=8, ef_construction=80)
    idx = build_index(assigned, cfg, partition_col="cluster_id").cache()
    queries = [(f"q{i}", rng.normal(0, 1, 16).tolist()) for i in range(5)]
    flat = search_index(
        idx, queries, k=5, ef=60, config=cfg, strategy="beam"
    ).collect()
    assert len(flat) == 25
    return idx, cent, cfg, queries, sorted(map(tuple, flat))


def test_routed_search_full_probe_matches_flat(cell_index):
    """IVF×HNSW hybrid: with nprobe = n_clusters the routed search
    degrades to the flat scatter and returns identical results."""
    idx, cent, cfg, queries, flat = cell_index
    routed = search_index(
        idx, queries, k=5, ef=60, config=cfg, strategy="beam",
        centroids=cent, nprobe=8,
    ).collect()
    assert flat == sorted(map(tuple, routed))


def test_routed_nprobe_zero_is_flat(cell_index):
    """``nprobe=0`` means "no routing" on both HNSW servers: with
    centroids given, `search_index` returns the flat call's rows, as
    `search_index_path` does."""
    idx, cent, cfg, queries, flat = cell_index
    got = search_index(
        idx, queries, k=5, ef=60, config=cfg, strategy="beam",
        centroids=cent, nprobe=0,
    ).collect()
    assert flat == sorted(map(tuple, got))


def test_routed_search_recall(spark):
    """nprobe ≪ n_clusters still recovers most true neighbors (IVF
    pruning on top of the graph beam)."""
    from anndb_spark.operators.ivf import assign_clusters, train_centroids

    rng = np.random.default_rng(37)
    # blobbed data — the workload coarse quantization serves; on
    # structureless uniform noise nprobe pruning necessarily loses
    # recall (that's IVF semantics, not a bug)
    blobs = rng.normal(0, 10, (16, 16)).astype(np.float32)
    mat = (blobs[rng.integers(0, 16, 2000)] + rng.normal(0, 1, (2000, 16))).astype(
        np.float32
    )
    rows = [(str(i), mat[i].tolist()) for i in range(2000)]
    emb = spark.createDataFrame(rows, "id STRING, vector ARRAY<FLOAT>")
    cent = train_centroids(emb, 16, seed=2)
    assigned = assign_clusters(emb, cent)
    cfg = HnswConfig(m=8, ef_construction=80)
    idx = build_index(assigned, cfg, partition_col="cluster_id").cache()
    qsrc = blobs[rng.integers(0, 16, 20)] + rng.normal(0, 1, (20, 16))
    queries = [(f"q{i}", qsrc[i].tolist()) for i in range(20)]
    got = search_index(
        idx, queries, k=10, ef=80, config=cfg, centroids=cent, nprobe=4
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(int(r["id"]))
    hits = 0
    for qid, qv in queries:
        d = np.linalg.norm(mat - np.asarray(qv, dtype=np.float32), axis=1)
        exact = set(np.argsort(d, kind="stable")[:10].tolist())
        hits += len(by_q.get(qid, set()) & exact)
    assert hits / (10 * len(queries)) >= 0.8


def test_config_persisted_and_restored(spark, tmp_path):
    """Snapshot config-header parity (index/hnsw_persistence.go:45-70,
    index/config.go:150-216): build cosine → save → load → search with no
    config restores the cosine space; an explicit mismatched config
    errors instead of silently mis-scoring."""
    from anndb_spark.operators.hnsw import (
        get_index_config,
        load_index,
        save_index,
    )
    from anndb_spark.operators.knn import knn_exact

    rng = np.random.default_rng(41)
    rows = [(str(i), rng.normal(0, 1, 16).tolist(), int(i % 2)) for i in range(500)]
    emb = spark.createDataFrame(
        rows, "id STRING, vector ARRAY<FLOAT>, partition_id INT"
    )
    cfg = HnswConfig(m=8, ef_construction=80, space="cosine")
    idx = build_index(emb, cfg)
    path = str(tmp_path / "cosidx")
    save_index(idx, path)
    idx2 = load_index(spark, path)
    stored = get_index_config(idx2)
    assert stored is not None and stored.space == "cosine" and stored.m == 8
    queries = [("q0", rng.normal(0, 1, 16).tolist())]
    ann = search_index(idx2, queries, k=5, ef=80).collect()
    qdf = spark.createDataFrame(
        [(q, v) for q, v in queries], "query_id STRING, query_vector ARRAY<DOUBLE>"
    )
    exact = knn_exact(emb.select("id", "vector"), qdf, 5, space="cosine").collect()
    got = {r["id"] for r in ann}
    want = {r["id"] for r in exact}
    assert len(got & want) >= 4, (got, want)
    with pytest.raises(Exception, match="space"):
        search_index(
            idx2, queries, k=5,
            config=HnswConfig(m=8, space="euclidean"),
        ).collect()


def test_tombstone_delete_never_returned(spark, spark_index):
    """Tombstoned ids are excluded from results by every search kernel
    (brute AND beam), without a graph rebuild; re-deleting is idempotent;
    the brute path equals exact float32 kNN over the survivors
    (reference tombstone semantics, index/hnsw.go:164-214,295-297)."""
    from anndb_spark.operators.hnsw import delete_from_index, tombstone_stats

    emb, idx, cfg = spark_index
    del_ids = [
        r["id"]
        for r in emb.filter(F.pmod(F.col("id").cast("long"), F.lit(10)) == 3)
        .select("id")
        .collect()
    ]
    idx2 = delete_from_index(idx, del_ids).cache()
    # no rebuild: vertex/adj rows unchanged, one tomb row per deleted id
    assert idx2.filter(F.col("kind") == "vertex").count() == emb.count()
    assert idx2.filter(F.col("kind") == "tomb").count() == len(del_ids)
    # idempotent re-delete
    idx3 = delete_from_index(idx2, del_ids[:5])
    assert idx3.filter(F.col("kind") == "tomb").count() == len(del_ids)
    stats = {r["partition_id"]: r for r in tombstone_stats(idx2).collect()}
    # ids ≡3 (mod 10) are odd → only odd partitions carry tombstones
    assert all(s["tombstone_fraction"] < 0.25 for s in stats.values())
    assert any(s["n_tombstones"] > 0 for s in stats.values())

    rng = np.random.default_rng(17)
    queries = [(str(i), rng.normal(0, 1, 64).tolist()) for i in range(8)]
    deleted = set(del_ids)
    for strategy in ("brute", "beam"):
        res = search_index(
            idx2, queries, k=10, ef=100, config=cfg, strategy=strategy
        ).collect()
        assert not ({r["id"] for r in res} & deleted), strategy
        per_q = {}
        for r in res:
            per_q.setdefault(r["query_id"], []).append(r)
        assert all(len(v) == 10 for v in per_q.values())

    # brute == exact float32 top-k over survivors
    surv = emb.filter(~F.col("id").isin(del_ids)).select("id", "vector").collect()
    ids_s = [r["id"] for r in surv]
    mat = np.array([r["vector"] for r in surv], dtype=np.float32)
    res_b = search_index(
        idx2, queries, k=10, ef=100, config=cfg, strategy="brute"
    ).collect()
    got = {}
    for r in res_b:
        got.setdefault(r["query_id"], []).append((r["rank"], r["id"]))
    for qid, qv in queries:
        q = np.array(qv, dtype=np.float32)
        d = np.sqrt(((mat - q) ** 2).sum(axis=1, dtype=np.float32))
        order = np.lexsort((np.array(ids_s, dtype=object), d))[:10]
        want = [ids_s[i] for i in order]
        assert [i for _, i in sorted(got[qid])] == want


def test_index_metadata_passthrough(spark):
    """Vertex rows carry metadata; with_metadata returns it from the
    index alone (SearchResultItem contract, search.proto:22-26) on both
    the flat and the routed path."""
    from anndb_spark.operators.ivf import train_centroids

    rng = np.random.default_rng(23)
    rows = [
        (f"m{i:03d}", rng.normal(0, 1, 8).tolist(), {"tag": f"t{i}"}, i % 2)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>, partition_id INT",
    )
    cfg = HnswConfig(m=8, ef_construction=50)
    idx = build_index(df, cfg).cache()
    queries = [("q0", rows[3][1]), ("q1", rows[40][1])]
    res = search_index(
        idx, queries, k=5, config=cfg, with_metadata=True
    ).collect()
    assert len(res) == 10
    want = {r[0]: r[2] for r in rows}
    for r in res:
        assert r["metadata"] == want[r["id"]]
    # routed path
    cent = train_centroids(df, 2, sample_n=1000)
    from anndb_spark.operators.ivf import assign_clusters

    idx_r = build_index(
        assign_clusters(df, cent), cfg, partition_col="cluster_id"
    ).cache()
    res_r = search_index(
        idx_r, queries, k=5, config=cfg, with_metadata=True, centroids=cent, nprobe=2
    ).collect()
    for r in res_r:
        assert r["metadata"] == want[r["id"]]


def test_search_index_path_matches_dataframe_search(spark, spark_index, tmp_path):
    """The serving-shape path search (per-partition parquet reads, no
    index shuffle) must return exactly what the DataFrame search
    returns — flat, routed, and brute/beam strategies."""
    from anndb_spark.operators.hnsw import save_index, search_index_path
    from anndb_spark.operators.ivf import assign_clusters, train_centroids

    emb, idx, cfg = spark_index
    path = str(tmp_path / "pidx")
    save_index(idx, path)
    rng = np.random.default_rng(41)
    queries = [(str(i), rng.normal(0, 1, 64).tolist()) for i in range(6)]
    for strategy in ("brute", "beam"):
        a = search_index(
            idx, queries, k=8, ef=80, config=cfg, strategy=strategy
        ).collect()
        b = search_index_path(
            spark, path, queries, k=8, ef=80, config=cfg, strategy=strategy
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), strategy

    # routed: per-cell parquet listing == DataFrame isin-pruned routed scan
    cent = train_centroids(emb, 4, sample_n=10_000)
    idx_r = build_index(
        assign_clusters(emb.select("id", "vector"), cent), cfg,
        partition_col="cluster_id",
    )
    rpath = str(tmp_path / "pidx_routed")
    from anndb_spark.operators.hnsw import save_index as _si

    _si(idx_r, rpath)
    a = search_index(
        idx_r, queries, k=8, ef=80, config=cfg, centroids=cent, nprobe=2
    ).collect()
    b = search_index_path(
        spark, rpath, queries, k=8, centroids=cent, nprobe=2, ef=80, config=cfg
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_tombstones_survive_save_and_path_search(spark, spark_index, tmp_path):
    """'tomb' rows round-trip through save_index and are honored by the
    serving path search — deleted ids never returned from a saved index."""
    from anndb_spark.operators.hnsw import (
        delete_from_index,
        save_index,
        search_index_path,
    )

    emb, idx, cfg = spark_index
    del_ids = [r["id"] for r in emb.select("id").limit(40).collect()]
    path = str(tmp_path / "tomb_idx")
    save_index(delete_from_index(idx, del_ids), path)
    rng = np.random.default_rng(53)
    queries = [(str(i), rng.normal(0, 1, 64).tolist()) for i in range(6)]
    for strategy in ("brute", "beam"):
        res = search_index_path(
            spark, path, queries, k=10, ef=100, config=cfg, strategy=strategy
        ).collect()
        assert not ({r["id"] for r in res} & set(del_ids)), strategy
        per_q = {}
        for r in res:
            per_q.setdefault(r["query_id"], []).append(r)
        assert all(len(v) == 10 for v in per_q.values())


def test_save_graph_partition_single_graph_fast_path(spark, tmp_path):
    """A driver-built graph persisted via save_graph_partition must be
    searchable through search_index_path, whose single-partition fast
    path (in-task ranks, no window shuffle) must agree with the
    shuffle-based search_index on the same rows."""
    from anndb_spark.operators.hnsw import (
        load_index,
        save_graph_partition,
        search_index_path,
    )

    rng = np.random.default_rng(17)
    n, dim = 600, 16
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    cfg = HnswConfig(m=8, ef_construction=100, heuristic=True)
    lr = np.random.default_rng(3)
    levels = np.floor(
        -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12)) * cfg.level_multiplier
    ).astype(int).tolist()
    g = HnswGraph.build(mat, levels, cfg)
    ids = [f"v{i:04d}" for i in range(n)]
    path = str(tmp_path / "single_idx")
    save_graph_partition(g, ids, path)

    queries = [(str(i), rng.normal(0, 1, dim).tolist()) for i in range(40)]
    via_path = search_index_path(
        spark, path, queries, 5, ef=50, config=cfg, strategy="beam",
        queries_per_task=7,
    )
    assert "rank" in via_path.columns  # fast path emitted ranks in-task
    got_path = {
        (r["query_id"], r["rank"]): r["id"]
        for r in via_path.collect()
    }
    idx_df = load_index(spark, path)
    got_df = {
        (r["query_id"], r["rank"]): r["id"]
        for r in search_index(
            idx_df, queries, 5, ef=50, config=cfg, strategy="beam"
        ).collect()
    }
    assert got_path == got_df and len(got_path) == 200

    # numpy (ids, matrix) query form gives identical results
    qmat = np.array([v for _, v in queries], dtype=np.float32)
    via_np = search_index_path(
        spark, path, ([q for q, _ in queries], qmat), 5, ef=50, config=cfg,
        strategy="beam", queries_per_task=7,
    ).collect()
    assert {(r["query_id"], r["rank"]): r["id"] for r in via_np} == got_path


_BUILD_HASH_SCRIPT = """
import hashlib
import sys
import numpy as np
from anndb_spark.operators.hnsw import HnswConfig, HnswGraph

n, dim = int(sys.argv[1]), int(sys.argv[2])
mat = np.random.default_rng(23).normal(0, 1, (n, dim)).astype(np.float32)
cfg = HnswConfig(m=8, ef_construction=80, heuristic=True)
lr = np.random.default_rng(5)
levels = np.floor(
    -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12)) * cfg.level_multiplier
).astype(int).tolist()
for workers in (1, 4):
    g = HnswGraph.build(mat, levels, cfg, workers=workers)
    h = hashlib.sha256()
    h.update(str(g.entrypoint).encode())
    h.update(np.asarray(g.levels, dtype=np.int64).tobytes())
    for node_adj in g.adj:
        for lvl in sorted(node_adj):
            h.update(np.asarray(sorted(node_adj[lvl]), dtype=np.int64).tobytes())
    print(h.hexdigest())
"""


def test_build_content_hash_stable_across_processes():
    """A fixed-seed build is bit-deterministic: two fresh interpreters
    with different PYTHONHASHSEED values (set iteration order), each
    building with workers=1 and workers=4, produce one content hash of
    (entrypoint, levels, per-level sorted adjacency).  Two inputs: a
    3000×24 build on the default kernel, and a 2500×128 build with the
    C kernel off, whose NumPy path crosses from the GEMM prefix to beam
    waves at 200000 // 128 = 1562 rows."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cases = (("3000", "24", {}), ("2500", "128", {"ANNDB_CKERNEL": "0"}))
    for n, dim, extra_env in cases:
        hashes = []
        for seed in ("0", "12345"):
            env = dict(os.environ, PYTHONHASHSEED=seed, **extra_env)
            env["PYTHONPATH"] = os.pathsep.join(
                p for p in (root, env.get("PYTHONPATH")) if p
            )
            out = subprocess.run(
                [sys.executable, "-c", _BUILD_HASH_SCRIPT, n, dim],
                env=env, capture_output=True, text=True, check=True, timeout=600,
            )
            hashes += out.stdout.split()
        assert len(hashes) == 4 and len(set(hashes)) == 1, (n, dim, hashes)


def test_fork_parallel_build_identical_to_serial():
    """workers>1 must produce a bit-identical graph (extra threads only
    parallelize read-only candidate work; commits stay ordered)."""
    rng = np.random.default_rng(23)
    n, dim = 3000, 24
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    cfg = HnswConfig(m=8, ef_construction=80, heuristic=True)
    lr = np.random.default_rng(5)
    levels = np.floor(
        -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12)) * cfg.level_multiplier
    ).astype(int).tolist()
    g1 = HnswGraph.build(mat, levels, cfg, workers=1)
    g2 = HnswGraph.build(mat, levels, cfg, workers=4)
    assert g1.entrypoint == g2.entrypoint
    assert g1.levels == g2.levels
    assert all(a == b for a, b in zip(g1.adj, g2.adj))


def test_serving_cache_tracks_index_content(spark, tmp_path, monkeypatch):
    """An HNSW index and an IVF table REBUILT at the same path with
    different content, searched without a token: the serving caches
    (driver and worker L1, and the host-shared /dev/shm graphs, which
    outlive Spark sessions) must serve the new rows, not the stale ones,
    in the driver and in the task regime — entries are held for the
    index's content fingerprint."""
    from anndb_spark.operators import _serve
    from anndb_spark.operators.hnsw import save_index, search_index_path
    from anndb_spark.operators.ivf import (
        assign_clusters,
        save_assigned,
        search_ivf_path,
        train_centroids,
    )

    rng = np.random.default_rng(5)

    def make(ids_prefix, n):
        rows = [
            (f"{ids_prefix}{i}", rng.normal(0, 1, 8).astype(float).tolist())
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "id string, vector array<float>"
        ).withColumn("partition_id", F.pmod(F.crc32(F.col("id")), F.lit(2)).cast("int"))

    cfg = HnswConfig(m=4, ef_construction=16, ef=16)
    q = [("q0", rng.normal(0, 1, 8).astype(float).tolist())]
    hnsw_path, ivf_path = str(tmp_path / "idx"), str(tmp_path / "ivf")
    a, b = make("a", 40), make("b", 60)
    cent = train_centroids(a.drop("partition_id"), 2, seed=1)

    def write(df):
        save_index(build_index(df, cfg), hnsw_path)
        save_assigned(assign_clusters(df.drop("partition_id"), cent), ivf_path)

    def ids():
        return [
            {r["id"][0] for r in res.collect()}
            for res in (
                search_index_path(spark, hnsw_path, q, 5, config=cfg, strategy="beam"),
                search_ivf_path(spark, ivf_path, q, 5, cent, nprobe=2),
            )
        ]

    for budget in (_serve.CACHE.max_bytes, -1):  # driver, then tasks
        monkeypatch.setattr(_serve.CACHE, "max_bytes", budget)
        write(a)
        assert ids() == [{"a"}, {"a"}]
        # rebuild at the SAME paths with different ids/content
        write(b)
        assert ids() == [{"b"}, {"b"}], budget


def test_shm_store_retries_after_stale_lock(tmp_path, monkeypatch):
    """A pre-planted stale (>600 s) lock must not block the next storer:
    _shm_store unlinks it and retries acquisition in the same call
    (ADVICE r5 / VERDICT r5 Wrong #4)."""
    import os
    import time

    import anndb_spark.operators.hnsw as H

    monkeypatch.setattr(H, "_SHM_ROOT", str(tmp_path))
    rng = np.random.default_rng(3)
    mat = rng.normal(0, 1, (50, 8)).astype(np.float32)
    cfg = HnswConfig(m=4, ef_construction=16)
    levels = [0] * 50
    g = HnswGraph.build(mat, levels, cfg)
    g.finalize()  # _shm_store writes the finalized (padded) layout
    key = (str(tmp_path / "idx"), 0)
    d = H._shm_dir_for(key, "ver")
    lock = f"{d}.lock"
    os.makedirs(os.path.dirname(d), exist_ok=True)
    open(lock, "w").close()
    old = time.time() - 3600
    os.utime(lock, (old, old))  # stale: crashed storer 1 h ago
    ids = [str(i) for i in range(50)]
    stored = H._shm_store(key, "ver", ids, g)
    assert stored is not None and os.path.exists(
        os.path.join(stored, "_COMPLETE")
    )
    hit = H._shm_load(stored, cfg)
    assert hit is not None and list(hit[0]) == ids
    # and a FRESH lock (live storer) still yields graceful None
    key2 = (str(tmp_path / "idx"), 1)
    d2 = H._shm_dir_for(key2, "ver")
    open(f"{d2}.lock", "w").close()
    assert H._shm_store(key2, "ver", ids, g) is None


def test_ckernel_matches_numpy_kernel():
    """The compiled beam kernel and the NumPy lock-step kernel must
    agree on result SETS (identical beams are not guaranteed — FP tie
    order differs — but ≥9/10 overlap at a generous ef) for every
    space, with and without tombstones."""
    from anndb_spark.operators import ckernel

    if not ckernel.available():
        import pytest as _pt

        _pt.skip("no C compiler on this host")
    rng = np.random.default_rng(17)
    n, dim = 4000, 32
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    Q = rng.normal(0, 1, (50, dim)).astype(np.float32)
    for space in ("euclidean", "cosine", "manhattan"):
        cfg = HnswConfig(m=8, ef_construction=64, space=space)
        lr = np.random.default_rng(5)
        levels = np.floor(
            -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12))
            * cfg.level_multiplier
        ).astype(int).tolist()
        g = HnswGraph.build(mat, levels, cfg).finalize()
        res_c = _hit_lists(*g.search_fast_batch(Q, 10, ef=80))
        import anndb_spark.operators.ckernel as ck

        old = ck._lib
        try:
            ck._lib = None  # force the NumPy path without recompiling
            res_np = _hit_lists(*g.search_fast_batch(Q, 10, ef=80))
        finally:
            ck._lib = old
        total = 0
        for qi in range(Q.shape[0]):
            got = {i for _, i in res_c[qi]}
            want = {i for _, i in res_np[qi]}
            inter = len(got & want)
            assert inter >= 7, (space, qi, got, want)
            total += inter
        # near-boundary FP ties may swap individual members; aggregate
        # agreement must stay ≥95%
        assert total / (10 * Q.shape[0]) >= 0.95, (space, total)
        # tombstones: C path must never return deleted ids
        g.deleted = np.zeros(n, dtype=bool)
        g.deleted[list({i for r in res_c for _, i in r})] = True
        res_t = _hit_lists(*g.search_fast_batch(Q, 10, ef=80))
        for row in res_t:
            assert all(not g.deleted[i] for _, i in row)
        g.deleted = None


def test_kernel_array_contract(monkeypatch):
    """`search_fast_batch` and `search_brute` share one array contract:
    (nq, k) int64 ids and float32 distances, rows in query order and
    ascending, −1 pads as a row suffix.  The C kernel and the NumPy
    fallback return identical ids on a graph with no vertices, k above
    the live vertex count, tombstones leaving 3 live vertices, and a
    graph big enough for seed-GEMM seeding; brute agrees wherever the
    beam is exhaustive."""
    from anndb_spark.operators import ckernel

    rng = np.random.default_rng(13)
    cfg = HnswConfig(m=8, ef_construction=64)

    def built(n):
        mat = rng.normal(0, 1, (n, 8)).astype(np.float32)
        lr = np.random.default_rng(5)
        levels = np.floor(
            -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12))
            * cfg.level_multiplier
        ).astype(int).tolist()
        return HnswGraph.build(mat, levels, cfg).finalize()

    tomb = built(300)
    tomb.deleted = np.ones(300, dtype=bool)
    tomb.deleted[[5, 77, 201]] = False
    big = built(4500)
    assert big._max_level() > 0  # seed-GEMM seeding, not the descent
    Q = rng.normal(0, 1, (25, 8)).astype(np.float32)
    # (graph, k, live hits per row, brute must match the beam)
    cases = [
        (HnswGraph(8, cfg), 20, 0, True),
        (built(12), 20, 12, True),
        (tomb, 10, 3, True),
        (big, 10, 10, False),
    ]

    def check(hits, k, live):
        ids, ds = hits
        assert ids.shape == ds.shape == (len(Q), k)
        assert ids.dtype == np.int64 and ds.dtype == np.float32
        assert (ids[:, :live] >= 0).all() and (ids[:, live:] == -1).all()
        assert (np.diff(ds[:, :live], axis=1) >= 0).all()

    native = ckernel.available()
    for g, k, live, exhaustive in cases:
        beam = g.search_fast_batch(Q, k, ef=64)
        check(beam, k, live)
        brute = g.search_brute(Q, k)
        check(brute, k, live)
        if exhaustive:
            assert (brute[0] == beam[0]).all()
        if native:
            with monkeypatch.context() as m:
                m.setattr(ckernel, "available", lambda: False)
                fallback = g.search_fast_batch(Q, k, ef=64)
            check(fallback, k, live)
            assert (fallback[0] == beam[0]).all(), len(g.levels)
    assert big.search_fast_batch(Q[:0], 10)[0].shape == (0, 10)
    assert big.search_brute(Q[:0], 10)[0].shape == (0, 10)


def _plan_text(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_serve_matches_task_path(spark, tmp_path):
    """Driver-local single-graph serving (`search_index_path` on a
    one-partition index) must return exactly what the Spark task plan of
    `search_index(load_index(path))` returns — beam and brute, on the
    plain and on a tombstoned index."""
    from anndb_spark.operators.hnsw import (
        delete_from_index,
        load_index,
        save_graph_partition,
        save_index,
        search_index_path,
    )

    rng = np.random.default_rng(71)
    n, dim = 800, 24
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    cfg = HnswConfig(m=8, ef_construction=100, heuristic=True)
    lr = np.random.default_rng(9)
    levels = np.floor(
        -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12)) * cfg.level_multiplier
    ).astype(int).tolist()
    g = HnswGraph.build(mat, levels, cfg)
    ids = [f"v{i:04d}" for i in range(n)]
    path = str(tmp_path / "local_idx")
    save_graph_partition(g, ids, path)
    tomb_path = str(tmp_path / "local_idx_tomb")
    save_index(delete_from_index(load_index(spark, path), ids[::9]), tomb_path)

    queries = [(str(i), rng.normal(0, 1, dim).tolist()) for i in range(30)]
    for p in (path, tomb_path):
        for strategy in ("beam", "brute"):
            a = search_index(
                load_index(spark, p), queries, 6, ef=60, config=cfg,
                strategy=strategy,
            ).collect()
            local = search_index_path(
                spark, p, queries, 6, ef=60, config=cfg, strategy=strategy,
            )
            assert "MapInArrow" not in _plan_text(local)  # no task plan
            b = local.collect()
            # equal score bits too: the driver regime runs its GEMMs on
            # one BLAS thread, as the workers do
            bits = [
                sorted((*r[:3], struct.pack("<f", r[3])) for r in rows)
                for rows in (a, b)
            ]
            assert bits[0] == bits[1], (p, strategy)
            assert len(b) == 180
            if p == tomb_path:
                assert not {r["id"] for r in b} & set(ids[::9])

    # the local result is a real DataFrame: column ops compose on it
    d = search_index_path(
        spark, path, queries, 6, ef=60, config=cfg, strategy="beam",
    )
    assert d.filter(F.col("rank") == 1).count() == 30


def test_local_serve_big_brute_falls_back_to_tasks(spark, tmp_path, monkeypatch):
    """A big exact scan is compute-bound, not launch-bound: the driver
    regime declines a batch whose brute flops exceed
    ``_serve.LOCAL_BRUTE_FLOPS_MAX``, and the chunked task plan, which
    spreads the GEMM across workers, answers it with the same rows."""
    from anndb_spark.operators import _serve
    from anndb_spark.operators import hnsw as hnsw_mod
    from anndb_spark.operators.hnsw import save_graph_partition, search_index_path

    rng = np.random.default_rng(31)
    n, dim = 300, 16
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    cfg = HnswConfig(m=8, ef_construction=60)
    lr = np.random.default_rng(5)
    levels = np.floor(
        -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12))
        * cfg.level_multiplier
    ).astype(int).tolist()
    g = HnswGraph.build(mat, levels, cfg)
    ids = [f"b{i:04d}" for i in range(n)]
    path = str(tmp_path / "bigbrute_idx")
    save_graph_partition(g, ids, path)

    queries = [(f"q{i}", v.tolist()) for i, v in enumerate(rng.normal(0, 1, (40, dim)))]
    local = search_index_path(spark, path, queries, 5, config=cfg, strategy="brute")
    assert "MapInArrow" not in _plan_text(local)
    # the estimated 300·40·16 flops exceed a cap of 1 → the task plan
    monkeypatch.setattr(_serve, "LOCAL_BRUTE_FLOPS_MAX", 1.0)
    via_tasks = search_index_path(spark, path, queries, 5, config=cfg, strategy="brute")
    assert "MapInArrow" in _plan_text(via_tasks)
    assert sorted(via_tasks.collect()) == sorted(local.collect())
    assert len(local.collect()) == 200
    # beam is kernel-bound, not BLAS-bound: the same cap keeps it local
    beam = search_index_path(spark, path, queries, 5, config=cfg, strategy="beam")
    assert "MapInArrow" not in _plan_text(beam)
    assert len(beam.collect()) == 200
    # 'auto' is counted by the kernel's own choice on the part's real
    # vertex count (from its parquet footers): at a kernel threshold of
    # exactly 300·40·16 flops the chunk runs brute, so the cap declines it
    monkeypatch.setattr(hnsw_mod, "_BRUTE_FLOPS_MAX", n * len(queries) * dim)
    auto = search_index_path(spark, path, queries, 5, config=cfg)
    assert "MapInArrow" in _plan_text(auto)
    assert sorted(auto.collect()) == sorted(local.collect())
    monkeypatch.setattr(hnsw_mod, "_BRUTE_FLOPS_MAX", n * len(queries) * dim - 1)
    assert "MapInArrow" not in _plan_text(search_index_path(spark, path, queries, 5, config=cfg))


def test_local_serve_metadata_single_partition(spark, tmp_path):
    """Driver-local serving returns the metadata MAP identically to the
    task plan of `search_index` on a one-partition saved index."""
    from anndb_spark.operators.hnsw import load_index, save_index, search_index_path

    rng = np.random.default_rng(29)
    rows = [
        (f"m{i:03d}", rng.normal(0, 1, 8).tolist(), {"tag": f"t{i}"}, 0)
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows,
        "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>, partition_id INT",
    )
    cfg = HnswConfig(m=8, ef_construction=50)
    path = str(tmp_path / "meta_idx")
    save_index(build_index(df, cfg), path)
    queries = [("q0", rows[3][1]), ("q1", rows[40][1])]
    want = {r[0]: r[2] for r in rows}
    outs = {}
    for name, res in (
        ("local", search_index_path(
            spark, path, queries, 5, config=cfg, with_metadata=True,
        )),
        ("tasks", search_index(
            load_index(spark, path), queries, 5, config=cfg,
            with_metadata=True,
        )),
    ):
        res = res.collect()
        assert len(res) == 10
        for r in res:
            assert r["metadata"] == want[r["id"]], name
        outs[name] = sorted((r["query_id"], r["rank"], r["id"]) for r in res)
    assert outs["local"] == outs["tasks"]


def test_search_index_local_api(spark, tmp_path):
    """`search_index_local` returns an Arrow table with values identical
    to the DataFrame path — in-process for one partition and for
    several."""
    from anndb_spark.operators.hnsw import (
        load_index,
        save_graph_partition,
        save_index,
        search_index_local,
        search_index_path,
    )

    rng = np.random.default_rng(83)
    n, dim = 600, 16
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    cfg = HnswConfig(m=8, ef_construction=80, heuristic=True)
    lr = np.random.default_rng(11)
    levels = np.floor(
        -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12)) * cfg.level_multiplier
    ).astype(int).tolist()
    g = HnswGraph.build(mat, levels, cfg)
    ids = [f"v{i:04d}" for i in range(n)]
    single = str(tmp_path / "one_part")
    save_graph_partition(g, ids, single)

    queries = [(str(i), rng.normal(0, 1, dim).tolist()) for i in range(25)]
    tbl = search_index_local(
        spark, single, queries, 5, ef=50, config=cfg
    )
    import pyarrow as pa

    assert isinstance(tbl, pa.Table)
    assert tbl.column_names == ["query_id", "rank", "id", "score"]
    assert tbl.num_rows == 125
    df_rows = search_index(
        load_index(spark, single), queries, 5, ef=50, config=cfg,
    ).collect()
    a = sorted(zip(*[tbl.column(c).to_pylist() for c in ("query_id", "rank", "id")]))
    b = sorted((r["query_id"], r["rank"], r["id"]) for r in df_rows)
    assert a == b

    # multi-partition index → also answered in the driver (0 Spark
    # jobs), same arrow contract and values as the DataFrame path
    rows = [
        (ids[i], mat[i].tolist(), None, i % 3) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows,
        "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>, partition_id INT",
    )
    multi = str(tmp_path / "three_part")
    save_index(build_index(df, cfg), multi)
    sc = spark.sparkContext
    sc.setJobGroup("search-index-local-api", "multi-partition local call")
    try:
        tbl_m = search_index_local(
            spark, multi, queries, 5, ef=50, config=cfg
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("search-index-local-api") == []
    assert isinstance(tbl_m, pa.Table)
    assert tbl_m.column_names == ["query_id", "rank", "id", "score"]
    assert tbl_m.num_rows == 125
    df_m = search_index_path(
        spark, multi, queries, 5, ef=50, config=cfg
    ).collect()
    am = sorted(zip(*[tbl_m.column(c).to_pylist() for c in ("query_id", "rank", "id")]))
    bm = sorted((r["query_id"], r["rank"], r["id"]) for r in df_m)
    assert am == bm


def test_every_server_answers_an_empty_batch(spark, tmp_path):
    """An empty query batch is a valid request: every server returns zero
    rows with its full result schema (the batch parses to a (0, dim)
    matrix, never np.array([])'s (0,))."""
    from anndb_spark.operators._serve import parse_queries
    from anndb_spark.operators.hnsw import (
        load_index,
        save_index,
        search_index_local,
        search_index_path,
    )
    from anndb_spark.operators.ivf import (
        assign_clusters,
        save_assigned,
        search_ivf_path,
        train_centroids,
    )
    from anndb_spark.operators.ivfpq import build_ivfpq, search_ivfpq
    from anndb_spark.operators.pq import pq_encode, pq_search_batch, train_pq
    from anndb_spark.streaming.search import stream_search_transform

    assert parse_queries([], 8)[1].shape == (0, 8)

    rng = np.random.default_rng(61)
    rows = [
        (f"e{i:03d}", rng.normal(0, 1, 8).tolist(), {"tag": f"t{i}"}, i % 2)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows,
        "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>, partition_id INT",
    )
    cfg = HnswConfig(m=8, ef_construction=40)
    single, multi, routed = (str(tmp_path / n) for n in ("one", "two", "cells"))
    save_index(build_index(df.withColumn("partition_id", F.lit(0)), cfg), single)
    save_index(build_index(df, cfg), multi)
    cent = train_centroids(df, 2, seed=3)
    idx_r = build_index(
        assign_clusters(df.drop("partition_id"), cent), cfg, partition_col="cluster_id"
    )
    save_index(idx_r, routed)
    vecs = df.select("id", "vector")
    ivf_dir, ivfpq_dir = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    save_assigned(assign_clusters(vecs, cent), ivf_dir)
    build_ivfpq(vecs, ivfpq_dir, n_cells=2, m=2, n_centroids=16, sample_n=200)
    books = train_pq(vecs, m=2, n_centroids=16, sample_n=200)

    base = [("query_id", "string"), ("rank", "int"), ("id", "string"), ("score", "float")]
    meta = base + [("metadata", "map<string,string>")]
    empty_q = spark.createDataFrame([], "query_id STRING, vector ARRAY<DOUBLE>")
    frames = {
        "search_index/one": (search_index(load_index(spark, single), [], 5), base),
        "search_index/two": (
            search_index(load_index(spark, multi), [], 5, with_metadata=True), meta),
        "routed": (search_index(
            load_index(spark, routed), [], 5, centroids=cent, nprobe=2), base),
        "path/one": (search_index_path(spark, single, [], 5, config=cfg), base),
        "path/one/matrix": (search_index_path(
            spark, single, ([], np.empty((0, 8))), 5, config=cfg, strategy="beam"), base),
        "path/two": (search_index_path(
            spark, multi, [], 5, config=cfg, with_metadata=True,
            locality_centroids=cent), meta),
        "path/routed": (search_index_path(
            spark, routed, [], 5, config=cfg, centroids=cent, nprobe=2), base),
        "stream": (stream_search_transform(empty_q, multi, 5, config=cfg), base),
        "ivf_path": (search_ivf_path(spark, ivf_dir, [], 5, cent, nprobe=2),
                     base[:3] + [("score", "double")]),
        "ivfpq": (search_ivfpq(spark, ivfpq_dir, [], k=5, nprobe=2), base),
        "pq_batch/rerank": (pq_search_batch(
            pq_encode(vecs, books), [], books, k=5, rerank_with=vecs), base),
    }
    for name, (res, schema) in frames.items():
        assert res.dtypes == schema, name
        assert res.count() == 0, name
    for p in (single, multi):
        tbl = search_index_local(spark, p, [], 5, config=cfg)
        assert tbl.column_names == [c for c, _ in base] and tbl.num_rows == 0, p


def test_dataset_search_local_facade(spark, tmp_path):
    """Dataset.search_local serves Arrow in-process from the saved
    index, matching Dataset.search values; without an index it falls
    back to the planner path."""
    import pyarrow as pa

    from anndb_spark.dataset import AnnDB

    db = AnnDB(spark, str(tmp_path / "db"))
    ds = db.create_dataset("ls_t", dimension=12, partition_count=1)
    rng = np.random.default_rng(41)
    rows = [
        (f"i{i:03d}", rng.normal(0, 1, 12).tolist(), None)
        for i in range(150)
    ]
    ds.insert(
        spark.createDataFrame(
            rows,
            "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>",
        )
    )
    ds.compact()

    q = rows[7][1]
    # no saved index yet → planner fallback, still arrow
    t0 = ds.search_local(q, 3)
    assert isinstance(t0, pa.Table) and t0.num_rows == 3

    ds.build_index()
    t1 = ds.search_local(q, 3)
    assert isinstance(t1, pa.Table) and t1.num_rows == 3
    got = sorted(zip(t1.column("rank").to_pylist(), t1.column("id").to_pylist()))
    want = sorted(
        (r["rank"], r["id"]) for r in ds.search(q, 3, mode="ann").collect()
    )
    assert got == want
    assert got[0][1] == "i007"


def test_build_hub_heavy_corpus_respects_caps():
    """One tight blob makes every vertex a backlink hub: the C
    wave-commit's mid-wave emergency prune and slack flush must keep
    all level-0 degrees within cap, pads in sync with the rebuilt
    sets, and the graph searchable at high recall."""
    rng = np.random.default_rng(23)
    n, dim = 3000, 16
    mat = rng.normal(0, 0.01, (n, dim)).astype(np.float32)  # one blob
    cfg = HnswConfig(m=8, ef_construction=80, heuristic=True)
    lr = np.random.default_rng(4)
    levels = np.floor(
        -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12))
        * cfg.level_multiplier
    ).astype(int).tolist()
    g = HnswGraph.build(mat, levels, cfg, workers=4)
    cap0 = g._cap(0)
    degs = [len(a.get(0, ())) for a in g.adj]
    assert max(degs) <= cap0
    pad = g.adj_pad[0]
    for i in range(0, n, 97):
        row = pad[i][pad[i] >= 0]
        assert set(row.tolist()) == g.adj[i].get(0, set()), i
        # dense prefix: no -1 before a real id
        tail = pad[i][len(row):]
        assert (tail == -1).all(), i
    g.finalize()
    Q = rng.normal(0, 0.01, (40, dim)).astype(np.float32)
    res = _hit_lists(*g.search_fast_batch(Q, 10, ef=80))
    truth = _hit_lists(*g.search_brute(Q, 10))
    hits = sum(
        len({i for _, i in truth[q]} & {i for _, i in res[q]})
        for q in range(40)
    )
    assert hits / 400 >= 0.85, hits / 400


def test_seed_argmin_matches_numpy():
    """Native entry seeding == the numpy argmin over exact distances
    (identical entry choice modulo distance ties) for every space."""
    from anndb_spark.operators import ckernel

    if not ckernel.available():
        pytest.skip("no C compiler on this host")
    rng = np.random.default_rng(23)
    n, dim, nq = 5000, 48, 200
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    Q = rng.normal(0, 1, (nq, dim)).astype(np.float32)
    for space in ("euclidean", "cosine", "manhattan"):
        cfg = HnswConfig(m=8, ef_construction=64, space=space)
        lr = np.random.default_rng(5)
        levels = np.floor(
            -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12))
            * cfg.level_multiplier
        ).astype(int).tolist()
        g = HnswGraph.build(mat, levels, cfg).finalize()
        seeds = g._seed_set()
        got = ckernel.seed_argmin(g, seeds, Q, threads=4)
        assert got is not None
        best, dists = got
        for qi in range(nq):
            d = _dist_many(space, mat[seeds], Q[qi])
            # same minimum distance (ties may pick either index)
            assert dists[qi] == pytest.approx(float(d.min()), rel=2e-5), (
                space, qi)
            assert d[best[qi]] == pytest.approx(float(d.min()), rel=2e-5)


def test_built_graph_is_picklable():
    """Graphs must survive pickling (Spark closures, tool caches) —
    the kernel pointer caches (_ck_*) are per-process and must be
    excluded from state."""
    import pickle

    from anndb_spark.operators import ckernel

    rng = np.random.default_rng(3)
    mat = rng.normal(0, 1, (3000, 24)).astype(np.float32)
    cfg = HnswConfig(m=8, ef_construction=64)
    lr = np.random.default_rng(5)
    levels = np.floor(
        -np.log(np.clip(lr.random(3000), 1e-12, 1 - 1e-12))
        * cfg.level_multiplier
    ).astype(int).tolist()
    g = HnswGraph.build(mat, levels, cfg, workers=4).finalize()
    Q = rng.normal(0, 1, (10, 24)).astype(np.float32)
    res_before, _ = g.search_fast_batch(Q, 5, ef=32)
    g2 = pickle.loads(pickle.dumps(g))
    res_after, _ = g2.search_fast_batch(Q, 5, ef=32)
    assert [set(r) for r in res_before.tolist()] == [
        set(r) for r in res_after.tolist()
    ]


def test_ckernel_load_preserves_subnormals():
    """Loading the compiled kernel must NOT set FTZ/DAZ process-wide:
    gcc's -ffast-math at LINK time injects crtfastmath.o, whose
    constructor flips MXCSR for the whole python process (and every
    forked Arrow worker), silently flushing subnormal doubles to zero
    everywhere — hypothesis float strategies caught this.  The build
    now splits compile (fast-math) from link (no math flags).

    Operands go through VARIABLES: CPython's peephole optimizer
    constant-folds literal arithmetic like ``1e-310 + 0.0`` at compile
    time, so literal asserts never perform runtime FP ops (ADVICE
    r10).  ``x + 0.0`` with subnormal ``x`` exercises DAZ (operand
    flushed on read); ``tiny / big`` producing a subnormal RESULT from
    normal operands exercises FTZ (result flushed on write) — both
    MXCSR bits are covered at runtime."""
    from anndb_spark.operators import ckernel

    ckernel.available()  # forces compile+ctypes load when cc exists
    x = 1e-310
    d = 5e-324
    n = 2e-308
    assert x + 0.0 != 0.0, "DAZ bit set by kernel load"
    assert d * 1.0 != 0.0, "DAZ bit set by kernel load"
    assert n / 4.0 != 0.0, "FTZ bit set by kernel load"
    lo = 1e-300
    big = 1e20
    assert lo / big != 0.0, "FTZ bit set by kernel load"  # normal ops, subnormal result


def test_search_brute_scratch_reuse_bitwise_and_unpickled():
    """search_brute's (q, n) intermediates live in process-level
    reused capacity buffers and top-k selection runs per row (r12:
    fresh multi-MB allocations — including whole-matrix
    argpartition's internal index array — stall for seconds at the
    tail under 32 concurrent workers on a fault-slow host; the
    BENCH_r11 hnsw_search_1kq 6x regression on byte-identical code).
    Contract: (1) values are bitwise-identical to the
    fresh-allocation formulas in every space; (2) a second call over
    a dirty buffer reproduces the first; (3) graphs stay free of
    _ck_-prefixed per-process state when pickled; (4) tombstoned rows
    still never score."""
    import pickle

    rng = np.random.default_rng(99)
    for space in ("euclidean", "cosine", "manhattan"):
        n, q, dim = 400, 23, 8
        v = rng.normal(0, 3, (n, dim)).astype(np.float32)
        queries = rng.normal(0, 3, (q, dim)).astype(np.float32)
        g = HnswGraph(dim, HnswConfig(space=space))
        g.vectors = v
        if space == "manhattan":
            d_ref = np.abs(v[None, :, :] - queries[:, None, :]).sum(
                axis=2, dtype=np.float32
            )
        else:
            norms2 = np.einsum("ij,ij->i", v, v, dtype=np.float32)
            dot = queries @ v.T
            if space == "euclidean":
                qn2 = np.einsum("ij,ij->i", queries, queries, dtype=np.float32)
                d_ref = np.sqrt(
                    np.maximum(norms2[None, :] - 2.0 * dot + qn2[:, None], 0.0)
                )
            else:
                qn = np.sqrt(
                    np.einsum("ij,ij->i", queries, queries, dtype=np.float32)
                )
                d_ref = np.abs(
                    np.float32(1.0)
                    - dot / (np.sqrt(norms2)[None, :] * qn[:, None])
                )
        k = 7
        first = _hit_lists(*g.search_brute(queries, k))
        part = np.argpartition(d_ref, k - 1, axis=1)[:, :k]
        for qi in range(q):
            ids = part[qi]
            ds = d_ref[qi, ids]
            order = np.argsort(ds, kind="stable")
            keep = np.isfinite(ds[order])
            want = list(zip(ds[order][keep].tolist(), ids[order][keep].tolist()))
            assert first[qi] == want, (space, qi)
        rerun = _hit_lists(*g.search_brute(queries, k))
        assert rerun == first, space  # dirty-buffer rerun
        from anndb_spark.operators._scratch import _TLS

        assert _TLS.bufs["brute_d"].size >= q * n  # thread scratch live
        state = g.__getstate__()
        assert not any(key.startswith("_ck_") for key in state)
        pickle.dumps(state)  # the shipped state stays picklable
        # tombstones: deleted ids never appear even via the reused buffer
        g.deleted = np.array([0, 1], dtype=np.int64)
        hits, _ = g.search_brute(queries, k)
        assert not np.isin(hits, [0, 1]).any()


def test_acquire_brute_graph_warm_reads_no_parquet(spark, tmp_path, monkeypatch):
    """A warm brute-strategy acquisition must serve from the
    worker-resident cache without touching the index parquet (r12: the
    brute-only cache check sat AFTER read_parquet_dir().to_pandas(),
    so every brute serving call re-read + re-converted its whole
    partition — the BENCH_r11 hnsw_search_1kq 6x regression; the beam
    path never had the defect).  Auto-resolution to beam on a cached
    brute-only entry must still fall through to the full read (it
    needs adjacency)."""
    from anndb_spark.operators import hnsw as hnsw_mod
    from anndb_spark.operators.hnsw import (
        _acquire_partition_graph,
        build_index,
        save_index,
    )
    from anndb_spark.sources import fsutil

    rng = np.random.default_rng(5)
    rows = [
        (str(i), int(i % 2), rng.normal(0, 1, 8).tolist()) for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "id STRING, partition_id INT, vector ARRAY<FLOAT>"
    )
    cfg = HnswConfig(m=4, ef_construction=16)
    path = str(tmp_path / "idx")
    save_index(build_index(df, cfg), path)
    ver = fsutil.list_parts(path, "partition_id=")[0]

    calls = {"n": 0}
    real = fsutil.read_parquet_dir

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(fsutil, "read_parquet_dir", counting)
    # cold: one parquet read, brute-only graph cached
    ids, g, ub = _acquire_partition_graph(
        path, 0, cfg, "brute", ver, 5
    )
    assert ub and calls["n"] == 1 and len(ids) > 0
    # warm brute: zero further reads
    ids2, g2, ub2 = _acquire_partition_graph(
        path, 0, cfg, "brute", ver, 5
    )
    assert ub2 and calls["n"] == 1
    assert ids2 == ids and g2 is g
    # warm auto resolving to brute: still zero reads
    _, _, ub3 = _acquire_partition_graph(
        path, 0, cfg, "auto", ver, 5
    )
    assert ub3 and calls["n"] == 1
    # auto resolving to BEAM (threshold 0): the brute-only entry lacks
    # adjacency -> must fall through to a full read and return beam
    monkeypatch.setattr(hnsw_mod, "_BRUTE_FLOPS_MAX", 0.0)
    _, g4, ub4 = _acquire_partition_graph(
        path, 0, cfg, "auto", ver, 5
    )
    assert not ub4 and calls["n"] >= 2
    assert g4.adj_pad  # full graph carries adjacency
