"""The saved-index servers' two regimes (`operators/_serve.py`): the
driver regime must return the scatter regime's rows — (query_id, rank,
id, score bits[, metadata]) — launch no Spark job, and step aside for
the task plan exactly when `serve_locally` declines.

The scatter regime is forced by setting the driver's cache budget below
every part's bytes (-1: an empty batch touches 0 bytes).  No search
passes a cache token: the servers version what they keep by the index's
content fingerprint."""

import struct
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from anndb_spark.operators import _serve
from anndb_spark.operators.hnsw import (
    HnswConfig,
    build_index,
    delete_from_index,
    save_index,
    search_index_path,
)
from anndb_spark.operators.ivf import assign_clusters, save_assigned, search_ivf_path

CFG = HnswConfig(m=8, ef_construction=60)
N, DIM = 400, 8


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _key(row):
    """A result row with its score as bits (a float compares -0.0 == 0.0)."""
    r = row.asDict() if hasattr(row, "asDict") else dict(row)
    bits = struct.pack("<d", r["score"])
    meta = tuple(sorted(r["metadata"].items())) if r.get("metadata") else None
    return (r["query_id"], r["rank"], r["id"], bits, meta)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"serve-regimes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serve regime test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _both(spark, monkeypatch, search):
    """Rows of ``search()`` in the driver regime (asserting no task plan
    and 0 jobs, search and collect), then in the forced scatter regime
    (asserting its task plan); returns both as sorted keys."""
    local, jobs = _jobs(spark, search)
    assert "MapInArrow" not in _plan(local)
    assert "LocalTableScan" in _plan(local)
    rows_local, more = _jobs(spark, local.collect)
    assert jobs + more == 0
    with monkeypatch.context() as m:
        m.setattr(_serve.CACHE, "max_bytes", -1)
        tasks = search()
        assert "MapInArrow" in _plan(tasks)
        rows_tasks, jobs = _jobs(spark, tasks.collect)
        assert jobs > 0  # the job counter sees the task regime
    return sorted(map(_key, rows_local)), sorted(map(_key, rows_tasks))


@pytest.fixture(scope="module")
def corpus(spark):
    """Integer-valued vectors (exact float arithmetic, so many equal
    scores across partitions), ids ``b<i>`` (``b10`` < ``b9`` as
    strings), metadata, and ``b10`` a copy of ``b9`` in another part."""
    rng = np.random.default_rng(7)
    mat = rng.integers(-3, 4, (N, DIM)).astype(float)
    mat[10] = mat[9]
    rows = [(f"b{i}", mat[i].tolist(), {"tag": f"t{i % 5}"}, i % 4) for i in range(N)]
    df = spark.createDataFrame(
        rows,
        "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>, partition_id INT",
    ).cache()
    qs = rng.integers(-3, 4, (12, DIM)).astype(float)
    qs[0] = mat[9]
    queries = [(f"q{i}", qs[i].tolist()) for i in range(len(qs))]
    return df, mat, queries


@pytest.fixture(scope="module")
def hnsw_paths(spark, corpus, tmp_path_factory):
    df, _, _ = corpus
    root = tmp_path_factory.mktemp("regimes")
    four, one, tomb = (str(root / n) for n in ("four", "one", "tomb"))
    idx = build_index(df, CFG).cache()
    save_index(idx, four)
    save_index(build_index(df.withColumn("partition_id", F.lit(0)), CFG), one)
    save_index(delete_from_index(idx, [f"b{i}" for i in range(0, N, 3)]), tomb)
    return {"four": four, "one": one, "tomb": tomb}


@pytest.mark.parametrize("parts", ["one", "four"])
@pytest.mark.parametrize("strategy", ["beam", "brute", "auto"])
def test_hnsw_regimes_equal(spark, monkeypatch, corpus, hnsw_paths, parts, strategy):
    _, _, queries = corpus
    a, b = _both(spark, monkeypatch, lambda: search_index_path(
        spark, hnsw_paths[parts], queries, 6, ef=40, config=CFG,
        strategy=strategy))
    assert a == b and len(a) == 6 * len(queries)


def test_hnsw_regimes_equal_walk_chunks_merged(spark, monkeypatch, corpus, hnsw_paths):
    """The driver gives a part's consecutive graph-walk chunks one kernel
    call, the task plan one task each: the rows are the same.  Under
    'auto' at a kernel threshold between a 5- and a 2-query chunk, each
    part's two 5-query chunks walk (one call) and its 2-query chunk is
    brute."""
    from anndb_spark.operators import hnsw as hnsw_mod

    _, _, queries = corpus
    walks = []
    fast = hnsw_mod.HnswGraph.search_fast_batch
    monkeypatch.setattr(hnsw_mod.HnswGraph, "search_fast_batch",
                        lambda g, Q, *a, **kw: walks.append(len(Q)) or fast(g, Q, *a, **kw))
    for strategy, flops_max in (("beam", None), ("auto", (N // 4) * 5 * DIM - 1)):
        if flops_max is not None:
            monkeypatch.setattr(hnsw_mod, "_BRUTE_FLOPS_MAX", flops_max)
        walks.clear()
        a, b = _both(spark, monkeypatch, lambda: search_index_path(
            spark, hnsw_paths["four"], queries, 6, ef=40, config=CFG, strategy=strategy,
            queries_per_task=5))
        assert a == b and len(a) == 6 * len(queries), strategy
        assert walks[:4] == [12 if strategy == "beam" else 10] * 4, (strategy, walks)


def test_hnsw_regimes_equal_ties_tombstones_metadata_big_k(spark, monkeypatch, corpus, hnsw_paths):
    """Equal scores across parts rank by id as strings (``b10`` before
    ``b9``); tombstoned ids never come back; metadata rides along; k
    above the live rows returns every live row."""
    _, _, queries = corpus
    a, b = _both(spark, monkeypatch, lambda: search_index_path(
        spark, hnsw_paths["four"], queries[:1], 2, config=CFG, strategy="brute"))
    assert a == b
    assert [r[2] for r in a] == ["b10", "b9"]  # both at distance 0

    live = N - len(range(0, N, 3))
    a, b = _both(spark, monkeypatch, lambda: search_index_path(
        spark, hnsw_paths["tomb"], queries[:3], N + 10, config=CFG,
        strategy="brute", with_metadata=True))
    assert a == b and len(a) == 3 * live
    assert all(int(r[2][1:]) % 3 and r[4] == (("tag", f"t{int(r[2][1:]) % 5}"),) for r in a)


def test_hnsw_regimes_equal_routed_and_empty(spark, monkeypatch, corpus, tmp_path):
    from anndb_spark.operators.ivf import train_centroids

    df, _, queries = corpus
    cent = train_centroids(df, 4, seed=2)
    path = str(tmp_path / "cells")
    save_index(build_index(assign_clusters(df.drop("partition_id"), cent), CFG,
                           partition_col="cluster_id"), path)
    for nprobe in (1, 4):
        a, b = _both(spark, monkeypatch, lambda: search_index_path(
            spark, path, queries, 5, ef=40, config=CFG, centroids=cent, nprobe=nprobe))
        assert a == b and len(a) == 5 * len(queries), nprobe
    a, b = _both(spark, monkeypatch, lambda: search_index_path(spark, path, [], 5, config=CFG))
    assert a == b == []


@pytest.mark.parametrize("id_type", ["STRING", "BIGINT"])
def test_ivf_regimes_equal(spark, monkeypatch, corpus, tmp_path, id_type):
    from anndb_spark.operators.ivf import train_centroids

    df, _, queries = corpus
    vecs = df.select(F.regexp_replace("id", "b", "").cast(id_type).alias("id"), "vector")
    cent = train_centroids(vecs, 4, seed=3)
    path = str(tmp_path / "ivf")
    save_assigned(assign_clusters(vecs, cent), path)
    for nprobe in (1, 4):
        a, b = _both(spark, monkeypatch, lambda: search_ivf_path(
            spark, path, queries, 5, cent, nprobe=nprobe))
        assert a == b and len(a) == 5 * len(queries)
        assert {type(r[2]) for r in a} == {str if id_type == "STRING" else int}


def _sized(monkeypatch):
    """Record the (rows, resident bytes) the rule sees for each part it
    sizes: {part: size}, refilled by every search."""
    seen = {}
    rule = _serve.serve_locally

    def spy(chunks, part_size, *a):
        seen.clear()
        seen.update({p: part_size(p) for p, _, rows in chunks if len(rows)})
        return rule(chunks, part_size, *a)

    monkeypatch.setattr(_serve, "serve_locally", spy)
    return seen


def _cached_bytes(kind):
    """Bytes cached under ``kind`` and its variants (``hnsw_brute``)."""
    return sum(
        nb for (kd, _), (_, _, nb) in _serve.CACHE.entries.items() if kd.startswith(kind)
    )


def test_rule_declines_over_budget(spark, monkeypatch, corpus, hnsw_paths):
    """Touched parts whose resident bytes are one over the cache budget
    send the batch to the task plan; at the budget it stays in the
    driver.  The rule's bound covers what the cache then holds.  (The
    brute-flops half of the rule:
    test_hnsw.py::test_local_serve_big_brute_falls_back_to_tasks.)"""
    _, _, queries = corpus
    path = hnsw_paths["four"]
    seen = _sized(monkeypatch)

    def plan():
        return _plan(search_index_path(spark, path, queries, 5, config=CFG))

    plan()
    assert sorted(n for n, _ in seen.values()) == [N // 4] * 4  # vertices, from footers
    need = sum(b for _, b in seen.values())
    monkeypatch.setattr(_serve.CACHE, "max_bytes", need - 1)
    assert "MapInArrow" in plan()
    monkeypatch.setattr(_serve.CACHE, "max_bytes", need)
    monkeypatch.setattr(_serve.CACHE, "entries", {})
    assert "MapInArrow" not in plan()
    assert 0 < _cached_bytes("hnsw") <= need


def test_rule_answers_tokenless_parts_in_driver(spark, monkeypatch, corpus, hnsw_paths):
    """A batch over several parts needs no cache token to run in the
    driver: cold (nothing cached) and warm, it launches no job, and the
    driver keeps each part it read, held for the index's fingerprint."""
    from anndb_spark.sources.fsutil import list_parts

    _, _, queries = corpus
    path = hnsw_paths["four"]
    monkeypatch.setattr(_serve.CACHE, "entries", {})
    for _ in ("cold", "warm"):
        rows, jobs = _jobs(spark, lambda: search_index_path(
            spark, path, queries, 5, config=CFG, strategy="beam").collect())
        assert jobs == 0 and len(rows) == 5 * len(queries)
    ver = list_parts(path, "partition_id=")[0]
    assert {(kd, key, v) for (kd, key), (v, _, _) in _serve.CACHE.entries.items()} == {
        ("hnsw", (path, p), ver) for p in range(4)
    }


def test_ivf_rule_counts_resident_not_listed_bytes(spark, monkeypatch, corpus, tmp_path):
    """IVF cells are cached as float64 matrices, over twice their float32
    parquet bytes: a budget that holds the listed bytes but not the
    resident ones sends the batch to the task plan."""
    from anndb_spark.operators.ivf import train_centroids
    from anndb_spark.sources.fsutil import list_parts

    df, _, queries = corpus
    vecs = df.select("id", F.col("vector").cast("array<float>").alias("vector"))
    cent = train_centroids(vecs, 4, seed=3)
    path = str(tmp_path / "ivf")
    save_assigned(assign_clusters(vecs, cent), path)
    listed = sum(i.size for fs in list_parts(path, "cluster_id=")[1].values() for i in fs)
    seen = _sized(monkeypatch)

    def plan():
        return _plan(search_ivf_path(spark, path, queries, 5, cent, nprobe=4))

    plan()
    assert sum(n for n, _ in seen.values()) == N
    need = sum(b for _, b in seen.values())
    assert need > 2 * listed
    monkeypatch.setattr(_serve.CACHE, "max_bytes", listed)
    assert "MapInArrow" in plan()
    monkeypatch.setattr(_serve.CACHE, "max_bytes", need)
    monkeypatch.setattr(_serve.CACHE, "entries", {})
    assert "MapInArrow" not in plan()
    assert _cached_bytes("ivf") == need  # the rule's bytes are the cache's


def test_cache_keeps_only_the_live_version(spark, corpus, tmp_path):
    """Three index versions written at one path, each searched without a
    token: the driver's `CACHE` and the shared-memory graph directory
    then hold the live version's parts only."""
    import os

    from anndb_spark.operators import hnsw as hnsw_mod
    from anndb_spark.sources.fsutil import list_parts

    df, _, queries = corpus
    path = str(tmp_path / "versions")
    for v in range(3):
        save_index(build_index(df.filter(F.col("id") != f"b{v}"), CFG), path)
        rows = search_index_path(spark, path, queries, 5, config=CFG, strategy="beam").collect()
        assert len(rows) == 5 * len(queries)
    ver = list_parts(path, "partition_id=")[0]
    mine = {(kd, key): v for (kd, key), (v, _, _) in _serve.CACHE.entries.items()
            if key[0] == path}
    assert mine == {("hnsw", (path, p)): ver for p in range(4)}
    root = hnsw_mod._SHM_ROOT
    if root:
        for p in range(4):
            live = os.path.basename(hnsw_mod._shm_dir_for((path, p), ver))
            prefix = live.split("-")[0] + "-"
            assert [n for n in os.listdir(root) if n.startswith(prefix)] == [live]


@pytest.fixture(scope="module")
def dataset(spark, corpus, tmp_path_factory):
    """The corpus as a 4-partition Dataset with a saved index."""
    from anndb_spark.dataset import AnnDB

    df, _, _ = corpus
    db = AnnDB(spark, str(tmp_path_factory.mktemp("regimes-db")))
    ds = db.create_dataset("regimes", DIM, partition_count=4)
    ds.insert(df.drop("partition_id"))
    ds.compact()
    ds.build_index(CFG)
    return ds


def test_one_listing_per_search(spark, monkeypatch, hnsw_paths, corpus, dataset):
    """A warm `search_index_path`, and a warm unfiltered ann
    `Dataset.search`, list the index once: partitions, their bytes and
    the cache fingerprint come from one recursive `get_file_info`, and
    no part is read."""
    from anndb_spark.sources import fsutil

    _, _, queries = corpus
    searches = {
        "search_index_path": lambda: search_index_path(
            spark, hnsw_paths["four"], queries, 5, config=CFG),
        "Dataset.search": lambda: dataset.search(queries, 5, mode="ann"),
    }
    for search in searches.values():
        search().collect()  # warm the driver's cache
    calls = []
    resolve = fsutil.resolve_fs

    class Counting:
        def __init__(self, fs):
            self.fs = fs

        def get_file_info(self, *a, **kw):
            calls.append(a)
            return self.fs.get_file_info(*a, **kw)

    monkeypatch.setattr(
        fsutil, "resolve_fs", lambda p: (lambda f, q: (Counting(f), q))(*resolve(p))
    )
    reads = []
    monkeypatch.setattr(fsutil, "read_parquet_dir", lambda *a, **kw: reads.append(a))
    for name, search in searches.items():
        calls.clear()
        assert len(search().collect()) == 5 * len(queries), name
        assert len(calls) == 1, name
    assert reads == []


def test_configless_search_reads_the_config_without_a_job(
    spark, monkeypatch, corpus, hnsw_paths
):
    """Without ``config`` the server reads the index's persisted config
    row with pyarrow from its one listing: a driver-regime batch still
    launches no job (cold config read included), and answers as with
    the config passed."""
    from anndb_spark.operators import hnsw

    _, _, queries = corpus
    hnsw._config_src.cache_clear()
    a, b = _both(spark, monkeypatch, lambda: search_index_path(
        spark, hnsw_paths["four"], queries, 6, ef=40))
    c, _ = _both(spark, monkeypatch, lambda: search_index_path(
        spark, hnsw_paths["four"], queries, 6, ef=40, config=CFG))
    assert a == b == c and len(a) == 6 * len(queries)


def test_driver_blas_threads_do_not_change_scores(spark, monkeypatch, tmp_path):
    """At a GEMM size where OpenBLAS splits work over threads (4 parts ×
    1,000 × 64, 50-query brute chunks), the driver regime's scores equal
    the single-threaded workers' bit for bit, flat HNSW and IVF."""
    from anndb_spark.operators.ivf import train_centroids

    rng = np.random.default_rng(11)
    rows = [(f"r{i}", rng.normal(0, 1, 64).tolist(), i % 4) for i in range(4000)]
    df = spark.createDataFrame(rows, "id STRING, vector ARRAY<FLOAT>, partition_id INT")
    hnsw_dir, ivf_dir = str(tmp_path / "hnsw"), str(tmp_path / "ivf")
    save_index(build_index(df, HnswConfig(m=4, ef_construction=16)), hnsw_dir)
    vecs = df.drop("partition_id")
    cent = train_centroids(vecs, 4, seed=5)
    save_assigned(assign_clusters(vecs, cent), ivf_dir)
    queries = [(f"q{i}", v.tolist()) for i, v in enumerate(rng.normal(0, 1, (50, 64)))]
    a, b = _both(spark, monkeypatch, lambda: search_index_path(
        spark, hnsw_dir, queries, 10, strategy="brute", queries_per_task=50))
    assert a == b and len(a) == 500
    a, b = _both(spark, monkeypatch, lambda: search_ivf_path(
        spark, ivf_dir, queries, 10, cent, nprobe=4, queries_per_task=50))
    assert a == b and len(a) == 500


def _rejected_before_a_job(spark, fn, match):
    """``fn()`` raises ``ValueError`` matching ``match`` and launches no
    Spark job."""
    sc = spark.sparkContext
    group = f"serve-regimes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serve regime test")
    try:
        with pytest.raises(ValueError, match=match):
            fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_duplicate_query_ids_rejected_before_a_job(spark, corpus, hnsw_paths, tmp_path):
    """Two queries sharing an id would be merged into one mixed top-k:
    the query parser rejects the batch, naming the id, before any job."""
    from anndb_spark.operators.hnsw import search_index_local

    df, mat, _ = corpus
    cent = mat[:4]
    ivf = str(tmp_path / "ivf")
    save_assigned(assign_clusters(df.select("id", "vector"), cent), ivf)
    dup = [("q", mat[0].tolist()), ("q", mat[1].tolist())]
    for search in (
        lambda: search_index_local(spark, hnsw_paths["four"], dup, 3, config=CFG),
        lambda: search_ivf_path(spark, ivf, dup, 3, cent, nprobe=2),
    ):
        _rejected_before_a_job(spark, search, "duplicate query_id 'q'")


@pytest.mark.parametrize("nprobe", [0, -1])
def test_nprobe_below_one_rejected_before_a_job(spark, corpus, tmp_path, nprobe):
    """A probe count below 1 routes no query anywhere (0 used to return no
    rows, -1 to fail inside NumPy): every IVF search rejects it, naming
    ``nprobe``, before any job."""
    from anndb_spark.operators.ivf import search_ivf
    from anndb_spark.operators.ivfpq import search_ivfpq
    from anndb_spark.operators.knn import knn_join

    df, mat, queries = corpus
    cent = mat[:4]
    vecs = df.select("id", "vector")
    qdf = spark.createDataFrame(queries, "query_id STRING, query_vector ARRAY<DOUBLE>")
    missing = str(tmp_path / "missing")
    for search in (
        lambda: search_ivf(vecs, qdf, 3, cent, nprobe=nprobe),
        lambda: knn_join(vecs, vecs, 3, mode="ivf", centroids=cent, nprobe=nprobe),
        lambda: search_ivf_path(spark, missing, queries, 3, cent, nprobe=nprobe),
        lambda: search_ivfpq(spark, missing, queries, 3, nprobe=nprobe),
    ):
        _rejected_before_a_job(spark, search, f"nprobe={nprobe}")
