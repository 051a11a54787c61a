"""IVF coarse-quantized ANN: exactness at full probe, recall at partial."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anndb_spark.operators.ivf import (
    assign_clusters,
    route_queries,
    search_ivf,
    train_centroids,
)
from anndb_spark.operators.knn import knn_exact

N, DIM, K = 2000, 16, 10


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    # 8 well-separated gaussian blobs
    centers = rng.normal(0, 20, (8, DIM))
    rows = []
    for i in range(N):
        c = i % 8
        rows.append((str(i), (centers[c] + rng.normal(0, 1, DIM)).tolist()))
    return spark.createDataFrame(rows, "id STRING, vector ARRAY<DOUBLE>").cache()


@pytest.fixture(scope="module")
def queries(spark, vectors):
    rng = np.random.default_rng(11)
    rows = [(q, rng.normal(0, 20, DIM).tolist()) for q in range(20)]
    return spark.createDataFrame(rows, "query_id INT, query_vector ARRAY<DOUBLE>").cache()


@pytest.fixture(scope="module", params=["euclidean", "cosine"])
def space(request):
    return request.param


def test_assign_covers_all_clusters(spark, vectors):
    cent = train_centroids(vectors, 8, sample_n=N)
    assigned = assign_clusters(vectors, cent)
    stats = assigned.groupBy("cluster_id").count().collect()
    assert len(stats) == 8  # blob structure recovered
    assert assigned.count() == N


def test_route_queries_shape(spark, queries):
    cent = np.eye(4, DIM) * 10
    routed = route_queries(queries, cent, nprobe=2)
    assert routed.count() == 20 * 2
    counts = routed.groupBy("query_id").count().select("count").distinct().collect()
    assert [r[0] for r in counts] == [2]


def test_full_probe_is_exact(spark, vectors, queries, space):
    cent = train_centroids(vectors, 8, space=space, sample_n=N)
    got = search_ivf(vectors, queries, K, cent, nprobe=8, space=space)
    want = knn_exact(vectors, queries, K, space=space)
    g = {(r.query_id, r.rank): r.id for r in got.collect()}
    w = {(r.query_id, r.rank): r.id for r in want.collect()}
    assert g == w


def test_partial_probe_recall(spark, vectors, queries):
    cent = train_centroids(vectors, 8, sample_n=N)
    got = search_ivf(vectors, queries, K, cent, nprobe=2)
    want = knn_exact(vectors, queries, K)
    g = got.groupBy("query_id").agg(F.collect_set("id").alias("ids"))
    w = want.groupBy("query_id").agg(F.collect_set("id").alias("ids"))
    j = g.join(w.withColumnRenamed("ids", "truth"), "query_id")
    rec = j.select(
        (F.size(F.array_intersect("ids", "truth")) / F.lit(K)).alias("r")
    ).agg(F.avg("r")).collect()[0][0]
    # blob data: 2 probes of 8 blobs should capture most true neighbors
    assert rec >= 0.8


def test_search_reports_k_rows_per_query(spark, vectors, queries):
    cent = train_centroids(vectors, 8, sample_n=N)
    got = search_ivf(vectors, queries, K, cent, nprobe=3)
    per_q = got.groupBy("query_id").count().select(F.min("count"), F.max("count")).collect()[0]
    assert per_q[0] == K and per_q[1] == K


def test_search_ivf_path_matches_search_ivf(spark, tmp_path):
    """The serving-shape IVF path search (per-cluster parquet reads,
    driver routing, worker-cached cluster matrices) returns exactly what
    the cogroup search_ivf returns."""
    import numpy as np
    from pyspark.sql import functions as F

    from anndb_spark.operators.ivf import (
        assign_clusters,
        save_assigned,
        search_ivf,
        search_ivf_path,
        train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").alias("vector"),
    )
    cent = train_centroids(emb, 4, sample_n=10_000)
    assigned = assign_clusters(emb, cent)
    path = str(tmp_path / "ivf_assigned")
    save_assigned(assigned, path)

    rng = np.random.default_rng(3)
    queries = [(str(i), rng.normal(0, 1, 64).tolist()) for i in range(7)]
    qdf = spark.createDataFrame(
        queries, "query_id STRING, query_vector ARRAY<DOUBLE>"
    )
    for nprobe in (2, 4):
        a = search_ivf(assigned, qdf, 5, cent, nprobe=nprobe).collect()
        b = search_ivf_path(
            spark, path, queries, 5, cent, nprobe=nprobe
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), nprobe


def test_search_ivf_path_native_id_type(spark, tmp_path):
    """Non-string (BIGINT) ids survive the serving path with their
    native type — the output schema is footer-detected, not hardcoded."""
    import numpy as np
    from pyspark.sql import functions as F

    from anndb_spark.operators.ivf import (
        assign_clusters,
        save_assigned,
        search_ivf,
        search_ivf_path,
        train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    cent = train_centroids(emb, 4, sample_n=10_000)
    assigned = assign_clusters(emb, cent)
    path = str(tmp_path / "ivf_int")
    save_assigned(assigned, path)
    rng = np.random.default_rng(5)
    queries = [(str(i), rng.normal(0, 1, 64).tolist()) for i in range(5)]
    out = search_ivf_path(spark, path, queries, 5, cent, nprobe=2)
    assert dict(out.dtypes)["id"] == "bigint"
    qdf = spark.createDataFrame(queries, "query_id STRING, query_vector ARRAY<DOUBLE>")
    a = search_ivf(assigned, qdf, 5, cent, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, out.collect()))


def test_pairwise_scratch_reuse_bitwise():
    """The r13 ivf scratch discipline (VERDICT r12 task 3, the
    `test_search_brute_scratch_reuse_bitwise_and_unpickled` template):
    `_pairwise` now lands every (q, n) intermediate in reused
    thread-local buffers and selection runs per row — results must be
    BITWISE-identical to the fresh-allocation formulas in every space,
    including a dirty-buffer rerun with different shapes in between."""
    from anndb_spark.operators._scratch import _TLS, argpart_rows
    from anndb_spark.operators.ivf import _pairwise

    rng = np.random.default_rng(123)

    def fresh(queries, vectors, space):
        # the pre-r13 formulas, verbatim
        if space == "manhattan":
            out = np.empty(
                (queries.shape[0], vectors.shape[0]), dtype=np.float64
            )
            for i, q in enumerate(queries):
                out[i] = np.abs(vectors - q).sum(axis=1)
            return out
        dot = queries @ vectors.T
        if space == "euclidean":
            qn2 = np.einsum("ij,ij->i", queries, queries)
            vn2 = np.einsum("ij,ij->i", vectors, vectors)
            return np.sqrt(
                np.maximum(vn2[None, :] - 2.0 * dot + qn2[:, None], 0.0)
            )
        qn = np.sqrt(np.einsum("ij,ij->i", queries, queries))
        vn = np.sqrt(np.einsum("ij,ij->i", vectors, vectors))
        return np.abs(1.0 - dot / (qn[:, None] * vn[None, :]))

    shapes = [(17, 251, 16), (5, 40, 8), (33, 97, 16)]  # grow, shrink, regrow
    for q, n, d in shapes:
        qs = rng.normal(0, 3, (q, d))
        vs = rng.normal(0, 3, (n, d))
        for space in ("euclidean", "cosine", "manhattan"):
            got = _pairwise(qs, vs, space)
            want = fresh(qs, vs, space)
            assert got.dtype == want.dtype
            assert np.array_equal(got, want), (space, q, n)
            # returned matrix is scratch-backed (reuse is real)
            assert got.base is not None or got is _TLS.bufs["ivf_pw_out"]
            # row-wise selection == whole-matrix argpartition selection
            kk = min(7, n)
            part = argpart_rows(np.array(got), kk)
            ref = np.argpartition(want, kk - 1, axis=1)[:, :kk]
            assert np.array_equal(np.sort(part), np.sort(ref)), space
