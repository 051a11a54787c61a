"""Exact kNN tests — differential vs NumPy brute force, the reference's
key test pattern (`index/hnsw_test.go:21-54`)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anndb_spark.operators.knn import knn_exact, knn_search, partial_topk


@pytest.fixture(scope="module")
def small_vectors(spark):
    rng = np.random.default_rng(7)
    rows = [(str(i).zfill(4), rng.normal(0, 10, 16).tolist()) for i in range(500)]
    return spark.createDataFrame(rows, "id STRING, vector ARRAY<DOUBLE>"), rows


def _brute(rows, q, k, space="euclidean"):
    mat = np.array([v for _, v in rows])
    qv = np.array(q)
    if space == "euclidean":
        d = np.sqrt(((mat - qv) ** 2).sum(axis=1))
    elif space == "manhattan":
        d = np.abs(mat - qv).sum(axis=1)
    else:
        d = np.abs(1 - (mat @ qv) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv)))
    order = sorted(range(len(rows)), key=lambda i: (d[i], rows[i][0]))
    return [(rows[i][0], d[i]) for i in order[:k]]


@pytest.mark.parametrize("space", ["euclidean", "manhattan", "cosine"])
def test_knn_exact_vs_numpy(spark, small_vectors, space):
    df, rows = small_vectors
    q = [1.0] * 16
    queries = spark.createDataFrame([(0, q)], "query_id INT, query_vector ARRAY<DOUBLE>")
    got = knn_exact(df, queries, 10, space=space).orderBy("rank").collect()
    want = _brute(rows, q, 10, space)
    assert [r["id"] for r in got] == [i for i, _ in want]
    assert [r["score"] for r in got] == pytest.approx([s for _, s in want], rel=1e-9)
    assert [r["rank"] for r in got] == list(range(1, 11))


def test_knn_multi_query(spark, small_vectors):
    df, rows = small_vectors
    qs = [(i, [float(i)] * 16) for i in range(5)]
    queries = spark.createDataFrame(qs, "query_id INT, query_vector ARRAY<DOUBLE>")
    got = knn_exact(df, queries, 3).collect()
    assert len(got) == 15
    for qid, qv in qs:
        ids = [r["id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == qid]
        assert ids == [i for i, _ in _brute(rows, qv, 3)]


def test_knn_k_exceeds_n(spark):
    # k > N returns min(k, N) rows (storage/dataset.go:387)
    df = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [1.0, 1.0])], "id STRING, vector ARRAY<DOUBLE>"
    )
    queries = spark.createDataFrame([(0, [0.0, 0.0])], "query_id INT, query_vector ARRAY<DOUBLE>")
    assert knn_exact(df, queries, 10).count() == 2


def test_knn_search_single_query(spark, small_vectors):
    df, rows = small_vectors
    got = knn_search(df, [1.0] * 16, 5).collect()
    want = _brute(rows, [1.0] * 16, 5)
    assert [r["id"] for r in got] == [i for i, _ in want]


def test_partial_topk_is_superset_filter(spark, small_vectors):
    df, rows = small_vectors
    scored = df.select(F.lit(0).alias("query_id"), "id", F.element_at("vector", 1).alias("score"))
    survivors = partial_topk(scored, ["query_id"], ["score", "id"], 5)
    rows_out = survivors.collect()
    # global top-5 must be contained in the survivors
    want = sorted(((r["score"], r["id"]) for r in scored.collect()))[:5]
    got = {(r["score"], r["id"]) for r in rows_out}
    assert all(w in got for w in want)


def test_two_stage_equals_single_stage(spark, small_vectors):
    df, _ = small_vectors
    queries = spark.createDataFrame(
        [(0, [2.0] * 16), (1, [-3.0] * 16)], "query_id INT, query_vector ARRAY<DOUBLE>"
    )
    a = knn_exact(df, queries, 7, two_stage=True).collect()
    b = knn_exact(df, queries, 7, two_stage=False).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted([(r["query_id"], r["rank"], r["id"], r["score"]) for r in a]) == sorted(
        [(r["query_id"], r["rank"], r["id"], r["score"]) for r in b]
    )


# --- knn_join --------------------------------------------------------------

@pytest.fixture(scope="module")
def join_sides(spark):
    rng = np.random.default_rng(11)
    lrows = [(f"L{i:03d}", rng.normal(0, 5, 8).tolist()) for i in range(40)]
    rrows = [(f"R{i:03d}", rng.normal(0, 5, 8).tolist()) for i in range(200)]
    mk = lambda rows: spark.createDataFrame(rows, "id STRING, vector ARRAY<DOUBLE>")  # noqa: E731
    return mk(lrows), lrows, mk(rrows), rrows


def _brute_join(lrows, rrows, k, space="euclidean", exclude_self=False):
    want = {}
    for lid, lv in lrows:
        cands = [(rid, rv) for rid, rv in rrows if not (exclude_self and rid == lid)]
        want[lid] = [i for i, _ in _brute(cands, lv, k, space)]
    return want


@pytest.mark.parametrize("space", ["euclidean", "cosine"])
def test_knn_join_exact_vs_numpy(spark, join_sides, space):
    from anndb_spark.operators.knn import knn_join

    ldf, lrows, rdf, rrows = join_sides
    got = knn_join(ldf, rdf, 5, space=space).collect()
    want = _brute_join(lrows, rrows, 5, space)
    assert len(got) == len(lrows) * 5
    for lid in want:
        ids = [r["right_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["left_id"] == lid]
        assert ids == want[lid], lid


def test_knn_join_self_excludes_identity(spark, join_sides):
    from anndb_spark.operators.knn import knn_join

    _, _, rdf, rrows = join_sides
    got = knn_join(rdf, rdf, 3, exclude_self=True).collect()
    want = _brute_join(rrows, rrows, 3, exclude_self=True)
    assert all(r["left_id"] != r["right_id"] for r in got)
    for lid in want:
        ids = [r["right_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["left_id"] == lid]
        assert ids == want[lid]


def test_knn_join_ivf_full_probe_is_exact(spark, join_sides):
    from anndb_spark.operators.ivf import train_centroids
    from anndb_spark.operators.knn import knn_join

    ldf, lrows, rdf, rrows = join_sides
    cents = train_centroids(rdf, 4, sample_n=200, seed=3)
    got = knn_join(ldf, rdf, 5, mode="ivf", centroids=cents, nprobe=4).collect()
    want = _brute_join(lrows, rrows, 5)
    for lid in want:
        ids = [r["right_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["left_id"] == lid]
        assert ids == want[lid]


def test_knn_join_ivf_partial_probe_recall(spark, join_sides):
    from anndb_spark.operators.ivf import train_centroids
    from anndb_spark.operators.knn import knn_join

    ldf, lrows, rdf, rrows = join_sides
    cents = train_centroids(rdf, 8, sample_n=200, seed=3)
    got = knn_join(ldf, rdf, 5, mode="ivf", centroids=cents, nprobe=3).collect()
    want = _brute_join(lrows, rrows, 5)
    hits = total = 0
    for lid in want:
        ids = {r["right_id"] for r in got if r["left_id"] == lid}
        hits += len(ids & set(want[lid]))
        total += 5
    assert hits / total >= 0.6


def test_knn_join_ivf_preassigned_right_matches_unassigned(spark, join_sides):
    """A ``right`` carrying its `assign_clusters` cells returns the same
    rows as one the join assigns itself."""
    from anndb_spark.operators.ivf import assign_clusters, train_centroids
    from anndb_spark.operators.knn import knn_join

    ldf, _, rdf, _ = join_sides
    cents = train_centroids(rdf, 8, sample_n=200, seed=3)
    plain = knn_join(ldf, rdf, 5, mode="ivf", centroids=cents, nprobe=3).collect()
    carried = knn_join(
        ldf, assign_clusters(rdf, cents), 5, mode="ivf", centroids=cents, nprobe=3
    ).collect()
    assert sorted(map(tuple, carried)) == sorted(map(tuple, plain))
    assert len(plain) == 5 * ldf.count()


@pytest.mark.parametrize("bad", [8, -1, None])
def test_knn_join_ivf_rejects_bad_cluster_id(spark, join_sides, bad):
    """A carried ``cluster_id`` outside range(len(centroids)) — or NULL —
    would never be probed; the join fails naming the column instead of
    silently dropping the row."""
    from anndb_spark.operators.ivf import assign_clusters, train_centroids
    from anndb_spark.operators.knn import knn_join

    ldf, _, rdf, _ = join_sides
    cents = train_centroids(rdf, 8, sample_n=200, seed=3)
    cid = F.col("cluster_id")
    right = assign_clusters(rdf, cents).withColumn(
        "cluster_id",
        F.when(F.col("id") == "R007", F.lit(bad).cast("int")).otherwise(cid),
    )
    with pytest.raises(Exception, match="cluster_id"):
        knn_join(ldf, right, 5, mode="ivf", centroids=cents, nprobe=8).collect()


def test_knn_exact_gemm_kernel_matches_expr(spark, small_vectors):
    """GEMM kernel returns the same ids/ranks as the expression path;
    scores agree to float tolerance (different summation order)."""
    df, rows = small_vectors
    rng = np.random.default_rng(13)
    queries = spark.createDataFrame(
        [(str(i), rng.normal(0, 10, 16).tolist()) for i in range(4)],
        "query_id STRING, query_vector ARRAY<DOUBLE>",
    )
    for space in ("euclidean", "manhattan", "cosine"):
        a = knn_exact(df, queries, 7, space=space).collect()
        b = knn_exact(df, queries, 7, space=space, kernel="gemm").collect()
        ka = sorted((r["query_id"], r["rank"], r["id"]) for r in a)
        kb = sorted((r["query_id"], r["rank"], r["id"]) for r in b)
        assert ka == kb, space
        sa = {(r["query_id"], r["id"]): r["score"] for r in a}
        for r in b:
            assert sa[(r["query_id"], r["id"])] == pytest.approx(r["score"], rel=1e-9)


def test_knn_join_gemm_matches_exact(spark, join_sides):
    from anndb_spark.operators.knn import knn_join

    ldf, lrows, rdf, rrows = join_sides
    a = knn_join(ldf, rdf, 5).collect()
    b = knn_join(ldf, rdf, 5, mode="gemm").collect()
    assert sorted((r["left_id"], r["rank"], r["right_id"]) for r in a) == sorted(
        (r["left_id"], r["rank"], r["right_id"]) for r in b
    )
    # self-join with identity exclusion
    c = knn_join(rdf, rdf, 3, exclude_self=True, mode="gemm").collect()
    want = _brute_join(rrows, rrows, 3, exclude_self=True)
    assert all(r["left_id"] != r["right_id"] for r in c)
    for lid in want:
        ids = [
            r["right_id"]
            for r in sorted(c, key=lambda r: r["rank"])
            if r["left_id"] == lid
        ]
        assert ids == want[lid]


def test_gemm_collect_guard_knn_exact(spark, small_vectors):
    """Oversized query side must not be collected: gemm falls back to the
    expr kernel (exact, no driver collect) with a warning."""
    vecs, rows = small_vectors
    qdf = spark.createDataFrame(
        [(i, rows[i][1]) for i in range(3)], "query_id INT, query_vector ARRAY<DOUBLE>"
    )
    with pytest.warns(UserWarning, match="expr"):
        guarded = knn_exact(vecs, qdf, 5, kernel="gemm", gemm_collect_cap=2)
        got = sorted(map(tuple, guarded.select("query_id", "rank", "id").collect()))
    want = sorted(
        map(tuple, knn_exact(vecs, qdf, 5).select("query_id", "rank", "id").collect())
    )
    assert got == want


def test_gemm_collect_guard_knn_join(spark, join_sides):
    """Oversized left side reroutes gemm → bucketed ivf path instead of a
    driver collect; results stay rank-bounded and well-formed."""
    from anndb_spark.operators.knn import knn_join

    left, lrows, right, rrows = join_sides
    with pytest.warns(UserWarning, match="ivf"):
        res = knn_join(
            left, right, 3, mode="gemm", gemm_collect_cap=5
        ).collect()
    assert len(res) > 0
    by_left = {}
    for r in res:
        by_left.setdefault(r["left_id"], []).append(r["rank"])
    for ranks in by_left.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_knn_join_pq_mode_matches_exact(spark):
    """mode='pq' (coded inner scan + exact rerank) must recover ≥90% of
    the exact join's neighbor sets and respect the (rank, score)
    ordering contract."""
    import numpy as np

    from anndb_spark.operators.knn import knn_join

    rng = np.random.default_rng(4)
    centers = rng.normal(0, 1, (6, 32)).astype(np.float32)
    mat = centers[np.arange(240) % 6] + rng.normal(0, 0.08, (240, 32)).astype(
        np.float32
    )
    rows = [(f"v{i}", mat[i].astype(float).tolist()) for i in range(240)]
    df = spark.createDataFrame(rows, "id string, vector array<float>")
    left = df.limit(40)
    exact = knn_join(left, df, 5, mode="exact", exclude_self=True).collect()
    pq = knn_join(
        left, df, 5, mode="pq", exclude_self=True, pq_m=4, pq_centroids=32
    ).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["left_id"], set()).add(r["right_id"])
    hits = total = 0
    by_left = {}
    for r in pq:
        by_left.setdefault(r["left_id"], []).append((r["rank"], r["score"]))
        total += 1
        hits += r["right_id"] in ex.get(r["left_id"], ())
    assert total == 40 * 5
    assert hits / total >= 0.9, hits / total
    for rs in by_left.values():
        rs.sort()
        assert [x for x, _ in rs] == list(range(1, 6))
        assert [s for _, s in rs] == sorted(s for _, s in rs)


def test_knn_join_pq_big_left_reroutes_to_ivf(spark):
    """mode='pq' over a left side above gemm_collect_cap must NOT raise:
    it warns and reroutes to the bucketed ivf path, same contract as
    mode='gemm' (VERDICT r6 Wrong #4 / task 7)."""
    import warnings as _w

    import numpy as np

    from anndb_spark.operators.knn import knn_join

    rng = np.random.default_rng(8)
    rows = [(f"v{i}", rng.normal(0, 1, 8).astype(float).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "id string, vector array<float>")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        res = knn_join(
            df, df, k=3, mode="pq", exclude_self=True, gemm_collect_cap=50,
            pq_m=4, pq_centroids=16,
        ).collect()
    assert any("falling back" in str(c.message) for c in caught)
    per = {}
    for r in res:
        per.setdefault(r["left_id"], []).append(r)
    assert len(per) == 120 and all(len(v) == 3 for v in per.values())

def test_knn_binary_rerank_direction_is_size_adaptive(spark):
    """r14: when the vector table is too big to auto-broadcast, the
    rerank fetch must broadcast the batch-bounded candidate side
    (never SMJ-shuffle the corpus by id); results are identical in
    both directions."""
    import numpy as np
    from pyspark.sql import functions as F

    from anndb_spark.operators.knn import knn_binary

    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(300)]
    vecs = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>")
    qs = [(i, rng.normal(0, 1, 8).tolist()) for i in range(5)]
    base = sorted(map(tuple, knn_binary(vecs, qs, 3, dim=8).collect()))
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        df = knn_binary(vecs, qs, 3, dim=8)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastExchange" in plan
        hinted = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    assert hinted == base
