"""Exact kNN tests — differential vs NumPy brute force, the reference's
key test pattern (`index/hnsw_test.go:21-54`)."""

import struct
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from anndb_spark.functions.spaces import distance_col
from anndb_spark.operators.knn import knn_exact, knn_search


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


# --- the per-task kernel against the distance_col escape hatch -------------


def _bits(rows):
    """Rows as sorted tuples, each float as its bits (NULL stays None)."""
    return sorted(
        tuple(struct.pack("<d", x) if isinstance(x, float) else x for x in r)
        for r in rows
    )


def _hatch(vecs, queries, k, space, **kw):
    """knn_exact through the distance_col cross join (a score_expr is one
    of its three cases)."""
    score = distance_col(F.col("vector"), F.col("query_vector"), space)
    return knn_exact(vecs, queries, k, space=space, score_expr=score, **kw)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"knn-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "knn kernel test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def tie_rows():
    """Small-integer vectors: many equal scores, so ids break ties."""
    rng = np.random.default_rng(5)
    return rng.integers(-2, 3, (300, 6)).astype(float).tolist()


@pytest.mark.parametrize("id_type", ["STRING", "INT"])
@pytest.mark.parametrize("vec_type", ["FLOAT", "DOUBLE"])
@pytest.mark.parametrize("space", ["euclidean", "manhattan", "cosine"])
def test_kernel_scores_equal_escape_hatch_bitwise(
    spark, tie_rows, space, vec_type, id_type
):
    ids = [f"v{i}" if id_type == "STRING" else 1000 - i for i in range(len(tie_rows))]
    rows = [(i, v, j % 7) for j, (i, v) in enumerate(zip(ids, tie_rows))]
    vecs = spark.createDataFrame(
        rows, f"id {id_type}, vector ARRAY<{vec_type}>, tag INT"
    ).repartition(3)
    rng = np.random.default_rng(6)
    queries = spark.createDataFrame(
        [(f"q{i}", rng.integers(-2, 3, 6).astype(float).tolist()) for i in range(9)],
        "query_id STRING, query_vector ARRAY<DOUBLE>",
    )
    for k in (1, 8, len(rows) + 5):  # k > n keeps every row
        got = knn_exact(vecs, queries, k, space=space, payload_cols=["tag"])
        want = _hatch(vecs, queries, k, space, payload_cols=["tag"])
        assert got.schema == want.schema
        assert _bits(got.collect()) == _bits(want.collect()), k
    assert got.count() == 9 * len(rows)


def test_kernel_chunks_and_batches_keep_rows(spark, tie_rows, monkeypatch):
    """One query per score block and 40-row Arrow batches (the kernel
    merges each query's candidates across batches by id) return the
    one-block rows."""
    from anndb_spark.operators import knn

    vecs = spark.createDataFrame(
        [(f"v{i}", v) for i, v in enumerate(tie_rows)], "id STRING, vector ARRAY<DOUBLE>"
    ).coalesce(2)
    queries = spark.createDataFrame(
        [(i, v) for i, v in enumerate(tie_rows[:7])], "query_id INT, query_vector ARRAY<DOUBLE>"
    )
    want = _bits(_hatch(vecs, queries, 6, "euclidean").collect())
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    monkeypatch.setattr(knn, "_BLOCK_BYTES", 1)
    try:
        spark.conf.set(conf, "40")
        got = _bits(knn_exact(vecs, queries, 6).collect())
    finally:
        spark.conf.set(conf, old)
    assert got == want


def test_kernel_empty_sides(spark):
    vecs = spark.createDataFrame([("a", [1.0, 2.0])], "id STRING, vector ARRAY<DOUBLE>")
    queries = spark.createDataFrame(
        [(0, [1.0, 1.0])], "query_id INT, query_vector ARRAY<DOUBLE>"
    )
    no_vecs, no_queries = vecs.limit(0), queries.limit(0)
    for v, q in ((no_vecs, queries), (vecs, no_queries)):
        got = knn_exact(v, q, 3)
        assert got.schema == _hatch(v, q, 3, "euclidean").schema
        assert got.collect() == []


def test_kernel_edge_rows_rank_as_spark(spark):
    """NULL, NULL-element and wrong-length vectors score NULL and rank
    first (ascending puts NULL first); a NaN element scores NaN and
    ranks last; equal to the escape hatch for every space."""
    rows = [
        ("a", [3.0, 4.0]), ("b", None), ("c", [1.0, None]), ("d", [1.0, 2.0, 3.0]),
        ("e", [float("nan"), 1.0]), ("f", [0.0, 1.0]), ("g", []),
    ]
    vecs = spark.createDataFrame(rows, "id STRING, vector ARRAY<DOUBLE>")
    queries = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, None), (2, [2.0, None])],
        "query_id INT, query_vector ARRAY<DOUBLE>",
    )
    for space in ("euclidean", "manhattan", "cosine"):
        got = knn_exact(vecs, queries, 7, space=space).collect()
        assert _bits(got) == _bits(_hatch(vecs, queries, 7, space).collect()), space
        q0 = [(r["id"], r["score"]) for r in sorted(got, key=lambda r: r["rank"])
              if r["query_id"] == 0]
        assert [i for i, _ in q0][:4] == ["b", "c", "d", "g"], space
        assert q0[-1][0] == "e"
        assert [s is None for _, s in q0] == [True] * 4 + [False] * 3
        assert np.isnan(q0[-1][1])
        # a NULL query, or one with a NULL element, scores NULL everywhere
        # and ranks the vectors by id alone
        for qid in (1, 2):
            q = sorted((r for r in got if r["query_id"] == qid), key=lambda r: r["rank"])
            assert [r["id"] for r in q] == list("abcdefg")
            assert all(r["score"] is None for r in q)


def test_kernel_zero_norm_cosine_follows_ansi(spark):
    """A zero-norm cosine pair is NULL with ANSI off and fails the query
    with DIVIDE_BY_ZERO with it on — as the expression does."""
    vecs = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [1.0, 2.0])], "id STRING, vector ARRAY<FLOAT>"
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [0.0, 0.0])], "query_id INT, query_vector ARRAY<DOUBLE>"
    )
    conf = "spark.sql.ansi.enabled"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        got = knn_exact(vecs, queries, 2, space="cosine").collect()
        assert _bits(got) == _bits(_hatch(vecs, queries, 2, "cosine").collect())
        assert {(r["query_id"], r["id"]) for r in got if r["score"] is None} == {
            (0, "a"), (1, "a"), (1, "b")
        }
        spark.conf.set(conf, "true")
        for df in (knn_exact(vecs, queries, 2, space="cosine"),
                   _hatch(vecs, queries, 2, "cosine")):
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                df.collect()
    finally:
        spark.conf.set(conf, old)


def test_kernel_join_exclude_self_bitwise(spark, join_sides):
    """knn_join(mode='exact') through the kernel equals its cross join
    (broadcast_left=False), self-exclusion included, bit for bit."""
    from anndb_spark.operators.knn import knn_join

    ldf, _, rdf, _ = join_sides
    for space in ("euclidean", "cosine"):
        for left, excl in ((ldf, False), (rdf, True)):
            got = knn_join(left, rdf, 4, space=space, exclude_self=excl)
            want = knn_join(left, rdf, 4, space=space, exclude_self=excl,
                            broadcast_left=False)
            assert "MapInArrow" in _plan(got) and "MapInArrow" not in _plan(want)
            assert _bits(got.collect()) == _bits(want.collect())


def test_query_side_over_cap_takes_escape_hatch(spark, small_vectors):
    df, _ = small_vectors
    queries = spark.createDataFrame(
        [(i, [float(i)] * 16) for i in range(3)], "query_id INT, query_vector ARRAY<DOUBLE>"
    )
    over = knn_exact(df, queries, 4, gemm_collect_cap=2)
    assert "MapInArrow" not in _plan(over) and "NestedLoopJoin" in _plan(over)
    assert "MapInArrow" in _plan(knn_exact(df, queries, 4, gemm_collect_cap=3))
    assert _bits(over.collect()) == _bits(knn_exact(df, queries, 4).collect())


def test_small_side_collected_in_one_job(spark, small_vectors, join_sides):
    """Each kernel call collects its small side once: one Spark job to
    build the DataFrame (count-then-collect was two)."""
    from anndb_spark.operators.knn import knn_join

    df, _ = small_vectors
    _, _, rdf, _ = join_sides
    # four scan partitions: a bounded collect() would scan them in
    # growing rounds, one job each
    queries = spark.range(0, 3, 1, 4).select(
        F.col("id").cast("int").alias("query_id"),
        F.array_repeat(F.col("id").cast("double"), 16).alias("query_vector"),
    )
    left = spark.range(0, 40, 1, 4).select(
        F.concat(F.lit("L"), F.col("id").cast("string")).alias("id"),
        F.array_repeat(F.col("id").cast("double"), 8).alias("vector"),
    )
    for build in (
        lambda: knn_exact(df, queries, 4),
        lambda: knn_exact(df, queries, 4, kernel="gemm"),
        lambda: knn_join(left, rdf, 3),
        lambda: knn_join(left, rdf, 3, mode="gemm"),
    ):
        _, jobs = _jobs(spark, build)
        assert jobs == 1


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("mode", ["exact", "gemm"])
def test_repeated_left_id_raises(spark, join_sides, mode):
    """A left side that repeats an id would get one mixed top-k for two
    vectors; the collecting modes raise naming it, as mode='pq' does."""
    from anndb_spark.operators.knn import knn_join

    _, lrows, right, _ = join_sides
    left = spark.createDataFrame(
        [("a", lrows[0][1]), ("b", lrows[1][1]), ("a", lrows[2][1])],
        "id STRING, vector ARRAY<DOUBLE>",
    )

    def join():
        with pytest.raises(ValueError, match="duplicate id 'a'"):
            knn_join(left, right, 3, mode=mode)

    assert _jobs(spark, join)[1] <= 1  # at most the left side's collect


@pytest.mark.parametrize("kernel", ["expr", "gemm"])
def test_knn_exact_repeated_query_id_raises(spark, small_vectors, kernel):
    vecs, rows = small_vectors
    queries = spark.createDataFrame(
        [(7, rows[0][1]), (7, rows[1][1])], "query_id INT, query_vector ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="duplicate query_id 7"):
        knn_exact(vecs, queries, 3, kernel=kernel)
