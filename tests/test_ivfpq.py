"""IVFPQ (coarse routing × residual product codes) — build artifacts,
new-session reload, recall vs exact, full-probe behavior, cache reuse."""

import numpy as np
import pytest

from anndb_spark.operators.ivfpq import (
    build_ivfpq,
    load_ivfpq_meta,
    search_ivfpq,
)


def _clustered(spark, n=1200, dim=32, n_centers=8, seed=5):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (n_centers, dim)).astype(np.float32)
    mat = centers[np.arange(n) % n_centers] + rng.normal(
        0, 0.08, (n, dim)
    ).astype(np.float32)
    rows = [(f"v{i}", mat[i].astype(float).tolist()) for i in range(n)]
    return (
        spark.createDataFrame(rows, "id string, vector array<float>"),
        mat,
    )


@pytest.fixture(scope="module")
def ivfpq_built(spark, tmp_path_factory):
    df, mat = _clustered(spark)
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    cent, books = build_ivfpq(
        df, path, n_cells=8, m=4, n_centroids=32, sample_n=1200
    )
    return df, mat, path, cent, books


def test_ivfpq_artifacts_reload(spark, ivfpq_built):
    _, _, path, cent, books = ivfpq_built
    cent2, books2 = load_ivfpq_meta(spark, path)
    assert np.array_equal(cent, cent2)
    assert np.array_equal(books, books2)


def test_ivfpq_recall_with_rerank(spark, ivfpq_built):
    df, mat, path, cent, books = ivfpq_built
    rng = np.random.default_rng(9)
    qs = [
        (
            f"q{t}",
            (mat[rng.integers(len(mat))] + rng.normal(0, 0.03, 32).astype(np.float32))
            .astype(float)
            .tolist(),
        )
        for t in range(6)
    ]
    rows = search_ivfpq(
        spark, path, qs, k=10, nprobe=3, rerank_with=df, shortlist=60
    ).collect()
    hits = 0
    for qid, vec in qs:
        got = {r["id"] for r in rows if r["query_id"] == qid}
        assert len(got) == 10
        d = np.linalg.norm(mat - np.asarray(vec, dtype=np.float32), axis=1)
        truth = {f"v{i}" for i in np.argsort(d)[:10]}
        hits += len(truth & got)
    assert hits / 60 >= 0.9, hits / 60


def test_ivfpq_full_probe_contains_adc_truth(spark, ivfpq_built):
    """nprobe = n_cells visits every cell: the ADC top-k (no rerank)
    must then equal a brute ADC scan computed in NumPy."""
    df, mat, path, cent, books = ivfpq_built
    rng = np.random.default_rng(3)
    q = mat[17] + rng.normal(0, 0.02, 32).astype(np.float32)
    got = [
        (r["id"], r["score"])
        for r in search_ivfpq(
            spark, path, [("q0", q.astype(float).tolist())], k=5, nprobe=8
        ).collect()
    ]
    # NumPy oracle: assign + residual-encode every row, ADC with q
    m, kc, sub = books.shape
    d2 = (
        np.einsum("ij,ij->i", mat, mat)[:, None]
        - 2.0 * mat @ cent.T
        + np.einsum("ij,ij->i", cent, cent)[None, :]
    )
    a = d2.argmin(axis=1)
    R = mat - cent[a]
    codes = np.empty((len(mat), m), dtype=np.int64)
    for j in range(m):
        Rs = R[:, j * sub : (j + 1) * sub]
        codes[:, j] = (
            np.einsum("kd,kd->k", books[j], books[j])[None, :]
            - 2.0 * Rs @ books[j].T
        ).argmin(axis=1)
    s = np.zeros(len(mat), dtype=np.float32)
    for j in range(m):
        Rq = (q - cent[a])[:, j * sub : (j + 1) * sub]
        diff = Rq - books[j][codes[:, j]]
        s += np.einsum("ij,ij->i", diff, diff, dtype=np.float32)
    s = np.sqrt(np.maximum(s, 0.0))
    order = np.lexsort((np.arange(len(mat)), s))[:5]
    want = [f"v{i}" for i in order]
    assert [i for i, _ in got] == want, (got, want)


def test_ivfpq_cache_token_reuse(spark, ivfpq_built):
    """Warm searches return identical results (the worker-resident codes
    cache serves the cell matrices, held for the codes' fingerprint)."""
    df, mat, path, cent, books = ivfpq_built
    q = [("q0", mat[3].astype(float).tolist())]
    a = search_ivfpq(spark, path, q, k=5, nprobe=3).collect()
    b = search_ivfpq(spark, path, q, k=5, nprobe=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivfpq_cosine_normalize_then_l2(spark, tmp_path):
    """space='cosine' (normalize-then-L2): recall vs exact cosine kNN
    with rerank, scores are cosine distances, and the space round-trips
    through the artifact config header (serving picks it up from the
    path alone)."""
    from anndb_spark.operators.ivfpq import load_ivfpq_config

    df, mat = _clustered(spark, n=900, dim=32)
    path = str(tmp_path / "ivfpq_cos")
    build_ivfpq(
        df, path, n_cells=8, m=4, n_centroids=32, sample_n=900, space="cosine"
    )
    _, _, meta = load_ivfpq_config(spark, path)
    assert meta["space"] == "cosine"
    rng = np.random.default_rng(3)
    qs = []
    for t in range(5):
        v = mat[rng.integers(len(mat))] * float(rng.uniform(0.2, 5.0))
        qs.append((f"q{t}", v.astype(float).tolist()))
    # space not passed: read from the artifact header
    rows = search_ivfpq(
        spark, path, qs, k=10, nprobe=8, rerank_with=df, shortlist=80
    ).collect()
    norms = np.linalg.norm(mat, axis=1)
    hits = 0
    for qid, vec in qs:
        q = np.asarray(vec, dtype=np.float32)
        cos = (mat @ q) / (norms * np.linalg.norm(q))
        truth = {f"v{i}" for i in np.argsort(np.abs(1.0 - cos), kind="stable")[:10]}
        got = [r for r in rows if r["query_id"] == qid]
        hits += len(truth & {r["id"] for r in got})
        # emitted scores are cosine distances (|1-cos| convention)
        for r in got:
            i = int(r["id"][1:])
            assert abs(r["score"] - abs(1.0 - cos[i])) < 1e-3
    assert hits / 50 >= 0.9, hits / 50


def test_ivfpq_ip_raises(spark, tmp_path):
    df, _ = _clustered(spark, n=100)
    with pytest.raises(ValueError, match="ip"):
        build_ivfpq(df, str(tmp_path / "x"), n_cells=2, m=4, space="ip")


def test_ivfpq_codes_are_fixed_width_binary(spark, ivfpq_built):
    """Codes persist as m-byte BINARY rows — the parquet codes column
    averages ≤ ~1.5·m bytes/row (VERDICT r6 Wrong #3) — and the idmap
    sidecar exists, bucket-partitioned, consistent with the codes."""
    import pyarrow.parquet as pq_mod
    import glob, os

    df, mat, path, cent, books = ivfpq_built
    m = books.shape[0]
    files = glob.glob(f"{path}/codes/cluster_id=*/*.parquet")
    assert files
    tot_rows = tot_bytes = 0
    for f in files:
        meta = pq_mod.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == "codes":
                    tot_bytes += col.total_uncompressed_size
            tot_rows += g.num_rows
    assert tot_rows > 0
    # uncompressed parquet BYTE_ARRAY adds a 4-byte length prefix
    assert tot_bytes / tot_rows <= 1.5 * m + 6, (tot_bytes, tot_rows, m)
    row = spark.read.parquet(f"{path}/codes").first()
    assert isinstance(row["codes"], (bytes, bytearray)) and len(row["codes"]) == m

    # idmap sidecar: bucket-partitioned, one row per id, matches codes
    idmap = spark.read.parquet(f"{path}/idmap")
    assert set(idmap.columns) >= {"id", "cluster_id", "bucket"}
    codes_map = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(f"{path}/codes").select("id", "cluster_id").collect()
    }
    side_map = {r["id"]: r["cluster_id"] for r in idmap.collect()}
    assert side_map == codes_map
    # bucket filter reaches the scan as a PartitionFilter (directory
    # pruning — the property the streaming delete path relies on)
    import io
    from contextlib import redirect_stdout

    import pyspark.sql.functions as F

    one = idmap.filter(F.col("bucket") == idmap.first()["bucket"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        one.explain(True)
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "bucket" in pf[0], plan[-2000:]
