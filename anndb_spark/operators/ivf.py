"""IVF (inverted-file) approximate nearest-neighbor search.

The scale path for similarity search: a coarse k-means quantizer splits
the vector table into ``n_clusters`` buckets; each query is routed to its
``nprobe`` nearest centroids and scored exactly (blocked GEMM) against
only those buckets.  With nprobe == n_clusters this degrades gracefully
to exact brute-force kNN — which is how the oracle checks it.

This is the IVF counterpart of the reference's HNSW accelerator: the
reference bounds search work per query via the graph
(`/root/reference/index/hnsw.go:216-247`); IVF bounds it via coarse
partition pruning.  Both sit on the same exact-kNN semantic core
(`operators/knn.py`) and are validated by recall against it, mirroring
`index/hnsw_test.go:21-54`.

100 TB shape:
- ``train_centroids`` samples a *bounded* number of rows to the driver
  (sample size is independent of table size) — k-means on 100k × d
  doubles is driver-trivial; the table itself is never collected.
- ``assign_clusters`` is one mapInPandas pass (GEMM argmin against the
  broadcast centroid matrix, closure-captured: ~K·d floats).
- Persisting the assigned table partitioned by ``cluster_id`` turns the
  probe-filter into parquet partition pruning: a query batch with
  nprobe=8 of 1024 clusters reads <1% of the data.
- ``search_ivf`` shuffles only (routed queries ⋈ probed clusters); the
  per-cluster score is a float64 GEMM, partial top-k per cluster, then a
  global window top-k over ≤ |Q|·nprobe·k survivor rows — the same
  partial/final shape as the reference's scatter/gather
  (`storage/dataset.go:374-431`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from anndb_spark.operators import _serve
from anndb_spark.operators._scratch import argpart_rows, scratch_mat

__all__ = [
    "train_centroids",
    "assign_clusters",
    "route_queries",
    "search_ivf",
    "save_assigned",
    "search_ivf_path",
]


def _as_matrix(series: pd.Series) -> np.ndarray:
    return np.array(series.tolist(), dtype=np.float64)


def _pairwise(queries: np.ndarray, vectors: np.ndarray, space: str) -> np.ndarray:
    """(|Q|, n) float64 distance matrix; one GEMM for euclidean/cosine.

    The returned matrix is a view into thread-local scratch: valid
    until the CALLER's next `_pairwise` call on the same thread (every
    call site consumes it immediately).  Values are bitwise-identical
    to the fresh-allocation formulas (pytest-pinned): IEEE a-b is
    a+(-b), multiply by -2.0 is an exact sign flip of 2.0*x, addition
    commutes, and the in-place chain applies the same elementwise ops
    in the same order."""
    queries = np.ascontiguousarray(queries, dtype=np.float64)
    vectors = np.ascontiguousarray(vectors, dtype=np.float64)
    nq, n = queries.shape[0], vectors.shape[0]
    out = scratch_mat("ivf_pw_out", nq, n, np.float64)
    if space == "manhattan":
        # blocked |x-y| sum through a reused (n, d) diff buffer: per-row
        # blocking leaves per-element sums unchanged
        dim = vectors.shape[1]
        diff = scratch_mat("ivf_pw_diff", n, dim, np.float64)
        for i, q in enumerate(queries):
            np.subtract(vectors, q, out=diff)
            np.abs(diff, out=diff)
            diff.sum(axis=1, out=out[i])
        return out
    np.matmul(queries, vectors.T, out=out)  # (q, n) dot
    if space == "euclidean":
        qn2 = np.einsum("ij,ij->i", queries, queries)
        vn2 = np.einsum("ij,ij->i", vectors, vectors)
        # vn2 - 2.0*dot + qn2  ==  (dot * -2.0) + vn2 + qn2  bitwise
        np.multiply(out, -2.0, out=out)
        out += vn2[None, :]
        out += qn2[:, None]
        np.maximum(out, 0.0, out=out)
        np.sqrt(out, out=out)
        return out
    if space == "cosine":
        qn = np.sqrt(np.einsum("ij,ij->i", queries, queries))
        vn = np.sqrt(np.einsum("ij,ij->i", vectors, vectors))
        # the norm product stays ONE multiply (two in-place divisions
        # would change rounding); it gets its own reused buffer
        prod = scratch_mat("ivf_pw_prod", nq, n, np.float64)
        np.multiply(qn[:, None], vn[None, :], out=prod)
        out /= prod
        np.subtract(1.0, out, out=out)
        np.abs(out, out=out)
        return out
    raise ValueError(f"unknown space {space!r}")


def train_centroids(
    vectors: DataFrame,
    n_clusters: int,
    space: str = "euclidean",
    vec_col: str = "vector",
    sample_n: int = 100_000,
    seed: int = 42,
    iters: int = 20,
) -> np.ndarray:
    """k-means coarse quantizer trained on a bounded driver-side sample.

    Deterministic (seeded k-means++ init, fixed iteration count).  For
    cosine space the centroids are L2-normalized each round (spherical
    k-means), so centroid distance ranks match cosine ranks.
    """
    total = vectors.count()
    frac = min(1.0, (sample_n * 1.2) / max(total, 1))
    sample = vectors.select(vec_col).sample(frac, seed=seed).limit(sample_n)
    mat = _as_matrix(sample.toPandas()[vec_col])
    if mat.shape[0] < n_clusters:
        raise ValueError(f"sample ({mat.shape[0]}) smaller than n_clusters ({n_clusters})")
    rng = np.random.default_rng(seed)
    # k-means++ seeding, incremental: d2 tracks each point's distance
    # to its NEAREST chosen centroid, updated only against the latest
    # pick — O(k·n·d), not the O(k²·n·d) recompute-all form (which at
    # the IVFPQ coarse-quantizer scale, k=1024, is ~10^12 FLOPs and
    # effectively hangs).  Same RNG call sequence and bit-identical d2
    # (min is exact), so historical centroids are unchanged.
    first = mat[rng.integers(mat.shape[0])]
    cents = [first]
    diff = mat - first
    d2 = np.einsum("ij,ij->i", diff, diff)
    for _ in range(n_clusters - 1):
        p = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = mat[rng.choice(mat.shape[0], p=p)]
        cents.append(nxt)
        diff = mat - nxt
        d2 = np.minimum(d2, np.einsum("ij,ij->i", diff, diff))
    cent = np.stack(cents)
    for _ in range(iters):
        if space == "cosine":
            cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = np.argmin(_pairwise(mat, cent, space), axis=1)
        for c in range(n_clusters):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    if space == "cosine":
        cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def assign_clusters(
    vectors: DataFrame,
    centroids: np.ndarray,
    space: str = "euclidean",
    vec_col: str = "vector",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Add ``cluster_id`` = argmin centroid distance (one Arrow pass).

    Write the result partitioned by ``cluster_id`` to get scan-time
    partition pruning for every later probe.
    """
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    # new StructType — StructType.add would mutate the DataFrame's cached schema
    out_schema = StructType(list(vectors.schema.fields) + [StructField(out_col, IntegerType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _as_matrix(pdf[vec_col])
            pdf[out_col] = np.argmin(_pairwise(mat, cent, space), axis=1).astype(np.int32)
            yield pdf

    return vectors.mapInPandas(run, schema=out_schema)


def route_queries(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    space: str = "euclidean",
    query_vec_col: str = "query_vector",
) -> DataFrame:
    """Explode each query into its ``nprobe`` nearest clusters.

    Output: queries' columns + ``cluster_id`` (one row per probe).  The
    query side is usually tiny relative to the vector table, so the
    downstream cogroup broadcasts/shuffles |Q|·nprobe rows only.
    """
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    nprobe = min(nprobe, cent.shape[0])
    out_schema = StructType(
        list(queries.schema.fields) + [StructField("cluster_id", IntegerType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            d = _pairwise(_as_matrix(pdf[query_vec_col]), cent, space)
            probes = argpart_rows(d, nprobe)
            rep = pdf.loc[pdf.index.repeat(nprobe)].reset_index(drop=True)
            rep["cluster_id"] = probes.reshape(-1).astype(np.int32)
            yield rep

    return queries.mapInPandas(run, schema=out_schema)


def search_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: np.ndarray,
    nprobe: int = 8,
    space: str = "euclidean",
    vec_col: str = "vector",
    id_col: str = "id",
    query_vec_col: str = "query_vector",
    query_id_col: str = "query_id",
    cluster_col: str = "cluster_id",
    payload_cols: tuple = (),
) -> DataFrame:
    """IVF top-k: probe-route queries, score probed clusters exactly.

    Returns (query_id, rank, id, score [, payload...]) ascending by
    (score, id), the same contract as `knn.knn_exact`.  Distances are
    computed in float64 so that with nprobe == n_clusters the result is
    the exact kNN answer.  ``payload_cols`` are carried from ``vectors``
    through the cluster kernel into the result — the metadata leg of the
    reference's SearchResultItem (`protobuf/proto/search.proto:22-26`)
    without a post-hoc join.

    If ``vectors`` lacks ``cluster_col`` it is assigned on the fly; for
    repeated querying assign once and persist partitioned by cluster.
    ``nprobe`` must be at least 1.
    """
    _check_nprobe(nprobe)
    if cluster_col not in vectors.columns:
        vectors = assign_clusters(vectors, centroids, space, vec_col, cluster_col)
    # route ONCE: the routed frame feeds BOTH the probe prune and the
    # cogroup query side, and un-checkpointed Catalyst re-derives the
    # subtree under each consumer — the route kernel (a Python stage)
    # and the queries scan executed twice per call (r14, guide §2.4).
    # The checkpoint is |Q|·nprobe rows (query-batch-sized, never
    # corpus-sized), the same device as dsir_weights' dbc.
    routed = route_queries(
        queries, centroids, nprobe, space, query_vec_col
    ).localCheckpoint()
    # probed cluster ids collapse to <= n_clusters ints — collect them
    # and prune with a static IN-list instead of a broadcast semi-join:
    # deletes the distinct aggregation exchange + BroadcastExchange and
    # turns the probe prune into a scan-pushable predicate (directory
    # pruning on cluster-partitioned storage) (r14, guide §2.4/§6).
    probed_ids = [
        r[0] for r in routed.select(cluster_col).distinct().collect()
    ]
    payload_cols = list(payload_cols)
    probe_pred = (
        F.col(cluster_col).isin(probed_ids) if probed_ids else F.lit(False)
    )
    vsrc = vectors.filter(probe_pred).select(
        F.col(cluster_col),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vector"),
        *[F.col(c) for c in payload_cols],
    )
    qsrc = routed.select(
        F.col(cluster_col),
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("query_vector"),
    )

    def score_cluster(vec_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        out_cols = ["query_id", "id", "score", *payload_cols]
        if not len(vec_pdf) or not len(q_pdf):
            return pd.DataFrame(columns=out_cols)
        vmat = _as_matrix(vec_pdf["vector"])
        qmat = _as_matrix(q_pdf["query_vector"])
        d = _pairwise(qmat, vmat, space)
        kk = min(k, vmat.shape[0])
        part = argpart_rows(d, kk)
        sel = part.reshape(-1)
        ids = vec_pdf["id"].to_numpy()
        qids = q_pdf["query_id"].to_numpy()
        data = {
            "query_id": np.repeat(qids, kk),
            "id": ids[sel],
            "score": np.take_along_axis(d, part, axis=1).reshape(-1),
        }
        for c in payload_cols:
            data[c] = vec_pdf[c].to_numpy()[sel]
        return pd.DataFrame(data, columns=out_cols)

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = vectors.schema[id_col].dataType.simpleString()
    payload_schema = "".join(
        f", {c} {vectors.schema[c].dataType.simpleString()}" for c in payload_cols
    )
    partial = (
        vsrc.groupBy(cluster_col)
        .cogroup(qsrc.groupBy(cluster_col))
        .applyInPandas(
            score_cluster,
            schema=f"query_id {qid_type}, id {id_type}, score double{payload_schema}",
        )
    )
    return _serve.merge_topk(partial, k, ["query_id", "rank", "id", "score", *payload_cols])


def save_assigned(assigned: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a cluster-assigned vector table partitioned by
    ``cluster_id`` — every later probe becomes directory-level pruning
    (nprobe/n_clusters of the bytes are even listed)."""
    assigned.write.mode(mode).partitionBy("cluster_id").parquet(path)


def search_ivf_path(
    spark,
    path: str,
    queries: list[tuple[object, list[float]]],
    k: int,
    centroids: np.ndarray,
    nprobe: int = 8,
    space: str = "euclidean",
    id_col: str = "id",
    vec_col: str = "vector",
    queries_per_task: int | None = None,
) -> DataFrame:
    """Serving-shape IVF top-k over a `save_assigned` table.

    Same result contract as `search_ivf` (float64 scores, ascending
    (score, id), rank 1..k — pytest-identical), different physical plan:
    queries are routed on the driver against the tiny centroid matrix,
    and the plan is one row per (probed cluster, query-chunk); each
    chunk column-reads its own cluster's parquet directly (unprobed
    cluster directories never enter the plan) and GEMM-scores against
    the process-cached cluster matrix.  A warm serving workload pays
    zero table bytes per batch; cached cells are held for the table's
    content fingerprint, so a table rewritten at ``path`` is read again.

    `_serve.serve` picks the regime: when the probed cells' cached bytes
    — ``rows·(8·dim + 64)``, rows from the parquet footers — fit the
    cache budget and the batch's GEMM flops stay under the local cap
    (`_serve.serve_locally`), the driver scores and merges
    the chunks itself and returns a local relation (collecting it runs
    no Spark job); otherwise one task per chunk, merged by a window over
    ``hashpartitioning(query_id)``.  Same rows, score bits included.
    ``nprobe`` must be at least 1.
    """
    from anndb_spark.sources import fsutil

    _check_nprobe(nprobe)
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    # float64 end to end: scores stay bit-identical to `search_ivf`
    qid_arr, qmat = _serve.parse_queries(queries, cent.shape[1], np.float64)
    by_cid = _serve.route(_pairwise(qmat, cent, space), nprobe)
    # ONE listing through pyarrow.fs (plain path, file://, s3://, hdfs://
    # — no shared-local-FS assumption, ADVICE r4): the clusters, their
    # files for the local rule, and the cached cells' version, the
    # content fingerprint — warm processes outlive jobs, so a cluster
    # table rebuilt at the same path would otherwise serve stale rows
    # (ADVICE r5 medium)
    index_ver, cell_files = fsutil.list_parts(path, "cluster_id=")
    cids = sorted(set(by_cid) & set(cell_files))
    # result id column keeps the table's native type (one memoized footer)
    id_type = "string"
    for files in cell_files.values():
        if files:
            schema = fsutil.footers(path, files[:1])[0].schema.to_arrow_schema()
            at = schema.field(id_col).type
            id_type = {
                "int64": "bigint",
                "int32": "int",
                "int16": "smallint",
                "double": "double",
                "float": "float",
            }.get(str(at), "string")
            break

    def score_chunk(
        cid: int, qids: np.ndarray, Q: np.ndarray, local: bool = False
    ) -> pa.Table | None:
        # the same in the driver regime (``local``): the GEMM runs on the
        # caller's BLAS threads
        hit = _serve.CACHE.get("ivf", (path, cid), index_ver)
        if hit is None:
            tbl = fsutil.read_parquet_dir(
                fsutil.join(path, f"cluster_id={cid}"), columns=[id_col, vec_col]
            )
            # the list column's values straight from Arrow, widened in
            # numpy: the bits of float64(x) for each float x, with no
            # Python object per element
            flat = pc.list_flatten(tbl.column(vec_col)).to_numpy()
            hit = (
                tbl.column(id_col).combine_chunks(),
                flat.astype(np.float64).reshape(tbl.num_rows, Q.shape[1]),
            )
            _serve.CACHE.put("ivf", (path, cid), index_ver, hit,
                             _cell_bytes(len(hit[0]), Q.shape[1]))
        ids, vmat = hit
        if not len(ids):
            return None
        dm = _pairwise(Q, vmat, space)
        kk = min(k, vmat.shape[0])
        part = argpart_rows(dm, kk)
        return pa.table(
            {
                "query_id": pa.array(np.repeat(qids, kk), pa.string()),
                "id": ids.take(pa.array(part.reshape(-1))),
                "score": np.take_along_axis(dm, part, axis=1).reshape(-1),
            }
        )

    def cell_size(cid: int) -> tuple[int, int]:
        n = sum(md.num_rows for md in fsutil.footers(path, cell_files[cid]))
        return n, _cell_bytes(n, qmat.shape[1])

    return _serve.serve(
        spark, cids, cell_size, by_cid, qid_arr, qmat, score_chunk,
        f"query_id STRING, id {id_type}, score DOUBLE", k,
        lambda n, nq: True, queries_per_task=queries_per_task,
    )


def _check_nprobe(nprobe: int) -> None:
    """A probe count below 1 routes no query to any cell."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be at least 1, got nprobe={nprobe}")


def _cell_bytes(n: int, dim: int) -> int:
    """`_serve.CACHE` bytes of one cached cell: its float64 matrix and
    ~64 B per id."""
    return n * (8 * dim + 64)
