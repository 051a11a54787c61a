"""Scatter/gather for the saved-index servers.

Every saved-index search — `hnsw.search_index_path`, `ivf.search_ivf_path`,
`ivfpq.search_ivfpq` — and the ADC batch scan `pq.pq_search_batch` has
the reference's map-reduce serving shape
(`storage/dataset.go:374-431`): the coordinator fans the query batch
out to partitions (`:390-432`), each partition returns a local top-k,
and the coordinator merges a global top-k (`:374-387`).  This module
holds that shape once; each server keeps only its per-chunk scoring
kernel:

- `parse_queries` — the query batch → (query-id strings, matrix);
- `route`         — driver-side probing: {partition: [query rows]};
- `scatter`       — the task plan: one ``(part, chunk)`` row per task
                    via shuffle-free ``parallelize``, the query batch as
                    a broadcast, and the drain-before-yield
                    ``mapInPandas`` loop that calls the server's kernel;
- `merge_topk`    — the global ``(score asc, id asc)`` row-number merge;
- `exact_rerank`  — re-scoring an approximate shortlist against the
                    float table (IVFADC+R and PQ+R);
- `CACHE`         — the byte-capped LRU that keeps loaded index parts
                    (HNSW graphs, IVF cells, IVF-PQ codes) resident in
                    the reused python worker.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anndb_spark.operators._scratch import argpart_rows


def parse_queries(queries, dim: int = 0, dtype=np.float32) -> tuple[np.ndarray, np.ndarray]:
    """A query batch → (query-id strings, (nq, dim) ``dtype`` matrix).

    Accepts ``[(query_id, vector)]`` or the zero-copy ``(ids, matrix)``
    form for large batches.  An empty batch parses to a (0, dim) matrix
    (``np.array([])`` is (0,), which no distance kernel can multiply);
    callers pass the width their kernel needs."""
    if isinstance(queries, tuple):
        qids, qmat = queries
        qmat = np.ascontiguousarray(qmat, dtype=dtype)
    else:
        qids = [qid for qid, _ in queries]
        qmat = np.array([v for _, v in queries], dtype=dtype)
    qid_arr = np.array([str(q) for q in qids], dtype=object)
    if not len(qid_arr):
        qmat = np.empty((0, dim), dtype=dtype)
    return qid_arr, qmat


def route(dist: np.ndarray, nprobe: int) -> dict[int, list[int]]:
    """{partition: [query rows]} for each query's ``nprobe`` nearest
    partitions under the caller's (nq, n_parts) distance matrix; rows
    ascending within each partition."""
    by_part: dict[int, list[int]] = {}
    for qi, ps in enumerate(argpart_rows(dist, min(nprobe, dist.shape[1]))):
        for p in ps:
            by_part.setdefault(int(p), []).append(qi)
    return by_part


def chunk_size(spark, n_parts: int, n_rows: int, queries_per_task: int | None = None) -> int:
    """Queries per task: ``queries_per_task`` when given, else ~one chunk
    per partition once partitions cover half the cores.  Each task
    launch costs ~12 ms of serial scheduler wall (measured), which
    dwarfs a native kernel's per-query cost — 3 chunks per partition
    turned a 0.5 s scatter leg into 1.5 s — while indexes with few
    partitions still split their queries across cores.  ``n_rows`` is
    the number of (query, partition) pairs to answer."""
    if queries_per_task is not None:
        return queries_per_task
    par = spark.sparkContext.defaultParallelism
    return max(64, -(-n_rows // max(n_parts, par // 2, 1)))


def scatter(
    spark,
    parts: list[int],
    by_part: dict[int, list[int]] | None,
    qid_arr: np.ndarray,
    qmat: np.ndarray,
    search_chunk: Callable[[int, np.ndarray, np.ndarray], pd.DataFrame | None],
    out_ddl: str,
    queries_per_task: int | None = None,
    items_per_task: int = 1,
) -> DataFrame:
    """Partial top-k of every (partition, query chunk) as one Spark job.

    ``by_part`` maps each partition to the query rows it answers; None
    sends every query to every partition.  ``search_chunk(part, qids,
    Q)`` runs in a task and returns the chunk's partial rows (or None);
    ``items_per_task`` packs several chunks into one task for indexes
    whose parts are too small to pay a task launch each."""
    n_q = qmat.shape[0]
    per_part = [n_q if by_part is None else len(by_part.get(p, ())) for p in parts]
    qpt = chunk_size(spark, len(parts), sum(per_part), queries_per_task)
    plan_rows = [
        (p, c) for p, n in zip(parts, per_part) for c in range(max(1, -(-n // qpt)))
    ]
    # createDataFrame + repartition is a 2-stage shuffle that cost ~0.2 s
    # of fixed wall per search call (measured); parallelize with
    # numSlices places each plan row in its own partition shuffle-free
    n_slices = max(1, -(-len(plan_rows) // max(items_per_task, 1)))
    plan = spark.createDataFrame(
        spark.sparkContext.parallelize(plan_rows, n_slices), "part INT, chunk INT"
    )
    # the query batch travels as a BROADCAST, not in the task closure: a
    # closure is serialized into every task description, so a 10k×784
    # float32 batch (31 MB) would cross the wire once PER TASK; the
    # broadcast ships once per executor and python workers read it from
    # the local block file
    bq = spark.sparkContext.broadcast((qid_arr, qmat, by_part))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qid_arr, qmat, by_part = bq.value
        # drain the input stream BEFORE yielding: a pandas UDF that
        # yields interleaved with unconsumed input gets its python
        # worker KILLED by the runner instead of reused (measured —
        # worker pids churn every job), which destroys the
        # worker-resident CACHE every server is built around
        work = [
            (part, chunk)
            for b in batches
            for part, chunk in zip(b["part"].tolist(), b["chunk"].tolist())
        ]
        for part, chunk in work:
            if by_part is None:
                qsel = list(range(chunk * qpt, min((chunk + 1) * qpt, n_q)))
            else:
                qsel = by_part.get(part, [])[chunk * qpt : (chunk + 1) * qpt]
            if not qsel:
                continue
            out = search_chunk(part, qid_arr[qsel], qmat[qsel])
            if out is not None:
                yield out

    return plan.mapInPandas(run, schema=out_ddl)


def merge_topk(
    partials: DataFrame, k: int, cols=("query_id", "rank", "id", "score")
) -> DataFrame:
    """Global gather: top-k per query over partial rows, ascending
    (score, id) — ties broken by id, the reference's final merge
    (`storage/dataset.go:374-387`) — projected to ``cols``."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").asc(), F.col("id").asc())
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def exact_rerank(
    spark,
    partials: DataFrame,
    shortlist: int,
    rerank_with: DataFrame,
    qid_arr: np.ndarray,
    qmat: np.ndarray,
    k: int,
    score: Column,
) -> DataFrame:
    """Keep each query's ``shortlist`` best approximate partial rows,
    re-score them exactly and keep the top k → (query_id, rank, id,
    score).

    The candidate ids broadcast against ``rerank_with`` (id, vector), so
    float rows are read for shortlist ids only; ``score`` is an
    expression over ``vector`` and the query's ``qvec``, cast to float."""
    from anndb_spark.utils import literal_df

    qdf = literal_df(
        spark,
        [(str(q), [float(x) for x in v]) for q, v in zip(qid_arr, qmat)],
        "query_id STRING, qvec ARRAY<FLOAT>",
    )
    exact = (
        rerank_with.withColumn("id", F.col("id").cast("string"))
        .join(F.broadcast(merge_topk(partials, shortlist, ["query_id", "id"])), "id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "id", score.cast("float").alias("score"))
    )
    return merge_topk(exact, k)


class PartCache:
    """Byte-capped LRU of loaded index parts in one python worker.

    A warm serving workload pays zero index bytes per batch because the
    reused worker keeps what it loaded.  Keys are ``(kind, key)``: an
    HNSW graph and an IVF cell stored under the same token, fingerprint
    and part number stay distinct.  A None key disables caching for
    that call; an entry larger than the whole budget is not stored."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self.entries: dict = {}  # (kind, key) -> (value, nbytes), oldest first

    def get(self, kind: str, key):
        if key is None:
            return None
        hit = self.entries.pop((kind, key), None)
        if hit is None:
            return None
        self.entries[(kind, key)] = hit  # re-insert → most recent
        return hit[0]

    def put(self, kind: str, key, value, nbytes: int) -> None:
        if key is None or nbytes > self.max_bytes:
            return
        self.entries.pop((kind, key), None)
        total = nbytes + sum(nb for _, nb in self.entries.values())
        while total > self.max_bytes:
            total -= self.entries.pop(next(iter(self.entries)))[1]
        self.entries[(kind, key)] = (value, nbytes)


CACHE = PartCache(int(os.environ.get("ANNDB_GRAPH_CACHE_BYTES", str(1 << 30))))
