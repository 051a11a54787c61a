"""Structured-Streaming query serving — the reference's search stream
(`services/search.go:20-46` answers a gRPC request stream from the
resident graphs) re-expressed as a streaming transform.

Shape: a (possibly unbounded) DataFrame of queries flows through
``mapInPandas``; every executor answers its Arrow batches against ALL
partitions of the saved index — graphs acquired through the same
L1/shm-L2 worker cache ladder as batch serving
(`hnsw._acquire_partition_graph`), searched through the same kernel
entry (`HnswGraph.search_fast_batch` / `search_brute`, chosen by
`hnsw._use_brute`) and result assembler (`hnsw._assemble_hits`) — and
merges to the final top-k locally.  That is exactly the reference's
node protocol (O17 per-node multi-partition search + local aggregate,
`storage/dataset.go:390-432`; O18 global merge, `:374-387`) with the
executor playing the node: no shuffle, no state store, results stream
out append-only.

Scale note: this transform replicates the index per executor (each
worker's cache eventually holds every partition it is asked about) —
the right layout when the index fits a node and query throughput is
the bottleneck, which is the reference's own deployment shape (every
node holds the partitions it serves in RAM).  For indexes too large
per node, serve micro-batches through the scatter plan instead
(``foreachBatch`` + `hnsw.search_index_path`), which shards graphs
across the cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

STREAM_QUERIES_DDL = "query_id STRING, vector ARRAY<DOUBLE>"


def stream_search_transform(
    queries: DataFrame,
    index_path: str,
    k: int,
    ef: int | None = None,
    config=None,
    strategy: str = "auto",
    brute_flops_threshold: float = 1e8,
    cache_token: str | None = None,
    with_metadata: bool = False,
) -> DataFrame:
    """Transform a streaming (or batch) queries DataFrame
    ``(query_id STRING, vector ARRAY<DOUBLE>)`` into top-k results
    ``(query_id, rank, id, score[, metadata])`` — stateless, so it
    composes with any source, sink, and trigger.

    Values are identical to `hnsw.search_index_path` over the same
    index (pytest-enforced): same kernels, same auto brute/beam
    routing, same ascending (score, id) merge order.
    """
    from anndb_spark.operators.hnsw import (
        HnswConfig,
        _result_layout,
        get_index_config,
        load_index,
    )
    from anndb_spark.sources import fsutil

    spark = queries.sparkSession
    cfg = config or get_index_config(load_index(spark, index_path)) or HnswConfig()
    eff_ef = max(ef or cfg.ef, k)
    pids = [int(p) for p in fsutil.list_partition_values(index_path, "partition_id=")]
    if not pids:
        raise ValueError(f"no index partitions under {index_path!r}")
    index_ver = (
        fsutil.index_fingerprint(index_path) if cache_token is not None else None
    )
    out_ddl = _result_layout(True, with_metadata)[1]

    def run(batches):
        from anndb_spark.operators.hnsw import (
            _acquire_partition_graph,
            _assemble_hits,
        )

        # drain before yielding: interleaved yields get the python
        # worker killed instead of reused, destroying the graph cache
        # (same measured constraint as the batch serving task)
        pdfs = [b for b in batches if len(b)]
        for pdf in pdfs:
            qids = pdf["query_id"].to_numpy(dtype=object)
            qmat = np.array(
                [np.asarray(v, dtype=np.float32) for v in pdf["vector"]],
                dtype=np.float32,
            )
            nq = qmat.shape[0]
            parts = []
            for pid in pids:
                ids, g, use_brute = _acquire_partition_graph(
                    index_path, pid, cfg, strategy, brute_flops_threshold,
                    cache_token, index_ver, nq,
                )
                hits = (
                    g.search_brute(qmat, k)
                    if use_brute
                    else g.search_fast_batch(qmat, k, eff_ef)
                )
                # query_id holds the batch row until the merge below
                parts.append(
                    _assemble_hits(np.arange(nq), hits, ids, g, with_metadata)
                )
            cand = pd.concat(parts, ignore_index=True)
            qrow = cand["query_id"].to_numpy(dtype=np.int64)
            rid = cand["id"].to_numpy(dtype=object)
            score = cand["score"].to_numpy()
            # local final merge (O18): ascending (score, id) per query,
            # truncate to k — same order as the batch path's Window
            order = np.lexsort(
                (np.asarray(rid, dtype=str), score, qrow)
            )
            qs = qrow[order]
            pos = np.arange(len(qs))
            first = np.zeros(nq + 1, dtype=np.int64)
            np.add.at(first, qs + 1, 1)
            rank = (pos - np.cumsum(first)[:-1][qs] + 1).astype(np.int32)
            keep = rank <= k
            sel = order[keep]
            data = {
                "query_id": qids[qrow[sel]],
                "rank": rank[keep],
                "id": rid[sel],
                "score": score[sel],
            }
            if with_metadata:
                flat_meta = cand["metadata"].tolist()
                data["metadata"] = [flat_meta[i] for i in sel]
            yield pd.DataFrame(data)

    return queries.mapInPandas(run, schema=out_ddl)


def stream_search(
    spark,
    queries_dir: str,
    index_path: str,
    results_dir: str,
    checkpoint_dir: str,
    k: int,
    trigger_available_now: bool = True,
    **kw,
):
    """End-to-end streaming search service: watch ``queries_dir`` for
    parquet query files, answer each exactly once against the saved
    index, append results to ``results_dir``.  The checkpoint replaces
    the reference's request/response bookkeeping — a restarted service
    resumes without re-answering.  Returns the StreamingQuery."""
    stream = spark.readStream.schema(STREAM_QUERIES_DDL).parquet(queries_dir)
    results = stream_search_transform(stream, index_path, k, **kw)
    writer = (
        results.writeStream.outputMode("append")
        .format("parquet")
        .option("path", results_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
