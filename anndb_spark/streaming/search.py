"""Structured-Streaming query serving — the reference's search stream
(`services/search.go:20-46` answers a gRPC request stream from the
resident graphs) re-expressed as a streaming transform.

Shape: a (possibly unbounded) DataFrame of queries flows through
``mapInArrow``; every executor answers each Arrow batch with
`_serve.run_local` — the driver regime of the saved-index servers, run
where the batch is — over a plan of one chunk per partition of the
saved index.  Each chunk runs the kernel `hnsw.search_index_path`
serves with (`hnsw._path_kernel`: graphs acquired through the same
L1/shm-L2 worker cache ladder, the same `hnsw._use_brute` choice, the
same assembler, one walk thread), and `run_local`'s one ``(score, id)``
merge keeps each query's top-k.  That is exactly the reference's node
protocol (O17 per-node multi-partition search + local aggregate,
`storage/dataset.go:390-432`; O18 global merge, `:374-387`) with the
executor playing the node: no shuffle, no state store, results stream
out append-only.  The merge is keyed by batch row, so a micro-batch that
repeats a ``query_id`` answers each of its rows on its own.

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
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

STREAM_QUERIES_DDL = "query_id STRING, vector ARRAY<DOUBLE>"


def stream_search_transform(
    queries: DataFrame,
    index_path: str,
    k: int,
    ef: int | None = None,
    config=None,
    strategy: str = "auto",
    with_metadata: bool = False,
) -> DataFrame:
    """Transform a streaming (or batch) queries DataFrame
    ``(query_id STRING, vector ARRAY<DOUBLE>)`` into top-k results
    ``(query_id, rank, id, score[, metadata])`` — stateless, so it
    composes with any source, sink, and trigger.

    Values are identical to `hnsw.search_index_path` over the same
    index (pytest-enforced): same kernel, same auto brute/beam
    routing, same ascending (score, id) merge order.  Cached graphs are
    held for the index's content fingerprint as listed here, when the
    transform is built.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from anndb_spark.operators import _serve
    from anndb_spark.operators.hnsw import (
        HnswConfig,
        _path_kernel,
        _result_layout,
        stored_config,
    )
    from anndb_spark.sources import fsutil

    index_ver, part_files = fsutil.list_parts(index_path, "partition_id=")
    cfg = config or stored_config(index_path, part_files) or HnswConfig()
    pids = list(part_files)
    if not pids:
        raise ValueError(f"no index partitions under {index_path!r}")
    kernel = _path_kernel(
        index_path, cfg, strategy, index_ver, k, max(ef or cfg.ef, k),
        with_metadata, _result_layout(False, with_metadata)[0],
    )
    out_ddl = _result_layout(True, with_metadata)[1]
    schema = to_arrow_schema(StructType.fromDDL(out_ddl))
    # the merge's key is the batch row; each row's query_id is put back after
    by_row = schema.set(0, pa.field("query_id", pa.int64()))

    def run(batches):
        # drain before yielding: interleaved yields get the python
        # worker killed instead of reused, destroying the graph cache
        # (same measured constraint as the batch serving task)
        for b in [b for b in batches if b.num_rows]:
            nq = b.num_rows
            qmat = (
                pc.list_flatten(b.column("vector"))
                .to_numpy(zero_copy_only=False)
                .astype(np.float32)
                .reshape(nq, -1)
            )
            # one chunk per part, so there are no walk runs to join
            # (``is_brute``); ``local`` is dropped: in an executor the
            # walk keeps one thread, as in a task
            tbl = _serve.run_local(
                [(pid, 0, range(nq)) for pid in pids], np.arange(nq), qmat,
                lambda pid, rows, Q, local: kernel(pid, rows, Q),
                by_row, k, lambda pid, n: True,
            )
            tbl = tbl.set_column(
                0, "query_id", b.column("query_id").take(tbl.column("query_id"))
            )
            yield from tbl.cast(schema).to_batches()

    return queries.mapInArrow(run, schema=out_ddl)


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
