"""Scatter/gather for the saved-index servers, and the driver regime.

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
- `query_chunks`  — the plan: one ``(part, chunk, query rows)`` per
                    kernel call, walked by both regimes below;
- `scatter`       — the task regime: one plan row per task via
                    shuffle-free ``parallelize``, the query batch as a
                    broadcast, and the drain-before-yield
                    ``mapInArrow`` loop that calls the server's kernel;
- `merge_topk`    — the global ``(score asc, id asc)`` row-number merge;
- `serve`         — the driver regime beside `scatter`, for HNSW and
                    IVF: `serve_locally` is the one rule (the touched
                    parts' resident bytes fit `CACHE`, and the batch's
                    brute chunks stay under `LOCAL_BRUTE_FLOPS_MAX`),
                    `run_local` runs the same kernel on the same chunks
                    in the driver and merges like `merge_topk`, and the
                    answer is a local relation — collecting it runs no
                    Spark job, as the reference's coordinator merges
                    partition results itself; the streaming transform
                    (`streaming.search`) answers each micro-batch with
                    `run_local` in its executor;
- `exact_rerank`  — re-scoring an approximate shortlist against the
                    float table (IVFADC+R and PQ+R);
- `CACHE`         — the byte-capped LRU that keeps loaded index parts
                    (HNSW graphs, IVF cells, IVF-PQ codes, BM25 postings
                    buckets) resident in the reused python worker, and
                    in the driver for the driver regime; `fits_cache` is
                    the one budget test of every driver-or-Spark choice
                    (`serve_locally`, `text.bm25_search_indexed_batch`);
                    entries are keyed by (index path, part) and
                    versioned by the index's content fingerprint
                    (`fsutil.list_parts`), as the reference's partitions
                    version the graphs they hold (`storage/partition.go`).

Every kernel returns its rows as a ``pa.Table`` (or None); `to_layout`
casts them to the declared layout, in a task and in the driver alike, so
Arrow is the only row format between a kernel and Spark.
"""

from __future__ import annotations

import functools
import os
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anndb_spark.operators._scratch import argpart_rows, one_blas_thread

# the driver regime declines a batch whose brute chunks exceed this many
# flops (`serve_locally`)
LOCAL_BRUTE_FLOPS_MAX = 5e8


def parse_queries(queries, dim: int = 0, dtype=np.float32) -> tuple[np.ndarray, np.ndarray]:
    """A query batch → (query-id strings, (nq, dim) ``dtype`` matrix).

    Accepts ``[(query_id, vector)]`` or the zero-copy ``(ids, matrix)``
    form for large batches.  Ids must be unique: the merge ranks rows
    per id, so two queries sharing one would get one mixed top-k, and a
    repeated id raises ``ValueError``.  An empty batch parses to a
    (0, dim) matrix (``np.array([])`` is (0,), which no distance kernel
    can multiply); callers pass the width their kernel needs."""
    if isinstance(queries, tuple):
        qids, qmat = queries
        qmat = np.ascontiguousarray(qmat, dtype=dtype)
    else:
        qids = [qid for qid, _ in queries]
        qmat = np.array([v for _, v in queries], dtype=dtype)
    qid_arr = np.array([str(q) for q in qids], dtype=object)
    check_unique(qid_arr)
    if not len(qid_arr):
        qmat = np.empty((0, dim), dtype=dtype)
    return qid_arr, qmat


def check_unique(ids, what: str = "query_id") -> None:
    """Raise ``ValueError`` naming the first repeated value of ``ids``:
    a top-k ranks rows per id, so two queries sharing one would get one
    mixed top-k."""
    seen: set = set()
    for q in ids:
        if q in seen:
            raise ValueError(
                f"duplicate {what} {q!r}: each query in a batch needs its own id"
            )
        seen.add(q)


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


def query_chunks(
    spark,
    parts: list[int],
    by_part: dict[int, list[int]] | None,
    n_q: int,
    queries_per_task: int | None = None,
) -> list[tuple[int, int, "list[int] | range"]]:
    """The plan both regimes walk: ``(part, chunk, query rows)``, one per
    `chunk_size` rows of each part's queries.

    ``by_part`` maps each partition to the query rows it answers; None
    sends every query to every partition, and each chunk's rows stay a
    ``range`` (it pickles in O(1) into `scatter`'s broadcast).  A part
    without queries keeps one empty chunk.  Each chunk is one kernel call
    in either regime, so a kernel's per-chunk choice (`hnsw._use_brute`)
    is the same in both."""
    rows_of = [range(n_q) if by_part is None else by_part.get(p, []) for p in parts]
    qpt = chunk_size(spark, len(parts), sum(map(len, rows_of)), queries_per_task)
    return [
        (p, c, rows[c * qpt : (c + 1) * qpt])
        for p, rows in zip(parts, rows_of)
        for c in range(max(1, -(-len(rows) // qpt)))
    ]


def to_layout(out: pa.Table, schema: pa.Schema) -> pa.Table:
    """A kernel's rows in the declared ``schema``: its columns, in order,
    cast to their types — the one cast between a kernel and Spark."""
    return out.select(schema.names).cast(schema)


def scatter(
    spark,
    parts: list[int],
    by_part: dict[int, list[int]] | None,
    qid_arr: np.ndarray,
    qmat: np.ndarray,
    search_chunk: Callable[..., pa.Table | None],
    out_ddl: str,
    queries_per_task: int | None = None,
    items_per_task: int = 1,
) -> DataFrame:
    """Partial top-k of every `query_chunks` chunk as one Spark job.

    ``search_chunk(part, qids, Q)`` runs in a task and returns the
    chunk's partial rows as an Arrow table (or None), cast to
    ``out_ddl`` by `to_layout`; ``items_per_task`` packs several chunks
    into one task for indexes whose parts are too small to pay a task
    launch each."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    chunks = query_chunks(spark, parts, by_part, qmat.shape[0], queries_per_task)
    # createDataFrame + repartition is a 2-stage shuffle that cost ~0.2 s
    # of fixed wall per search call (measured); parallelize with
    # numSlices places each plan row in its own partition shuffle-free
    n_slices = max(1, -(-len(chunks) // max(items_per_task, 1)))
    plan = spark.createDataFrame(
        spark.sparkContext.parallelize([(p, c) for p, c, _ in chunks], n_slices),
        "part INT, chunk INT",
    )
    # the query batch travels as a BROADCAST, not in the task closure: a
    # closure is serialized into every task description, so a 10k×784
    # float32 batch (31 MB) would cross the wire once PER TASK; the
    # broadcast ships once per executor and python workers read it from
    # the local block file
    bq = spark.sparkContext.broadcast(
        (qid_arr, qmat, {(p, c): rows for p, c, rows in chunks})
    )
    schema = to_arrow_schema(StructType.fromDDL(out_ddl))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qid_arr, qmat, rows_of = bq.value
        # drain the input stream BEFORE yielding: an Arrow UDF that
        # yields interleaved with unconsumed input gets its python
        # worker KILLED by the runner instead of reused (measured —
        # worker pids churn every job), which destroys the
        # worker-resident CACHE every server is built around
        work = [
            (part, chunk)
            for b in batches
            for part, chunk in zip(b.column("part").to_pylist(), b.column("chunk").to_pylist())
        ]
        for part, chunk in work:
            qsel = rows_of[(part, chunk)]
            if not len(qsel):
                continue
            if isinstance(qsel, range):  # a flat plan: a view, not a copy
                qsel = slice(qsel.start, qsel.stop)
            out = search_chunk(part, qid_arr[qsel], qmat[qsel])
            if out is not None and len(out):
                yield from to_layout(out, schema).to_batches()

    return plan.mapInArrow(run, schema=out_ddl)


def fits_cache(nbytes) -> bool:
    """Whether parts of these resident bytes (in `CACHE`'s own
    accounting) fit the driver's cache budget together — the budget
    test of every driver-or-Spark choice (`serve_locally`,
    `text.bm25_search_indexed_batch`).  A budget of -1 declines even a
    batch that touches nothing."""
    return sum(nbytes) <= CACHE.max_bytes


def serve_locally(
    chunks: list[tuple[int, int, "list[int] | range"]],
    part_size: Callable[[int], tuple[int, float]],
    dim: int,
    is_brute: Callable[[int, int], bool],
) -> bool:
    """The one local-or-scatter rule, decided from the plan and the
    parts' parquet footers before any part's data is read.  Local when
    both hold:

    - the touched parts' resident bytes fit the `CACHE` budget;
      ``part_size(part)`` is the server's (rows, resident bytes) bound
      for one part, in `CACHE`'s own accounting;
    - the flops of the brute chunks are at most `LOCAL_BRUTE_FLOPS_MAX`;
      ``is_brute(rows, nq)`` is the server's own per-chunk choice, given
      the rows its kernel will see.

    Every server keeps what it loads under its index's content
    fingerprint, so parts that fit stay resident: a cold batch reads
    them once, here, and the next batch over the same index version
    reads none.  A Spark job's fixed cost (~0.5 s of scheduling and two
    stages) dwarfs a native kernel's microseconds per query, so small
    and warm batches are answered in the driver.  A big exact scan is
    compute-bound instead: the task plan spreads its GEMMs over the
    workers, while the driver runs them on one BLAS thread."""
    touched = sorted({p for p, _, rows in chunks if len(rows)})
    size = {p: part_size(p) for p in touched}
    if not fits_cache(b for _, b in size.values()):
        return False
    flops = 0
    for p, _, rows in chunks:
        if len(rows) and is_brute(size[p][0], len(rows)):
            flops += size[p][0] * len(rows) * dim
    return flops <= LOCAL_BRUTE_FLOPS_MAX


def run_local(
    chunks: list[tuple[int, int, "list[int] | range"]],
    qid_arr: np.ndarray,
    qmat: np.ndarray,
    search_chunk: Callable[..., pa.Table | None],
    schema: pa.Schema,
    k: int | None,
    is_brute: Callable[[int, int], bool],
) -> pa.Table:
    """The driver regime: the chunks through the server's own kernel,
    here (``local=True``: an OpenMP thread per core for graph walks),
    with numpy's BLAS on one thread as in a task; then, for ``k``, the
    global top-k merge.
    ``k=None`` keeps the kernel's partial rows as final (their ``rank``
    included) — a one-graph index's scatter skips the merge too.

    A part's consecutive graph-walk chunks (``not is_brute(part, nq)``)
    run as ONE kernel call: each query walks alone, so its rows do not
    depend on the queries beside it, and one OpenMP team over the whole
    run has one tail instead of one per chunk (a 10k-query batch on one
    graph in 2 chunks took 25% longer in the kernel, measured).  Brute
    chunks keep their size: a GEMM's last bits can depend on its shape."""
    calls: list[tuple[int, list, bool]] = []  # (part, row runs, walks)
    for part, _, rows in chunks:
        if not len(rows):
            continue
        walks = not is_brute(part, len(rows))
        if walks and calls and calls[-1][0] == part and calls[-1][2]:
            calls[-1][1].append(rows)
        else:
            calls.append((part, [rows], walks))
    partial = schema if k is None else schema.remove(schema.get_field_index("rank"))
    outs = []
    with one_blas_thread():
        for part, runs, _ in calls:
            if all(isinstance(r, range) for r in runs):  # a flat plan: a view
                rows = slice(runs[0].start, runs[-1].stop)
            else:
                rows = np.concatenate([np.asarray(r) for r in runs])
            out = search_chunk(part, qid_arr[rows], qmat[rows], local=True)
            if out is not None and len(out):
                outs.append(to_layout(out, partial))
    if not outs:
        return schema.empty_table()
    tbl = pa.concat_tables(outs)
    return tbl if k is None else _merge_rows(tbl, k)


def _merge_rows(tbl: pa.Table, k: int) -> pa.Table:
    """`merge_topk` in the driver: per query_id, rows ascending by
    (score, id) get ranks 1..k, inserted after ``query_id``.  Ids
    compare in their native order (strings by UTF-8 bytes, as Spark
    compares them); floats compare as Spark's do (-0.0 equals 0.0, NaN
    last)."""
    import pyarrow.compute as pc

    tbl = tbl.take(pc.sort_indices(
        tbl, sort_keys=[("query_id", "ascending"), ("score", "ascending"), ("id", "ascending")]
    ))
    q = tbl.column("query_id").combine_chunks()
    new = np.ones(len(q), dtype=bool)
    new[1:] = pc.not_equal(q[1:], q[:-1]).to_numpy(zero_copy_only=False)
    start = np.flatnonzero(new)
    rank = np.arange(len(q)) - np.repeat(start, np.diff(np.r_[start, len(q)])) + 1
    keep = rank <= k
    return tbl.filter(pa.array(keep)).add_column(
        1, pa.field("rank", pa.int32()), pa.array(rank[keep], pa.int32())
    )


def serve(
    spark,
    parts: list[int],
    part_size: Callable[[int], tuple[int, float]],
    by_part: dict[int, list[int]] | None,
    qid_arr: np.ndarray,
    qmat: np.ndarray,
    search_chunk: Callable[..., pa.Table | None],
    out_ddl: str,
    k: int | None,
    is_brute: Callable[[int, int], bool],
    queries_per_task: int | None = None,
    arrow: bool = False,
):
    """Answer a saved-index query batch in one of two regimes: in the
    driver (`run_local`) when `serve_locally` says so, else `scatter` +
    `merge_topk`.  Same plan, same kernel, same rows either way.

    ``part_size`` and ``is_brute`` are the server's inputs to that
    rule.  ``out_ddl`` is the kernel's partial-row layout; the
    top-``k`` merge adds ``rank`` after ``query_id``, and ``k=None``
    takes the kernel's rows, ranks included, as final.  Returns a DataFrame (a local
    relation in the driver regime: collecting it runs no job), or with
    ``arrow`` an Arrow table (the driver regime's own; the scatter
    result collected)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import IntegerType, StructField, StructType

    fields = list(StructType.fromDDL(out_ddl).fields)
    if k is not None:
        fields.insert(1, StructField("rank", IntegerType()))
    schema = StructType(fields)
    chunks = query_chunks(spark, parts, by_part, qmat.shape[0], queries_per_task)
    size = functools.cache(part_size)
    if serve_locally(chunks, size, qmat.shape[1], is_brute):
        tbl = run_local(
            chunks, qid_arr, qmat, search_chunk, to_arrow_schema(schema), k,
            lambda p, nq: is_brute(size(p)[0], nq),
        )
        return tbl if arrow else spark.createDataFrame(tbl, schema=schema)
    res = scatter(spark, parts, by_part, qid_arr, qmat, search_chunk, out_ddl, queries_per_task)
    if k is not None:
        res = merge_topk(res, k, schema.names)
    return res.toArrow() if arrow else res


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
    """Byte-capped LRU of loaded index parts in one python worker (and in
    the driver).

    A warm serving workload pays zero index bytes per batch because the
    reused worker keeps what it loaded.  Entries are keyed by ``(kind,
    key)`` with ``key = (index path, part)`` — an HNSW graph and an IVF
    cell stay distinct — and carry a ``version``, the index's content
    fingerprint: `get` hits only on an equal version, and `put` drops
    the path's entries of every other version, so a rewritten index is
    reloaded and its superseded parts free their bytes at once.  An
    entry larger than the whole budget is not stored."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        # (kind, key) -> (version, value, nbytes), oldest first
        self.entries: dict = {}

    def get(self, kind: str, key, version):
        hit = self.entries.get((kind, key))
        if hit is None or hit[0] != version:
            return None
        self.entries[(kind, key)] = self.entries.pop((kind, key))  # most recent
        return hit[1]

    def put(self, kind: str, key, version, value, nbytes: int) -> None:
        for old in [
            e for e, (v, _, _) in self.entries.items()
            if e[1][0] == key[0] and v != version
        ]:
            del self.entries[old]
        if nbytes > self.max_bytes:
            return
        self.entries.pop((kind, key), None)
        total = nbytes + sum(nb for _, _, nb in self.entries.values())
        while total > self.max_bytes:
            total -= self.entries.pop(next(iter(self.entries)))[2]
        self.entries[(kind, key)] = (version, value, nbytes)


CACHE = PartCache(int(os.environ.get("ANNDB_GRAPH_CACHE_BYTES", str(1 << 30))))
