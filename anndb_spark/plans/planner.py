"""Physical-path router for kNN — the engine's one "planner rule".

The reference has no optimizer; its only plan choice is ours too: exact
scan vs approximate index (`SURVEY.md §4`).  Catalyst owns everything
relational (pushdown, pruning, join strategy); this module owns the one
decision Catalyst can't see — which physical kNN kernel to run:

- ``exact``  — broadcast cross join + partial/final top-k (`knn.knn_exact`);
  the semantic ground truth, right answer for small tables and for oracle
  checks.
- ``ann``    — HNSW graph walk over a materialized index DataFrame
  (`hnsw.search_index`); right when an index exists and the table is
  large: per-query work is ~ef·m distance evals instead of n.
- ``ivf``    — coarse-quantized probe (`ivf.search_ivf`); right at
  extreme scale where even holding a graph per partition is too much:
  queries touch nprobe/n_clusters of the data and cluster-partitioned
  parquet prunes the scan.

``knn(...)`` picks by what's materialized (index/centroids given) and by
table size, and returns (plan_name, DataFrame).  The contract of all
three paths is identical: (query_id, rank, id, score) ascending.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXACT_MAX_ROWS_DEFAULT = 10_000_000


def knn(
    vectors: DataFrame,
    queries: Sequence[tuple],
    k: int,
    space: str = "euclidean",
    mode: str = "auto",
    index: DataFrame | None = None,
    index_path: str | None = None,
    cache_token: str | None = None,
    centroids=None,
    nprobe: int = 8,
    ef: int | None = None,
    exact_max_rows: int = EXACT_MAX_ROWS_DEFAULT,
    approx_row_count: int | None = None,
    pq_codes: DataFrame | None = None,
    pq_books=None,
) -> tuple[str, DataFrame]:
    """Route a kNN request to its physical path; returns (plan, result).

    ``queries``: [(query_id, vector)].  ``mode='auto'`` prefers the
    cheapest prepared accelerator: an HNSW ``index`` (DataFrame or saved
    ``index_path``) if given, else IVF ``centroids`` if given, else
    exact — but small tables always go exact (the accelerator can't beat
    a broadcast cross join there).  ``approx_row_count`` lets the caller
    pass a known size and skip the count job.

    A saved ``index_path`` routes to the serving-shape
    `hnsw.search_index_path` (per-partition parquet reads + the
    worker-resident graph cache keyed by ``cache_token``; a one-graph
    index is answered driver-locally) — the hot-path layout; an
    in-memory ``index`` DataFrame uses the shuffle-based
    `hnsw.search_index`.  Both run the same graph-search entry,
    brute/beam rule and result assembler, so they return the same rows.
    """
    from anndb_spark.operators.hnsw import search_index, search_index_path
    from anndb_spark.operators.ivf import search_ivf
    from anndb_spark.operators.knn import knn_exact

    if mode not in ("auto", "exact", "ann", "ivf", "pq"):
        raise ValueError(f"unknown mode {mode!r}")
    if mode == "ann" and index is None and index_path is None:
        raise ValueError("mode='ann' requires a materialized index (DataFrame or path)")
    if mode == "ivf" and centroids is None:
        raise ValueError("mode='ivf' requires trained centroids")
    if mode == "pq":
        # trained-compression path: ADC scan over the codes table +
        # exact rerank against the float table (never chosen by auto —
        # PQ trades accuracy for scan bytes, an explicit opt-in)
        if pq_codes is None or pq_books is None:
            raise ValueError(
                "mode='pq' requires pq_codes (DataFrame) and pq_books "
                "(ndarray) — train with operators.pq.train_pq or "
                "Dataset.build_pq()"
            )
        if space == "manhattan":
            raise ValueError("PQ ADC supports euclidean/cosine/ip only")
        from anndb_spark.operators.pq import pq_search_batch

        qitems = [(str(qid), [float(x) for x in vec]) for qid, vec in queries]
        return "pq", pq_search_batch(
            pq_codes,
            qitems,
            pq_books,
            k,
            space=space,
            rerank_with=vectors.select("id", "vector"),
        )

    have_index = index is not None or index_path is not None
    if mode == "auto":
        n = approx_row_count
        if n is None and (have_index or centroids is not None):
            n = vectors.count()
        if have_index and (n or 0) > exact_max_rows:
            mode = "ann"
        elif centroids is not None and (n or 0) > exact_max_rows:
            mode = "ivf"
        else:
            mode = "exact"

    spark = vectors.sparkSession
    qitems = [(str(qid), [float(x) for x in vec]) for qid, vec in queries]
    if mode == "ann":
        from anndb_spark.operators.hnsw import HnswConfig

        if index_path is not None:
            return "ann", search_index_path(
                spark, index_path, qitems, k, ef=ef,
                config=HnswConfig(space=space), cache_token=cache_token,
            )
        return "ann", search_index(
            index, vectors, qitems, k, ef=ef, config=HnswConfig(space=space)
        )
    from anndb_spark.utils import literal_df

    qdf = literal_df(
        spark, qitems, "query_id STRING, query_vector ARRAY<DOUBLE>"
    )
    if mode == "exact":
        return "exact", knn_exact(vectors, qdf, k, space=space)
    return "ivf", search_ivf(
        vectors, qdf, k, centroids, nprobe=nprobe, space=space
    )


def knn_filtered(
    vectors: DataFrame,
    queries,
    k: int,
    predicate,
    space: str = "euclidean",
    mode: str = "auto",
    oversample: int = 4,
    **kw,
):
    """Metadata-filtered kNN — a query the reference cannot express
    (its search has no predicate surface at all; `SURVEY.md §4`).

    ``predicate``: a Column over ``vectors``' columns.

    - exact: filter FIRST — Catalyst pushes the predicate into the scan
      (`PLANS.md`), so non-matching vectors are never scored.
    - ann/ivf: the graph/probe must run on the unfiltered structure, so
      search k·oversample, post-filter by joining survivors back to the
      filtered id set, re-rank, truncate to k.  Oversampling bounds the
      selectivity loss; callers with highly selective predicates should
      use exact mode (scored set is small after pushdown anyway).

    Returns (plan, DataFrame(query_id, rank, id, score)).
    """
    from pyspark.sql import Window

    no_accel = (
        kw.get("index") is None
        and kw.get("index_path") is None
        and kw.get("centroids") is None
    )
    if mode == "exact" or (mode == "auto" and no_accel):
        return knn(vectors.filter(predicate), queries, k, space=space, mode="exact")
    plan, wide = knn(vectors, queries, k * oversample, space=space, mode=mode, **kw)
    # survivors = wide ∩ filtered ids.  ids are unique in ``vectors``,
    # so the semi-join is an inner join — and the BROADCAST side must
    # be ``wide`` (|Q|·k·oversample rows, always tiny), never the
    # filtered id set (unbounded for low-selectivity predicates at
    # scale).  The predicate itself pushes into the scan of the big
    # side; only matching ids stream through the join.
    keep = vectors.filter(predicate).select(F.col("id"))
    filtered = keep.join(F.broadcast(wide), "id")
    w = Window.partitionBy("query_id").orderBy(F.col("score").asc(), F.col("id").asc())
    out = (
        filtered.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "id", "score")
    )
    return plan, out
