"""Exact (brute-force) k-nearest-neighbor search.

Parity target: the reference's brute-force oracle and its distributed
scatter/gather search shape:

- exact scoring of all vectors (`index/hnsw_test.go:42-53`,
  `cmd/benchmark/ann-benchmark/main.go:83-99`)
- partial top-k per partition, then global merge-and-truncate
  (`storage/dataset.go:418-431` local merge, `:374-387` global merge)

Spark shape (100 TB-minded):

    queries → driver (one bounded collect: limit(cap + 1), ≤ cap rows)
    vectors scan                                -- no shuffle of the big side
      → MapInArrow(_gemm_partial_topk)          -- per-task top-k per query:
                                                   survivors ≤ |Q|·k per task
      → Exchange(query_id)                      -- survivors only
      → Window row_number ≤ k over (score, id)  -- final top-k

The query side rides the task closure, so every task scores its Arrow
batches against all queries in one NumPy kernel and keeps only each
query's k best — the partial/final split the reference hand-codes
(`storage/dataset.go:374-431`); the shuffle moves |Q|·k·P rows, never
|V|·|Q|.

Two scorers run in that kernel.  The default, ``fold``
(`spaces.fold_distances`), repeats the dual-dialect expression's
operations in its order, so its scores are bit-identical to
`distance_col` and to the DuckDB oracle (use it for checked queries);
``gemm`` scores a batch with one BLAS call (`ivf._pairwise`) and
matches fold's ids/ranks with ~1-ulp score drift.

The ``distance_col`` cross join (vectors ⨯ broadcast(queries) → Sort +
WindowGroupLimit → Exchange → Window) is kept as the escape hatch for
what the kernel cannot take: a query side over ``gemm_collect_cap``, a
caller's ``score_expr``, and `knn_join` with ``broadcast_left=False``.
Its higher-order functions are interpreted per element, so it is the
slow form.

The single-query path is simply orderBy(score).limit(k), which Spark
executes as TakeOrderedAndProject — the same partial+final top-k the
reference hand-codes.
"""

from __future__ import annotations

import warnings
from typing import Iterator, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DoubleType, StructField, StructType

from anndb_spark.functions.spaces import distance_col
from anndb_spark.operators import _serve

# Driver-collect guard for the kernel's small side: the query/left side
# rides the task closure, so it must fit the driver.  100k × 128-d
# float64 is ~100 MB — far below driver memory, far above any sane
# "queries" batch.
GEMM_COLLECT_CAP = 100_000

# Bytes of one (queries × vectors) float64 score block: a batch's
# queries are scored in chunks of this size, so a task's scratch stays
# bounded whatever |Q| is.
_BLOCK_BYTES = 16 << 20


def _collect_small(df: DataFrame, cap: int):
    """``df`` as a pyarrow Table in one Spark job, or None when it holds
    more than ``cap`` rows (at most cap + 1 rows reach the driver)."""
    t = df.limit(cap + 1).toArrow()
    return None if t.num_rows > cap else t


def _decode(col):
    """(rows' element counts, with -1 for a NULL list or a list holding
    a NULL; start of each row in the values; the flattened values as a
    NumPy array) of an Arrow list column."""
    import pyarrow.compute as pc

    sizes = pc.list_value_length(col).fill_null(0).to_numpy().astype(np.int64)
    lens = np.where(col.is_valid().to_numpy(zero_copy_only=False), sizes, -1)
    flat = col.flatten()
    if flat.null_count:
        parent = np.repeat(np.arange(len(col)), sizes)
        lens[parent[flat.is_null().to_numpy(zero_copy_only=False)]] = -1
        flat = flat.fill_null(0)
    return lens, np.cumsum(sizes) - sizes, flat.to_numpy(zero_copy_only=False)


def _rows_of_dim(decoded, d: int):
    """(indices of the rows with exactly ``d`` non-NULL elements, their
    (m, d) values)."""
    lens, starts, vals = decoded
    rows = np.flatnonzero(lens == d)
    if len(rows) == len(lens) and len(vals) == len(rows) * d:
        return rows, vals.reshape(len(rows), d)
    return rows, vals[starts[rows][:, None] + np.arange(d)]


def _select(block: np.ndarray, k: int, idrank: np.ndarray, excl):
    """(row, column) of each row's ≤ k first entries of ``block`` in
    Spark's order — score ascending with NULL (-inf here) first and NaN
    last, then id rank — sorted by row, then in that order.  ``excl``
    (bool, or None) marks entries that are no candidates; ``block`` is
    scratch and is overwritten."""
    from anndb_spark.operators._scratch import scratch_mat

    kk = k
    if excl is not None:
        block[excl] = np.nan
        kk += int(excl.sum(axis=1).max())
    if block.shape[1] > kk:
        # every entry at or below the row's kk-th score (ties included)
        part = scratch_mat("knn_part", *block.shape, np.float64)
        np.copyto(part, block)
        part.partition(kk - 1, axis=1)
        kth = part[:, kk - 1]
        mask = block <= kth[:, None]
        mask[np.isnan(kth)] = True
    else:
        mask = np.ones(block.shape, dtype=bool)
    if excl is not None:
        mask &= ~excl
    r, c = np.nonzero(mask)
    order = np.lexsort((idrank[c], block[r, c], r))
    r, c = r[order], c[order]
    keep = np.arange(len(r)) - np.searchsorted(r, r) < k
    return r[keep], c[keep]


def _id_rank(ids) -> np.ndarray:
    """Dense rank of ids in Spark's ascending order (NULL first; strings
    by their UTF-8 bytes)."""
    import pyarrow.compute as pc

    return pc.rank(
        ids, sort_keys="ascending", null_placement="at_start", tiebreaker="dense"
    ).to_numpy()


def _merge(parts, k: int):
    """Each query's k first candidates over ``parts`` — (query index,
    score key, rows Table) triples — as one such triple."""
    import pyarrow as pa

    qi = np.concatenate([p[0] for p in parts])
    key = np.concatenate([p[1] for p in parts])
    rows = pa.concat_tables([p[2] for p in parts]).combine_chunks()
    order = np.lexsort((_id_rank(rows.column(0).combine_chunks()), key, qi))
    sq = qi[order]
    keep = order[np.arange(len(sq)) - np.searchsorted(sq, sq) < k]
    return qi[keep], key[keep], rows.take(keep)


def _gemm_partial_topk(
    vectors: DataFrame,
    queries,
    qid_type: DataType,
    k: int,
    space: str,
    scorer: str,
    exclude_self: bool = False,
) -> DataFrame:
    """Per-task exact top-k of every query over ``vectors`` — the one
    scoring kernel of `knn_exact` and `knn_join` (exact and gemm).

    ``vectors`` has the columns (id, vector, *payload); ``queries`` is a
    pyarrow Table (query id, query vector) of the collected small side,
    whose id column has the Spark type ``qid_type``.  Returns
    (query id, id, score, *payload) named as the inputs are, with the
    ids and payload in their input types, at most k rows per query and
    task; the caller applies the global (score, id) window.

    Each Arrow batch's vectors are decoded with one flatten + reshape
    and scored against chunks of queries in `_scratch` blocks of at most
    ``_BLOCK_BYTES``: ``fold`` (`spaces.fold_distances`, bit-identical
    to `distance_col`) or ``gemm`` (`ivf._pairwise`, ~1 ulp off).
    Scoring keeps `distance_col`'s edge rows: a NULL vector, one with a
    NULL element or of another length than the query scores NULL (kept
    first, as Spark's ascending order puts NULL first), a NaN element
    scores NaN (kept last), and a zero-norm cosine pair scores NULL —
    or, under ``spark.sql.ansi.enabled``, fails the query with
    DIVIDE_BY_ZERO as the expression does.  ``exclude_self`` drops the
    pairs whose ids are equal or NULL (the expression path's
    ``left_id != right_id`` filter)."""
    import pyarrow as pa

    from anndb_spark.operators._scratch import scratch_mat

    ansi = scorer == "fold" and space == "cosine" and (
        vectors.sparkSession.conf.get("spark.sql.ansi.enabled", "false").lower()
        == "true"
    )
    vfields = vectors.schema.fields
    names = [queries.column_names[0], vfields[0].name, "score"]
    names += [f.name for f in vfields[2:]]
    schema = StructType(
        [StructField(names[0], qid_type), vfields[0], StructField("score", DoubleType())]
        + vfields[2:]
    )
    qids = queries.column(0).combine_chunks()
    qdec = _decode(queries.column(1).combine_chunks())
    # (dimension, query indices, their values) per query dimension, then
    # the NULL queries, which score NULL against every vector
    work = []
    for d in np.unique(qdec[0][qdec[0] >= 0]):
        qidx, qvals = _rows_of_dim(qdec, d)
        work.append((d, qidx, np.asarray(qvals, dtype=np.float64)))
    work.append((None, np.flatnonzero(qdec[0] < 0), None))
    if exclude_self:
        qkey = qids.to_numpy(zero_copy_only=False)
        qnull = ~qids.is_valid().to_numpy(zero_copy_only=False)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        kept = None
        for b in batches:
            n = b.num_rows
            if not n or not len(qids) or k <= 0:
                continue
            vdec = _decode(b.column(1))
            idrank = _id_rank(b.column(0))
            if exclude_self:
                bid = b.column(0).to_numpy(zero_copy_only=False)
                bnull = ~b.column(0).is_valid().to_numpy(zero_copy_only=False)
            chunk = max(1, _BLOCK_BYTES // (8 * n))
            qs, cs, ks = [], [], []
            for d, qidx, qvals in work:
                rows, vals = _rows_of_dim(vdec, d) if d is not None else ([], None)
                if len(rows) and scorer == "fold":  # dimension-major float64
                    vt = scratch_mat("knn_vt", d, len(rows), np.float64)
                    vt[...] = vals.T
                    vals = vt
                for c0 in range(0, len(qidx), chunk):
                    qi = qidx[c0:c0 + chunk]
                    excl = None
                    if exclude_self:
                        excl = (bid[None, :] == qkey[qi][:, None]) | bnull[None, :]
                        excl |= qnull[qi][:, None]
                    block = scratch_mat("knn_block", len(qi), n, np.float64)
                    block.fill(-np.inf)  # NULL
                    if len(rows):
                        _score(block, rows, vals, qvals[c0:c0 + chunk], space,
                               scorer, excl, ansi)
                    r, c = _select(block, k, idrank, excl)
                    qs.append(qi[r])
                    cs.append(c)
                    ks.append(block[r, c])
            table = pa.Table.from_batches([b]).select([0, *range(2, b.num_columns)])
            cand = (np.concatenate(qs), np.concatenate(ks), table.take(np.concatenate(cs)))
            kept = cand if kept is None else _merge([kept, cand], k)
        if kept is None or not len(kept[0]):
            return
        qi, key, rows = kept
        rows = rows.combine_chunks()
        cols = [qids.take(pa.array(qi)), rows.column(0)]
        cols.append(pa.array(key, mask=np.isneginf(key)))
        cols += rows.columns[1:]
        yield from pa.Table.from_arrays(cols, names=names).to_batches()

    return vectors.mapInArrow(run, schema)


def _score(block, rows, vals, q, space, scorer, excl, ansi) -> None:
    """Write the scores of the queries ``q`` against the batch rows
    ``rows`` (their values ``vals``: (d, m) for fold, (m, d) for gemm)
    into those columns of ``block``."""
    from anndb_spark.functions.spaces import fold_distances
    from anndb_spark.operators._scratch import scratch_mat
    from anndb_spark.operators.ivf import _pairwise

    dense = len(rows) == block.shape[1]
    if scorer == "gemm":
        acc, zero = _pairwise(q, vals, space), None
    else:
        shape = (len(q), len(rows))
        out = block if dense else scratch_mat("knn_acc", *shape, np.float64)
        tmp = scratch_mat("knn_tmp", *shape, np.float64)
        acc, zero = fold_distances(vals, q, space, out, tmp)
    if zero is not None:
        if excl is not None:
            zero &= ~(excl if dense else excl[:, rows])
        if ansi and zero.any():
            raise ArithmeticError(
                "[DIVIDE_BY_ZERO] Division by zero: the cosine distance of a "
                "zero-norm vector or query (distance_col fails the same way "
                "under spark.sql.ansi.enabled)"
            )
        acc[zero] = -np.inf  # NULL
    if dense:
        if acc is not block:
            np.copyto(block, acc)
    else:
        block[:, rows] = acc


def knn_exact(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    space: str = "euclidean",
    vec_col: str = "vector",
    id_col: str = "id",
    query_vec_col: str = "query_vector",
    query_id_col: str = "query_id",
    payload_cols: Sequence[str] = (),
    score_expr: Column | None = None,
    kernel: str = "expr",
    gemm_collect_cap: int = GEMM_COLLECT_CAP,
) -> DataFrame:
    """Exact kNN of every query against every vector.

    Returns (query_id, rank, id, score [, payload...]) with rank 1..k,
    ascending by (score, id) — id tiebreak makes results deterministic,
    matching FIXTURES.md F5.  Ids, query ids and payload keep their
    input types.  Query ids must be unique: each is ranked as one query.
    A collected query side with a repeated id raises ``ValueError``
    naming it; the cross join (``score_expr``, or more than
    ``gemm_collect_cap`` queries) does not check, and merges such
    queries into one top-k.

    The query side is collected once (at most ``gemm_collect_cap``
    rows) and every task scores its vectors against it in
    `_gemm_partial_topk`.  ``kernel``: ``'expr'`` (default) scores with
    the ``fold`` scorer — bit-identical to the dual-dialect expression
    and so to the DuckDB oracle, use for checked queries; ``'gemm'``
    scores with a per-batch BLAS GEMM — same ids/ranks, scores equal to
    ~1 ulp (different float summation order).

    ``score_expr`` lets the caller substitute a custom scoring Column
    (e.g. a literal-query unrolled expression for oracle parity); it,
    like a query side over ``gemm_collect_cap``, runs the
    ``distance_col`` cross join instead (the escape hatch, no driver
    collect).
    """
    if kernel not in ("expr", "gemm"):
        raise ValueError(f"unknown kernel {kernel!r}")
    payload_cols = list(payload_cols)
    small = None
    if score_expr is None:
        small = _collect_small(
            queries.select(query_id_col, query_vec_col), gemm_collect_cap
        )
        if small is None and kernel == "gemm":
            warnings.warn(
                f"knn_exact(kernel='gemm'): more than gemm_collect_cap="
                f"{gemm_collect_cap:,} queries; falling back to kernel='expr' "
                "(no driver collect, same exact results)",
                stacklevel=2,
            )
    if small is not None:
        _serve.check_unique(small.column(0).to_pylist(), query_id_col)
        src = vectors.select(id_col, vec_col, *payload_cols)
        if kernel == "gemm":
            from anndb_spark.utils import ensure_parallelism

            src = ensure_parallelism(src)
        scored = _gemm_partial_topk(
            src, small, queries.schema[query_id_col].dataType, k, space,
            "fold" if kernel == "expr" else "gemm",
        )
    else:
        joined = vectors.crossJoin(
            F.broadcast(queries.select(query_id_col, query_vec_col))
        )
        score = (
            score_expr
            if score_expr is not None
            else distance_col(F.col(vec_col), F.col(query_vec_col), space)
        )
        scored = joined.select(
            query_id_col,
            id_col,
            score.alias("score"),
            *[F.col(c) for c in payload_cols],
        )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score", *payload_cols)
    )


def knn_sq8(
    encoded: DataFrame,
    queries: DataFrame,
    k: int,
    original: DataFrame | None = None,
    space: str = "euclidean",
    rerank_mult: int = 3,
    vec_col: str = "vector",
    id_col: str = "id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
) -> DataFrame:
    """kNN over the SQ8-compressed table: the candidate scan reads the
    uint8 codes (4× fewer vector bytes than float32 — at 100 TB the
    scan IS the cost), decodes in-expression, and takes
    ``k·rerank_mult`` approximate candidates; when ``original`` (the
    float table, ``(id, vector)``) is given, candidates are fetched by
    id — an equi-join touching only k·mult rows per query, not the
    table — and exactly re-ranked to the final top-k.

    ``encoded`` is the `quantize.sq8_encode_table` layout
    (id, {vec}_codes, {vec}_rmin, {vec}_scale).  All scoring computes
    the dual-dialect expression's doubles (`knn_exact`'s fold scorer,
    then `distance_col` in the rerank), so results stay oracle-exact.
    Returns (query_id, rank, id, score); score is the EXACT distance
    when reranked, else the decoded-approximation distance."""
    from anndb_spark.functions.quantize import sq8_decode

    decoded = encoded.select(
        F.col(id_col),
        sq8_decode(
            F.col(f"{vec_col}_codes"),
            F.col(f"{vec_col}_rmin"),
            F.col(f"{vec_col}_scale"),
        ).alias(vec_col),
    )
    n_cand = k * rerank_mult if original is not None else k
    cand = knn_exact(
        decoded, queries, n_cand, space=space, vec_col=vec_col,
        id_col=id_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )
    if original is None:
        return cand
    # size-adaptive shortlist-fetch direction — see knn_binary's rerank
    # (r14): hint the batch-bounded candidate side only when the float
    # table is too big to auto-broadcast (the corpus-shuffle case)
    from anndb_spark.utils import plan_size_over_broadcast_threshold

    cand_keys = cand.select(query_id_col, id_col)
    if plan_size_over_broadcast_threshold(original):
        cand_keys = F.broadcast(cand_keys)
    joined = (
        cand_keys
        .join(original.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
    )
    scored = joined.select(
        query_id_col,
        id_col,
        distance_col(F.col(vec_col), F.col(query_vec_col), space).alias(
            "score"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )


def _infer_qid_type(queries) -> str:
    """Spark type for the query_id column: keeps INT for int32-range
    ids (the historical schema), widens to LONG past int32, STRING for
    string ids — so callers with 64-bit or string ids don't hit a
    createDataFrame failure / silent overflow."""
    ids = [q[0] for q in queries]
    if all(isinstance(i, str) for i in ids):
        return "STRING"
    if all(isinstance(i, int) and not isinstance(i, bool) for i in ids):
        if all(-(2**31) <= i < 2**31 for i in ids):
            return "INT"
        return "LONG"
    raise TypeError(
        "knn_binary: query ids must be all int or all str, got "
        f"{sorted({type(i).__name__ for i in ids})}"
    )


def knn_binary(
    vectors: DataFrame,
    queries: list[tuple],
    k: int,
    dim: int,
    space: str = "euclidean",
    rerank_mult: int = 3,
    vec_col: str = "vector",
    id_col: str = "id",
    sig_table: DataFrame | None = None,
) -> DataFrame:
    """kNN over 1-bit sign signatures: candidates ranked by hamming
    distance between packed sign patterns (32× smaller than float32 —
    two XOR+bit_count ops per candidate, the cheapest possible scan),
    then the k·mult shortlist exactly re-ranked against the float
    vectors.

    ``queries`` are (query_id, vector) literals (the serving shape);
    they become ONE broadcast DataFrame, so the plan is a single
    scan ⨯ broadcast(queries) → hamming → pre-shuffle WindowGroupLimit
    → Exchange(query_id) → top-n_cand *ids* → id-equi-join back to the
    floats → exact rerank.  Plan size and exchange count are O(1) in
    the number of queries (a per-query orderBy/limit union would make
    the analyzer the bottleneck at 1k-query batches), and only
    |Q|·k·mult candidate ids — never vectors — cross the shuffle.

    Any ``dim`` is accepted: up to 64 dims pack into two BIGINT halves
    (`sign_bits_cols`), wider vectors into an ARRAY<BIGINT> word
    signature (`sign_words_col`, 62 bits/word) with an
    aggregate(zip_with(XOR → bit_count)) hamming — both pure-JVM, and
    the plan shape (one exchange, O(1) nodes in |Q|) is identical, so
    the cheapest scan in the toolbox works at real embedding widths
    (384-4096).  Query vectors must have exactly ``dim`` dims: extra
    dims would be silently excluded from the signature, degrading
    recall with no error.  Hamming ties are broken by id, so results
    are deterministic and oracle-exact despite the coarse proxy.
    Returns (query_id, rank, id, score) with score = exact distance of
    the BQ-selected candidates (BQ recall is the accuracy knob —
    report it against knn_exact like any ANN path).  query_id keeps
    the callers' type (int32 / int64 / string inferred from the
    literals).

    ``sig_table`` (the `quantize.bq_encode_table` layout: id +
    {vec}_sig_lo/{vec}_sig_hi, or id + {vec}_sig for dim > 64) makes
    the candidate scan read the packed stored signatures instead of
    packing them from the float vectors on the fly — the float table
    is then touched only by the k·mult-row rerank fetch.  Results are
    identical either way (same packing expression produced the table).
    Tables written by `bq_encode_table` carry a ``{vec}_sig_dim``
    stamp; when present it is verified per-row (F.assert_true, zero
    extra scans) so a table packed at another dim fails loudly instead
    of silently losing recall."""
    from anndb_spark.functions.quantize import (
        hamming_col,
        hamming_words_unrolled_col,
        sign_bits_cols,
        sign_words_col,
    )

    queries = list(queries)
    if not queries:
        raise ValueError("knn_binary: queries must be non-empty")
    if dim <= 0:
        raise ValueError(f"knn_binary: dim must be positive, got {dim}")
    for qid, qv in queries:
        if len(qv) != dim:
            raise ValueError(
                f"knn_binary: query {qid!r} has {len(qv)} dims, expected "
                f"dim={dim} (extra dims would be silently dropped from "
                "the signature)"
            )
    spark = vectors.sparkSession
    qid_type = _infer_qid_type(queries)
    from anndb_spark.utils import literal_df

    qdf = literal_df(
        spark,
        [(qid, [float(x) for x in qv]) for qid, qv in queries],
        f"query_id {qid_type}, query_vector ARRAY<DOUBLE>",
    )
    wide = dim > 64
    dim_col = f"{vec_col}_sig_dim"
    if sig_table is not None and dim_col in sig_table.columns:
        # stamped table: per-row runtime check, no extra scan
        sig_table = sig_table.filter(
            F.assert_true(
                F.col(dim_col) == F.lit(dim),
                F.concat(
                    F.lit(
                        "knn_binary: sig_table was packed at dim "
                    ),
                    F.col(dim_col).cast("string"),
                    F.lit(f", searched at dim {dim}"),
                ),
            ).isNull()
        )
    # the SAME column expression packs both sides — no driver-side twin
    # to drift from
    from anndb_spark.utils import ensure_parallelism

    if wide:
        qsig = qdf.select(
            "query_id",
            sign_words_col("query_vector", dim).alias("_qsig"),
        )
        if sig_table is not None:
            sig = sig_table.select(
                F.col(id_col), F.col(f"{vec_col}_sig").alias("_sig")
            )
        else:
            sig = vectors.select(
                F.col(id_col),
                sign_words_col(vec_col, dim).alias("_sig"),
            )
        from anndb_spark.functions.quantize import _n_words

        # unrolled fixed-width chain: codegen arithmetic instead of an
        # interpreted aggregate/zip_with HOF per candidate row (r13)
        ham = hamming_words_unrolled_col(
            F.col("_sig"), F.col("_qsig"), _n_words(dim)
        )
    else:
        qlo, qhi = sign_bits_cols("query_vector", dim)
        qsig = qdf.select(
            "query_id", qlo.alias("_qlo"), qhi.alias("_qhi")
        )
        if sig_table is not None:
            sig = sig_table.select(
                F.col(id_col),
                F.col(f"{vec_col}_sig_lo").alias("_lo"),
                F.col(f"{vec_col}_sig_hi").alias("_hi"),
            )
        else:
            lo, hi = sign_bits_cols(vec_col, dim)
            sig = vectors.select(
                F.col(id_col), lo.alias("_lo"), hi.alias("_hi")
            )
        ham = hamming_col(
            F.col("_lo"), F.col("_hi"), F.col("_qlo"), F.col("_qhi")
        )
    # degenerate-layout guard (same as the GEMM path): a 1-partition
    # cached/limit input would serialize the |Q|·N hamming scan; at
    # real scale the parquet scan supplies partitions and this no-ops
    sig = ensure_parallelism(sig)
    n_cand = k * rerank_mult
    wc = Window.partitionBy("query_id").orderBy(
        F.col("_ham").asc(), F.col(id_col).asc()
    )
    cand_ids = (
        sig.crossJoin(F.broadcast(qsig))
        .select("query_id", id_col, ham.alias("_ham"))
        .withColumn("_r", F.row_number().over(wc))
        .filter(F.col("_r") <= n_cand)
        .select("query_id", id_col)
    )
    # size-adaptive rerank-fetch direction (r14, guide §2/§3.1): when
    # the vector table's estimate exceeds the broadcast threshold, the
    # un-hinted join would SMJ — shuffling the CORPUS by id to fetch
    # |Q|·k·mult rows — so the batch-bounded candidate side carries an
    # explicit broadcast hint (the IVFADC+R device, ivfpq.py).  When
    # the table itself fits the threshold, stay un-hinted: the planner
    # broadcasts the table and its build OVERLAPS the candidate
    # pipeline, where a candidate-side hint serializes a driver
    # round-trip between the stages (measured 1.78 -> 2.17 s on the
    # 1kq leg).  Decided from plan statistics, not core count.
    from anndb_spark.utils import plan_size_over_broadcast_threshold

    if plan_size_over_broadcast_threshold(vectors):
        cand_ids = F.broadcast(cand_ids)
    rerank = (
        cand_ids.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            distance_col(F.col(vec_col), F.col("query_vector"), space).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col(id_col).asc()
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score")
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    space: str = "euclidean",
    left_id_col: str = "id",
    left_vec_col: str = "vector",
    right_id_col: str = "id",
    right_vec_col: str = "vector",
    exclude_self: bool = False,
    mode: str = "exact",
    centroids=None,
    nprobe: int = 8,
    broadcast_left: bool = True,
    gemm_collect_cap: int = GEMM_COLLECT_CAP,
    pq_codebooks=None,
    pq_codes: DataFrame | None = None,
    pq_m: int = 8,
    pq_centroids: int = 256,
) -> DataFrame:
    """Top-k similarity join: for every row of ``left``, its k nearest
    rows of ``right``.

    Returns (left_id, rank, right_id, score), rank 1..k ascending by
    (score, right_id).  ``exclude_self`` drops pairs with equal ids (for
    self-joins: "each item's k nearest *other* items").  Left ids must
    be unique: each is ranked as one query.  The modes that collect the
    left side ('exact' and 'gemm' under ``gemm_collect_cap``, 'pq')
    raise ``ValueError`` naming a repeated id; 'ivf' and the cross join
    (``broadcast_left=False``) do not check, and merge the rows sharing
    an id into one top-k.

    The symmetric generalization of the reference's search path — every
    left row plays the role of a query in
    `storage/dataset.go:349-387`'s scatter/gather, batched into one plan.

    Modes (the physical strategies):

    - ``'exact'`` — the same shape as `knn_exact`: with
      ``broadcast_left`` (default) the left side is collected once and
      rides the task closure, the big right side never shuffles, and the
      per-task kernel (`_gemm_partial_topk`, ``fold`` scorer) keeps each
      left row's k best, scores bit-identical to the expression.  A left
      side over ``gemm_collect_cap``, or ``broadcast_left=False`` (both
      sides large: let AQE pick the join — the honest cost of an exact
      big✕big join is O(|L|·|R|) scores, at that scale use
      ``mode='ivf'``), runs the ``distance_col`` cross join instead.
    - ``'gemm'`` — the same kernel with the per-batch BLAS scorer: same
      ids/ranks as 'exact'; scores differ from the SQL formulation by
      ~1 ulp, so use 'exact' for oracle-checked queries.
    - ``'ivf'`` — route left rows to their nprobe nearest coarse
      centroids and score only those clusters of right (see
      `operators/ivf.py`): O(|L|·nprobe·cluster_size) scores, the 100 TB
      path.  Requires ``centroids`` (train via `ivf.train_centroids`).
      A ``cluster_id`` column on ``right`` is used as the rows' cell
      instead of re-assigning them, so it must come from
      `ivf.assign_clusters` against the same ``centroids``; a NULL or
      out-of-range id fails the query.
    - ``'pq'`` — product-code the right side once (m bytes/row) and
      ADC-score the codes, exact-reranking a per-left-row shortlist
      against the float rows (see `operators/pq.py`): the inner scan
      reads dim·4/m× fewer bytes than 'gemm' at the same output
      contract; approximate only in which rows REACH the shortlist.
      Reuse artifacts across calls via ``pq_codebooks``/``pq_codes``.

    Exact mode is bit-identical to the SQL cross-join formulation
    (`pair_distance_sql`), so it is oracle-checkable; ivf mode is
    validated by recall against it.
    """

    def big_left_via_ivf() -> DataFrame:
        # a mode that collects the left side ('gemm', 'pq') found it over
        # gemm_collect_cap rows: the collect would OOM the driver, so the
        # join re-enters as mode='ivf' (approximate, nprobe-bounded) on
        # the given centroids, or at most 32 trained on ``right``
        cents = centroids
        if cents is None:
            from anndb_spark.operators.ivf import train_centroids

            rc = right.count()
            cents = train_centroids(
                right.select(F.col(right_vec_col).alias("vector")),
                n_clusters=max(1, min(32, rc // 4)),
                space=space,
            )
        warnings.warn(
            f"knn_join(mode={mode!r}): left has more than "
            f"gemm_collect_cap={gemm_collect_cap:,} rows; the driver "
            "collect would OOM — falling back to the bucketed "
            "mode='ivf' path (approximate, nprobe-bounded)",
            stacklevel=3,
        )
        return knn_join(
            left, right, k, space=space,
            left_id_col=left_id_col, left_vec_col=left_vec_col,
            right_id_col=right_id_col, right_vec_col=right_vec_col,
            exclude_self=exclude_self, mode="ivf",
            centroids=cents, nprobe=nprobe,
        )

    if mode == "ivf":
        if centroids is None:
            raise ValueError("mode='ivf' requires centroids")
        from anndb_spark.operators.ivf import search_ivf

        inner_k = k + 1 if exclude_self else k
        # carry a pre-assigned cluster_id through (r14): the old select
        # dropped it, so search_ivf re-assigned the WHOLE right table
        # (a full Python pass over every vector) on every call even
        # when the caller had already assigned it against these same
        # centroids.
        rcols = [
            F.col(right_id_col).alias("id"),
            F.col(right_vec_col).alias("vector"),
        ]
        if "cluster_id" in right.columns:
            # a NULL or out-of-range id is never probed, so its row would
            # silently drop out: fail the query instead (checked in the
            # same scan — no extra job)
            cid, n_cells = F.col("cluster_id"), len(centroids)
            rcols.append(
                F.when(
                    cid.isNull() | (cid < 0) | (cid >= n_cells),
                    F.raise_error(F.concat(
                        F.lit("knn_join(mode='ivf'): right column cluster_id = "),
                        F.coalesce(cid.cast("string"), F.lit("NULL")),
                        F.lit(
                            f" is not a cell of the {n_cells} centroids; assign "
                            "it with ivf.assign_clusters against the same "
                            "centroids, or drop the column"
                        ),
                    )),
                ).otherwise(cid).alias("cluster_id")
            )
        res = search_ivf(
            right.select(*rcols),
            left.select(
                F.col(left_id_col).alias("query_id"),
                F.col(left_vec_col).alias("query_vector"),
            ),
            inner_k,
            centroids,
            nprobe=nprobe,
            space=space,
        ).select(
            F.col("query_id").alias("left_id"),
            F.col("id").alias("right_id"),
            F.col("score"),
        )
        return _rank_pairs(res, k, exclude_self)
    if mode == "pq":
        # compressed inner scan: right is product-coded ONCE (m bytes a
        # row instead of dim·4) and every left row ADC-scores the codes
        # — the scan-byte lever for big similarity joins; exactness is
        # restored on a per-query shortlist rerank against the float
        # rows.  Pass ``pq_codes``/``pq_codebooks`` to amortize the
        # encode across calls (the artifacts round-trip via pq.save_pq).
        from anndb_spark.operators.pq import (
            pq_encode,
            pq_search_batch,
            train_pq,
        )

        if space not in ("euclidean", "cosine"):
            raise ValueError("mode='pq' supports euclidean/cosine")
        lrows = _collect_small(left.select(left_id_col, left_vec_col), gemm_collect_cap)
        if lrows is None:
            return big_left_via_ivf()
        rvecs = right.select(
            F.col(right_id_col).alias("id"),
            F.col(right_vec_col).alias("vector"),
        )
        books = pq_codebooks
        if books is None:
            books = train_pq(rvecs, m=pq_m, n_centroids=pq_centroids)
        codes = pq_codes if pq_codes is not None else pq_encode(rvecs, books)
        inner_k = k + 1 if exclude_self else k
        res = pq_search_batch(
            codes,
            (
                lrows.column(0).to_pylist(),
                np.array(lrows.column(1).to_pylist(), dtype=np.float32),
            ),
            books,
            inner_k,
            space=space,
            rerank_with=rvecs,
            shortlist=max(5 * inner_k, 32),
        ).select(
            F.col("query_id").alias("left_id"),
            F.col("id").alias("right_id"),
            F.col("score"),
        )
        return _rank_pairs(res, k, exclude_self)
    if mode not in ("exact", "gemm"):
        raise ValueError(f"unknown mode {mode!r}")
    qdf = left.select(
        F.col(left_id_col).alias("left_id"), F.col(left_vec_col).alias("__qvec")
    )
    vdf = right.select(
        F.col(right_id_col).alias("right_id"), F.col(right_vec_col).alias("__vvec")
    )
    # left is the "queries" side: small by contract, collected once; at
    # big×big scale use mode='ivf'
    small = (
        _collect_small(qdf, gemm_collect_cap)
        if broadcast_left or mode == "gemm" else None
    )
    if small is None and mode == "gemm":
        return big_left_via_ivf()
    if small is not None:
        _serve.check_unique(small.column(0).to_pylist(), left_id_col)
        if mode == "gemm":
            from anndb_spark.utils import ensure_parallelism

            vdf = ensure_parallelism(vdf)
        scored = _gemm_partial_topk(
            vdf, small, qdf.schema["left_id"].dataType, k, space,
            "fold" if mode == "exact" else "gemm", exclude_self=exclude_self,
        )
        return _rank_pairs(scored, k, False)  # the kernel drops self pairs
    joined = vdf.crossJoin(F.broadcast(qdf) if broadcast_left else qdf)
    scored = joined.select(
        "left_id",
        "right_id",
        distance_col(F.col("__vvec"), F.col("__qvec"), space).alias("score"),
    )
    return _rank_pairs(scored, k, exclude_self)


def _rank_pairs(pairs: DataFrame, k: int, exclude_self: bool) -> DataFrame:
    """``(left_id, right_id, score)`` pairs → each left id's k best as
    (left_id, rank, right_id, score), ranked by ascending (score,
    right_id); ``exclude_self`` first drops the pairs whose ids are
    equal (or NULL)."""
    if exclude_self:
        pairs = pairs.filter(F.col("left_id") != F.col("right_id"))
    w = Window.partitionBy("left_id").orderBy(F.col("score").asc(), F.col("right_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("left_id", "rank", "right_id", "score")
    )


def knn_search(
    vectors: DataFrame,
    query: Sequence[float],
    k: int,
    space: str = "euclidean",
    vec_col: str = "vector",
    id_col: str = "id",
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Single-query exact kNN: orderBy + limit → TakeOrderedAndProject.

    Spark's TakeOrderedAndProject computes per-partition partial top-k in
    the mappers and merges on the driver — exactly the reference's
    two-level scatter/gather (`storage/dataset.go:374-387,418-431`) as
    one built-in physical operator.
    """
    qlit = F.array(*[F.lit(float(x)).cast("double") for x in query])
    scored = vectors.select(
        id_col,
        distance_col(F.col(vec_col), qlit, space).alias("score"),
        *[F.col(c) for c in payload_cols],
    )
    return scored.orderBy(F.col("score").asc(), F.col(id_col).asc()).limit(k)
