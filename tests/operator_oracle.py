"""Reference forms of operators for the parity tests.

Each operator in ``anndb_spark`` has one implementation.  The forms
here are the relational encodings they replaced; the tests compare the
package against them row for row (or, where the two differ in one
intermediate, compare that intermediate):

* ``simhash64_cols`` — the 64-bit SimHash as two ``simhash_col``
  expressions, against `dedup.simhash64_signatures_fast`;
* ``repetition_signals_expr`` — the explode/aggregate/join form of
  `text.repetition_signals`;
* ``bigram_stream_lag`` — the lag-window token stream, against
  `text._bigram_stream` (everything downstream is shared);
* ``dsir_doc_bucket_counts_expr`` — the explode + JVM md5 + groupBy
  per-(doc, bucket) counts, against `curation._dsir_doc_bucket_counts`;
* ``funnel_join`` — the join-per-stage form of `temporal.funnel`;
* ``pq_search`` — single-query ADC top-k (its own LUT, per-batch
  argsort fold and rerank), against `pq.pq_search_batch`.

The MinHash signature reference, `dedup.minhash_signatures`, stays in
the package: the oracle registry calls it.
"""

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anndb_spark.operators.curation import _word_ngrams
from anndb_spark.operators.dedup import simhash_col
from anndb_spark.operators.pq import codes_matrix


def simhash64_cols(text: Column) -> tuple[Column, Column]:
    """64-bit SimHash as two independent 32-bit halves ``(lo, hi)``:
    lo hashes the bare word, hi hashes ``'1:' || word``."""
    return simhash_col(text, 32, salt=""), simhash_col(text, 32, salt="1:")


def repetition_signals_expr(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """`repetition_signals` as explode → two keyed aggregations per gram
    level (each n-gram row seen once), joined back on the id."""
    t = F.col(text_col)
    w = F.split(t, " ")
    words = df.select(F.col(id_col).alias("id"), w.alias("w"))

    def gram_stats(n: int, out: str) -> DataFrame:
        if n == 1:
            grams = F.col("w")
        else:
            # zip the array against its n-1 shifted selves
            glen = F.greatest(
                F.size(F.col("w")) - F.lit(n - 1), F.lit(0)
            )  # docs shorter than n have no n-grams (negative slice len throws)
            parts = [F.slice(F.col("w"), k + 1, glen) for k in range(n)]
            grams = parts[0]
            for p in parts[1:]:
                grams = F.zip_with(
                    grams, p, lambda a, b: F.concat_ws(" ", a, b)
                )
        return (
            words.select("id", F.explode(grams).alias("gram"))
            .groupBy("id", "gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("id")
            .agg(
                F.sum("cnt").alias(f"_tot{n}"),
                F.max("cnt").alias(f"_top{n}"),
                F.count(F.lit(1)).alias(f"_uniq{n}"),
            )
            .select(
                "id",
                F.col(f"_tot{n}").alias(f"tot{n}"),
                (
                    F.col(f"_top{n}").cast("double")
                    / F.col(f"_tot{n}").cast("double")
                ).alias(out),
                F.col(f"_uniq{n}").alias(f"uniq{n}"),
            )
        )

    uni = gram_stats(1, "_f1")
    bi = gram_stats(2, "top_bigram_fraction")
    tri = gram_stats(3, "top_trigram_fraction")
    return (
        uni.join(bi, "id", "left")
        .join(tri, "id", "left")
        .select(
            "id",
            F.col("tot1").cast("long").alias("n_tokens"),
            (
                F.lit(1.0)
                - F.col("uniq1").cast("double") / F.col("tot1").cast("double")
            ).alias("dup_word_fraction"),
            F.coalesce(F.col("top_bigram_fraction"), F.lit(0.0)).alias(
                "top_bigram_fraction"
            ),
            F.coalesce(F.col("top_trigram_fraction"), F.lit(0.0)).alias(
                "top_trigram_fraction"
            ),
        )
    )


def bigram_stream_lag(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, pos, tok, prev) with ``prev`` from an id-keyed lag
    window over the posexploded tokens."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    return toks.withColumn("prev", F.lag("tok").over(w))


def dsir_doc_bucket_counts_expr(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hex_len: int,
    flag_col: str | None = None,
) -> DataFrame:
    """(id_col, b, n[, flag_col]): explode each document's unigrams ++
    bigrams, hash each occurrence to its md5-hex prefix and count per
    (doc, bucket)."""
    w = F.split(F.col(text_col), " ")
    carry = [F.col(flag_col)] if flag_col else []
    agg = [F.count("*").cast("long").alias("n")]
    if flag_col:
        agg.append(F.min(flag_col).alias(flag_col))
    return (
        df.select(
            F.col(id_col),
            *carry,
            F.explode(F.concat(w, _word_ngrams(w, 2))).alias("g"),
        )
        .select(
            id_col, *carry, F.substring(F.md5(F.col("g")), 1, hex_len).alias("b")
        )
        .groupBy(id_col, "b")
        .agg(*agg)
    )


def funnel_join(
    events: DataFrame,
    stages: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """`funnel` as stage 1 a grouped min(ts) and stage k a grouped min
    over the events equi-joined to stage k-1's reach times."""
    out = []
    prev = None  # (key, reach_ts) of the previous stage
    for step, stage in enumerate(stages, start=1):
        ev = events.filter(F.col(type_col) == stage).select(
            F.col(key_col).alias("_k"), F.col(ts_col).alias("_t")
        )
        if prev is None:
            cur = ev.groupBy("_k").agg(F.min("_t").alias("_rt"))
        else:
            cur = (
                ev.join(prev, on="_k")
                .filter(F.col("_t") > F.col("_rt"))
                .groupBy("_k")
                .agg(F.min("_t").alias("_rt"))
            )
        out.append(
            cur.agg(
                F.lit(step).cast("int").alias("step"),
                F.lit(stage).alias("stage"),
                F.count("*").alias("n_keys"),
            )
        )
        prev = cur
    res = out[0]
    for d in out[1:]:
        res = res.unionByName(d)
    return res


def pq_search(
    codes: DataFrame,
    query: list[float] | np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "id",
    codes_col: str = "codes",
    rerank_with: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """ADC top-k over a codes table: per-task LUT + np.take scoring +
    partial top-k, then a global top-k merge (one tiny shuffle).

    PQ distances are coarse (subspace centroids blur intra-cluster
    ranks — the standard PQ contract); pass ``rerank_with`` (the
    original vectors table) to re-score an ADC shortlist
    (default 5·k) with exact distances — the classic
    shortlist-then-rerank shape: the 3 KB/row float column is read for
    only ``shortlist`` rows per query instead of the whole table."""
    m, kc, sub = codebooks.shape
    books = np.ascontiguousarray(codebooks, dtype=np.float32)
    q = np.asarray(query, dtype=np.float32)
    # LUT[j, c] = ||q_j - book[j][c]||² — built once, shipped in closure
    lut = np.stack(
        [
            np.einsum(
                "kd,kd->k",
                books[j] - q[j * sub : (j + 1) * sub],
                books[j] - q[j * sub : (j + 1) * sub],
                dtype=np.float32,
            )
            for j in range(m)
        ]
    )

    top_n = k if rerank_with is None else max(shortlist or 5 * k, k)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # drain-then-yield: interleaved yield kills the python worker.
        # Per-batch partial top-n is folded DURING the drain, so worker
        # memory holds one batch plus a top_n shortlist
        best_ids: np.ndarray | None = None
        best_s: np.ndarray | None = None
        for b in batches:
            if not len(b):
                continue
            C = codes_matrix(b[codes_col], m)  # (n, m)
            s = np.zeros(C.shape[0], dtype=np.float32)
            for j in range(m):
                s += lut[j][C[:, j]]
            top = np.argsort(s, kind="stable")[:top_n]
            bid = b[id_col].iloc[top].astype(str).to_numpy()
            bs = s[top]
            if best_ids is None:
                best_ids, best_s = bid, bs
            else:
                best_ids = np.concatenate([best_ids, bid])
                best_s = np.concatenate([best_s, bs])
                keep = np.argsort(best_s, kind="stable")[:top_n]
                best_ids, best_s = best_ids[keep], best_s[keep]
        if best_ids is not None:
            order = np.argsort(best_s, kind="stable")[:top_n]
            yield pd.DataFrame(
                {
                    "id": best_ids[order],
                    "score": np.sqrt(np.maximum(best_s[order], 0.0)),
                }
            )

    partial = codes.mapInPandas(score, "id STRING, score FLOAT")
    cand = partial.orderBy(F.col("score").asc(), F.col("id").asc()).limit(top_n)
    if rerank_with is None:
        return cand.limit(k)
    # exact rerank of the shortlist: broadcast-join the (tiny) candidate
    # id set against the vectors table, score with the exact distance
    # column expression, final top-k
    from anndb_spark.functions.spaces import distance_col

    qlit = F.array(*[F.lit(float(x)) for x in np.asarray(query, dtype=np.float32)])
    exact = (
        rerank_with.withColumn("id", F.col("id").cast("string"))
        .join(F.broadcast(cand.select("id")), "id")
        .select(
            "id",
            distance_col(F.col("vector"), qlit).cast("float").alias("score"),
        )
    )
    return exact.orderBy(F.col("score").asc(), F.col("id").asc()).limit(k)
