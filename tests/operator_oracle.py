"""Reference forms of the curation operators for the parity tests.

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
* ``funnel_join`` — the join-per-stage form of `temporal.funnel`.

The MinHash signature reference, `dedup.minhash_signatures`, stays in
the package: the oracle registry calls it.
"""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anndb_spark.operators.curation import _word_ngrams
from anndb_spark.operators.dedup import simhash_col


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
