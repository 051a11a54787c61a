"""Corpus curation: benchmark decontamination, document-frequency
boilerplate removal, target-mixture resampling, and DSIR importance
selection.

Operations every LLM training-data pipeline runs between raw crawl
and tokenizer, absent from the reference (a vector store —
`/root/reference/README.md` scopes it to ANN serving) but first-class
here per the pipeline mandate:

* ``decontaminate`` — drop/flag training documents that share any
  word n-gram with a held-out benchmark (the standard n-gram-overlap
  decontamination; GPT-3 appendix C used 13-grams, smaller corpora
  use 8).  Scale shape: the benchmark gram set is tiny (eval suites
  are thousands of documents), so it broadcasts; corpus grams are
  generated per-row by JVM column expressions (sequence/transform/
  slice — no Python, no shuffle) and only the per-doc hit counts are
  aggregated.  One shuffle (the groupBy doc), no matter the corpus
  size.

* ``boilerplate_filter`` — remove units (lines when ``sep='\\n'``,
  tokens otherwise) whose document frequency exceeds a threshold:
  line-level dedup as in CCNet / RefinedWeb, where nav bars and
  cookie banners repeat across a site's pages.  Scale shape: the
  frequent-unit set is the heavy-hitter tail of the DF distribution
  — small by construction (a unit must appear in ``min_doc_frac`` of
  ALL documents to qualify) — so it broadcasts and the rewrite is a
  pure per-row ``filter``/``array_join`` with order preserved.  If a
  corpus ever yields a frequent set too big to broadcast, the
  posexplode → anti-join → re-agg variant trades the broadcast for
  one extra shuffle; not implemented until needed.

* ``mixture_sample`` — deterministic per-bucket hash sampling to hit
  a target domain mixture (e.g. downweight crawl, keep books): the
  [[hash-sample]] membership rule of ``sampling.hash_sample`` applied
  with a per-source rate.  Pure per-row column expression, pushes
  past scans, reproducible on any cluster size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anndb_spark.operators.sampling import _bucket, _threshold_hex


def _word_ngrams(w: Column, n: int) -> Column:
    """All word n-grams of a token array as space-joined strings;
    empty when the document is shorter than n."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )
    return F.when(F.size(w) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    kernel: str = "fast",
    max_bench_grams: int = 5_000_000,
) -> DataFrame:
    """(id, n_hits, contaminated) for every corpus document, where
    n_hits counts the distinct word n-grams it shares with ANY
    benchmark document.  Callers drop ``contaminated`` rows (or the
    whole document set a hit belongs to) before training.

    Both forms assume the benchmark gram set fits in executor memory
    (it is an eval set, not a corpus — the pre-r13 plan already
    broadcast it).  ``kernel="fast"`` (default, r13): the benchmark
    grams — still produced by the Spark `_word_ngrams` expression, so
    the gram definition has a single source of truth — are collected
    once and shipped as a plain broadcast set; each corpus document's
    distinct grams are then built and intersected in an Arrow-batched
    Python kernel.  This deletes the corpus-side interpreted n-gram
    HOF + explode (~(T-n) string builds per doc through a
    CodegenFallback transform), the gram join and the per-doc groupBy
    exchange, plus the corpus.select(id) left-join — the corpus is
    read ONCE with zero shuffles (guide §4.2).  ``kernel="expr"``
    keeps the relational plan; outputs are bit-identical
    (parity-pinned: same split-on-space tokens, same space-joined
    grams, distinct-set intersection counts are exact integers)."""
    toks = F.split(F.col(text_col), " ")
    bench_grams = (
        benchmark.select(F.explode(_word_ngrams(toks, n)).alias("g"))
        .distinct()
    )
    if kernel == "fast":
        # size guard (VERDICT r13 wrong #4): the benchmark gram set is
        # eval-suite-bounded by contract, and the expr path broadcast
        # it too — but a caller passing a corpus-sized "benchmark"
        # should get a clear error, not a driver OOM.  The limit probe
        # rides the SAME collect (one job, no second aggregation):
        # under the cap, limit(cap+1) returns the full set.
        rows = bench_grams.limit(max_bench_grams + 1).collect()
        if len(rows) > max_bench_grams:
            raise ValueError(
                f"decontaminate: benchmark has over "
                f"{max_bench_grams:,} distinct {n}-grams "
                "(max_bench_grams); the gram set is collected to the "
                "driver and broadcast — pass an eval-sized benchmark, "
                "raise max_bench_grams if the driver has the memory, "
                "or use kernel='expr' (broadcast join, no driver "
                "collect)"
            )
        bench_set = frozenset(r["g"] for r in rows)
        bset_b = corpus.sparkSession.sparkContext.broadcast(bench_set)
        id_type = corpus.schema[id_col].dataType.simpleString()

        def run(batches):
            bs = bset_b.value
            for pdf in batches:
                out_n = []
                for text in pdf[text_col]:
                    if text is None:
                        # expr path: split(NULL) explodes to nothing, so
                        # the corpus-ids left join emits n_hits = 0
                        out_n.append(0)
                        continue
                    words = text.split(" ")
                    if len(words) >= n:
                        grams = {
                            " ".join(words[i : i + n])
                            for i in range(len(words) - n + 1)
                        }
                        out_n.append(len(grams & bs))
                    else:
                        out_n.append(0)
                yield pd.DataFrame({"id": pdf[id_col], "n_hits": out_n})

        from anndb_spark.utils import ensure_parallelism

        return (
            ensure_parallelism(corpus)
            .select(F.col(id_col), F.col(text_col))
            .mapInPandas(run, schema=f"id {id_type}, n_hits LONG")
            .select(
                F.col("id").alias(id_col),
                "n_hits",
                (F.col("n_hits") > 0).alias("contaminated"),
            )
        )
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_ngrams(toks, n))).alias("g"),
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def boilerplate_filter(
    df: DataFrame,
    min_doc_frac: float | None = None,
    min_docs: int | None = None,
    sep: str = " ",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_units, n_removed, text_clean): rewrite each document
    with its high-document-frequency units removed (order and
    duplicates among survivors preserved).  Exactly one of
    ``min_doc_frac`` (fraction of all documents — scale-invariant) or
    ``min_docs`` (absolute count) sets the threshold.

    Two physical plans with identical output:

    * ``min_doc_frac`` mode — the frequent set is PROVABLY bounded
      (at most total_units / (frac * n_docs) distinct units can clear
      the bar), so it is collected into one broadcast row and probed
      per-token.  Cheap: no shuffle of the corpus itself.
    * ``min_docs`` mode — the frequent set is unbounded (min_docs=2
      on a web corpus ≈ every repeated unit), so NOTHING is
      collected: posexplode -> anti-join on the unit -> re-assemble
      in position order.  Two shuffles (anti-join on u, groupBy id),
      both output-linear; survives any threshold at 100 TB.
    """
    if (min_doc_frac is None) == (min_docs is None):
        raise ValueError("set exactly one of min_doc_frac / min_docs")
    w = F.split(F.col(text_col), sep)
    units = df.select(
        F.col(id_col), F.explode(F.array_distinct(w)).alias("u")
    )
    dfreq = units.groupBy("u").agg(F.count("*").alias("df"))
    if min_docs is not None:
        # unbounded-set mode: anti-join plan, no driver collect.
        freq = dfreq.filter(F.col("df") >= int(min_docs)).select("u")
        toks = df.select(
            F.col(id_col), F.posexplode(w).alias("_pos", "u")
        )
        kept = toks.join(freq, "u", "left_anti")
        reassembled = kept.groupBy(id_col).agg(
            F.count("*").alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "u"))),
                    lambda s: s["u"],
                ),
                sep,
            ).alias("text_clean"),
        )
        return (
            df.select(F.col(id_col), F.size(w).cast("long").alias("n_units"))
            .join(reassembled, id_col, "left")
            .select(
                F.col(id_col),
                F.col("n_units"),
                (
                    F.col("n_units") - F.coalesce(F.col("_n_kept"), F.lit(0))
                ).cast("long").alias("n_removed"),
                F.coalesce(F.col("text_clean"), F.lit("")).alias(
                    "text_clean"
                ),
            )
        )
    total = df.agg(F.countDistinct(id_col).alias("_n"))
    freq = dfreq.join(total).filter(
        F.col("df") >= F.ceil(F.lit(float(min_doc_frac)) * F.col("_n"))
    )
    flist = freq.agg(F.collect_set("u").alias("fl"))
    clean = F.filter(w, lambda x: ~F.array_contains(F.col("fl"), x))
    return (
        df.crossJoin(F.broadcast(flist))
        .select(
            F.col(id_col),
            F.size(w).cast("long").alias("n_units"),
            (F.size(w) - F.size(clean)).cast("long").alias("n_removed"),
            F.array_join(clean, sep).alias("text_clean"),
        )
    )


def _hex_len(buckets: int) -> int:
    """md5-hex prefix length for a power-of-16 bucket count; the bucket
    key stays a STRING in both engines (no hex->int conversion, same
    portability trick as `dedup.simhash_col`)."""
    h = 0
    b = buckets
    while b > 1 and b % 16 == 0:
        b //= 16
        h += 1
    if b != 1 or h == 0:
        raise ValueError(f"buckets must be a power of 16 >= 16, got {buckets}")
    return h


def _dsir_doc_bucket_counts(
    df: DataFrame, text_col: str, id_col: str, hex_len: int,
    flag_col: str | None = None,
) -> DataFrame:
    """(id, b, n[, flag]) — the per-(doc, bucket) gram-occurrence
    counts over DSIR's feature set, the unigrams ++ bigrams of the
    token array (hashed n-gram bag, Xie et al. 2023 §3.1), computed in
    an Arrow-batched Python kernel: hashlib's C md5 + an in-task
    Counter replace the exploded 20x-row stream through an interpreted
    bigram HOF, a JVM md5 projection and a corpus-sized groupBy
    exchange (the `minhash_signatures_fast` device; r13 optimization,
    guide §4.2).  Bit-identical to that expression form and the SQL
    oracle: same split-on-space tokens (Java split keeps
    interior+trailing empties exactly like str.split(" ")), same
    space-joined bigrams, same lowercase md5-hex prefix, same exact
    counts — pinned against the expression form in
    tests/test_curation.py.  ``flag_col`` (optional) is carried
    through per doc — the target_filter form's in-target marker."""
    import hashlib
    from collections import Counter

    id_type = df.schema[id_col].dataType.simpleString()
    cols = [id_col, text_col] + ([flag_col] if flag_col else [])

    def run(batches):
        for pdf in batches:
            out_id, out_b, out_n = [], [], []
            out_f: list = []
            flags = pdf[flag_col] if flag_col else None
            for row_i, (did, text) in enumerate(
                zip(pdf[id_col], pdf[text_col])
            ):
                if text is None:
                    # as explode(split(NULL)), which emits no rows: the
                    # doc drops from the model and the per-doc sum
                    continue
                words = text.split(" ")
                grams = list(words)
                if len(words) >= 2:
                    grams += [
                        words[i] + " " + words[i + 1]
                        for i in range(len(words) - 1)
                    ]
                counts = Counter(
                    hashlib.md5(g.encode()).hexdigest()[:hex_len]
                    for g in grams
                )
                out_id.extend([did] * len(counts))
                out_b.extend(counts.keys())
                out_n.extend(counts.values())
                if flag_col:
                    out_f.extend([int(flags.iloc[row_i])] * len(counts))
            out = {"id": out_id, "b": out_b, "n": out_n}
            if flag_col:
                out[flag_col] = out_f
            yield pd.DataFrame(out)

    schema = f"id {id_type}, b STRING, n LONG" + (
        f", {flag_col} INT" if flag_col else ""
    )
    from anndb_spark.utils import ensure_parallelism

    return (
        ensure_parallelism(df)
        .select(*cols)
        .mapInPandas(run, schema=schema)
        .withColumnRenamed("id", id_col)
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None = None,
    buckets: int = 4096,
    alpha: float = 0.01,
    round_digits: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_dir: str | None = None,
    target_filter: Column | None = None,
) -> DataFrame:
    """Per-document DSIR importance weight (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    each raw document by how much more likely its hashed n-gram bag is
    under the TARGET corpus's bucket distribution than under the raw
    corpus's own — the standard cheap proxy for "select web pages that
    look like the high-quality target domain".

    Returns (id, n_grams, logw) for every raw document, where

        logw = sum over buckets b of  n_b(doc) * delta_b,
        delta_b = ln((ct_b + a) / (Tt + a*B)) - ln((cr_b + a) / (Tr + a*B))

    with ct/cr the target/raw bucket counts, Tt/Tr their totals, B the
    bucket count and ``a`` the add-alpha smoothing.  Features are word
    unigrams + bigrams, hashed into ``buckets`` buckets by md5-hex
    prefix (power of 16, so the bucket key is a fixed-length hex STRING
    — portable to the DuckDB oracle with zero integer conversion).

    Bit-determinism: delta is rounded to ``round_digits`` (absorbs the
    1-ULP JVM-vs-libm ln() disagreement, the `unigram_logprob`
    convention); n_b * delta_b is a single IEEE multiply of identical
    operands in both engines; the per-doc sum folds left-associatively
    from 0.0 in sorted-bucket order (bucket keys are unique per doc, so
    the order is total).  Residual (ADVICE r11): the rounding step
    itself is three implementations — Spark (BigDecimal HALF_UP),
    DuckDB (double multiply-and-round), CPython (HALF_EVEN in the
    plain-Python pytest twin) — which can disagree at exact decimal
    ties or by 1 ULP of the pre-round value; a log-ratio of two
    count-derived likelihoods landing within 1 ULP of a 10-digit
    decimal tie is measure-zero in practice but not impossible.
    Validated hash-exact vs DuckDB at sf0.01 (driver r11) and at sf0.1
    (60k docs, tools/oracle sweep r12); the risk is accepted, not
    eliminated.

    Target-model forms (mirrors ``streaming.dedup.stream_neardup``):
    pass exactly one of ``target`` (the model is aggregated in-session),
    ``state_dir`` (the model was persisted once by
    `write_dsir_state` — the continuous-pipeline shape: score any
    future raw batch without re-tokenizing the target corpus), or
    ``target_filter`` (a predicate over ``raw``'s columns selecting the
    target slice — identical output to
    ``target=raw.filter(target_filter)``, but the target model is
    derived from the SAME per-(doc, bucket) checkpoint the corpus model
    reads: the common in-domain-slice-of-the-corpus case then tokenizes
    the corpus ONCE instead of once for raw plus once for the slice —
    at 100 TB the slice re-tokenize is a second multi-TB text scan
    (r13 optimization, guide §1.2)).
    ``buckets`` must equal the persisted state's value (the stored
    hex-prefix length is baked into the model keys; a silent adoption
    would mis-score raw buckets hashed at a different width).

    100 TB shape: each corpus is tokenized and exploded exactly ONCE —
    the per-(doc, bucket) count table ``dbc`` is localCheckpoint-ed
    (ids + hex bucket keys + counts, ~1-5% of corpus bytes, never
    text) and BOTH the corpus model (``sum(n)`` per bucket — identical
    integers to counting the exploded rows) and the per-doc scoring
    read the checkpoint; the <= B-row target model is checkpointed for
    the same reason (it feeds the delta join AND its own total).
    Without this Catalyst column-prunes each copy of the aggregation
    differently and the corpus tokenizes once per consumer (the
    bm25_search derived-subplan lesson, PLANS r11); the executed plan
    carries ZERO Generate nodes (pinned).  The delta table
    (<= B rows) equi-joins back UN-hinted — AQE broadcast-joins it —
    and the only corpus-sized shuffle is the per-doc groupBy.  The
    target corpus is typically tiny (an eval/quality set), the raw
    corpus is the 100 TB side; nothing here is quadratic and no text
    column ever reaches an exchange."""
    if (target is None) + (state_dir is None) + (target_filter is None) != 2:
        raise ValueError(
            "pass exactly one of target, state_dir or target_filter"
        )
    hl = _hex_len(buckets)
    ab = alpha * float(buckets)

    flag = "_t" if target_filter is not None else None
    if target_filter is not None:
        # the in-target flag rides the gram pass (constant per doc) so
        # the target model below is a re-aggregation of THIS checkpoint
        # — the corpus tokenizes once for both models
        raw = raw.withColumn(
            "_t", F.when(target_filter, F.lit(1)).otherwise(F.lit(0))
        )
    # Arrow md5 kernel: per-doc counts computed in-task — no gram
    # explode, no JVM md5, no corpus-sized groupBy exchange
    dbc = _dsir_doc_bucket_counts(
        raw, text_col, id_col, hl, flag_col=flag
    ).localCheckpoint()
    if target_filter is not None:
        # FUSED model pass (r14, guide §2.4): the raw and target bucket
        # models were two separate aggregation passes (two exchanges)
        # over the same dbc checkpoint; since every target row IS a
        # flagged dbc row, one groupBy(b) computes both — cr = sum(n),
        # ct = sum(n where in-target), with ct NULL for buckets no
        # target doc touches, exactly the old left join's shape (the
        # delta already coalesces).  Identical longs: conditional sum
        # over the same rows the filtered aggregate summed.
        model = dbc.groupBy("b").agg(
            F.sum("n").cast("long").alias("cr"),
            F.sum(F.when(F.col("_t") == 1, F.col("n")))
            .cast("long")
            .alias("ct"),
        )
        raw_total = model.agg(F.sum("cr").alias("tr"))
        # every target bucket appears in the fused model (subset
        # guarantee), so the target total is the same sum
        tgt_total = model.agg(
            F.coalesce(F.sum("ct"), F.lit(0)).alias("tt")
        )
        joined_model = model
    else:
        raw_model = dbc.groupBy("b").agg(
            F.sum("n").cast("long").alias("cr")
        )
        raw_total = raw_model.agg(F.sum("cr").alias("tr"))
    if state_dir is not None:
        # persisted model: <= B rows of exact longs (parquet round-trips
        # them bit-exactly, so state-form output is identical to the
        # in-session form — pytest-enforced); each consumer re-reads the
        # tiny parquet, no checkpoint needed and no Generate behind it
        tgt_model = _read_dsir_state(raw.sparkSession, state_dir, buckets)
    elif target is not None:
        # <= B rows, checkpointed because it feeds BOTH the delta join
        # and tgt_total: un-checkpointed, Catalyst duplicates the
        # subtree and the target corpus would tokenize twice (target
        # can be a large corpus slice, not just a tiny eval set)
        tgt_model = (
            _dsir_doc_bucket_counts(target, text_col, id_col, hl)
            .groupBy("b")
            .agg(F.sum("n").cast("long").alias("ct"))
            .localCheckpoint()
        )
    if target_filter is None:
        # the target model can hold buckets absent from raw (a separate
        # target corpus), so its total must come from tgt_model itself
        tgt_total = tgt_model.agg(
            F.coalesce(F.sum("ct"), F.lit(0)).alias("tt")
        )
        joined_model = raw_model.join(tgt_model, "b", "left")
    delta = (
        joined_model
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)).cast("double") + F.lit(alpha))
                    / (F.col("tt").cast("double") + F.lit(ab))
                )
                - F.log(
                    (F.col("cr").cast("double") + F.lit(alpha))
                    / (F.col("tr").cast("double") + F.lit(ab))
                ),
                round_digits,
            ).alias("delta"),
        )
    )
    # delta is bounded by the bucket count (<= B rows), never the
    # corpus — explicit broadcast instead of relying on AQE's runtime
    # SMJ rewrite, which leaves the statically-planned exchanges behind
    # as extra stage waves (r13, guide §3.1)
    per_doc = (
        dbc.join(F.broadcast(delta), "b")
        .select(
            id_col, "b", (F.col("n") * F.col("delta")).alias("term"), "n"
        )
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_grams"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("b", "term"))),
                    lambda s: s["term"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("logw"),
        )
    )
    return per_doc.select(
        F.col(id_col).alias("id"), "n_grams", "logw"
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    buckets: int = 4096,
    alpha: float = 0.01,
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """The resampling step: top-``k`` raw documents by DSIR importance
    weight (ties by ascending id).  orderBy().limit() plans as
    TakeOrderedAndProject — per-partition partial top-k, final merge of
    k-row heads — never a full sort."""
    w = dsir_weights(raw, target, buckets=buckets, alpha=alpha,
                     id_col=id_col, **kw)
    return w.orderBy(F.col("logw").desc(), F.col("id").asc()).limit(k)


def write_dsir_state(
    target: DataFrame,
    state_dir: str,
    buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the DSIR TARGET bucket model to parquet — the
    continuous-pipeline shape (the `write_neardup_state` analogue):
    the target corpus (an eval/quality set, or a large domain slice)
    is tokenized and aggregated exactly ONCE at state-write time;
    every future raw batch is then scored with
    ``dsir_weights(raw, state_dir=...)`` paying only its own tokenize.

    Layout under ``state_dir``:

    * ``target_model/`` — (b hex-prefix STRING, ct BIGINT), <= buckets
      rows of exact gram-occurrence counts;
    * ``meta/`` — one row (buckets INT), validated at scoring time so
      a model written at one hash width can never silently score raw
      buckets hashed at another.
    """
    hl = _hex_len(buckets)
    # summing per-doc bucket counts == counting the exploded gram rows
    # (identical longs)
    model = (
        _dsir_doc_bucket_counts(target, text_col, id_col, hl)
        .groupBy("b")
        .agg(F.sum("n").cast("long").alias("ct"))
    )
    model.write.mode("overwrite").parquet(f"{state_dir}/target_model")
    target.sparkSession.createDataFrame(
        [(int(buckets),)], "buckets INT"
    ).write.mode("overwrite").parquet(f"{state_dir}/meta")


def _read_dsir_state(spark, state_dir: str, buckets: int) -> DataFrame:
    """The persisted target model, after validating the hash width."""
    stored = spark.read.parquet(f"{state_dir}/meta").collect()[0]["buckets"]
    if int(stored) != int(buckets):
        raise ValueError(
            f"dsir state at {state_dir!r} was written with "
            f"buckets={stored}; caller asked for buckets={buckets}"
        )
    return spark.read.parquet(f"{state_dir}/target_model")


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    bucket_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep each row with the probability its bucket's rate demands,
    deterministically by id — reshape a corpus to a target domain
    mixture with no RNG state and bit-identical reruns."""
    b = _bucket(F.col(id_col), salt)
    expr = b < F.lit(_threshold_hex(default_rate))
    for key, rate in sorted(rates.items()):
        expr = F.when(
            F.col(bucket_col) == key, b < F.lit(_threshold_hex(rate))
        ).otherwise(expr)
    return df.filter(expr)


def mixture_report(
    df: DataFrame,
    bucket_cols: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-bucket corpus composition: documents, tokens, and each
    bucket's share of all tokens — the planning artifact that feeds
    ``mixture_sample`` rates.  One groupBy plus a whole-frame window
    over the (tiny) bucket-level rollup; the window moves bucket rows,
    never documents."""
    from pyspark.sql import Window

    buckets = bucket_cols or ["source", "lang"]
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    agg = df.groupBy(*buckets).agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tok).alias("n_tokens"),
    )
    total = Window.partitionBy()
    return agg.select(
        *buckets,
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(total).cast("double")
        ).alias("token_share"),
    )


def mixture_thresholds(
    rates: dict[str, float], default_rate: float = 1.0
) -> dict[str, str]:
    """The per-bucket hex cutpoints (for oracle SQL twins / audits)."""
    out = {k: _threshold_hex(v) for k, v in rates.items()}
    out["__default__"] = _threshold_hex(default_rate)
    return out
