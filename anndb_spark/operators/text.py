"""Text-analysis operators for training-data pipelines (north-star
extension): stats, quality scoring, language-ID heuristic, token
counting, fingerprinting.

Everything is built from JVM-side column expressions (no Python in the
row loop) and kept portable so each query has an exact SQL oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "fr": ("le", "la", "de", "et", "un"),
    "de": ("der", "die", "das", "und", "ein"),
    "es": ("el", "la", "de", "y", "un"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "is", "in")


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_chars, n_tokens, n_unique_tokens, avg_token_len, stopword_ratio)."""
    t = F.col(text_col)
    w = _tokens(t)
    n_tokens = F.size(w)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    return df.select(
        F.col(id_col).alias("id"),
        F.length(t).cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_unique_tokens"),
        (
            (F.length(t) - n_tokens + 1).cast("double") / n_tokens.cast("double")
        ).alias("avg_token_len"),
        (stop_hits.cast("double") / n_tokens.cast("double")).alias("stopword_ratio"),
    )


def quality_score_col(t: Column) -> Column:
    """The composite quality score of one text column as a pure Column
    expression — the single source of truth `quality_score` projects
    and that per-row consumers (e.g. the curate pipeline's filter) can
    apply INLINE instead of computing the (id, quality) frame and
    joining it back (r14, guide §2.4: the join re-scanned the corpus
    and shuffled ids for a decision derivable on the row)."""
    w = _tokens(t)
    n = F.size(w).cast("double")
    uniq = F.size(F.array_distinct(w)).cast("double")
    stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double")
    len_factor = F.least(F.length(t).cast("double") / F.lit(200.0), F.lit(1.0))
    diversity = uniq / n
    stop_factor = F.least(stop / n * F.lit(5.0), F.lit(1.0))
    return (len_factor + diversity + stop_factor) / F.lit(3.0)


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite quality score in [0,1]: length factor, lexical diversity,
    stopword presence — the usual cheap pre-filters for LLM corpora."""
    return df.select(
        F.col(id_col).alias("id"),
        quality_score_col(F.col(text_col)).alias("quality"),
    )


def gopher_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style corpus quality rules (Rae et al. 2021 §A1.1): word
    count bounds, mean word length bounds, symbol-to-word ratio ('#'
    and '...'), fraction of words containing a letter, and minimum
    stopword hits — the standard pre-filter battery for web corpora.

    Returns (id, n_words, mean_word_len, symbol_word_ratio,
    alpha_word_frac, n_stopwords, passes_gopher).  Pure JVM column
    expressions (higher-order functions + regexp_count) — a projection
    at scan speed, no shuffle; exact SQL oracle (integer counts, one
    double division each, same operation order)."""
    t = F.col(text_col)
    w = _tokens(t)
    n = F.size(w)
    nd = n.cast("double")
    sum_len = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("double")
    alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    symbols = F.regexp_count(t, F.lit("#")) + F.regexp_count(
        t, F.lit(r"\.\.\.")
    )
    stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    mean_len = sum_len / nd
    sym_ratio = symbols.cast("double") / nd
    alpha_frac = alpha.cast("double") / nd
    passes = (
        (n >= min_words)
        & (n <= max_words)
        & (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len)
        & (sym_ratio <= max_symbol_word_ratio)
        & (alpha_frac >= min_alpha_word_frac)
        & (stop >= min_stopwords)
    )
    return df.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        stop.cast("long").alias("n_stopwords"),
        passes.alias("passes_gopher"),
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 10,
) -> DataFrame:
    """Per-document fluency score under the corpus's OWN unigram LM —
    the CCNet-style perplexity filter's cheap core: documents whose
    tokens are corpus-typical score high (less negative mean log-prob),
    gibberish/outlier documents score low.

    Returns (id, n_tokens, sum_logprob, mean_logprob).

    Scale shape: token-frequency groupBy (one shuffle), probability
    join on the token (AQE broadcasts the vocab when small), then one
    groupBy(id) with a POSITION-ORDERED left fold over each document's
    log-probs.  The fold order is pinned (array_sort on (pos, lp)
    structs) because double addition is not associative; with identical
    inputs and identical order the sum is bit-deterministic under any
    partitioning.  Log-probs are rounded to ``round_digits`` decimals
    before the fold: JVM Math.log and C libm ln disagree by 1 ULP on
    ~2% of inputs (measured), and the rounding absorbs that so the
    DuckDB oracle hash-matches."""
    t = F.col(text_col)
    toks = df.select(
        F.col(id_col), F.posexplode(_tokens(t)).alias("pos", "tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    lp = freq.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(
            F.log(F.col("c").cast("double") / F.col("t").cast("double")),
            round_digits,
        ).alias("lp"),
    )
    # shuffle_hash hint (r14, guide §3.1): locally the 64 MB estimate
    # made this a BroadcastHashJoin, whose vocab-side BUILD is a
    # serial driver-collect stage wave gating the big probe stage; at
    # 100 TB the estimate flips past the threshold and the planner
    # falls back to SortMergeJoin, which sorts the TOKEN STREAM (the
    # largest relation in the plan).  SHJ avoids both — per-partition
    # hash build, no sort of either side, and no 8 GB broadcast cap
    # (a 100 TB corpus's vocabulary is unbounded, so a broadcast hint
    # would be a scale hazard).  Same-boot A/B: 0.966 -> 0.645 s
    # median, bit-identical output.
    per_doc = (
        toks.join(lp.hint("shuffle_hash"), "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "lp"))),
                    lambda s: s["lp"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("sum_logprob"),
        )
    )
    return per_doc.select(
        F.col(id_col).alias("id"),
        "n_tokens",
        "sum_logprob",
        (F.col("sum_logprob") / F.col("n_tokens").cast("double")).alias(
            "mean_logprob"
        ),
    )


def language_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language-ID heuristic: per-language hit ratio +
    argmax prediction (deterministic tiebreak by language code)."""
    w = _tokens(F.col(text_col))
    n = F.size(w).cast("double")
    cols = [F.col(id_col).alias("id")]
    for lang, words in sorted(LANG_PROFILES.items()):
        hits = F.size(F.filter(w, lambda x: x.isin(*words)))
        cols.append((hits.cast("double") / n).alias(f"score_{lang}"))
    scored = df.select(*cols)
    langs = sorted(LANG_PROFILES)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit(None).cast("string")
    # first language (code order) achieving the max — deterministic
    for l in reversed(langs):
        pred = F.when(F.col(f"score_{l}") == best, F.lit(l)).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    text (content-defined identity for exact dedup across formatting)."""
    norm = F.lower(F.regexp_replace(F.col(text_col), "\\s+", " "))
    return df.select(
        F.col(id_col).alias("id"), F.md5(norm).alias("fingerprint")
    )


def token_frequencies(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """Corpus-level token frequencies (top_n by count, deterministic
    tiebreak by token) — explode + partial-aggregated count."""
    return (
        df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(top_n)
    )


def token_count_col(text: Column) -> Column:
    """Whitespace token count; the cheap len/4-style estimator for BPE
    budgeting is n_chars/4 — expose both."""
    return F.size(_tokens(text))


# GPT-2-style pre-tokenizer shape, simplified to the portable subset
# (letter runs | 1-3 digit runs | punctuation runs): same semantics in
# Java regex (Spark) and RE2 (DuckDB), so it is oracle-checkable.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+"


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition filters for LLM corpora (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): per document the duplicate-word fraction
    and the fraction of all word 2-grams / 3-grams taken by the single
    most frequent one.  High values flag boilerplate / degenerate text.

    The statistic is per-document — no cross-document state — so all
    three gram levels are computed in one Arrow-batched pass: tokenize
    once, count 1/2/3-grams with an in-task Counter, emit the finished
    row.  The corpus is read ONCE with ZERO shuffles, versus a
    relational form's 3 Generates + 3 two-level aggregations + 2 id
    joins (6 exchanges), whose shuffled gram rows are ~6x the corpus
    token count (guide §2.4, §4.2).  Outputs are bit-identical to that
    form and to the SQL oracle (same split-on-space tokens — words
    carry no spaces, so tuple n-gram counts equal space-joined string
    counts; fractions are the same two-long IEEE divisions)."""
    from collections import Counter

    import pandas as pd

    from anndb_spark.utils import ensure_parallelism

    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            ids, ntok, dupf, bif, trif = [], [], [], [], []
            for did, text in zip(pdf["id"], pdf["t"]):
                if text is None:
                    continue  # split(NULL) explodes to no rows
                words = text.split(" ")
                tot1 = len(words)  # never 0: ''.split(' ') == ['']
                ids.append(did)
                ntok.append(tot1)
                dupf.append(1.0 - len(set(words)) / tot1)
                if tot1 >= 2:
                    c2 = Counter(zip(words, words[1:]))
                    bif.append(max(c2.values()) / (tot1 - 1))
                else:
                    bif.append(0.0)
                if tot1 >= 3:
                    c3 = Counter(zip(words, words[1:], words[2:]))
                    trif.append(max(c3.values()) / (tot1 - 2))
                else:
                    trif.append(0.0)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=pdf["id"].dtype),
                    "n_tokens": pd.Series(ntok, dtype="int64"),
                    "dup_word_fraction": pd.Series(dupf, dtype="float64"),
                    "top_bigram_fraction": pd.Series(bif, dtype="float64"),
                    "top_trigram_fraction": pd.Series(trif, dtype="float64"),
                }
            )

    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .mapInPandas(
            run,
            schema=(
                f"id {id_type}, n_tokens LONG,"
                " dup_word_fraction DOUBLE,"
                " top_bigram_fraction DOUBLE,"
                " top_trigram_fraction DOUBLE"
            ),
        )
    )


def token_stream_offsets(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_col: str | None = None,
) -> DataFrame:
    """Concatenate-then-split packing layout: documents are laid out as
    one token stream (deterministic id order) that training reads in
    fixed ``seq_len`` windows; each document gets its stream offset,
    the sequence index holding its first token, and the intra-sequence
    offset — the bookkeeping a GPT-style pretraining loader needs to
    map sequences back to documents.

    Scale shape: one cumulative-sum window per ``bucket_col`` group
    (default: the ``source`` column) — buckets pack independently, so
    the window parallelizes across buckets instead of serializing the
    corpus through one global sort, and adding a bucket never reshuffles
    the others (the layout stays stable as the corpus grows)."""
    t = F.col(text_col)
    bucket = F.col(bucket_col) if bucket_col else F.col("source")
    w = (
        Window.partitionBy(bucket)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.size(_tokens(t)).cast("long")
    start = F.coalesce(F.sum(n_tok).over(w), F.lit(0)).cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        bucket.alias("bucket"),
        n_tok.alias("n_tokens"),
        start.alias("stream_offset"),
        F.floor(start / F.lit(seq_len)).cast("long").alias("seq_index"),
        (start % F.lit(seq_len)).cast("long").alias("seq_offset"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token budgeting: whitespace count, BPE-ish regex
    count, and the chars/4 estimator commonly used for budget planning."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(_tokens(t)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0)).cast("long").alias("bpe_tokens"),
        (F.length(t).cast("double") / F.lit(4.0)).alias("est_tokens_chars4"),
    )


def top_terms(
    df: DataFrame,
    k: int = 3,
    min_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document characteristic terms: the ``k`` terms of length
    >= ``min_len`` with the highest in-document frequency, rare-first
    on ties (ascending corpus document frequency — the integer
    tf-idf ordering, no float scores so results are reproducible
    bit-for-bit across engines), then lexicographic.  Returns
    (id, rank, term, tf, df).

    Scale shape: explode -> two hash aggregations (per-doc tf, corpus
    df) + one equi-join on the term, then a per-doc top-k window.
    The df table is |vocabulary| rows (zipf-small vs the corpus) and
    broadcast-able; the window's partial TopK (WindowGroupLimit)
    prunes each map task to k rows per document before the shuffle.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    ).filter(F.length("term") >= min_len)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    scored = tf.join(dfreq, on="term")
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "df",
        )
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    pivot_max_terms: int = 64,
) -> DataFrame:
    """BM25 retrieval over the corpus (Robertson/Sparck-Jones; the
    ranking function behind Lucene/Elasticsearch defaults) — the
    relevance scorer an LLM-data pipeline uses for eval-set
    decontamination-by-retrieval and targeted corpus audits.

    Returns the top ``k`` documents for the disjunctive query:
    (id, rank, score, n_terms) — ``n_terms`` = how many distinct query
    terms the document contains; ties broken by ascending id.

    Bit-determinism: per-(doc, term) contributions are single values
    (never a float SUM across a shuffle); idf and the final
    contribution are rounded to ``round_digits`` to absorb the 1-ULP
    JVM-vs-libm ln() disagreement (same device as `unigram_logprob`);
    the document score adds the per-term columns in sorted-term order,
    so the fold is a fixed left-associative expression in both engines.

    100 TB shape: the IN-filter on query terms lands directly on the
    exploded token stream (rows surviving to the shuffle ~= corpus
    frequency of the query terms, not corpus size); per-term df is a
    <=|terms|-row ``groupBy(term)`` aggregate equi-joined back
    UN-hinted — AQE broadcasts the tiny side, and the tf subtree under
    both join inputs canonicalizes to the same Exchange(id, term), so
    ReuseExchange tokenizes the corpus once (pinned in
    tests/test_plan_shapes.py).  The previous ``Window.partitionBy
    ("term")`` form landed EVERY (doc, term) row of a frequent term on
    ONE reducer — billions of rows on a single task for a common query
    token at web scale, and AQE cannot skew-split a window partition
    (VERDICT r10 wrong #1).  Doc lengths ride an id-keyed equi-join of
    two column-pruned projections; one final per-doc aggregation and a
    global top-k (TakeOrderedAndProject — partial per partition, final
    on one reducer).

    Scoring has two shapes, chosen by ``|terms|`` vs
    ``pivot_max_terms``: the per-term pivot (one aggregate column per
    term, summed in sorted-term order) is bit-exact and cheap for
    interactive queries, but builds |terms| aggregate expressions — a
    plan explosion for decontamination-by-retrieval probes with
    thousands of terms.  Above the cap, scoring switches to a sorted
    deterministic fold: ``array_sort(collect_list(struct(term, c)))``
    then a left-associative ``F.aggregate`` sum — same sorted-term
    addition order (0.0 + c_1 + c_2 + ...; IEEE-identical to the pivot
    because x + 0.0 == x for every finite nonzero x and contributions
    round to +/-0.0 symmetrically), with plan size independent of
    |terms|.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    t = F.col(text_col)
    base = df.select(
        F.col(id_col), F.size(_tokens(t)).cast("long").alias("dl")
    )
    stats = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sdl"),
    )
    toks = (
        df.select(F.col(id_col), _tokens(t).alias("_toks"))
        .select(
            id_col,
            F.size("_toks").cast("long").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .filter(F.col("term").isin(*terms))
    )
    # localCheckpoint materializes tf ONCE (ids + counts for the
    # matching doc-term pairs only — never document text), so the df
    # branch below and the scoring branch read the checkpoint instead
    # of re-running the explode.  ReuseExchange CANNOT deliver this:
    # Catalyst specializes each copy of the tf subtree (column pruning
    # strips the count off the df branch; the scoring branch's later
    # id-join pushes an isnotnull(doc_id) into only its scan), so the
    # two Exchange(id, term) nodes never canonical-match and the
    # corpus tokenizes twice (verified empirically, PLANS r11; same
    # family as the winnow_pairs derived-subplan lesson, PLANS r10).
    # Lineage truncation caveat as in dedup CC: executor loss during
    # the query re-runs it rather than recomputing partitions.
    # dl rides the tf aggregate (min of a per-group constant): scoring
    # then needs NO corpus-sized (id, dl) equi-join — at 100 TB that
    # join shuffled every matching posting and every doc length by id
    # (removed r13, guide §2.4); base survives only as the stats input
    tf = toks.groupBy(id_col, "term").agg(
        F.count("*").cast("long").alias("tf"),
        F.min("dl").alias("dl"),
    ).localCheckpoint()
    return _bm25_score(
        tf, stats, terms, k, k1, b, round_digits, id_col,
        pivot_max_terms,
    )


def _bm25_contrib(n_docs: Column, sdl: Column, k1: float, b: float, round_digits: int) -> Column:
    """The rounded per-(doc, term) BM25 contribution over the columns
    ``tdf`` (the term's document frequency), ``tf`` and ``dl``: idf and
    the contribution are each rounded to ``round_digits``, which absorbs
    the 1-ULP JVM-vs-libm ln() disagreement (`unigram_logprob`'s
    device).  `_bm25_local` mirrors this arithmetic in NumPy."""
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (n_docs - F.col("tdf") + F.lit(0.5))
            / (F.col("tdf") + F.lit(0.5))
        ),
        round_digits,
    )
    avgdl = sdl.cast("double") / n_docs.cast("double")
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
    )
    return F.round(idf * tf_norm, round_digits)


def _bm25_score(
    tf: DataFrame,
    stats: DataFrame,
    terms: list[str],
    k: int,
    k1: float,
    b: float,
    round_digits: int,
    id_col: str,
    pivot_max_terms: int,
) -> DataFrame:
    """`bm25_search`'s scoring tail: ``tf`` = (id, term, tf, dl) for the
    query terms only (a checkpointed in-session aggregate), ``stats`` =
    a 1-row (n_docs, sdl) DataFrame."""
    # per-term document frequency: a <=|terms|-row aggregate joined
    # back with an EXPLICIT broadcast (its size is bounded by the query
    # term count, never the corpus, so the hint is scale-safe; before
    # r13 this relied on AQE's runtime SMJ→BHJ rewrite, which left the
    # statically-planned exchanges behind as extra stage waves).  Never
    # Window.partitionBy("term"): that serializes ALL occurrences of a
    # frequent query term onto one task (billions of rows on one
    # reducer at web scale) and AQE cannot skew-split a window
    # partition (VERDICT r10 wrong #1).
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("tdf")
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            "term",
            _bm25_contrib(F.col("n_docs"), F.col("sdl"), k1, b, round_digits).alias("c"),
        )
    )
    if len(terms) <= pivot_max_terms:
        # per-term pivot: |terms| aggregate columns, summed in sorted
        # term order for a fixed left-associative float fold
        aggs = [
            F.max(F.when(F.col("term") == F.lit(term), F.col("c"))).alias(
                f"_c{i}"
            )
            for i, term in enumerate(terms)
        ]
        scored = contrib.groupBy(id_col).agg(
            *aggs, F.count("*").cast("long").alias("n_terms")
        )
        score = F.coalesce(F.col("_c0"), F.lit(0.0))
        for i in range(1, len(terms)):
            score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    else:
        # large term sets (decontamination-by-retrieval probes): plan
        # size must not grow with |terms|.  collect_list is
        # shuffle-order-nondeterministic, so array_sort pins the
        # addition order to sorted-term — the same order the pivot
        # sums in — and the F.aggregate fold is left-associative from
        # 0.0, IEEE-identical to the pivot's coalesce chain.
        scored = contrib.groupBy(id_col).agg(
            F.array_sort(
                F.collect_list(F.struct("term", "c"))
            ).alias("_tc"),
            F.count("*").cast("long").alias("n_terms"),
        )
        score = F.aggregate(
            F.col("_tc"), F.lit(0.0), lambda acc, x: acc + x["c"]
        )
    # global top-k via orderBy().limit() => TakeOrderedAndProject
    # (per-partition partial top-k, final merge of k-row heads) —
    # never a single-reducer row_number over the whole corpus; the
    # rank window below sees only the k survivors.
    topk = (
        scored.withColumn("score", score)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return topk.withColumn("rank", F.row_number().over(w)).select(
        id_col,
        F.col("rank").cast("int").alias("rank"),
        "score",
        "n_terms",
    )


def write_bm25_index(
    df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> None:
    """Materialize an INVERTED INDEX for BM25 as parquet — the
    write-once/query-many retrieval shape a 100 TB corpus needs:
    `bm25_search` re-scans and re-tokenizes the corpus per query
    (fine for one-off audits), while a decontamination service
    querying thousands of probe sets must pay tokenization once.

    Layout under ``index_dir``:

    * ``postings/bucket=<pmod(xxhash64(term), buckets)>/`` —
      (id, term, tf, dl), ONE file per bucket (repartition by bucket
      before the partitioned write), rows sorted by (term, id) within
      the file so parquet row-group min/max statistics on ``term``
      skip non-matching row groups inside a bucket.  ``dl`` (the
      document length) is DENORMALIZED onto every posting row — the
      Lucene norms-with-postings layout — so scoring never joins the
      corpus-sized doclens table: at 100 TB that join shuffles every
      probed posting AND every doc length by id; +8 bytes/posting at
      write time deletes it (r13 optimization, guide §2.4);
    * ``doclens/`` — (id, dl) (kept: feeds stats, and docs with zero
      tokens appear here but never in postings);
    * ``stats/`` — one row (n_docs, sdl, buckets).

    A query for |Q| terms then reads at most |Q| bucket directories
    (partition pruning on the literal bucket IN-list) and, within
    them, only row groups whose [min_term, max_term] intersects the
    query — independent of corpus size for rare terms, proportional
    to posting-list length for common ones.
    """
    t = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(_tokens(t)).cast("long").alias("dl"),
    )
    base.write.mode("overwrite").parquet(f"{index_dir}/doclens")
    doclens = df.sparkSession.read.parquet(f"{index_dir}/doclens")
    doclens.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sdl"),
        F.lit(buckets).cast("int").alias("buckets"),
    ).write.mode("overwrite").parquet(f"{index_dir}/stats")
    tf = (
        df.select(F.col(id_col).alias("id"), _tokens(t).alias("_toks"))
        .select(
            "id",
            F.size("_toks").cast("long").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .groupBy("id", "term")
        .agg(
            F.count("*").cast("long").alias("tf"),
            # dl is constant within the group; min() is the
            # deterministic pick
            F.min("dl").alias("dl"),
        )
    )
    (
        tf.withColumn(
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int"),
        )
        .repartition(buckets, "bucket")
        .sortWithinPartitions("term", "id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/postings")
    )
    # per-term document frequency, derived from the WRITTEN postings
    # (read-back guarantees exact consistency): tdf is corpus-derived
    # and probe-independent, yet the query path re-aggregated it from
    # the pruned postings on EVERY call — a second postings scan plus
    # a term-keyed shuffle per query/batch (r14, guide §2.4/§6; the
    # same write-once trade as the r13 dl denormalization).  One row
    # per term, bucket-partitioned so queries prune it exactly like
    # postings.  Readers fall back to the query-time aggregate when
    # the directory is absent (pre-r14 indexes).
    (
        df.sparkSession.read.parquet(f"{index_dir}/postings")
        .groupBy("term", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tdf"))
        .repartition(buckets, "bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/termdf")
    )


def bm25_search_indexed(
    spark,
    index_dir: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k over a `write_bm25_index` parquet index: identical
    scores/ranks to `bm25_search` on the source corpus (bit-exact), but
    the per-query cost is |Q| bucket reads instead of a corpus scan +
    tokenize.  Returns (<id_col>, rank, score, n_terms).

    A batch of one: `bm25_search_indexed_batch` answers it, in the
    driver when the touched buckets fit the cache budget."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    return bm25_search_indexed_batch(
        spark, index_dir, [("q", query_terms)], k, k1, b, round_digits, id_col
    ).drop("probe_id")


def bm25_search_indexed_batch(
    spark,
    index_dir: str,
    probes: list[tuple[str, list[str]]],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 10,
    id_col: str = "doc_id",
    prune_buckets_frac: float = 0.5,
    term_inlist_max: int = 256,
) -> DataFrame:
    """BM25 top-k for a BATCH of probe term-sets over one
    `write_bm25_index` parquet index — the decontamination-service
    shape.  Returns (probe_id, <id_col>, rank, score, n_terms); each
    probe's rows are bit-identical to `bm25_search` on the source corpus
    for that probe alone, ties ranked by ascending id.

    Two regimes, one answer (score bits included), picked by size as
    `_serve.serve` picks for the vector indexes:

    * the driver (`_bm25_local`), when the postings carry ``dl``, their
      ids hold no NULL, the touched buckets' resident bytes — bounded
      from the memoized parquet footers (`_bucket_bytes`) — fit the
      cache budget (`_serve.fits_cache`), and, once those buckets are
      loaded, the batch's (probe, posting) pairs number at most
      `LOCAL_FANOUT_MAX`.  Loaded buckets stay in `_serve.CACHE` under
      the postings' content fingerprint, so a warm batch reads no index
      bytes; the answer is a local relation, and collecting it runs no
      Spark job;
    * else one Spark plan (`_bm25_plan`, where ``prune_buckets_frac``
      and ``term_inlist_max`` apply), the 100 TB shape, which spreads
      the fan-out over tasks and cuts it per probe with
      WindowGroupLimit.

    Neither regime runs a job before scoring (but the doclens read of
    a pre-``dl`` index): the stats are read with pyarrow, each term's
    bucket is the writer's xxhash64 computed in the driver
    (`functions.xxhash`), and the Spark reads take their schema from a
    parquet footer.
    """
    from anndb_spark.functions.xxhash import term_bucket
    from anndb_spark.operators import _serve
    from anndb_spark.sources import fsutil

    if not probes:
        raise ValueError("probes must be non-empty")
    batch: list[tuple[str, list[str]]] = []
    for pid, terms in probes:
        if not terms:
            raise ValueError(f"probe {pid!r} has no terms")
        # coerce to str: a non-string term would otherwise fail later
        # as an opaque pickle/cast error (ADVICE r13)
        batch.append((str(pid), sorted({str(t) for t in terms})))
    _serve.check_unique([pid for pid, _ in batch], "probe id")
    stats = fsutil.read_parquet_dir(fsutil.join(index_dir, "stats")).to_pylist()[0]
    n_docs, sdl, buckets = stats["n_docs"], stats["sdl"], stats["buckets"]
    all_terms = sorted({t for _, terms in batch for t in terms})
    bucket_of = {t: term_bucket(t, buckets) for t in all_terms}
    post_dir = fsutil.join(index_dir, "postings")
    ver, files = fsutil.list_parts(post_dir, "bucket=")
    metas = {
        bk: fsutil.footers(post_dir, files[bk])
        for bk in sorted(set(bucket_of.values()) & set(files))
    }
    first = [f for fs in files.values() for f in fs][:1]
    layout = fsutil.footers(post_dir, first)[0].schema.to_arrow_schema() if first else None
    has_dl = layout is None or "dl" in layout.names
    sizes = [_bucket_bytes(m, layout) for m in metas.values()] if has_dl else [None]
    if (
        layout is not None
        and None not in sizes
        and all(fsutil.column_stats(m, "id")[0] == 0 for m in metas.values())
        and _serve.fits_cache(sizes)
    ):
        post = _batch_postings(index_dir, ver, list(metas), all_terms, bucket_of)
        tdf = dict(zip(all_terms, post[0].tolist()))
        if sum(tdf[t] for _, terms in batch for t in terms) <= LOCAL_FANOUT_MAX:
            from pyspark.sql.pandas.types import from_arrow_type
            from pyspark.sql.types import (
                DoubleType, IntegerType, LongType, StringType, StructField, StructType,
            )

            id_type = layout.field("id").type
            tbl = _bm25_local(post, batch, all_terms, n_docs, sdl, k, k1, b, round_digits, id_type)
            # the Spark plan's schema, nullability included
            schema = StructType([
                StructField("probe_id", StringType()),
                StructField(id_col, from_arrow_type(id_type)),
                StructField("rank", IntegerType(), False),
                StructField("score", DoubleType()),
                StructField("n_terms", LongType(), False),
            ])
            return spark.createDataFrame(tbl.rename_columns(schema.names), schema=schema)
    return _bm25_plan(
        spark, index_dir, files, batch, all_terms, bucket_of, n_docs, sdl,
        buckets, has_dl, k, k1, b, round_digits, id_col, prune_buckets_frac,
        term_inlist_max,
    )


# the driver regime declines a batch of more (probe, posting) pairs than
# this: `_bm25_local` peaked at 94 B a pair (tracemalloc, a synthetic
# 10M-pair batch), so this caps it near 190 MB
LOCAL_FANOUT_MAX = 2_000_000

# parquet encodings that store each value of a column chunk whole (a
# string with its 4-byte length), so the chunk's uncompressed size is at
# least the bytes of its distinct values (`_bucket_bytes`)
_WHOLE_VALUE_ENCODINGS = frozenset(
    {"PLAIN", "PLAIN_DICTIONARY", "RLE_DICTIONARY", "RLE", "BIT_PACKED"}
)


def _bucket_bytes(metas: list, layout: pa.Schema) -> int | None:
    """An upper bound, from one postings bucket's parquet footers alone,
    on the `_serve.CACHE` bytes of that bucket as `_bucket_postings` holds
    it; None when a ``term`` or ``id`` chunk has an encoding outside
    `_WHOLE_VALUE_ENCODINGS` (a delta encoding can store a value in fewer
    bytes than Arrow holds it in).

    Each row costs its term offset (8 B), its id's dictionary index
    (4 B), tf and dl at their widths, and a byte of slack for validity
    bitmaps.  The distinct terms and ids, with their Arrow offsets, cost
    at most the uncompressed size of their column chunks, which store
    each distinct value whole at least once."""
    per_row = 8 + 4 + 1 + sum(layout.field(c).type.bit_width // 8 for c in ("tf", "dl"))
    total = 16  # the final offsets of the term, offset and id arrays
    for md in metas:
        total += md.num_rows * per_row
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema in ("term", "id"):
                    if not set(col.encodings) <= _WHOLE_VALUE_ENCODINGS:
                        return None
                    total += col.total_uncompressed_size
    return total


def _bucket_postings(index_dir: str, ver: str, bucket: int):
    """One postings bucket, its rows grouped by term: (the bucket's
    distinct terms, sorted; each term's first row, then the row count;
    the distinct ids; each row's index into them; tf; dl).  Held in
    `_serve.CACHE` under ``(index_dir, bucket)`` for the postings' content
    fingerprint ``ver`` at the arrays' own size, or read here and put
    there."""
    import pyarrow.compute as pc

    from anndb_spark.operators import _serve
    from anndb_spark.sources import fsutil

    hit = _serve.CACHE.get("bm25", (index_dir, bucket), ver)
    if hit is None:
        tbl = fsutil.read_parquet_dir(
            fsutil.join(index_dir, "postings", f"bucket={bucket}"),
            columns=["id", "term", "tf", "dl"],
        )
        tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("term", "ascending")]))
        terms = tbl.column("term").combine_chunks()
        new = np.ones(len(terms), dtype=bool)
        new[1:] = pc.not_equal(terms[1:], terms[:-1]).to_numpy(zero_copy_only=False)
        starts = np.flatnonzero(new)
        ids = pc.dictionary_encode(tbl.column("id").combine_chunks())
        hit = (
            terms.take(pa.array(starts)),
            np.r_[starts, len(terms)],
            ids.dictionary,
            ids.indices.to_numpy(),
            tbl.column("tf").to_numpy(),
            tbl.column("dl").to_numpy(),
        )
        _serve.CACHE.put("bm25", (index_dir, bucket), ver, hit, sum(a.nbytes for a in hit))
    return hit


def _batch_postings(
    index_dir: str,
    ver: str,
    touched: list[int],
    all_terms: list[str],
    bucket_of: dict[str, int],
) -> tuple:
    """Every posting of the batch's terms in the touched buckets
    (`_bucket_postings`), grouped by term in ``all_terms`` order: (each
    term's document frequency, its posting-list row count, as ``termdf``
    stores it; each posting's term position; ids as Arrow; tf; dl)."""
    import pyarrow.compute as pc

    pos = {t: i for i, t in enumerate(all_terms)}
    tpos, ids, tf, dl = [], [], [], []
    tdf = np.zeros(len(all_terms), dtype=np.int64)
    for bk in touched:
        uterms, starts, id_dict, id_idx, btf, bdl = _bucket_postings(index_dir, ver, bk)
        mine = [t for t in all_terms if bucket_of[t] == bk]
        at = pc.index_in(pa.array(mine, uterms.type), value_set=uterms)
        at = at.fill_null(-1).to_numpy()
        found = at >= 0
        lo, hi = starts[at[found]], starts[at[found] + 1]
        ti = np.array([pos[t] for t in mine], dtype=np.int64)[found]
        tdf[ti] = hi - lo
        rows = _ranges(lo, hi)
        tpos.append(np.repeat(ti, hi - lo))
        ids.append(id_dict.take(pa.array(id_idx[rows])))
        tf.append(btf[rows])
        dl.append(bdl[rows])
    if not tpos:
        return tdf, np.zeros(0, dtype=np.int64), None, None, None
    order = np.argsort(np.concatenate(tpos), kind="stable")
    return (
        tdf,
        np.concatenate(tpos)[order],
        pa.concat_arrays(ids).take(pa.array(order)),
        np.concatenate(tf)[order].astype(np.float64),
        np.concatenate(dl)[order].astype(np.float64),
    )


def _bm25_local(
    post: tuple,
    batch: list[tuple[str, list[str]]],
    all_terms: list[str],
    n_docs: int,
    sdl: int,
    k: int,
    k1: float,
    b: float,
    round_digits: int,
    id_type,
) -> pa.Table:
    """The driver regime of `bm25_search_indexed_batch`: the plan's
    arithmetic in NumPy over the batch's postings (`_batch_postings`)
    → (probe_id, id, rank, score, n_terms).

    Bit-identical to `_bm25_plan`: idf and each contribution mirror
    `_bm25_contrib` operation for operation, rounded by `_spark_round`;
    a (probe, doc) score is the left fold from 0.0 over the probe's
    sorted terms, one addition per term position across all groups at
    once (a pairwise sum would reorder the additions); top-k is by
    (score desc, id asc), ids in Spark's order (strings by their UTF-8
    bytes)."""
    import pyarrow.compute as pc

    tdf, tpos, ids, tf, dl = post
    out = pa.schema([
        ("probe_id", pa.string()), ("id", id_type), ("rank", pa.int32()),
        ("score", pa.float64()), ("n_terms", pa.int64()),
    ])
    if not len(tpos):
        return out.empty_table()
    pos = {t: i for i, t in enumerate(all_terms)}
    toff = np.searchsorted(tpos, np.arange(len(all_terms) + 1))
    # `_bm25_contrib`, operation for operation
    q = ((n_docs - tdf).astype(np.float64) + 0.5) / (tdf.astype(np.float64) + 0.5)
    idf = _spark_round(np.array([math.log(v) for v in (1.0 + q).tolist()]), round_digits)
    avgdl = float(sdl) / float(n_docs)
    tf_norm = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    c = _spark_round(idf[tpos] * tf_norm, round_digits)
    # each doc's dense rank in Spark's ascending id order
    drank = pc.rank(ids, sort_keys="ascending", tiebreaker="dense").to_numpy()
    # fan out: one row per (probe, term position, posting of that term)
    pp, pj, pt = [], [], []
    for p, (_, terms) in enumerate(batch):
        pp += [p] * len(terms)
        pj += range(len(terms))
        pt += [pos[t] for t in terms]
    pp, pj, pt = np.array(pp), np.array(pj), np.array(pt)
    lens = toff[pt + 1] - toff[pt]
    rows = _ranges(toff[pt], toff[pt + 1])
    P, J, D = np.repeat(pp, lens), np.repeat(pj, lens), drank[rows]
    srt = np.lexsort((J, D, P))
    P, D, C = P[srt], D[srt], c[rows][srt]
    new = np.ones(len(P), dtype=bool)
    new[1:] = (P[1:] != P[:-1]) | (D[1:] != D[:-1])
    start = np.flatnonzero(new)
    n_terms = np.diff(np.r_[start, len(P)])
    score = np.zeros(len(start))
    for j in range(int(n_terms.max(initial=0))):
        m = n_terms > j
        score[m] = score[m] + C[start[m] + j]
    # per probe: score desc, then id asc
    gP, gD = P[start], D[start]
    top = np.lexsort((gD, -score, gP))
    gP = gP[top]
    rank = np.arange(len(top)) - np.searchsorted(gP, gP) + 1
    keep = top[rank <= k]
    first_row = np.empty(int(drank.max(initial=0)) + 1, dtype=np.int64)
    first_row[drank] = np.arange(len(drank))
    pids = np.array([pid for pid, _ in batch], dtype=object)
    return pa.table(
        [
            pa.array(pids[P[start][keep]], pa.string()),
            ids.take(pa.array(first_row[D[start][keep]])),
            pa.array(rank[rank <= k], pa.int32()),
            score[keep],
            n_terms[keep],
        ],
        schema=out,
    )


def _ranges(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """``arange(lo[i], hi[i])`` for each i, concatenated."""
    lens = hi - lo
    return np.repeat(lo - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())


def _spark_round(x: np.ndarray, digits: int) -> np.ndarray:
    """Spark's ``F.round(x, digits)`` of doubles, elementwise:
    ``BigDecimal.valueOf(x).setScale(digits, HALF_UP).doubleValue()``
    (NaN and infinities pass through; a result of zero is +0.0).

    ``valueOf`` rounds the decimal string ``Double.toString`` gives; this
    rounds the shortest one (``repr``) with ``decimal``.  On JDK 17 the
    two strings differ only for rare values near powers of two, where a
    rounding tie would have to fall between them;
    tests/test_bm25_regimes.py pins the mirror against ``F.round`` on
    exact ties."""
    import decimal

    ctx = decimal.Context(prec=800, rounding=decimal.ROUND_HALF_UP)
    unit = decimal.Decimal(1).scaleb(-digits)
    x = np.asarray(x, dtype=np.float64)
    # each distinct value once: a batch's contributions repeat (~10x on
    # 800k synthetic BM25 contributions, 1.6 → 0.3 CPU-s)
    u, inv = np.unique(x, return_inverse=True)
    r = np.array(
        [
            float(decimal.Decimal(repr(v)).quantize(unit, context=ctx)) + 0.0
            if math.isfinite(v)
            else v
            for v in u.tolist()
        ],
        dtype=np.float64,
    )
    return r[inv].reshape(x.shape)


def _bm25_plan(
    spark,
    index_dir: str,
    files: dict[int, list],
    batch: list[tuple[str, list[str]]],
    all_terms: list[str],
    bucket_of: dict[str, int],
    n_docs: int,
    sdl: int,
    buckets: int,
    has_dl: bool,
    k: int,
    k1: float,
    b: float,
    round_digits: int,
    id_col: str,
    prune_buckets_frac: float,
    term_inlist_max: int,
) -> DataFrame:
    """The Spark regime of `bm25_search_indexed_batch`, in ONE plan:

    * per-term df, idf, tf-norm and the rounded per-(doc, term)
      contribution are probe-independent, so they are computed ONCE
      per distinct term across the batch and fanned out to probes by a
      broadcast join with the (probe_id, term) table;
    * per-(probe, doc) scores use the sorted deterministic fold —
      ``array_sort(collect_list(struct(term, c)))`` then a left fold
      from 0.0, the sorted-term addition order;
    * per-probe top-k is a rank-over-(partitionBy probe) window
      filtered to ``k``, which Spark plans as WindowGroupLimit —
      per-partition partial top-k per probe before the shuffle, never
      all postings rows of a probe on one reducer.

    Scan pruning: bucket-directory pruning only helps while the batch
    touches few buckets — a large batch's terms cover most of the
    buckets and the IN-list just bloats the plan — so the literal
    bucket IN-list is applied only when the batch touches at most
    ``prune_buckets_frac`` of the buckets, and the term IN-list (for
    parquet row-group min/max skipping) only when the batch has at
    most ``term_inlist_max`` distinct terms.  Both prunings are
    plan-level only; the (bucket, term) equi-join enforces
    correctness either way."""
    from anndb_spark.sources import fsutil
    from anndb_spark.utils import literal_df

    probe_terms = literal_df(
        spark,
        [(pid, t) for pid, terms in batch for t in terms],
        "probe_id STRING, term STRING",
    )
    # the distinct-term side is built driver-side with the writer's
    # bucket hash as a Spark expression, never probe_terms.distinct()
    # (an exchange + two stage waves over a tiny local relation)
    term_side = literal_df(
        spark, [(t,) for t in all_terms], "term STRING"
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")
    )
    post_dir = fsutil.join(index_dir, "postings")
    postings = fsutil.read_partitioned(
        spark, post_dir, [f for fs in files.values() for f in fs], "bucket"
    )
    bucket_ids = sorted(set(bucket_of.values()))
    inlist = len(all_terms) <= term_inlist_max
    if len(bucket_ids) <= prune_buckets_frac * buckets:
        postings = postings.filter(F.col("bucket").isin(*bucket_ids))
    if inlist:
        postings = postings.filter(F.col("term").isin(*all_terms))
    # per-(doc, term) tf for every distinct batch term, ONCE: join on
    # (bucket, term) against the distinct-term side so a term shared by
    # many probes is neither re-scanned nor double-counted in df.
    # dl is denormalized on the posting rows (write_bm25_index r13), so
    # scoring never joins the corpus-sized doclens table.
    tf_cols = [F.col("id").alias(id_col), "term", "tf"]
    if has_dl:
        tf_cols.append("dl")
    tf = postings.join(F.broadcast(term_side), ["bucket", "term"]).select(
        *tf_cols
    )
    # per-term document frequency from the index's termdf table (r14):
    # the identical count over the identical rows, pruned like the
    # postings, instead of a second postings scan + a term-keyed
    # shuffle per batch.  Pre-r14 indexes (no termdf) aggregate it here.
    tdf_dir = fsutil.join(index_dir, "termdf")
    if fsutil.exists(tdf_dir):
        tdf_files = [f for fs in fsutil.list_parts(tdf_dir, "bucket=")[1].values() for f in fs]
        dfreq = fsutil.read_partitioned(spark, tdf_dir, tdf_files, "bucket")
        if inlist:
            dfreq = dfreq.filter(F.col("bucket").isin(*bucket_ids)).filter(
                F.col("term").isin(*all_terms)
            )
        else:  # prune via the same broadcast (bucket, term) join
            dfreq = dfreq.join(F.broadcast(term_side), ["bucket", "term"])
        dfreq = dfreq.select("term", "tdf")
    else:
        dfreq = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("tdf")
        )
    # dfreq is bounded by the batch's distinct-term count — explicitly
    # broadcast (before r13 the un-hinted join planned as SMJ and AQE's
    # runtime rewrite left the dead exchanges as extra stage waves)
    contrib = tf.join(F.broadcast(dfreq), "term")
    if not has_dl:  # pre-r13 index without denormalized dl
        contrib = contrib.join(
            spark.read.parquet(f"{index_dir}/doclens").select(
                F.col("id").alias(id_col), "dl"
            ),
            id_col,
        )
    n_docs_c = F.lit(int(n_docs)).cast("long")
    sdl_c = F.lit(int(sdl)).cast("long")
    contrib = contrib.select(
        id_col, "term", _bm25_contrib(n_docs_c, sdl_c, k1, b, round_digits).alias("c")
    )
    # fan out to probes (bounded by the probe batch — explicit
    # broadcast), then the sorted deterministic fold per (probe, doc)
    scored = (
        contrib.join(F.broadcast(probe_terms), "term")
        .groupBy("probe_id", id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("term", "c"))).alias("_tc"),
            F.count("*").cast("long").alias("n_terms"),
        )
        .withColumn(
            "score",
            F.aggregate(F.col("_tc"), F.lit(0.0), lambda acc, x: acc + x["c"]),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            id_col,
            F.col("rank").cast("int").alias("rank"),
            "score",
            "n_terms",
        )
    )


def _bigram_stream(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id_col, pos, tok, prev): every token of every non-null text
    with its predecessor (null at position 0), built scan-side by a
    transform-with-index over the token array (``prev = get(toks,
    i-1)``) — no window, so the token stream is never shuffled or
    sorted by id."""
    arr = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("_a"))
    # posexplode_OUTER + null-drop: a plain posexplode makes
    # InferFiltersFromGenerate add `size(transform(...)) > 0`,
    # re-evaluating the whole transform once more per row (the
    # dup_span_coverage lesson); split() never yields an empty array,
    # so only null-text rows drop
    return (
        arr.select(
            F.col(id_col),
            F.posexplode_outer(
                F.transform(
                    F.col("_a"),
                    lambda x, i: F.struct(
                        x.alias("tok"),
                        F.get(F.col("_a"), i - 1).alias("prev"),
                    ),
                )
            ).alias("pos", "_s"),
        )
        .filter(F.col("pos").isNotNull())
        .select(F.col(id_col), "pos", "_s.tok", "_s.prev")
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 10,
) -> DataFrame:
    """Per-document fluency under the corpus's OWN bigram LM — the
    order-2 upgrade of `unigram_logprob` (CCNet-style filtering: word
    salad scores like gibberish here even when every word is common,
    because P(w_i | w_{i-1}) is what registers scrambled order).

    Position 1 scores under the unigram MLE; positions 2..n under
    P(w_i|w_{i-1}) = c(w_{i-1} w_i)/Σ_t c(w_{i-1} t) — all probabilities
    exact corpus MLE, so every event observed in scoring was counted
    (no smoothing needed).  Returns (id, n_tokens, sum_logprob,
    mean_logprob).

    Bit-determinism: identical to unigram_logprob — log-probs rounded
    to ``round_digits`` (absorbs the 1-ULP JVM/libm ln disagreement),
    per-doc sum as a POSITION-ORDERED left fold.

    Scale shape: each token's predecessor is built SCAN-SIDE
    (`_bigram_stream`, null at position 0 exactly like ``lag``), so
    the (pos, tok, prev) stream needs NO window: an id-keyed lag
    window would be a full shuffle + sort of the TOKEN STREAM (the
    largest relation in the plan) before any aggregation.  The
    exchanges are the token / bigram / context count aggregations
    (vocab-sized — AQE broadcasts them back) and the final per-doc
    fold groupBy.  Nothing quadratic; exchanges carry tokens and
    counts, never documents.
    """
    seq = _bigram_stream(df, text_col, id_col)
    toks = seq.select(F.col(id_col), "pos", "tok")
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = uni.agg(F.sum("c").alias("t"))
    uni_lp = uni.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(
            F.log(F.col("c").cast("double") / F.col("t").cast("double")),
            round_digits,
        ).alias("_ulp"),
    )
    big = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "tok")
        .agg(F.count("*").alias("cb"))
    )
    ctx = big.groupBy("prev").agg(F.sum("cb").alias("cp"))
    # shuffle_hash hints (r14, guide §3.1): locally the LM-count joins
    # planned as BroadcastHashJoins (4 vocab-sized broadcast builds,
    # each a serial driver-collect wave gating its probe stage); at
    # 100 TB the size estimates flip them to SortMergeJoins that sort
    # the TOKEN STREAM twice plus the bigram table.  SHJ avoids both
    # (per-partition hash build, no sorts) and has no 8 GB broadcast
    # cap — a uni/bigram-vocabulary broadcast is unbounded at corpus
    # scale.  Plan: BroadcastExchange 4 -> 1 (the 1-row total), the
    # new exchanges carry vocab-sized count tables, never documents.
    # Same-boot A/B: 1.5-2.2 -> 1.196 s median, bit-identical output.
    big_lp = big.join(ctx.hint("shuffle_hash"), "prev").select(
        "prev",
        "tok",
        F.round(
            F.log(F.col("cb").cast("double") / F.col("cp").cast("double")),
            round_digits,
        ).alias("_blp"),
    )
    scored = (
        seq.join(uni_lp.hint("shuffle_hash"), "tok")
        .join(big_lp.hint("shuffle_hash"), ["prev", "tok"], "left")
        .select(
            F.col(id_col),
            "pos",
            F.when(F.col("prev").isNull(), F.col("_ulp"))
            .otherwise(F.col("_blp"))
            .alias("lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "lp"))),
                lambda s: s["lp"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_logprob"),
    )
    return per_doc.select(
        F.col(id_col).alias("id"),
        "n_tokens",
        "sum_logprob",
        (F.col("sum_logprob") / F.col("n_tokens").cast("double")).alias(
            "mean_logprob"
        ),
    )
