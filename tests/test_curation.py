"""Corpus curation operators: decontamination, boilerplate removal,
mixture resampling."""

import pytest

from anndb_spark.operators.curation import (
    boilerplate_filter,
    decontaminate,
    dsir_select,
    dsir_weights,
    mixture_sample,
    mixture_thresholds,
)


@pytest.fixture(scope="module")
def spark():
    from anndb_spark.session import get_spark

    return get_spark()


def test_decontaminate_ngram_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id LONG, text STRING"
    )
    corpus = spark.createDataFrame(
        [
            (1, "a quick brown fox ran"),       # shares "quick brown fox"
            (2, "the quick red fox jumps"),     # no shared 3-gram
            (3, "quick brown fox quick brown fox"),  # same gram twice -> 1 hit
            (4, "xy"),                          # shorter than n
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert len(out) == 4
    assert (out[1]["n_hits"], out[1]["contaminated"]) == (1, True)
    assert (out[2]["n_hits"], out[2]["contaminated"]) == (0, False)
    assert out[3]["n_hits"] == 1  # distinct grams, not occurrences
    assert (out[4]["n_hits"], out[4]["contaminated"]) == (0, False)


def test_boilerplate_filter_line_level(spark):
    # the classic case: a nav line repeated across pages, sep='\n'
    rows = [
        (1, "home | about\nreal content one\nhome | about"),
        (2, "home | about\nreal content two"),
        (3, "home | about\nunique three"),
        (4, "no boilerplate here"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: r
        for r in boilerplate_filter(df, min_docs=3, sep="\n").collect()
    }
    assert out[1]["text_clean"] == "real content one"
    assert (out[1]["n_units"], out[1]["n_removed"]) == (3, 2)  # both copies go
    assert out[2]["text_clean"] == "real content two"
    assert out[4]["text_clean"] == "no boilerplate here"
    assert out[4]["n_removed"] == 0

    # fraction threshold: 3/4 docs -> same frequent set
    out_frac = {
        r["doc_id"]: r
        for r in boilerplate_filter(df, min_doc_frac=0.75, sep="\n").collect()
    }
    assert {k: v["text_clean"] for k, v in out_frac.items()} == {
        k: v["text_clean"] for k, v in out.items()
    }

    with pytest.raises(ValueError):
        boilerplate_filter(df)  # neither threshold
    with pytest.raises(ValueError):
        boilerplate_filter(df, min_doc_frac=0.5, min_docs=2)  # both


def test_boilerplate_filter_preserves_order_and_dups(spark):
    df = spark.createDataFrame(
        [(1, "a b a c b"), (2, "b x"), (3, "b y")], "doc_id LONG, text STRING"
    )
    out = {r["doc_id"]: r for r in boilerplate_filter(df, min_docs=3).collect()}
    # only "b" is in all 3 docs; survivors keep order AND duplicates
    assert out[1]["text_clean"] == "a a c"
    assert out[1]["n_removed"] == 2


def test_mixture_report_shares(spark):
    from anndb_spark.operators.curation import mixture_report

    rows = [
        (1, "a b c", "web", "en"),       # 3 tokens
        (2, "d e", "web", "en"),         # 2
        (3, "f g h i j", "books", "en"), # 5
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING, lang STRING"
    )
    out = {r["source"]: r for r in mixture_report(df).collect()}
    assert out["web"]["n_docs"] == 2 and out["web"]["n_tokens"] == 5
    assert out["books"]["n_tokens"] == 5
    assert abs(out["web"]["token_share"] - 0.5) < 1e-12
    assert abs(sum(r["token_share"] for r in out.values()) - 1.0) < 1e-12


def test_mixture_sample_rates_and_determinism(spark):
    rows = [(i, f"doc {i}", "web" if i % 2 else "books") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    out = mixture_sample(df, {"web": 0.2, "books": 1.0}, salt="t")
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    assert counts["books"] == 1000  # rate 1.0 keeps everything
    assert 120 <= counts["web"] <= 280  # ~200 expected, hash-uniform
    # bit-identical rerun
    again = mixture_sample(df, {"web": 0.2, "books": 1.0}, salt="t")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # different salt draws a different subset (overwhelmingly likely)
    other = mixture_sample(df, {"web": 0.2, "books": 1.0}, salt="u")
    assert sorted(r["doc_id"] for r in other.collect()) != sorted(
        r["doc_id"] for r in out.collect()
    )
    th = mixture_thresholds({"web": 0.2}, default_rate=0.5)
    assert th["web"] == "33333333" and th["__default__"] == "80000000"


def test_boilerplate_min_docs_plan_never_collects(spark):
    """VERDICT r7 Wrong #4: min_docs mode must not funnel the frequent
    set through one collect_set row (unbounded at low thresholds).  The
    anti-join plan carries no collect_set/array_contains; frac mode
    keeps the bounded broadcast fast path."""
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "a d")], "doc_id LONG, text STRING"
    )
    plan_docs = boilerplate_filter(df, min_docs=2)._jdf.queryExecution().toString()
    assert "collect_set" not in plan_docs
    assert "array_contains" not in plan_docs
    assert "LeftAnti" in plan_docs

    plan_frac = boilerplate_filter(df, min_doc_frac=0.6)._jdf.queryExecution().toString()
    assert "collect_set" in plan_frac  # the bounded-mode fast path

    # and the two plans agree on output
    a = sorted(map(tuple, boilerplate_filter(df, min_docs=2).collect()))
    b = sorted(map(tuple, boilerplate_filter(df, min_doc_frac=0.6).collect()))
    assert a == b == [(1, 2, 1, "b"), (2, 2, 1, "c"), (3, 2, 1, "d")]


def _dsir_reference(raw_rows, target_rows, buckets=16, alpha=0.01):
    """Plain-Python DSIR twin: hashed unigram+bigram bag, add-alpha
    bucket models, logw = sum n_b * round(delta_b, 10) in sorted
    bucket order."""
    import hashlib
    import math

    hl = {16: 1, 256: 2, 4096: 3}[buckets]

    def doc_buckets(text):
        ws = text.split(" ")
        grams = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        return [
            hashlib.md5(g.encode()).hexdigest()[:hl] for g in grams
        ]

    raw_counts, tgt_counts = {}, {}
    for _, text in raw_rows:
        for b in doc_buckets(text):
            raw_counts[b] = raw_counts.get(b, 0) + 1
    for _, text in target_rows:
        for b in doc_buckets(text):
            tgt_counts[b] = tgt_counts.get(b, 0) + 1
    tr, tt = sum(raw_counts.values()), sum(tgt_counts.values())
    ab = alpha * buckets
    delta = {
        b: round(
            math.log((tgt_counts.get(b, 0) + alpha) / (tt + ab))
            - math.log((cr + alpha) / (tr + ab)),
            10,
        )
        for b, cr in raw_counts.items()
    }
    out = {}
    for doc_id, text in raw_rows:
        nb = {}
        for b in doc_buckets(text):
            nb[b] = nb.get(b, 0) + 1
        logw = 0.0
        for b in sorted(nb):
            logw += nb[b] * delta[b]
        out[doc_id] = (sum(nb.values()), logw)
    return out


def test_dsir_weights_match_reference_and_rank(spark):
    """Target-like documents must outscore off-target ones, and every
    (n_grams, logw) must equal the plain-Python twin bit-for-bit
    (same rounding, same fold order)."""
    raw_rows = [
        (1, "alpha beta gamma alpha beta"),   # pure target vocabulary
        (2, "alpha beta zz yy"),              # mixed
        (3, "zz yy xx ww zz yy"),             # pure off-target
        (4, "alpha"),                         # single token, no bigrams
    ]
    target_rows = [
        (100, "alpha beta gamma beta alpha"),
        (101, "gamma alpha beta"),
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id LONG, text STRING")
    target = spark.createDataFrame(target_rows, "doc_id LONG, text STRING")
    got = {
        r["id"]: (r["n_grams"], r["logw"])
        for r in dsir_weights(raw, target, buckets=16).collect()
    }
    want = _dsir_reference(raw_rows, target_rows, buckets=16)
    assert set(got) == {1, 2, 3, 4}
    for doc_id in got:
        assert got[doc_id][0] == want[doc_id][0], doc_id
        assert got[doc_id][1] == want[doc_id][1], doc_id  # bit-exact
    # n_grams = 2*len - 1
    assert got[1][0] == 9 and got[4][0] == 1
    # ranking: pure-target > mixed > pure-off-target
    assert got[1][1] > got[2][1] > got[3][1]


def test_dsir_select_topk(spark):
    raw_rows = [(i, "alpha beta" if i % 2 else "zz yy") for i in range(10)]
    raw = spark.createDataFrame(raw_rows, "doc_id LONG, text STRING")
    target = spark.createDataFrame(
        [(99, "alpha beta alpha")], "doc_id LONG, text STRING"
    )
    top = dsir_select(raw, target, k=5, buckets=16).collect()
    assert len(top) == 5
    assert sorted(r["id"] for r in top) == [1, 3, 5, 7, 9]  # the alpha-beta docs
    # deterministic order: logw desc, id asc
    assert [r["id"] for r in top] == [1, 3, 5, 7, 9]


def test_dsir_state_form_identical_output(spark, tmp_path):
    """`dsir_weights(raw, state_dir=...)` over a `write_dsir_state`
    model must equal the in-session form row-for-row, logw bit-exact
    (the model is exact longs; parquet round-trips them losslessly) —
    the continuous-pipeline shape: persist the target model once,
    score every future raw batch without re-tokenizing the target."""
    from anndb_spark.operators.curation import write_dsir_state

    raw_rows = [
        (1, "alpha beta gamma alpha beta"),
        (2, "alpha beta zz yy"),
        (3, "zz yy xx ww zz yy"),
        (4, "alpha"),
    ]
    target_rows = [
        (100, "alpha beta gamma beta alpha"),
        (101, "gamma alpha beta"),
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id LONG, text STRING")
    target = spark.createDataFrame(target_rows, "doc_id LONG, text STRING")
    state = str(tmp_path / "dsir_state")
    write_dsir_state(target, state, buckets=16)

    insession = sorted(
        map(tuple, dsir_weights(raw, target, buckets=16).collect())
    )
    from_state = sorted(
        map(tuple, dsir_weights(raw, buckets=16, state_dir=state).collect())
    )
    assert insession == from_state
    # the state-form query side must not re-tokenize the target: no
    # Generate at all in the executed plan (raw's explode is behind the
    # dbc checkpoint, target's behind the parquet write)
    phys = (
        dsir_weights(raw, buckets=16, state_dir=state)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Generate explode" not in phys


def test_decontaminate_fast_kernel_matches_expr_kernel(spark):
    """The r13 decontaminate kernel (benchmark grams via the Spark
    expression, corpus grams + intersection in an Arrow kernel) must
    equal the relational plan row-for-row — including sub-n docs,
    empty text, doubled/trailing spaces and zero-hit docs."""
    from anndb_spark.operators.curation import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b  c d e f g h"),   # doubled space -> empty token
            (3, "short doc"),
            (4, ""),
            (5, "x y z w v u t s r q p"),
            (6, None),  # NULL text: expr path emits n_hits=0 via the
            # corpus-ids left join; the kernel must match, not crash
        ],
        "doc_id LONG, text STRING",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h plus tail")],
        "doc_id LONG, text STRING",
    )
    for n in (3, 8):
        fast = sorted(
            map(tuple, decontaminate(corpus, bench, n=n).collect())
        )
        expr = sorted(
            map(tuple, decontaminate(corpus, bench, n=n, kernel="expr").collect())
        )
        assert fast == expr, n


def test_decontaminate_bench_gram_size_guard(spark):
    """r14: a benchmark whose distinct gram set exceeds
    max_bench_grams raises a clear error instead of a driver OOM; a
    generous cap is a no-op."""
    import pytest

    from anndb_spark.operators.curation import decontaminate

    corpus = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id LONG, text STRING"
    )
    bench = spark.createDataFrame(
        [(100, "w x y z q r s t u v")], "doc_id LONG, text STRING"
    )
    with pytest.raises(ValueError, match="max_bench_grams"):
        decontaminate(corpus, bench, n=3, max_bench_grams=2)
    out = decontaminate(corpus, bench, n=3, max_bench_grams=100).collect()
    assert len(out) == 1 and out[0]["n_hits"] == 0


def test_dsir_fast_kernel_matches_expr_kernel(spark):
    """The Arrow md5 kernel (`_dsir_doc_bucket_counts`) must produce
    the same per-(doc, bucket) counts as the explode + JVM md5 +
    groupBy expression form
    (`tests.operator_oracle.dsir_doc_bucket_counts_expr`), with and
    without the target_filter flag column — including texts with
    doubled/trailing spaces (Java split and str.split(' ') both keep
    the empty tokens), sub-bigram docs and NULL text (dropped by both).
    The count table is the one intermediate where the two forms
    differ: both DSIR models and the per-doc scoring read it."""
    from pyspark.sql import functions as F

    from anndb_spark.operators.curation import _dsir_doc_bucket_counts
    from tests.operator_oracle import dsir_doc_bucket_counts_expr

    rows = [
        (1, "alpha beta gamma alpha beta", "en"),
        (2, "alpha  beta  zz yy ", "de"),   # doubled + trailing spaces
        (3, "solo", "en"),                   # no bigrams
        (4, "", "fr"),                       # empty text
        (5, "beta gamma gamma beta", "en"),
        (6, None, "en"),                     # NULL text: both paths drop it
    ]
    raw = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    flagged = raw.withColumn(
        "_t", F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    )
    for df, flag in ((raw, None), (flagged, "_t")):
        for hex_len in (1, 3):
            fast = sorted(
                map(tuple, _dsir_doc_bucket_counts(
                    df, "text", "doc_id", hex_len, flag_col=flag
                ).collect())
            )
            expr = sorted(
                map(tuple, dsir_doc_bucket_counts_expr(
                    df, "text", "doc_id", hex_len, flag_col=flag
                ).collect())
            )
            assert fast == expr, (flag, hex_len)
            assert all(r[0] != 6 for r in fast)


def test_dsir_target_filter_form_identical_output(spark):
    """`dsir_weights(raw, target_filter=pred)` must equal
    `dsir_weights(raw, raw.filter(pred))` row-for-row, logw bit-exact —
    the r13 single-tokenize form for the target-is-a-corpus-slice case
    (the target model becomes a re-aggregation of the same
    per-(doc, bucket) checkpoint the corpus model reads)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta gamma alpha beta", "en"),
        (2, "alpha beta zz yy", "de"),
        (3, "zz yy xx ww zz yy", "en"),
        (4, "alpha", "fr"),
        (5, "beta gamma gamma beta", "en"),
    ]
    raw = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    two_pass = sorted(
        map(
            tuple,
            dsir_weights(
                raw, raw.filter(F.col("lang") == "en"), buckets=16
            ).collect(),
        )
    )
    one_pass = sorted(
        map(
            tuple,
            dsir_weights(
                raw, target_filter=F.col("lang") == "en", buckets=16
            ).collect(),
        )
    )
    assert two_pass == one_pass
    # an empty target slice must behave like an empty target corpus
    empty_two = sorted(
        map(
            tuple,
            dsir_weights(
                raw, raw.filter(F.col("lang") == "xx"), buckets=16
            ).collect(),
        )
    )
    empty_one = sorted(
        map(
            tuple,
            dsir_weights(
                raw, target_filter=F.col("lang") == "xx", buckets=16
            ).collect(),
        )
    )
    assert empty_two == empty_one


def test_dsir_state_validates_buckets_and_exclusivity(spark, tmp_path):
    from anndb_spark.operators.curation import write_dsir_state

    df = spark.createDataFrame([(1, "a b")], "doc_id LONG, text STRING")
    state = str(tmp_path / "dsir_state16")
    write_dsir_state(df, state, buckets=16)
    import pytest

    with pytest.raises(ValueError, match="buckets=16"):
        dsir_weights(df, buckets=256, state_dir=state).collect()
    with pytest.raises(ValueError, match="exactly one"):
        dsir_weights(df, df, buckets=16, state_dir=state)
    with pytest.raises(ValueError, match="exactly one"):
        dsir_weights(df, buckets=16)


def test_dsir_plan_has_no_window_and_one_explode(spark):
    """The scorer is groupBys + tiny equi-joins — a Window here would
    mean a per-bucket single-task shuffle (the bm25 r10 defect shape).
    And the RAW corpus must tokenize exactly once: dbc is
    localCheckpoint-ed, so the only Generate (explode) left in the
    final plan is the TARGET side's."""
    raw = spark.createDataFrame([(1, "a b")], "doc_id LONG, text STRING")
    plan = (
        dsir_weights(raw, raw, buckets=16)
        ._jdf.queryExecution().toString()
    )
    assert "Window" not in plan
    phys = (
        dsir_weights(raw, raw, buckets=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # both explodes ran once, at checkpoint time: the final plan reads
    # the checkpoints and contains no Generate node at all
    assert "Generate explode" not in phys
    assert "ExistingRDD" in phys  # the checkpoint scans
