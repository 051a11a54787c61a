"""Dedup + text-analysis operator tests (extension surface). The deep
correctness check is the DuckDB oracle gate (tools/check_driver.py);
these cover semantics the oracles don't."""

import pytest
from pyspark.sql import functions as F

from anndb_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_pairs,
    jaccard_col,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles_col,
    simhash_col,
)
from anndb_spark.operators.text import quality_score, text_stats

SF = "/root/testdata/sf0.001"


def test_dedup_exact_groups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id LONG, text STRING"
    )
    out = {r["id"]: r["keeper_id"] for r in dedup_exact(df).collect()}
    assert out == {1: 1, 2: 1, 3: 3}


def test_minhash_lsh_finds_planted_neardups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lsh = minhash_lsh_pairs(docs, threshold=0.5)
    brute = ngram_jaccard_pairs(docs, threshold=0.9)
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    brute_pairs = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    # high-similarity pairs must be recovered by LSH (P(miss) ~ (1-j^2)^4, tiny at j>=0.9)
    assert brute_pairs, "fixture should contain planted near-dups"
    assert brute_pairs <= lsh_pairs


def test_minhash_lsh_no_false_positives_below_threshold(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert all(r["jaccard"] >= 0.5 for r in rows)


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("a b c d",), ("b c d e",)], "text STRING")
    sh = df.select(shingles_col(F.col("text")).alias("s")).collect()
    assert sh[0]["s"] == ["a b c", "b c d"]
    pair = spark.createDataFrame(
        [(["a b c", "b c d"], ["b c d", "c d e"])], "x ARRAY<STRING>, y ARRAY<STRING>"
    )
    j = pair.select(jaccard_col(F.col("x"), F.col("y")).alias("j")).collect()[0]["j"]
    assert j == pytest.approx(1 / 3)


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        "doc_id LONG, text STRING",
    )
    sigs = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id", simhash_col(F.col("text"), bits=32).alias("sig")
        ).collect()
    }
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFF).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_embedding_neardup_blocked(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.99, 0.01], 0),
            (3, [0.0, 1.0], 0),
            (4, [1.0, 0.0], 1),  # other block: never paired with 1
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    pairs = embedding_neardup_pairs(df, block_col="label", threshold=0.01).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_quality_score_bounds(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = quality_score(docs).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)


def test_text_stats_consistency(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    r = text_stats(docs).filter(F.col("n_tokens") > 0).collect()
    for row in r[:50]:
        assert row["n_unique_tokens"] <= row["n_tokens"]
        assert 0 <= row["stopword_ratio"] <= 1


def test_simhash_banding_is_lossless(spark):
    """Pigeonhole bit-banding recall check: the banded equi-join must
    find EVERY pair within max_hamming (differential vs the O(N²) brute
    hamming over the same signatures) — including pairs whose differing
    bits fall in the old high-byte block (bits 8-15), which the previous
    shiftright(sig, 8) blocking silently missed."""
    from anndb_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = {
        r["id"]: r["sig"]
        for r in docs.select(
            F.col("doc_id").alias("id"), simhash_col(F.col("text")).alias("sig")
        ).collect()
    }
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= 2:
                want.add((a, b))
    got_rows = simhash_pairs(docs, bits=16, max_hamming=2).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    assert got == want
    # at least one recovered pair differs inside the old block byte
    old_block_missed = [
        (a, b) for a, b in got if (sigs[a] >> 8) != (sigs[b] >> 8)
    ]
    assert old_block_missed, "expected pairs the high-byte blocking would miss"


def test_simhash64_sparse_and_banding_lossless(spark):
    """64-bit two-half signatures must (a) not saturate — far under 1%
    of all pairs at hamming ≤3 on the corpus sample, unlike 16 bits
    where ~40% of pairs collided (VERDICT r3 wrong #3) — and (b) keep
    pigeonhole banding lossless vs brute-force hamming over the same
    signatures, including bands straddling the 32-bit half boundary."""
    from anndb_spark.operators.dedup import (
        simhash64_band_val,
        simhash_band_bounds,
        simhash_pairs,
    )
    from tests.operator_oracle import simhash64_cols

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lo, hi = simhash64_cols(F.col("text"))
    sigs = {
        r["id"]: (r["lo"] | (r["hi"] << 32))
        for r in docs.select(
            F.col("doc_id").alias("id"), lo.alias("lo"), hi.alias("hi")
        ).collect()
    }
    n = len(sigs)
    ids = sorted(sigs)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs, bits=64, max_hamming=3).collect()
    }
    assert got == want
    # the fixture corpus is dup-heavy (a ~33-doc identical-word-set
    # clique alone is 528 true hamming-0 pairs), so sparsity is asserted
    # on synthetic docs with DISJOINT vocabularies instead: there 16-bit
    # signatures still collide by the hundreds (the saturation that made
    # 40% of the real corpus "near-dup" — VERDICT r3 wrong #3) while
    # 64-bit collisions are ~2^-48-level, i.e. zero
    synth = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(31))) for i in range(500)],
        "doc_id LONG, text STRING",
    )
    n16 = simhash_pairs(synth, bits=16, max_hamming=2).count()
    n64 = simhash_pairs(synth, bits=64, max_hamming=2).count()
    assert n16 > 50
    assert n64 == 0

    # straddling band extraction agrees with pure-python bit slicing
    # (max_hamming=2 → 3 bands of 22/21/21 bits, offsets 0/22/43)
    bounds = simhash_band_bounds(64, 2)
    assert bounds == [(0, 22), (22, 21), (43, 21)]
    row = docs.limit(1).select(
        *[
            simhash64_band_val(lo, hi, off, w).alias(f"b{i}")
            for i, (off, w) in enumerate(bounds)
        ],
        lo.alias("lo"),
        hi.alias("hi"),
    ).collect()[0]
    full = row["lo"] | (row["hi"] << 32)
    for i, (off, w) in enumerate(bounds):
        assert row[f"b{i}"] == (full >> off) & ((1 << w) - 1)


def test_minhash_fast_kernel_bit_identical(spark):
    """The Arrow md5 kernel must reproduce the expression path's
    signatures exactly (same md5-hex definition) — that's what makes it
    safe under oracle-checked queries.  The signature table is the one
    intermediate where the kernel and the expression form differ:
    `minhash_lsh_pairs`, `minhash_banded` and everything downstream of
    the signatures is shared code."""
    from anndb_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_fast,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    slow = {
        r["id"]: (tuple(r["shingles"]), tuple(r["sig"]))
        for r in minhash_signatures(docs).collect()
    }
    fast = {
        r["id"]: (tuple(r["shingles"]), tuple(r["sig"]))
        for r in minhash_signatures_fast(docs).collect()
    }
    assert slow == fast
    # the lsh path's (id, sig)-only kernel output signs identically
    lean = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures_fast(docs, include_shingles=False).collect()
    }
    assert lean == {k: sig for k, (_, sig) in slow.items()}


def test_simhash64_fast_kernel_bit_identical(spark):
    """The Arrow hashlib kernel must reproduce the 64-bit expression
    signatures exactly — that makes it safe under the oracle-checked
    pairs query (same guarantee as the MinHash kernel).  The signature
    table is the one intermediate where the two forms differ; the band
    join and hamming filter of `simhash_pairs` are shared code."""
    from anndb_spark.operators.dedup import simhash64_signatures_fast
    from tests.operator_oracle import simhash64_cols

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lo, hi = simhash64_cols(F.col("text"))
    expr = {
        r["id"]: (r["lo"], r["hi"])
        for r in docs.select(
            F.col("doc_id").alias("id"), lo.alias("lo"), hi.alias("hi")
        ).collect()
    }
    fast = {
        r["id"]: (r["lo"], r["hi"])
        for r in simhash64_signatures_fast(docs).collect()
    }
    assert expr == fast


def test_dedup_clusters_chain_converges_fast(spark):
    """Pointer jumping makes chain-shaped duplicate graphs converge in
    O(log n) rounds: a 300-link chain resolves within max_iter=12 (pure
    min-label propagation would need 300 rounds), and every node maps to
    the chain head.  A disjoint clique keeps its own keeper."""
    from anndb_spark.operators.dedup import dedup_clusters

    chain = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(300)]
    clique = [(f"k{a}", f"k{b}") for a in "012" for b in "345"]
    pairs = spark.createDataFrame(chain + clique, "id_a STRING, id_b STRING")
    out = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, max_iter=12).collect()
    }
    assert {out[f"c{i:04d}"] for i in range(301)} == {"c0000"}
    assert {out[f"k{x}"] for x in "012345"} == {"k0"}


def test_embedding_lsh_pairs_finds_near_dups(spark):
    """Near-identical embeddings (tiny perturbations → hamming ≈ 0)
    must be found without any blocking column; far pairs must not
    appear; every returned dist respects the threshold."""
    import numpy as np

    from anndb_spark.operators.dedup import embedding_lsh_pairs

    rng = np.random.default_rng(12)
    base = rng.normal(0, 1, (40, 64)).astype(np.float32)
    rows = []
    for i in range(40):
        rows.append((2 * i, base[i].astype(float).tolist()))
        dup = base[i] + rng.normal(0, 1e-4, 64).astype(np.float32)
        rows.append((2 * i + 1, dup.astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    got = embedding_lsh_pairs(df, threshold=0.05).collect()
    found = {(r["id_a"], r["id_b"]) for r in got}
    for i in range(40):
        assert (2 * i, 2 * i + 1) in found, i
    assert all(r["dist"] < 0.05 for r in got)
    # distinct base vectors are ~orthogonal at 64-d: no cross pairs
    cross = [p for p in found if p[1] - p[0] != 1]
    assert not cross, cross


def test_repetition_signals_known_values(spark):
    """Hand-computable documents: exact fractions for dup words and the
    dominant 2-/3-gram, zero/degenerate rows handled."""
    from anndb_spark.operators.text import repetition_signals

    rows = [
        # "a b a b a" -> 5 tokens, 2 unique; bigrams: ab,ba,ab,ba -> top 2/4
        # trigrams: aba,bab,aba -> top 2/3
        ("d1", "a b a b a"),
        # all distinct: dup 0, every gram count 1
        ("d2", "w x y z"),
        # single token: no bigrams/trigrams -> 0.0 via coalesce
        ("d3", "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id STRING, text STRING")
    out = {r["id"]: r for r in repetition_signals(df).collect()}
    r1 = out["d1"]
    assert r1["n_tokens"] == 5
    assert abs(r1["dup_word_fraction"] - (1 - 2 / 5)) < 1e-12
    assert abs(r1["top_bigram_fraction"] - 2 / 4) < 1e-12
    assert abs(r1["top_trigram_fraction"] - 2 / 3) < 1e-12
    r2 = out["d2"]
    assert r2["dup_word_fraction"] == 0.0
    assert abs(r2["top_bigram_fraction"] - 1 / 3) < 1e-12
    r3 = out["d3"]
    assert r3["n_tokens"] == 1
    assert r3["top_bigram_fraction"] == 0.0
    assert r3["top_trigram_fraction"] == 0.0


def test_repetition_signals_kernel_expr_parity(spark):
    """The Arrow kernel must be BIT-identical to the relational form
    (`tests.operator_oracle.repetition_signals_expr`): same rows, exact long counts, exact IEEE doubles
    (same two-long divisions).  Edges: empty text (split('') == ['']),
    doubled/leading/trailing spaces (empty tokens count), 1- and
    2-token docs (no bi/trigrams -> coalesced 0.0), heavy repetition,
    null text (dropped by explode), unicode."""
    import random

    from anndb_spark.operators.text import repetition_signals
    from tests.operator_oracle import repetition_signals_expr

    rng = random.Random(1307)
    vocab = ["a", "b", "cc", "d d".replace(" ", ""), "é", "x1", ""]
    rows = [
        ("e0", ""),
        ("e1", " "),
        ("e2", "  a  b "),
        ("e3", "solo"),
        ("e4", "two tok"),
        ("e5", None),
        ("e6", "r r r r r r r r"),
    ]
    for i in range(60):
        k = rng.randint(1, 40)
        rows.append((f"r{i}", " ".join(rng.choice(vocab) for _ in range(k))))
    df = spark.createDataFrame(rows, "doc_id STRING, text STRING")
    fast = {r["id"]: r for r in repetition_signals(df).collect()}
    expr = {r["id"]: r for r in repetition_signals_expr(df).collect()}
    assert set(fast) == set(expr)
    assert "e5" not in fast  # null text dropped in both forms
    for key, er in expr.items():
        fr = fast[key]
        for c in (
            "n_tokens",
            "dup_word_fraction",
            "top_bigram_fraction",
            "top_trigram_fraction",
        ):
            assert fr[c] == er[c], (key, c, fr[c], er[c])


def test_props_stats_json_extraction(spark):
    """JSON payload rollup: unparseable / missing fields count as null
    (excluded from n_with_field and the exact integer sum)."""
    from anndb_spark.operators.semistructured import props_stats

    rows = [
        ("click", '{"k": 3}', 1.5),
        ("click", '{"k": 4}', 2.25),
        ("click", '{"other": 9}', 1.0),
        ("view", "not json", 5.0),
        ("view", '{"k": 10}', 0.5),
    ]
    df = spark.createDataFrame(
        rows, "event_type STRING, props STRING, value DOUBLE"
    )
    out = {r["event_type"]: r for r in props_stats(df).collect()}
    c = out["click"]
    assert (c["n_events"], c["n_with_field"], c["sum_field"]) == (3, 2, 7)
    assert abs(c["sum_value"] - 4.75) < 1e-9
    v = out["view"]
    assert (v["n_events"], v["n_with_field"], v["sum_field"]) == (2, 1, 10)


def test_hash_sampling_deterministic_and_nested(spark):
    """Hash sampling: reproducible, salt-decoupled, and MONOTONE —
    a smaller fraction's sample is a subset of a larger one's (the
    property that makes staged corpus scaling reproducible)."""
    from anndb_spark.operators.sampling import hash_sample, hash_split

    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    s20 = {r["doc_id"] for r in hash_sample(df, 0.2, id_col="doc_id").collect()}
    s20b = {r["doc_id"] for r in hash_sample(df, 0.2, id_col="doc_id").collect()}
    assert s20 == s20b
    assert 0.15 < len(s20) / 4000 < 0.25
    s05 = {r["doc_id"] for r in hash_sample(df, 0.05, id_col="doc_id").collect()}
    assert s05 <= s20
    other = {
        r["doc_id"]
        for r in hash_sample(df, 0.2, id_col="doc_id", salt="x").collect()
    }
    assert other != s20  # independent draw
    assert 0.15 < len(other) / 4000 < 0.25

    out = hash_split(
        df, [0.8, 0.1, 0.1], ["train", "val", "test"], id_col="doc_id"
    ).collect()
    counts: dict[str, int] = {}
    for r in out:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert len(out) == 4000  # total preserved, one label each
    assert 0.75 < counts["train"] / 4000 < 0.85
    import pytest as _pt

    with _pt.raises(ValueError):
        hash_split(df, [1.0], ["a", "b"], id_col="doc_id")


def test_stratified_take_exact_counts_and_determinism(spark):
    from pyspark.sql import functions as F

    from anndb_spark.operators.sampling import stratified_take

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = stratified_take(docs, 7, by="lang", salt="t")
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {k: min(7, v) for k, v in sizes.items()}
    # deterministic across partitionings, salt-decoupled
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in stratified_take(docs.repartition(13), 7, by="lang",
                                 salt="t").collect()
    )
    assert a == b
    c = sorted(
        r["doc_id"]
        for r in stratified_take(docs, 7, by="lang", salt="u").collect()
    )
    assert c != a
    # helper column must not leak
    assert "_rk" not in out.columns
    import pytest as _pt

    with _pt.raises(ValueError):
        stratified_take(docs, 0, by="lang")


def test_token_stream_offsets_layout(spark):
    """Concatenate-then-split bookkeeping: offsets are exclusive
    cumulative sums in id order within each bucket, seq index/offset
    derive from them, buckets are independent."""
    from anndb_spark.operators.text import token_stream_offsets

    rows = [
        ("a1", "one two three", "web"),        # 3 tokens, offset 0
        ("a2", "four five", "web"),            # offset 3
        ("a3", "six seven eight nine", "web"), # offset 5
        ("b1", "x y", "books"),                # offset 0 in its bucket
    ]
    df = spark.createDataFrame(rows, "doc_id STRING, text STRING, source STRING")
    out = {r["id"]: r for r in token_stream_offsets(df, seq_len=4).collect()}
    assert [out[k]["stream_offset"] for k in ("a1", "a2", "a3")] == [0, 3, 5]
    assert [out[k]["seq_index"] for k in ("a1", "a2", "a3")] == [0, 0, 1]
    assert [out[k]["seq_offset"] for k in ("a1", "a2", "a3")] == [0, 3, 1]
    assert (out["b1"]["stream_offset"], out["b1"]["bucket"]) == (0, "books")


def test_top_terms_ranking_and_ties(spark):
    from anndb_spark.operators.text import top_terms

    rows = [
        # doc 1: "zebra" tf=2 wins; "apple"/"mango" tie at tf=1 ->
        # rarer term first (mango df=1 < apple df=2), then lexicographic
        (1, "zebra zebra apple mango the the"),
        (2, "apple apple banana cherry"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = top_terms(df, k=3, min_len=4)
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"]) for r in out.collect()}
    assert got[(1, 1)] == ("zebra", 2, 1)
    assert got[(1, 2)] == ("mango", 1, 1)   # df=1 beats apple's df=2
    assert got[(1, 3)] == ("apple", 1, 2)
    assert got[(2, 1)] == ("apple", 2, 2)
    # short tokens ("the") never appear
    assert all(len(t) >= 4 for t, _, _ in got.values())


def test_duplicate_span_coverage_handbuilt(spark):
    from anndb_spark.operators.dedup import duplicate_span_coverage

    rows = [
        # docs 1 and 2 share the 3-gram "a b c" once each; doc 1 also
        # repeats "x y z" twice WITHIN itself
        (1, "a b c q x y z r x y z"),
        (2, "p a b c s t u"),
        (3, "entirely unique words here only"),
        (4, "sh ort"),  # shorter than n -> no grams, never crashes
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in duplicate_span_coverage(df, n=3).collect()}
    # doc 1: "a b c" covers pos 1-3; "x y z" (x2) covers pos 5-7, 9-11
    assert out[1]["n_dup_positions"] == 9
    assert out[1]["n_tokens"] == 11
    # doc 2: "a b c" covers positions 2-4 only
    assert out[2]["n_dup_positions"] == 3
    assert out[2]["dup_frac"] == pytest.approx(3 / 7)
    # docs 3 and 4: no duplicated grams -> absent from the output
    assert 3 not in out and 4 not in out


def test_minhash_incremental_pairs_cross_split_only(spark):
    """Incremental ingest: pairs run new-vs-corpus only, and agree with
    the batch operator's verdicts restricted to cross-split pairs."""
    from anndb_spark.operators.dedup import minhash_incremental_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4"
    new_df, corpus_df = docs.filter(is_new), docs.filter(~is_new)
    got = minhash_incremental_pairs(new_df, corpus_df, threshold=0.5).collect()
    new_ids = {r["doc_id"] for r in new_df.select("doc_id").collect()}
    corpus_ids = {r["doc_id"] for r in corpus_df.select("doc_id").collect()}
    for r in got:
        assert r["new_id"] in new_ids and r["corpus_id"] in corpus_ids
    # same verdicts as the batch operator on the full table, filtered
    # to cross-split pairs (band collisions are split-independent)
    full = minhash_lsh_pairs(docs, threshold=0.5).collect()
    want = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if a in new_ids and b in corpus_ids:
            want.add((a, b, round(r["jaccard"], 9)))
        elif b in new_ids and a in corpus_ids:
            want.add((b, a, round(r["jaccard"], 9)))
    assert {(r["new_id"], r["corpus_id"], round(r["jaccard"], 9)) for r in got} == want
    # empty batch -> empty result, corpus never self-pairs
    assert (
        minhash_incremental_pairs(
            docs.filter(F.lit(False)), corpus_df, threshold=0.0
        ).count()
        == 0
    )


def test_dedup_exact_survivors_matches_join_form(spark):
    """dedup_exact_survivors must keep exactly the rows the
    dedup_exact keeper-join kept — incl. duplicate groups, unique
    docs, empty text, and ties broken by min id."""
    from pyspark.sql import functions as F

    from anndb_spark.operators.dedup import dedup_exact, dedup_exact_survivors

    df = spark.createDataFrame(
        [
            (3, "same text"),
            (1, "same text"),
            (2, "unique one"),
            (7, ""),
            (9, ""),
            (5, "same text"),
        ],
        "doc_id LONG, text STRING",
    )
    dd = dedup_exact(df)
    join_form = df.join(
        dd.filter(F.col("id") == F.col("keeper_id")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
    )
    a = sorted(map(tuple, join_form.collect()))
    b = sorted(map(tuple, dedup_exact_survivors(df).collect()))
    assert a == b
    assert [r[0] for r in b] == sorted({1, 2, 7})


def test_minhash_text_attach_is_size_adaptive(spark):
    """Over the broadcast threshold the candidate texts are fetched
    once into a checkpoint; each candidate-bounded frame is broadcast
    only when its own estimate fits the threshold.  Rows must be
    identical at a 1-byte threshold (fetched, joined un-hinted), at
    half the corpus estimate (fetched, the candidate texts can fit),
    at the session default (two-scan form) and with auto-broadcast off
    (-1), where no join may be forced to broadcast."""
    from anndb_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    key = "spark.sql.autoBroadcastJoinThreshold"
    base = sorted(map(tuple, minhash_lsh_pairs(docs).collect()))
    assert len(base) > 0
    corpus_est = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    old_thr = spark.conf.get(key)
    try:
        for thr in ("1b", str(corpus_est // 2), "-1"):
            spark.conf.set(key, thr)
            pairs = minhash_lsh_pairs(docs)
            assert sorted(map(tuple, pairs.collect())) == base, thr
            if thr == "-1":
                plan = pairs._jdf.queryExecution().executedPlan().toString()
                assert "Broadcast" not in plan, plan
    finally:
        spark.conf.set(key, old_thr)


def test_minhash_rejects_bands_not_dividing_hashes(spark, tmp_path):
    """A band count must divide the hash count: more bands than hashes
    would leave empty band values that collide for every pair (an
    O(N²) verify), and a non-divisor would drop the trailing hashes.
    Every MinHash entry point refuses both before running a job."""
    from anndb_spark.operators.dedup import (
        minhash_banded,
        minhash_incremental_pairs,
    )
    from anndb_spark.streaming.dedup import write_neardup_state

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id LONG, text STRING"
    )
    calls = (
        lambda nh, b: minhash_lsh_pairs(df, num_hashes=nh, bands=b),
        lambda nh, b: minhash_banded(df, num_hashes=nh, bands=b),
        lambda nh, b: minhash_incremental_pairs(df, df, num_hashes=nh, bands=b),
        lambda nh, b: write_neardup_state(
            df, str(tmp_path / "state"), num_hashes=nh, bands=b
        ),
    )
    for nh, b in ((8, 16), (8, 3), (8, 0), (8, -2)):
        for call in calls:
            with pytest.raises(ValueError, match="bands"):
                call(nh, b)
    assert not (tmp_path / "state").exists()
    # dividing counts still run, 1 <= bands <= num_hashes inclusive
    for nh, b in ((8, 1), (8, 8), (16, 8)):
        _, bands = minhash_banded(df, num_hashes=nh, bands=b)
        assert bands.count() == 2 * b


def test_winnow_guarantee_shared_run(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a token run of length >= k+w-1 share >= 1 fingerprint."""
    from anndb_spark.operators.dedup import (
        winnow_fingerprint_col,
        winnow_pairs,
    )

    shared = "q w e r t y u"  # 7 tokens = k+w-1 at k=4,w=4
    df = spark.createDataFrame(
        [
            (1, f"a b c {shared} d e f g"),
            (2, f"z x v {shared} m n o p"),
            (3, "unrelated words only here nothing matches at all ok"),
        ],
        "doc_id LONG, text STRING",
    )
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id",
            winnow_fingerprint_col(F.col("text"), k=4, w=4).alias("fp"),
        ).collect()
    }
    assert fps[1] & fps[2], "guaranteed shared fingerprint missing"
    pairs = winnow_pairs(df, k=4, w=4, min_shared=1, max_df=64).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}


def test_winnow_short_docs(spark):
    """Docs shorter than k tokens emit no fingerprints; docs with
    k <= len < k+w-1 tokens emit exactly one (min over all grams)."""
    from anndb_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e"), (3, "")],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: r["n_fingerprints"]
        for r in winnow_fingerprints(df, k=4, w=4).collect()
    }
    assert out == {1: 0, 2: 1, 3: 0}


def test_winnow_max_df_drops_boilerplate(spark):
    """A fingerprint present in more docs than max_df never pairs."""
    from anndb_spark.operators.dedup import winnow_pairs

    boiler = "same boiler plate line every doc has it"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(5)], "doc_id LONG, text STRING"
    )
    assert winnow_pairs(df, k=4, w=4, min_shared=1, max_df=4).count() == 0
    assert winnow_pairs(df, k=4, w=4, min_shared=1, max_df=5).count() == 10


def test_bm25_ranking_semantics(spark):
    """More matched query terms / higher tf => higher BM25; shorter
    doc beats longer at equal tf (length normalization)."""
    from anndb_spark.operators.text import bm25_search

    df = spark.createDataFrame(
        [
            (1, "vector stream filler filler filler"),
            (2, "vector filler filler filler filler"),
            (3, "vector filler filler filler filler filler filler filler"),
            (4, "nothing relevant here at all"),
        ],
        "doc_id LONG, text STRING",
    )
    out = bm25_search(df, ["vector", "stream"], k=10).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    nterms = {r["doc_id"]: r["n_terms"] for r in out}
    assert 4 not in ranks, "doc without query terms must not score"
    assert ranks[1] == 1 and nterms[1] == 2
    assert ranks[2] < ranks[3], "length normalization: shorter doc wins"


def test_bm25_requires_terms(spark):
    from anndb_spark.operators.text import bm25_search

    df = spark.createDataFrame([(1, "a")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError):
        bm25_search(df, [])


def test_remove_duplicate_spans_semantics(spark):
    """Positions under a corpus-duplicated n-gram are removed; unique
    text survives verbatim; fully-duplicated docs come back empty."""
    from anndb_spark.operators.dedup import remove_duplicate_spans

    boiler = "b1 b2 b3 b4"  # 4-gram shared by docs 1 and 2
    df = spark.createDataFrame(
        [
            (1, f"u1 u2 {boiler} u3"),
            (2, f"v1 {boiler} v2 v3"),
            (3, "all unique words here"),
            (4, boiler),
            (5, boiler),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r["id"]: r
        for r in remove_duplicate_spans(df, n=4, min_count=2).collect()
    }
    assert out[1]["text_clean"] == "u1 u2 u3"
    assert out[2]["text_clean"] == "v1 v2 v3"
    assert out[3]["text_clean"] == "all unique words here"
    assert out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "" and out[4]["n_removed"] == 4
    assert out[1]["n_tokens"] == 7 and out[1]["n_removed"] == 4


def test_remove_duplicate_spans_within_doc(spark):
    """A doc repeating its own n-gram min_count times is self-covered."""
    from anndb_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(1, "x y x y z"), (2, "p q r s t")], "doc_id LONG, text STRING"
    )
    out = {
        r["id"]: r
        for r in remove_duplicate_spans(df, n=2, min_count=2).collect()
    }
    # "x y" occurs at positions 1 and 3 -> positions 1-4 covered
    assert out[1]["text_clean"] == "z" and out[1]["n_removed"] == 4
    assert out[2]["n_removed"] == 0


def test_bigram_logprob_detects_word_salad(spark):
    """Two docs with IDENTICAL token multisets: the unigram LM ties
    them; the bigram LM must score the corpus-typical ordering higher
    than the scramble — the property that makes order-2 worth it."""
    from anndb_spark.operators.text import bigram_logprob, unigram_logprob

    fluent = "the quick brown fox jumps over the lazy dog"
    salad = "fox the over quick dog brown the jumps lazy"
    rows = [(i, fluent) for i in range(8)] + [(8, fluent), (9, salad)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    bi = {r["id"]: r["mean_logprob"] for r in bigram_logprob(df).collect()}
    uni = {r["id"]: r["mean_logprob"] for r in unigram_logprob(df).collect()}
    assert uni[8] == uni[9], "unigram must tie permutations"
    assert bi[8] > bi[9], "bigram must prefer the typical ordering"
    assert all(
        r["n_tokens"] == 9 for r in bigram_logprob(df).collect()
    )


def test_bigram_logprob_zip_lag_parity(spark):
    """The window-free token stream (prev built scan-side by
    transform-with-index, `text._bigram_stream`) must equal the
    lag-window stream (`tests.operator_oracle.bigram_stream_lag`) row
    for row — including single-token docs (null prev only), repeated
    tokens, empty text (one empty-string token) and null text
    (dropped).  The stream is the one intermediate where the two forms
    differ; the LM counts and the per-doc fold downstream of it are
    shared code."""
    import random

    from anndb_spark.operators.text import _bigram_stream, bigram_logprob
    from tests.operator_oracle import bigram_stream_lag

    rng = random.Random(1313)
    vocab = ["the", "a", "of", "fox", "dog", "x", ""]
    rows = [
        (100, ""),
        (101, "solo"),
        (102, "a a a a"),
        (103, None),
        (104, " leading and  doubled "),
    ]
    for i in range(50):
        rows.append(
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        )
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    cols = ["doc_id", "pos", "tok", "prev"]
    zs = sorted(map(tuple, _bigram_stream(df, "text", "doc_id").select(cols).collect()))
    ls = sorted(map(tuple, bigram_stream_lag(df).select(cols).collect()))
    assert zs == ls
    assert all(r[0] != 103 for r in zs)
    assert (100, 0, "", None) in zs and (101, 0, "solo", None) in zs
    out = {r["id"]: r["n_tokens"] for r in bigram_logprob(df).collect()}
    assert out == {k: sum(1 for r in zs if r[0] == k) for k in out}
    assert set(out) == {r[0] for r in zs}


def test_bm25_indexed_matches_direct(spark, tmp_path):
    """bm25_search_indexed over a write_bm25_index parquet index must
    be BIT-identical to bm25_search on the source corpus (shared
    scoring tail — same rounds, same fold order), including n_terms
    and tie-broken ranks."""
    from anndb_spark.operators.text import (
        bm25_search,
        bm25_search_indexed,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "idx")
    write_bm25_index(docs, d, buckets=8)
    direct = bm25_search(docs, ["batch", "merge", "vector"], k=15).collect()
    indexed = bm25_search_indexed(
        spark, d, ["batch", "merge", "vector"], k=15
    ).collect()
    assert direct == indexed and len(indexed) == 15
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_search_indexed(spark, d, [])


def test_bm25_indexed_legacy_index_without_dl(spark, tmp_path):
    """Readers must fall back to the doclens join for pre-r13 indexes
    whose postings lack the denormalized dl column — results identical
    to a fresh index (and to the scan form)."""
    from pyspark.sql import functions as F

    from anndb_spark.operators.text import (
        bm25_search_indexed,
        bm25_search_indexed_batch,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "idx")
    write_bm25_index(docs, d, buckets=8)
    fresh = bm25_search_indexed(
        spark, d, ["batch", "merge", "vector"], k=15
    ).collect()
    fresh_batch = bm25_search_indexed_batch(
        spark, d, [("p0", ["batch", "merge", "vector"])], k=15
    ).collect()
    # strip dl from the postings to simulate the pre-r13 layout
    legacy_posts = (
        spark.read.parquet(f"{d}/postings")
        .select("id", "term", "tf", "bucket")
        .collect()
    )
    d2 = str(tmp_path / "idx_legacy")
    write_bm25_index(docs, d2, buckets=8)  # doclens + stats
    import shutil

    shutil.rmtree(f"{d2}/postings")
    (
        spark.createDataFrame(
            legacy_posts, "id LONG, term STRING, tf LONG, bucket INT"
        )
        .repartition(8, "bucket")
        .sortWithinPartitions("term", "id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{d2}/postings")
    )
    legacy = bm25_search_indexed(
        spark, d2, ["batch", "merge", "vector"], k=15
    ).collect()
    legacy_batch = bm25_search_indexed_batch(
        spark, d2, [("p0", ["batch", "merge", "vector"])], k=15
    ).collect()
    assert legacy == fresh
    assert legacy_batch == fresh_batch


def test_bm25_batch_termdf_matches_query_time_aggregate(spark, tmp_path, monkeypatch):
    """r14: the batch reader's Spark regime takes per-term document
    frequency from the index's termdf table; results must be
    bit-identical to the legacy query-time aggregate (simulated by
    deleting the termdf directory), and a termdf-less index must still
    work.  (The driver regime counts each term's postings itself.)"""
    import shutil

    from anndb_spark.operators import _serve
    from anndb_spark.operators.text import (
        bm25_search_indexed,
        bm25_search_indexed_batch,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "idx")
    write_bm25_index(docs, d, buckets=8)
    monkeypatch.setattr(_serve.CACHE, "max_bytes", -1)  # the Spark regime
    probes = [
        ("p0", ["batch", "merge", "vector"]),
        ("p1", ["stream", "the"]),
        ("p2", ["nosuchterm_zzz"]),
    ]
    with_tdf = sorted(
        map(tuple, bm25_search_indexed_batch(spark, d, probes, k=15).collect())
    )
    shutil.rmtree(f"{d}/termdf")
    without_tdf = sorted(
        map(tuple, bm25_search_indexed_batch(spark, d, probes, k=15).collect())
    )
    assert with_tdf == without_tdf
    # the single-probe reader is a batch of one: the same fallback
    single = bm25_search_indexed(spark, d, ["batch", "merge"], k=15).collect()
    assert len(single) == 15


def test_bm25_indexed_batch_matches_per_probe(spark, tmp_path):
    """Each probe's slice of bm25_search_indexed_batch must be
    bit-identical to the single-probe bm25_search_indexed (a batch of
    one) — same scores, same n_terms, same tie-broken ranks: a probe's
    rows do not depend on the probes beside it."""
    from anndb_spark.operators.text import (
        bm25_search_indexed,
        bm25_search_indexed_batch,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "idx")
    write_bm25_index(docs, d, buckets=8)
    probes = [
        ("p0", ["batch", "merge", "vector"]),
        ("p1", ["vector", "window"]),          # overlaps p0 on 'vector'
        ("p2", ["stream"]),
        ("p3", ["zzz-no-such-term"]),          # empty result, not an error
    ]
    batch = bm25_search_indexed_batch(spark, d, probes, k=15).collect()
    by_probe: dict[str, list] = {}
    for r in batch:
        by_probe.setdefault(r["probe_id"], []).append(
            (r["doc_id"], r["rank"], r["score"], r["n_terms"])
        )
    for pid, terms in probes:
        single = [
            (r["doc_id"], r["rank"], r["score"], r["n_terms"])
            for r in bm25_search_indexed(spark, d, terms, k=15).collect()
        ]
        got = sorted(by_probe.get(pid, []), key=lambda t: t[1])
        assert got == single, pid
    assert by_probe.get("p3") is None

    with pytest.raises(ValueError, match="non-empty"):
        bm25_search_indexed_batch(spark, d, [])
    with pytest.raises(ValueError, match="no terms"):
        bm25_search_indexed_batch(spark, d, [("p", [])])
    with pytest.raises(ValueError, match="duplicate probe id"):
        bm25_search_indexed_batch(spark, d, [("p", ["a"]), ("p", ["b"])])
