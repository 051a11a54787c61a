"""Physical-plan regression tests: pin the scale properties PLANS.md
claims (shuffle counts, pushed filters, broadcast sides) so a future
refactor can't silently turn a one-shuffle operator into a three-
shuffle one."""

import io
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from anndb_spark.session import get_spark

    return get_spark()


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchanges(plan: str) -> int:
    # count shuffle exchanges only (broadcasts are fine and wanted);
    # formatted output prints each node in the tree AND a detail
    # section, so count only the "(N) Exchange" detail headers
    import re

    return sum(
        1
        for line in plan.splitlines()
        if re.match(r"^\(\d+\) Exchange", line.strip())
        and "Broadcast" not in line
        and "Reused" not in line
    )


def test_asof_join_one_shuffle_pushed_filters(spark):
    from anndb_spark.operators.temporal import asof_join
    from anndb_spark.sources.tables import load_events

    ev = load_events(spark, SF)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    plan = _plan(asof_join(left, right, on="ts", by="user_id"))
    assert _exchanges(plan) == 1  # the union trick's single key shuffle
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_sampling_ops_are_shuffle_free(spark):
    from anndb_spark.operators.curation import mixture_sample
    from anndb_spark.operators.sampling import hash_sample, hash_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert _exchanges(_plan(hash_sample(docs, 0.2, salt="t"))) == 0
    assert _exchanges(_plan(hash_split(docs, [0.8, 0.2], ["a", "b"]))) == 0
    assert _exchanges(_plan(mixture_sample(docs, {"src0": 0.5}))) == 0


def test_token_stream_offsets_one_window_shuffle(spark):
    from anndb_spark.operators.text import token_stream_offsets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(token_stream_offsets(docs, seq_len=512))
    assert _exchanges(plan) == 1  # per-bucket cumulative window only


def test_decontaminate_corpus_side_never_shuffles(spark):
    from anndb_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    # default r13 "fast" form: benchmark grams collected once into a
    # plain broadcast set, per-doc intersection in one Arrow kernel —
    # the corpus is read once with ZERO shuffles and no gram join
    # (the one allowed exchange is ensure_parallelism's round-robin
    # repartition of the degenerate 1-partition sf0.001 scan — never a
    # key shuffle, and a no-op at real scale)
    plan = _plan(decontaminate(corpus, bench, n=4))
    assert "MapInPandas" in plan
    assert _exchanges(plan) <= 1
    assert "hashpartitioning" not in plan
    # relational "expr" form keeps the pre-r13 shape: gram match via
    # broadcast join (never shuffles the corpus); the only shuffles are
    # the per-doc hit-count agg + the final id left join
    plan = _plan(decontaminate(corpus, bench, n=4, kernel="expr"))
    assert "BroadcastHashJoin" in plan
    assert _exchanges(plan) <= 3


def test_knn_exact_broadcasts_queries(spark):
    """The query side rides the kernel's task closure: the plan is the
    vectors scan → MapInArrow (per-task top-k) → the (score, id)
    window, with no cross join and no Exchange below the Python node —
    the big side never shuffles."""
    from anndb_spark.sources.tables import lineitem_vec

    vecs = lineitem_vec(spark, SF)
    from anndb_spark.operators.knn import knn_exact

    qdf = spark.createDataFrame(
        [("q0", [1.0] * 8)], "query_id STRING, query_vector ARRAY<DOUBLE>"
    )
    plan = _plan(knn_exact(vecs, qdf, k=5, space="euclidean"))
    tree = plan.split("\n\n", 1)[0].splitlines()
    at = next(i for i, line in enumerate(tree) if "MapInArrow" in line)
    assert any("Window " in line for line in tree[:at]), plan
    below = tree[at + 1:]
    assert any("Scan parquet" in line for line in below), plan
    assert not any("Exchange" in line for line in below), plan
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The whole point of the bucketed encoding: Catalyst must plan a
    hash equi-join on (key, bucket), never BroadcastNestedLoopJoin
    (which is what a bare time-range predicate produces)."""
    from anndb_spark.operators.temporal import range_join
    from anndb_spark.sources.tables import load_events

    ev = load_events(spark, SF)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    plan = _plan(
        range_join(clicks, purchases, on="ts", by="user_id",
                   lower_seconds=0, upper_seconds=600)
    )
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    # event_type filters reach the parquet scan
    assert plan.count("PushedFilters: [IsNotNull(event_type)") >= 1


def test_duplicate_span_coverage_no_text_on_shuffles(spark):
    """Gram hashing happens before any exchange: no shuffle carries
    the text column, and the plan has exactly the three wide stages
    the docstring claims (gram count, coverage distinct, final agg)."""
    from anndb_spark.operators.dedup import duplicate_span_coverage

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(duplicate_span_coverage(docs, n=8))
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "text" not in line, line
    assert _exchanges(plan) <= 5, plan  # AQE may split but never balloon


def test_funnel_stage_joins_are_equi_joins(spark):
    from anndb_spark.operators.temporal import funnel
    from anndb_spark.sources.tables import load_events

    plan = _plan(funnel(load_events(spark, SF), ["view", "click", "purchase"]))
    assert "NestedLoop" not in plan, plan
    # every stage's event-type filter reaches the scan
    assert "PushedFilters" in plan


def test_knn_binary_plan_constant_in_query_count(spark):
    """The batched hamming search: ONE candidate shuffle + the rerank
    join, whatever the batch size.  A 64-query batch must produce the
    same exchange count (and a same-order plan size) as a 2-query
    batch — the r8 per-query orderBy/limit union made plan size
    O(n_queries) and the analyzer the bottleneck at 1k queries."""
    from pyspark.sql import functions as F

    from anndb_spark.operators.knn import knn_binary

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qs_small = [(i, [float((i * 7 + j) % 5 - 2) for j in range(64)])
                for i in range(2)]
    qs_big = [(i, [float((i * 7 + j) % 5 - 2) for j in range(64)])
              for i in range(64)]
    p_small = _plan(knn_binary(emb, qs_small, k=5, dim=64))
    p_big = _plan(knn_binary(emb, qs_big, k=5, dim=64))
    assert _exchanges(p_big) == _exchanges(p_small)
    assert _exchanges(p_big) <= 3, p_big
    # plan text grows only by the literal query rows, not by plan nodes
    assert p_big.count("Window") == p_small.count("Window")
    assert p_big.count("Union") == 0 and p_small.count("Union") == 0
    # signature scan never carries the float vectors across the shuffle
    for line in p_big.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "vector#" not in line, line
    # the wide (dim > 64, ARRAY<BIGINT> word) path keeps the exact same
    # shape: one candidate shuffle, no unions, no vectors on exchanges
    qs_wide = [(i, [float((i * 7 + j) % 5 - 2) for j in range(96)])
               for i in range(64)]
    p_wide = _plan(knn_binary(emb.withColumn(
        "vector", F.concat("vector", F.slice("vector", 1, 32))
    ), qs_wide, k=5, dim=96))
    assert _exchanges(p_wide) == _exchanges(p_small), p_wide
    assert p_wide.count("Union") == 0
    assert p_wide.count("Window") == p_small.count("Window")
    for line in p_wide.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "vector#" not in line, line


def test_knn_binary_validates_inputs(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from anndb_spark.operators.knn import knn_binary

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    with _pytest.raises(ValueError, match="non-empty"):
        knn_binary(emb, [], k=5, dim=64)
    with _pytest.raises(ValueError, match="dims"):
        knn_binary(emb, [(0, [1.0] * 32)], k=5, dim=64)
    with _pytest.raises(ValueError, match="positive"):
        knn_binary(emb, [(0, [1.0] * 64)], k=5, dim=0)


def test_canonicalize_corpus_never_shuffles_corpus(spark):
    """Corpus dedup materialization: the only shuffle ranks cluster
    MEMBERS (ids + prefer column); the full corpus rows reach the
    output through broadcast joins only — no exchange ever carries
    the text column."""
    from pyspark.sql import functions as F

    from anndb_spark.operators.dedup import canonicalize_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clusters = spark.createDataFrame(
        [(1, 0), (3, 0), (7, 5)], "id LONG, cluster_id LONG"
    )
    out = canonicalize_corpus(docs, clusters)
    plan = _plan(out)
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "text" not in line, line
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    # semantics: loser of each cluster dropped, everything else kept
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    n = docs.count()
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in docs.filter(F.col("doc_id").isin([1, 3, 7]))
        .select("doc_id", "n_chars")
        .collect()
    }
    rep_0 = max((1, 3), key=lambda i: (chars[i], -i))
    assert rep_0 in kept and ({1, 3} - {rep_0}) & kept == set()
    assert 7 in kept  # single-member cluster keeps its only member
    assert len(kept) == n - 1


def test_canonicalize_corpus_gates_broadcast_above_threshold(spark):
    """Above broadcast_threshold the cluster map / losers joins must NOT
    carry a forced broadcast hint (web-corpus near-dup rates make losers
    O(corpus) ids — a forced broadcast OOMs at scale).  With the hint
    absent and auto-broadcast disabled, Catalyst falls back to shuffled
    joins; results are identical to the small regime."""
    from anndb_spark.operators.dedup import canonicalize_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clusters = spark.createDataFrame(
        [(1, 0), (3, 0), (7, 5)], "id LONG, cluster_id LONG"
    )
    small = canonicalize_corpus(docs, clusters)
    gated = canonicalize_corpus(docs, clusters, broadcast_threshold=0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(gated)
        assert "BroadcastHashJoin" not in plan and (
            "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        ), plan
        # the extra shuffles still carry only id/prefer columns
        for line in plan.splitlines():
            if "Exchange" in line and "Broadcast" not in line:
                assert "text" not in line, line
        assert {r["doc_id"] for r in gated.select("doc_id").collect()} == {
            r["doc_id"] for r in small.select("doc_id").collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # small regime unchanged: both joins still broadcast
    p_small = _plan(small)
    assert p_small.count("BroadcastHashJoin") + p_small.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_market_share_broadcasts_dimensions(spark):
    """The Q8-style join chain must broadcast every dimension side —
    the fact scan reaches the partial agg without a pre-join shuffle;
    only the rollup and the per-year window exchange."""
    import __spark_entry__ as entry

    plan = _plan(entry._market_share_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert _exchanges(plan) <= 2, plan


def test_minhash_incremental_ids_only_shuffles(spark):
    """Incremental-ingest dedup: the band join is a hash equi-join on
    (band, val) — never a nested loop — and document text never rides
    an exchange (the candidates-only shingle-fetch discipline)."""
    from anndb_spark.operators.dedup import minhash_incremental_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4"
    plan = _plan(
        minhash_incremental_pairs(docs.filter(is_new), docs.filter(~is_new))
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "text" not in line, line


def test_winnow_pairs_ids_only_shuffles(spark):
    """Winnow pairs: the sketch is computed per-row (no shuffle); the
    inverted-index self-join is a hash equi-join on the fingerprint;
    document text never rides an exchange."""
    from anndb_spark.operators.dedup import winnow_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(winnow_pairs(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "text" not in line, line


def test_bm25_topk_is_take_ordered(spark):
    """BM25 global top-k must be TakeOrderedAndProject (partial
    per-partition top-k, final merge) — never a single-reducer
    row_number window over the whole scored corpus."""
    from anndb_spark.operators.text import bm25_search

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_search(docs, ["batch", "merge"], k=20))
    assert "TakeOrderedAndProject" in plan


def test_bm25_df_no_window_over_term_single_tokenize(spark):
    """Per-term document frequency must never be a window partitioned
    by term (VERDICT r10 wrong #1: every (doc, term) row of a frequent
    query term lands on ONE task, and AQE cannot skew-split a window
    partition) — it is a <=|terms|-row groupBy(term) aggregate joined
    back.  And the corpus must tokenize exactly once: tf is
    localCheckpoint-ed, so the executed plan contains NO explode at
    all (the only window left is the rank over the k survivors)."""
    from anndb_spark.operators.text import bm25_search

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = bm25_search(docs, ["batch", "merge", "vector"], k=10)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("explode") == 0, "corpus tokenized in main plan"
    for line in final.splitlines():
        if "Window" in line:
            assert "term" not in line, f"window over term: {line}"


def test_bm25_large_term_set_bounded_plan(spark):
    """Decontamination-by-retrieval probes carry thousands of terms;
    above ``pivot_max_terms`` scoring must switch to the sorted-fold
    aggregate so the plan does not grow one aggregate column per term.
    Pin: 1000 terms builds + plans in bounded time, no per-term max()
    pivot columns in the aggregate, and the fold path is bit-identical
    to the pivot on a shared small query."""
    import time

    from anndb_spark.operators.text import bm25_search

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    terms = [f"zz{i:04d}" for i in range(998)] + ["batch", "merge"]
    t0 = time.monotonic()
    df = bm25_search(docs, terms, k=5)
    plan = _plan(df)
    assert time.monotonic() - t0 < 60, "1k-term plan build too slow"
    assert plan.count("partial_max") == 0, "pivot used above the cap"
    # fold path == pivot path bit-exactly on the same query
    q = ["batch", "merge", "vector", "window"]
    pivot = bm25_search(docs, q, k=10).collect()
    fold = bm25_search(docs, q, k=10, pivot_max_terms=2).collect()
    assert pivot == fold


def test_winnow_selfjoin_reuses_sketch_stage(spark):
    """Big-data regime (SMJ, no broadcast): the fingerprint sketch
    must appear at most TWICE in the final plan (once per self-join
    side) — the groupBy+semi-join df-cap shape executed it FOUR times
    (cap aggregation + semi-join sides never canonical-match; PLANS
    r10).  AQE can further unify the two sides into one shuffle stage
    when they canonicalize equal (observed with a pre-partitioned
    persisted source), but that unification is configuration-dependent,
    so this test pins only the guaranteed 2x bound."""
    import re

    from anndb_spark.operators.dedup import winnow_pairs

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    src = spark.read.parquet(f"{SF}/documents.parquet").persist()
    try:
        df = winnow_pairs(src)
        df.collect()  # count() spawns a separate QueryExecution; only
        # executing THIS df finalizes its own adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan.splitlines()[0]
        # AdaptiveSparkPlan's toString prints the Initial Plan below
        # the Final Plan — count only the final section
        final = plan.split("== Initial Plan ==")[0]
        n_sketch = final.count("array_min(slice(")
        assert 1 <= n_sketch <= 2, (
            f"fingerprint sketch appears {n_sketch}x in the final plan"
        )
    finally:
        src.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
            )


def test_bm25_indexed_prunes_buckets_and_pushes_terms(spark, tmp_path, monkeypatch):
    """The inverted-index read of the Spark regime (forced here: a tiny
    index is answered in the driver) must touch only the query terms'
    buckets (PartitionFilters on the bucket IN-list) and push the term
    IN-list into the parquet scan (row-group min/max skipping inside a
    bucket — postings are written term-sorted).  Without both, the
    'index' degenerates to a corpus-wide postings scan per query."""
    from anndb_spark.operators import _serve
    from anndb_spark.operators.text import (
        bm25_search_indexed,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "idx")
    write_bm25_index(docs, d, buckets=16)
    monkeypatch.setattr(_serve.CACHE, "max_bytes", -1)
    df = bm25_search_indexed(spark, d, ["batch", "merge"], k=5)
    plan = _plan(df)
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    pruned = [f for f in pf if "bucket" in f and " IN " in f]
    assert pruned, f"no bucket IN partition filter: {pf}"
    assert "In(term, [batch,merge])" in plan, "term IN-list not pushed"


def test_bm25_indexed_batch_plan_shape(spark, tmp_path, monkeypatch):
    """The batched probe form's Spark regime (forced here: a tiny index
    is answered in the driver): (1) a small batch's bucket IN-list and
    term IN-list reach the postings scan (same pruning as the
    single-probe form); (2) a batch covering most buckets SKIPS the
    bucket IN-list (pruning buys nothing, the plan must not bloat);
    (3) the per-probe rank-filter plans as WindowGroupLimit — partial
    per-partition top-k per probe, never all of a probe's postings on
    one reducer."""
    import re

    from anndb_spark.operators import _serve
    from anndb_spark.operators.text import (
        bm25_search_indexed_batch,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "idx")
    write_bm25_index(docs, d, buckets=16)
    monkeypatch.setattr(_serve.CACHE, "max_bytes", -1)
    small = bm25_search_indexed_batch(
        spark, d, [("p0", ["batch", "merge"])], k=5
    )
    plan = _plan(small)
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("bucket" in f and " IN " in f for f in pf), pf
    assert "In(term, [batch,merge])" in plan
    assert "WindowGroupLimit" in plan

    # a batch whose terms land in > prune_buckets_frac of the buckets:
    # the literal bucket IN-list must be absent from the scan
    wide_terms = [f"t{i}" for i in range(200)]
    wide = bm25_search_indexed_batch(
        spark, d, [("p0", wide_terms)], k=5, prune_buckets_frac=0.25,
        term_inlist_max=8,
    )
    plan_w = _plan(wide)
    pf_w = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan_w)
    assert not any("bucket" in f and " IN " in f for f in pf_w), pf_w


def test_saved_index_servers_scatter_then_one_merge_shuffle(spark, tmp_path, monkeypatch):
    """The saved-index servers share one scatter/gather shape: a
    shuffle-free ``parallelize`` plan scan feeding ONE MapInArrow (each
    task reads its own index part from storage), then exactly one
    shuffle — the merge's hashpartitioning(query_id).  Index bytes never
    cross a shuffle.  HNSW and IVF take that shape when the driver
    regime declines (here: a cache budget below every part); by default
    a tiny index is answered in the driver — one LocalTableScan, no
    exchange."""
    import re

    import numpy as np

    from anndb_spark.operators import _serve
    from anndb_spark.operators.hnsw import (
        HnswConfig,
        build_index,
        save_index,
        search_index_path,
    )
    from anndb_spark.operators.ivf import (
        assign_clusters,
        save_assigned,
        search_ivf_path,
        train_centroids,
    )
    from anndb_spark.operators.ivfpq import build_ivfpq, search_ivfpq

    rng = np.random.default_rng(17)
    rows = [(f"v{i}", rng.normal(0, 1, 8).tolist(), i % 4) for i in range(240)]
    df = spark.createDataFrame(rows, "id STRING, vector ARRAY<FLOAT>, partition_id INT")
    vecs = df.drop("partition_id")
    queries = [(f"q{i}", rng.normal(0, 1, 8).tolist()) for i in range(10)]
    hnsw_dir, ivf_dir, pq_dir = (str(tmp_path / n) for n in ("hnsw", "ivf", "ivfpq"))
    save_index(build_index(df, HnswConfig(m=4, ef_construction=16)), hnsw_dir)
    cent = train_centroids(vecs, 3, seed=3)
    save_assigned(assign_clusters(vecs, cent), ivf_dir)
    build_ivfpq(vecs, pq_dir, n_cells=3, m=2, n_centroids=16, sample_n=240)

    local = {
        "search_index_path": search_index_path(spark, hnsw_dir, queries, 5),
        "search_ivf_path": search_ivf_path(
            spark, ivf_dir, queries, 5, cent, nprobe=2),
    }
    for name, res in local.items():
        plan = _plan(res)
        tree = plan.split("\n\n(1)")[0]
        assert tree.strip().splitlines()[-1].strip().startswith("LocalTableScan"), (name, plan)
        assert tree.count("LocalTableScan") == 1, (name, plan)
        assert _exchanges(plan) == 0, (name, plan)
        assert "MapInArrow" not in tree, (name, plan)

    monkeypatch.setattr(_serve.CACHE, "max_bytes", -1)
    servers = {
        "search_index_path": search_index_path(spark, hnsw_dir, queries, 5),
        "search_ivf_path": search_ivf_path(spark, ivf_dir, queries, 5, cent, nprobe=2),
        "search_ivfpq": search_ivfpq(spark, pq_dir, queries, k=5, nprobe=2),
    }
    for name, res in servers.items():
        plan = _plan(res)
        tree = plan.split("\n\n(1)")[0]
        assert tree.count("MapInArrow") == 1, (name, plan)
        assert "Scan ExistingRDD" in tree, (name, plan)
        assert "FileScan" not in tree, (name, plan)  # index parts are read in-task
        assert _exchanges(plan) == 1, (name, plan)
        shuffles = re.findall(r"hashpartitioning\(([a-z_]+)#", plan)
        assert set(shuffles) == {"query_id"}, (name, shuffles)
