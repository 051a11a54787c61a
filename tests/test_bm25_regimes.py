"""BM25 over a saved inverted index in its two regimes
(`text.bm25_search_indexed_batch`): the driver regime must return the
Spark regime's rows — (probe_id, doc_id, rank, score bits, n_terms) —
launch no Spark job, and step aside for the Spark plan exactly when the
touched buckets do not fit the cache budget, the batch fans out to more
(probe, posting) pairs than `text.LOCAL_FANOUT_MAX`, or the index
predates the denormalized ``dl`` column.

The Spark regime is forced by setting the driver's cache budget to -1."""

import shutil
import struct
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from anndb_spark.functions.xxhash import term_bucket
from anndb_spark.operators import _serve, text
from anndb_spark.operators.text import (
    _bucket_bytes,
    _spark_round,
    bm25_search_indexed,
    bm25_search_indexed_batch,
    write_bm25_index,
)
from anndb_spark.sources import fsutil

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "Beta", "béta"]
PROBES = [
    ("p0", ["alpha", "beta"]),
    ("p1", ["beta", "gamma", "beta"]),  # shares beta with p0; beta twice
    ("p2", ["nosuchterm"]),  # no hits
    ("p3", ["nosuchterm", "delta", "béta"]),  # one term no doc holds
    ("p4", ["theta"]),  # 3 hits, under k
    ("p5", ["eps", "zeta", "eta", "Beta", "alpha", "gamma"]),
]
K = 15


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"bm25-regimes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bm25 regime test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _key(row):
    return (
        row["probe_id"], row["doc_id"], row["rank"],
        struct.pack("<d", row["score"]), row["n_terms"],
    )


def _docs(spark, id_type: str):
    """90 documents over a 9-word vocabulary, every fifth a copy of its
    predecessor under another id (equal scores, ranked by id), and
    "theta" in three of them.  STRING ids ``d<i>`` order unlike their
    numbers (``d10`` < ``d9``)."""
    rng = np.random.default_rng(11)
    rows, text = [], ""
    for i in range(90):
        if i % 5 != 4:
            words = rng.choice(VOCAB, size=int(rng.integers(2, 12)))
            text = " ".join(words) + (" theta" if i in (2, 41, 77) else "")
        doc_id = f"d{i}" if id_type == "STRING" else (i * 37) % 101
        rows.append((doc_id, text))
    return spark.createDataFrame(rows, f"doc_id {id_type}, text STRING")


def _both(spark, monkeypatch, search):
    """Rows of ``search()`` in the driver regime (asserting a local
    relation and 0 jobs, search and collect), then in the forced Spark
    regime; both as sorted keys."""
    local, jobs = _jobs(spark, search)
    assert "LocalTableScan" in _plan(local) and "FileScan" not in _plan(local)
    rows_local, more = _jobs(spark, local.collect)
    assert jobs + more == 0
    with monkeypatch.context() as m:
        m.setattr(_serve.CACHE, "max_bytes", -1)
        plan = search()
        assert "FileScan" in _plan(plan)
        assert plan.schema == local.schema
        rows_plan = plan.collect()
    return sorted(map(_key, rows_local)), sorted(map(_key, rows_plan))


@pytest.mark.parametrize("termdf", [True, False], ids=["termdf", "no_termdf"])
@pytest.mark.parametrize("id_type", ["LONG", "STRING"])
def test_bm25_regimes_equal(spark, tmp_path, monkeypatch, id_type, termdf):
    d = str(tmp_path / "idx")
    write_bm25_index(_docs(spark, id_type), d, buckets=4)
    if not termdf:
        shutil.rmtree(f"{d}/termdf")
    local, plan = _both(
        spark, monkeypatch, lambda: bm25_search_indexed_batch(spark, d, PROBES, k=K)
    )
    assert local == plan
    by_probe: dict = {}
    for r in local:
        by_probe.setdefault(r[0], []).append(r)
    assert "p2" not in by_probe
    assert len(by_probe["p4"]) == 3
    assert len(by_probe["p0"]) == K
    # equal scores rank by ascending id
    scores = [r[3] for r in sorted(by_probe["p5"], key=lambda r: r[2])]
    assert len(set(scores)) < len(scores)
    # a batch of one is the single-probe search
    single = bm25_search_indexed(spark, d, PROBES[1][1], k=K).collect()
    assert sorted(
        ("p1", r["doc_id"], r["rank"], struct.pack("<d", r["score"]), r["n_terms"])
        for r in single
    ) == by_probe["p1"]


def test_bm25_spark_regime_job_count(spark, tmp_path, monkeypatch):
    """The Spark regime runs no job before scoring: stats via pyarrow,
    buckets hashed in the driver, postings and termdf read with the
    schema of a footer.  What is left is the scoring plan's own 6 jobs
    (under AQE).  A Spark read and collect of the stats and schema
    inference of the postings and termdf had added 5 jobs before
    scoring."""
    d = str(tmp_path / "idx")
    write_bm25_index(_docs(spark, "LONG"), d, buckets=4)
    monkeypatch.setattr(_serve.CACHE, "max_bytes", -1)
    df, planning = _jobs(spark, lambda: bm25_search_indexed_batch(spark, d, PROBES, k=K))
    assert planning == 0
    _, scoring = _jobs(spark, df.collect)
    assert scoring == 6


def test_bm25_legacy_index_takes_spark_regime(spark, tmp_path):
    """Postings without the denormalized ``dl`` column are scored by the
    Spark plan (its doclens join) — the same rows as a fresh index."""
    docs = _docs(spark, "LONG")
    d = str(tmp_path / "idx")
    write_bm25_index(docs, d, buckets=4)
    fresh = sorted(map(_key, bm25_search_indexed_batch(spark, d, PROBES, k=K).collect()))
    shutil.rmtree(f"{d}/postings")
    (
        docs.select(F.col("doc_id").alias("id"), F.explode(F.split("text", " ")).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(4)).cast("int"))
        .write.partitionBy("bucket")
        .parquet(f"{d}/postings")
    )
    legacy = bm25_search_indexed_batch(spark, d, PROBES, k=K)
    assert "FileScan" in _plan(legacy)
    assert sorted(map(_key, legacy.collect())) == fresh


@pytest.mark.parametrize("id_type", ["LONG", "STRING", "long STRING"])
def test_bm25_rule_bound_covers_cache(spark, tmp_path, monkeypatch, id_type):
    """The rule bounds the touched buckets' resident bytes from their
    footers (`_bucket_bytes`: column widths and uncompressed sizes); what
    the cold call leaves in `CACHE` is the held arrays' own ``nbytes``, at
    most that bound, ids of 70 bytes included.  A budget of exactly the
    bound keeps the batch in the driver while one byte less sends it to
    Spark."""
    docs = _docs(spark, id_type.split()[-1])
    if id_type == "long STRING":
        docs = docs.withColumn("doc_id", F.concat(F.lit("x" * 68), "doc_id"))
    d = str(tmp_path / "idx")
    write_bm25_index(docs, d, buckets=4)
    post = fsutil.join(d, "postings")
    _, files = fsutil.list_parts(post, "bucket=")
    touched = {term_bucket(t, 4) for t in VOCAB} & set(files)
    metas = {bk: fsutil.footers(post, files[bk]) for bk in touched}
    layout = next(iter(metas.values()))[0].schema.to_arrow_schema()
    bound = sum(_bucket_bytes(m, layout) for m in metas.values())
    probes = [("all", VOCAB)]
    monkeypatch.setattr(_serve, "CACHE", _serve.PartCache(bound))
    df = bm25_search_indexed_batch(spark, d, probes, k=K)
    assert "FileScan" not in _plan(df)
    entries = [e for (kind, _), e in _serve.CACHE.entries.items() if kind == "bm25"]
    held = sum(nb for _, _, nb in entries)
    assert held == sum(a.nbytes for _, value, _ in entries for a in value)
    assert 0 < held <= bound
    assert {key for kind, key in _serve.CACHE.entries} == {(d, bk) for bk in touched}
    _serve.CACHE.max_bytes = bound - 1
    assert "FileScan" in _plan(bm25_search_indexed_batch(spark, d, probes, k=K))


def test_bucket_bytes_declines_delta_encoded_chunks(tmp_path):
    """A delta-encoded term column can store a value in fewer bytes than
    Arrow holds it in, so its chunk size bounds nothing: `_bucket_bytes`
    declines the bucket (None), and sizes a dictionary-encoded one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "id": pa.array(range(200), pa.int64()),
        "term": [f"prefix-shared-by-all-{i:04d}" for i in range(200)],
        "tf": pa.array([1] * 200, pa.int64()),
        "dl": pa.array([7] * 200, pa.int64()),
    })
    sizes = []
    for name, opts in [
        ("dict.parquet", {}),
        ("delta.parquet", {"use_dictionary": False, "column_encoding": {"term": "DELTA_BYTE_ARRAY"}}),
    ]:
        pq.write_table(tbl, tmp_path / name, **opts)
        md = pq.read_metadata(tmp_path / name)
        sizes.append(_bucket_bytes([md], tbl.schema))
    assert sizes[0] >= 200 * (8 + 4 + 1 + 16) + tbl.column("term").nbytes
    assert sizes[1] is None


def test_bm25_fanout_over_cap_takes_spark_regime(spark, tmp_path, monkeypatch):
    """Many probes sharing a frequent term fit the byte budget yet fan out
    to one (probe, posting) pair per probe and posting of each of their
    terms: a batch of more pairs than `LOCAL_FANOUT_MAX` takes the Spark
    plan, a batch of exactly that many stays in the driver, and both
    return the same rows."""
    d = str(tmp_path / "idx")
    write_bm25_index(_docs(spark, "LONG"), d, buckets=4)
    post = fsutil.read_parquet_dir(fsutil.join(d, "postings"), columns=["term"])
    counts = post.group_by("term").aggregate([("term", "count")]).to_pydict()
    df_of = dict(zip(counts["term"], counts["term_count"]))
    probes = [(f"q{i}", ["alpha", VOCAB[i % len(VOCAB)]]) for i in range(60)]
    pairs = sum(df_of.get(t, 0) for _, terms in probes for t in set(terms))
    assert pairs > 60 * df_of["alpha"]

    def search():
        return bm25_search_indexed_batch(spark, d, probes, k=K)

    monkeypatch.setattr(text, "LOCAL_FANOUT_MAX", pairs)
    local, plan = _both(spark, monkeypatch, search)
    assert local == plan
    monkeypatch.setattr(text, "LOCAL_FANOUT_MAX", pairs - 1)
    over = search()
    assert "FileScan" in _plan(over)
    assert sorted(map(_key, over.collect())) == local


def test_bm25_rewritten_index_holds_only_live_version(spark, tmp_path, monkeypatch):
    """An index rewritten at the same path is read again (its postings'
    content fingerprint changed), and `CACHE` then holds only the live
    version's buckets."""
    d = str(tmp_path / "idx")
    docs = _docs(spark, "LONG")
    write_bm25_index(docs, d, buckets=4)
    bm25_search_indexed_batch(spark, d, PROBES, k=K).collect()
    old = {v for (kind, key), (v, _, _) in _serve.CACHE.entries.items() if key[0] == d}
    write_bm25_index(docs.filter(F.col("doc_id") % 3 != 0), d, buckets=4)
    local, plan = _both(
        spark, monkeypatch, lambda: bm25_search_indexed_batch(spark, d, PROBES, k=K)
    )
    assert local == plan
    live = fsutil.list_parts(fsutil.join(d, "postings"), "bucket=")[0]
    held = {v for (kind, key), (v, _, _) in _serve.CACHE.entries.items() if key[0] == d}
    assert len(old) == 1 and held == {live} and old != held


def test_spark_round_mirror_equals_f_round(spark):
    """`_spark_round` against ``F.round(x, 10)``, bit for bit, on 10⁵+
    doubles: uniform BM25-sized values, tiny and negative ones, exact
    11th-digit ties and their neighbours, zeros, NaN and infinities."""
    rng = np.random.default_rng(5)
    ties = np.array([
        float(f"{a}.{b:010d}5")
        for a, b in zip(rng.integers(0, 30, 20_000), rng.integers(0, 10**10, 20_000))
    ])
    x = np.concatenate([
        rng.uniform(0, 25, 50_000),
        rng.uniform(0, 1e-3, 10_000),
        np.exp(rng.uniform(-30, 5, 10_000)),
        -rng.uniform(0, 25, 5_000),
        ties,
        np.nextafter(ties[:5_000], 0),
        np.nextafter(ties[5_000:10_000], np.inf),
        -ties[:2_000],
        [0.0, -0.0, 5e-11, -5e-11, 4.9e-11, np.nan, np.inf, -np.inf, 2.0**-31, 2.0**-24],
    ])
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(x)], "i LONG, x DOUBLE")
    want = np.empty(len(x))
    for r in df.select("i", F.round("x", 10).alias("r")).collect():
        want[r["i"]] = r["r"]
    got = _spark_round(x, 10)
    bad = np.flatnonzero(got.view(np.int64) != want.view(np.int64))
    assert not len(bad), [(repr(x[i]), got[i], want[i]) for i in bad[:5]]
