"""Streaming query serving: `streaming.search` answers a query stream
against a saved index with values identical to the batch serving path,
exactly once across restarts (checkpointed file source) — the
reference's gRPC search stream (`services/search.go:20-46`) as a
Structured Streaming pipeline."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from anndb_spark.operators.hnsw import (
    HnswConfig,
    build_index,
    save_index,
    search_index_local,
    search_index_path,
)
from anndb_spark.streaming.search import (
    STREAM_QUERIES_DDL,
    stream_search,
    stream_search_transform,
)


def _saved_index(spark, tmp_path, n=400, dim=12, parts=3, seed=7):
    rng = np.random.default_rng(seed)
    rows = [
        (
            f"v{i:04d}",
            rng.normal(0, 1, dim).tolist(),
            {"g": str(i % 4)},
            i % parts,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows,
        "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>, "
        "partition_id INT",
    )
    cfg = HnswConfig(m=8, ef_construction=80)
    path = str(tmp_path / "idx")
    save_index(build_index(df, cfg), path)
    qs = [(str(i), rng.normal(0, 1, dim).tolist()) for i in range(30)]
    return path, cfg, qs


def _sorted_triples(rows):
    return sorted((r["query_id"], r["rank"], r["id"]) for r in rows)


def test_stream_transform_matches_batch_path(spark, tmp_path):
    path, cfg, qs = _saved_index(spark, tmp_path)
    qdf = spark.createDataFrame(qs, STREAM_QUERIES_DDL)
    got = stream_search_transform(
        qdf, path, 5, ef=60, config=cfg
    ).collect()
    want = search_index_path(
        spark, path, qs, 5, ef=60, config=cfg
    ).collect()
    assert _sorted_triples(got) == _sorted_triples(want)
    assert len(got) == 150


def test_stream_transform_metadata(spark, tmp_path):
    path, cfg, qs = _saved_index(spark, tmp_path)
    got = stream_search_transform(
        spark.createDataFrame(qs[:5], STREAM_QUERIES_DDL),
        path,
        3,
        ef=60,
        config=cfg,
        with_metadata=True,
    ).collect()
    assert len(got) == 15
    for r in got:
        assert r["metadata"]["g"] == str(int(r["id"][1:]) % 4)


def test_stream_transform_repeated_query_id_answers_each_row(spark, tmp_path):
    """A micro-batch that repeats a query_id answers each of its rows on
    its own: the transform's rows are the per-row `search_index_local`
    rows, ranks, score bits and metadata included.  Beam walks score
    each query alone, so the batch around a row cannot change its bits."""
    path, cfg, qs = _saved_index(spark, tmp_path)
    batch = [("q", qs[0][1]), ("q", qs[1][1]), ("r", qs[2][1])]
    got = stream_search_transform(
        spark.createDataFrame(batch, STREAM_QUERIES_DDL).coalesce(1),
        path, 4, ef=60, config=cfg, strategy="beam", with_metadata=True,
    ).collect()
    want = [
        r
        for qid, vec in batch
        for r in search_index_local(
            spark, path, [(qid, vec)], 4, ef=60, config=cfg,
            strategy="beam", with_metadata=True,
        ).to_pylist()
    ]

    def key(r):
        return (r["query_id"], r["rank"], r["id"], struct.pack("<f", r["score"]),
                sorted(dict(r["metadata"]).items()))

    assert len(got) == 12
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_stream_search_end_to_end_exactly_once(spark, tmp_path):
    path, cfg, qs = _saved_index(spark, tmp_path)
    qdir = str(tmp_path / "queries")
    rdir = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(qs[:10], STREAM_QUERIES_DDL).write.mode(
        "append"
    ).parquet(qdir)
    stream_search(
        spark, qdir, path, rdir, ckpt, 5, ef=60, config=cfg,
    ).awaitTermination(180)
    first = spark.read.parquet(rdir).collect()
    assert len(first) == 50
    want = search_index_path(
        spark, path, qs[:10], 5, ef=60, config=cfg
    ).collect()
    assert _sorted_triples(first) == _sorted_triples(want)

    # restart with the same checkpoint: only NEW query files answered
    spark.createDataFrame(qs[10:20], STREAM_QUERIES_DDL).write.mode(
        "append"
    ).parquet(qdir)
    stream_search(
        spark, qdir, path, rdir, ckpt, 5, ef=60, config=cfg,
    ).awaitTermination(180)
    both = spark.read.parquet(rdir).collect()
    assert len(both) == 100  # 50 + 50, no re-answers
    assert (
        len([r for r in both if int(r["query_id"]) < 10]) == 50
    )


def test_dataset_serve_stream_facade(spark, tmp_path):
    """Dataset.serve_stream answers query files from the dataset's own
    saved index with Dataset.search(mode='ann') values."""
    from anndb_spark.dataset import AnnDB

    db = AnnDB(spark, str(tmp_path / "db"))
    ds = db.create_dataset("svc", dimension=10, partition_count=2)
    rng = np.random.default_rng(19)
    rows = [
        (f"r{i:03d}", rng.normal(0, 1, 10).tolist(), None) for i in range(200)
    ]
    ds.insert(
        spark.createDataFrame(
            rows, "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>"
        )
    )
    ds.compact()
    with pytest.raises(ValueError, match="no saved index"):
        ds.serve_stream(
            str(tmp_path / "q"), str(tmp_path / "r"), str(tmp_path / "c"), 3
        )
    ds.build_index()

    qs = [(str(i), rows[i][1]) for i in range(8)]
    spark.createDataFrame(qs, STREAM_QUERIES_DDL).write.mode("append").parquet(
        str(tmp_path / "q")
    )
    ds.serve_stream(
        str(tmp_path / "q"), str(tmp_path / "r"), str(tmp_path / "c"), 3
    ).awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "r")).collect()
    assert len(got) == 24
    want = ds.search(qs, 3, mode="ann").collect()
    assert _sorted_triples(got) == _sorted_triples(want)
