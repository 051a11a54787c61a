"""Filesystem abstraction for the serving paths: plain paths and
file:// URIs must behave identically (the object-store seam)."""

from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from anndb_spark.sources import fsutil


def test_resolve_plain_and_uri(tmp_path):
    d = tmp_path / "x"
    d.mkdir()
    from pyarrow.fs import FileType

    for p in (str(d), f"file://{d}"):
        f, norm = fsutil.resolve_fs(p)
        assert f.get_file_info(norm).type == FileType.Directory


def test_resolve_unmountable_scheme_raises():
    with pytest.raises(ValueError, match="search_index"):
        fsutil.resolve_fs("nosuchscheme123://bucket/key")


def test_list_partition_values_and_join(tmp_path):
    """`list_parts`: one recursive listing gives the sorted partition
    values, the parquet files under each (checksums and markers left
    out), and `index_fingerprint`'s value."""
    for pid in (3, 0, 11):
        (tmp_path / f"partition_id={pid}").mkdir()
    (tmp_path / "partition_id=3" / "a.parquet").write_bytes(b"x" * 5)
    (tmp_path / "partition_id=3" / ".a.parquet.crc").write_bytes(b"c")
    (tmp_path / "partition_id=3" / "sub").mkdir()
    (tmp_path / "partition_id=3" / "sub" / "b.parquet").write_bytes(b"y" * 7)
    (tmp_path / "partition_id=11" / "c.parquet").write_bytes(b"z" * 2)
    (tmp_path / "partition_id=junk").mkdir()
    (tmp_path / "_SUCCESS").write_text("")
    for p in (str(tmp_path), f"file://{tmp_path}"):
        fp, part_files = fsutil.list_parts(p, "partition_id=")
        assert list(part_files) == [0, 3, 11]
        assert {k: sorted((i.base_name, i.size) for i in v) for k, v in part_files.items()} == {
            0: [], 3: [("a.parquet", 5), ("b.parquet", 7)], 11: [("c.parquet", 2)]
        }
        assert fp == fsutil.index_fingerprint(p) not in ("empty", "unknown")
    with pytest.raises(FileNotFoundError):
        fsutil.list_parts(str(tmp_path / "missing"), "partition_id=")
    assert fsutil.join("file:///a/b", "c=1") == "file:///a/b/c=1"
    assert fsutil.join("/a/b/", "c=1") == "/a/b/c=1"


def test_read_parquet_dir_and_schema(tmp_path):
    """A part reads whole; its footers give the schema, row count, null
    counts and maxima without reading data, once per file version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "cluster_id=0"
    part.mkdir()
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()), "v": ["a", "b"]}),
                   str(part / "part-0.parquet"))
    pq.write_table(pa.table({"id": pa.array([9], pa.int64()), "v": pa.array([None], pa.string())}),
                   str(part / "part-1.parquet"))
    for p in (str(tmp_path), f"file://{tmp_path}"):
        assert fsutil.read_parquet_dir(fsutil.join(p, "cluster_id=0")).num_rows == 3
        files = fsutil.list_parts(p, "cluster_id=")[1][0]
        metas = fsutil.footers(p, files)
        assert sum(md.num_rows for md in metas) == 3
        assert str(metas[0].schema.to_arrow_schema().field("id").type) == "int64"
        assert fsutil.column_stats(metas, "id") == (0, 9)
        assert fsutil.column_stats(metas, "v") == (1, "b")  # an all-null chunk has no max
        assert fsutil.footers(p, files)[0] is metas[0]  # memoized


def test_pointer_and_delete_helpers(tmp_path):
    """The Dataset's versioned-base helpers behave the same on plain
    paths and file:// URIs; missing paths are the only quiet case."""
    for p in (str(tmp_path / "a"), f"file://{tmp_path}/b"):
        ptr = fsutil.join(p, "CURRENT")
        assert not fsutil.exists(p)
        assert fsutil.child_names(p) == []
        assert fsutil.read_text(ptr) is None
        fsutil.delete_path(p)  # missing: no-op
        part = Path(p.removeprefix("file://")) / "1" / "partition_id=0"
        part.mkdir(parents=True)
        (part / "x.parquet").write_text("")
        fsutil.replace_text(ptr, "1")
        fsutil.replace_text(ptr, "2")
        assert fsutil.read_text(ptr) == "2"
        assert fsutil.child_names(p) == ["1", "CURRENT"]  # no CURRENT.tmp
        fsutil.delete_path(fsutil.join(p, "1"))
        assert fsutil.child_names(p) == ["CURRENT"]
        fsutil.delete_path(ptr)
        assert fsutil.exists(p) and fsutil.child_names(p) == []
        with pytest.raises(OSError):
            fsutil.read_text(p)  # a directory, not a missing file


def test_serving_paths_accept_file_uri(spark, tmp_path):
    """search_index_path and search_ivf_path must serve an index saved
    under a file:// URI — the layout a cluster actually deploys."""
    from anndb_spark.operators.hnsw import (
        HnswConfig,
        build_index,
        save_index,
        search_index,
        search_index_path,
    )
    from anndb_spark.operators.ivf import (
        assign_clusters,
        save_assigned,
        search_ivf,
        search_ivf_path,
        train_centroids,
    )

    rng = np.random.default_rng(9)
    n, dim = 400, 12
    rows = [
        (f"{i:032x}", rng.normal(0, 1, dim).tolist(), int(i % 4))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "id STRING, vector ARRAY<FLOAT>, partition_id INT"
    )
    cfg = HnswConfig(m=8, ef_construction=60)
    idx = build_index(df, cfg)
    local = str(tmp_path / "idx")
    save_index(idx, local)
    queries = [(str(i), rng.normal(0, 1, dim).tolist()) for i in range(12)]
    expect = {
        (r["query_id"], r["rank"]): r["id"]
        for r in search_index_path(
            spark, local, queries, 5, ef=40, config=cfg
        ).collect()
    }
    via_uri = {
        (r["query_id"], r["rank"]): r["id"]
        for r in search_index_path(
            spark, f"file://{local}", queries, 5, ef=40, config=cfg
        ).collect()
    }
    assert via_uri == expect and len(expect) == 60

    emb = df.select("id", "vector")
    cent = train_centroids(emb, 4, sample_n=1000)
    assigned = assign_clusters(emb, cent)
    ivf_local = str(tmp_path / "ivf")
    save_assigned(assigned, ivf_local)
    got_local = {
        (r["query_id"], r["rank"]): r["id"]
        for r in search_ivf_path(
            spark, ivf_local, queries, 5, cent, nprobe=4
        ).collect()
    }
    got_uri = {
        (r["query_id"], r["rank"]): r["id"]
        for r in search_ivf_path(
            spark, f"file://{ivf_local}", queries, 5, cent, nprobe=4
        ).collect()
    }
    assert got_uri == got_local and len(got_local) == 60
