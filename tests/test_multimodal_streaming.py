"""Multimodal plumbing + structured-streaming incremental maintenance."""

import time

import pytest
from pyspark.sql import functions as F

from anndb_spark.operators.multimodal import (
    extract_features,
    media_from_documents,
    resize_images,
    sample_frames,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    return media_from_documents(docs).cache()


def test_extract_features_shape_and_determinism(spark, media):
    f1 = extract_features(media, dim=16).collect()
    f2 = extract_features(media, dim=16, partitions=4).collect()
    assert len(f1) == 50
    assert all(len(r["feature"]) == 16 for r in f1)
    # deterministic across partitionings
    d1 = {r["media_id"]: r["feature"] for r in f1}
    d2 = {r["media_id"]: r["feature"] for r in f2}
    assert d1 == d2


def test_features_feed_vector_core(spark, media):
    from anndb_spark.operators.knn import knn_search

    feats = extract_features(media, dim=16).select(
        F.col("media_id").alias("id"), F.col("feature").alias("vector")
    )
    anchor = feats.limit(1).collect()[0]
    top = knn_search(feats, list(anchor["vector"]), 3).collect()
    assert top[0]["id"] == anchor["id"] and top[0]["score"] == 0.0


def test_resize_updates_meta(spark, media):
    out = resize_images(media, 32, 32).collect()
    assert all(r["meta"]["width"] == "32" and r["meta"]["height"] == "32" for r in out)
    assert all(len(r["content"]) == 1024 for r in out)


def test_sample_frames_video_only(spark, media):
    vids = media.withColumn("kind", F.lit("video"))
    frames = sample_frames(vids, every_n=5).collect()
    assert frames and all(r["frame_no"] % 5 == 0 for r in frames)
    assert all(len(r["frame"]) == 16 for r in frames)
    imgs = sample_frames(media, every_n=5).collect()  # kind=image → no frames
    assert imgs == []


def test_real_codec_raises(spark, media):
    with pytest.raises(NotImplementedError):
        extract_features(media, codec="real")


def test_stream_apply_changes(spark, tmp_path):
    from anndb_spark.streaming.changelog import stream_apply_changes

    changelog = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    ckpt = str(tmp_path / "ckpt")

    c1 = spark.createDataFrame(
        [(1, "a", "insert", [1.0], {"k": "1"}), (2, "b", "insert", [2.0], {})],
        "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>",
    )
    c1.write.mode("append").parquet(changelog)
    q = stream_apply_changes(spark, changelog, base, ckpt)
    q.awaitTermination(120)

    state1 = {r["id"]: r["vector"] for r in spark.read.parquet(base).collect()}
    assert state1 == {"a": [1.0], "b": [2.0]}

    # second increment: update + delete; only NEW files replay
    c2 = spark.createDataFrame(
        [(3, "a", "update", [9.0], {"k2": "2"}), (4, "b", "delete", None, None)],
        "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>",
    )
    c2.write.mode("append").parquet(changelog)
    q2 = stream_apply_changes(spark, changelog, base, ckpt)
    q2.awaitTermination(120)

    rows = spark.read.parquet(base).collect()
    state2 = {r["id"]: (r["vector"], dict(r["metadata"] or {})) for r in rows}
    assert state2 == {"a": ([9.0], {"k": "1", "k2": "2"})}


def test_windowed_event_counts_batch(spark):
    from anndb_spark.sources.tables import load_events
    from anndb_spark.streaming.changelog import windowed_event_counts

    ev = load_events(spark, SF)
    out = windowed_event_counts(ev)
    rows = out.collect()
    assert rows and sum(r["n_events"] for r in rows) == ev.count()


def test_stream_maintain_index_dirty_partitions_only(spark, tmp_path):
    import numpy as np

    from anndb_spark.operators.hnsw import HnswConfig, load_index, search_index
    from anndb_spark.streaming.changelog import stream_maintain_index

    changelog = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    rng = np.random.default_rng(9)
    dim, n = 8, 120

    rows = [
        (i, f"{i:032x}", "insert", rng.normal(0, 1, dim).tolist(), {})
        for i in range(n)
    ]
    spark.createDataFrame(
        rows,
        "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>",
    ).write.mode("append").parquet(changelog)

    cfg = HnswConfig(space="euclidean")
    q = stream_maintain_index(
        spark, changelog, base, index, ckpt, partition_count=4, config=cfg
    )
    q.awaitTermination(180)

    st = spark.read.parquet(base)
    assert st.count() == n
    idx1 = load_index(spark, index)
    parts1 = {r["partition_id"] for r in idx1.select("partition_id").distinct().collect()}
    assert parts1 == {0, 1, 2, 3}

    # search over the streamed index finds the anchor itself
    anchor = rows[5]
    res = search_index(idx1, st, [("q", anchor[3])], 5, config=cfg, strategy="beam")
    got = [r["id"] for r in res.orderBy("rank").collect()]
    assert anchor[1] in got and got[0] == anchor[1]

    # second batch touches one id → only its partition's index rewritten
    import os
    import time

    mtimes = {}
    for pid_dir in os.listdir(index):
        if pid_dir.startswith("partition_id="):
            p = os.path.join(index, pid_dir)
            mtimes[pid_dir] = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
    time.sleep(1.1)

    upd = [(n + 1, rows[5][1], "update", rng.normal(0, 1, dim).tolist(), {"u": "1"})]
    spark.createDataFrame(
        upd,
        "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>",
    ).write.mode("append").parquet(changelog)
    q2 = stream_maintain_index(
        spark, changelog, base, index, ckpt, partition_count=4, config=cfg
    )
    q2.awaitTermination(180)

    touched = []
    for pid_dir in mtimes:
        p = os.path.join(index, pid_dir)
        mt = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
        if mt > mtimes[pid_dir] + 0.5:
            touched.append(pid_dir)
    assert len(touched) == 1  # dynamic overwrite rewrote only the dirty partition

    # updated vector is searchable in the refreshed index
    st2 = spark.read.parquet(base)
    res2 = search_index(load_index(spark, index), st2, [("q", upd[0][3])], 3, config=cfg, strategy="beam")
    assert res2.orderBy("rank").collect()[0]["id"] == rows[5][1]


def test_stream_maintain_index_tombstone_deletes(spark, tmp_path):
    """Delete-only batches append tombstones instead of rebuilding the
    partition graph; once the cumulative tombstone fraction crosses the
    threshold the partition is rebuilt from compacted state (tombstones
    dropped).  Search never returns deleted ids either way."""
    import numpy as np

    from anndb_spark.operators.hnsw import HnswConfig, load_index, search_index
    from anndb_spark.streaming.changelog import stream_maintain_index

    changelog = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    rng = np.random.default_rng(31)
    dim, n = 8, 120
    ddl = "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>"

    # ids i:032x route by uuid_mod → partition i % 4; 30 rows/partition
    rows = [
        (i, f"{i:032x}", "insert", rng.normal(0, 1, dim).tolist(), {})
        for i in range(n)
    ]
    spark.createDataFrame(rows, ddl).write.mode("append").parquet(changelog)
    cfg = HnswConfig(space="euclidean")
    run = lambda: stream_maintain_index(  # noqa: E731
        spark, changelog, base, index, ckpt, partition_count=4, config=cfg,
        tombstone_rebuild_fraction=0.2,
    ).awaitTermination(180)
    run()

    # batch 2: delete 3 ids of partition 0 (3/30 = 10% < 20% → tombstones)
    del1 = [rows[i][1] for i in (0, 4, 8)]
    spark.createDataFrame(
        [(n + j, d, "delete", None, None) for j, d in enumerate(del1)], ddl
    ).write.mode("append").parquet(changelog)
    run()

    idx = load_index(spark, index)
    tombs = {r["src"] for r in idx.filter(F.col("kind") == "tomb").collect()}
    assert tombs == set(del1)
    # graph NOT rebuilt: deleted ids still present as vertices
    verts_p0 = {
        r["src"]
        for r in idx.filter(
            (F.col("kind") == "vertex") & (F.col("partition_id") == 0)
        ).collect()
    }
    assert set(del1) <= verts_p0 and len(verts_p0) == 30
    # base IS compacted (deletes applied)
    assert spark.read.parquet(base).count() == n - 3

    st = spark.read.parquet(base)
    anchor = rows[12]  # partition 0, not deleted
    res = search_index(idx, None, [("q", anchor[3])], 8, config=cfg, strategy="beam")
    got = [r["id"] for r in res.orderBy("rank").collect()]
    assert got[0] == anchor[1]
    assert not (set(got) & set(del1))

    # batch 3: 5 more partition-0 deletes → 8/30 = 27% > 20% → rebuild
    del2 = [rows[i][1] for i in (16, 20, 24, 28, 32)]
    spark.createDataFrame(
        [(n + 10 + j, d, "delete", None, None) for j, d in enumerate(del2)], ddl
    ).write.mode("append").parquet(changelog)
    run()

    idx2 = load_index(spark, index)
    assert idx2.filter(
        (F.col("kind") == "tomb") & (F.col("partition_id") == 0)
    ).count() == 0
    verts2_p0 = {
        r["src"]
        for r in idx2.filter(
            (F.col("kind") == "vertex") & (F.col("partition_id") == 0)
        ).collect()
    }
    assert verts2_p0 == verts_p0 - set(del1) - set(del2)
    res2 = search_index(idx2, None, [("q", anchor[3])], 8, config=cfg, strategy="beam")
    got2 = [r["id"] for r in res2.orderBy("rank").collect()]
    assert got2[0] == anchor[1]
    assert not (set(got2) & (set(del1) | set(del2)))


def test_stream_maintain_index_empty_partition_rebuild(spark, tmp_path):
    """Deleting EVERY item of a partition crosses the rebuild threshold,
    and the rebuild of a now-empty partition must replace its old graph
    directory (config-only marker row) — not leave the stale graph
    serving deleted items (ADVICE r4 medium)."""
    import numpy as np

    from anndb_spark.operators.hnsw import HnswConfig, load_index, search_index
    from anndb_spark.streaming.changelog import stream_maintain_index

    changelog = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    rng = np.random.default_rng(77)
    dim, n = 8, 80
    ddl = "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>"

    # ids i:032x route by uuid_mod → partition i % 4; 20 rows/partition
    rows = [
        (i, f"{i:032x}", "insert", rng.normal(0, 1, dim).tolist(), {})
        for i in range(n)
    ]
    spark.createDataFrame(rows, ddl).write.mode("append").parquet(changelog)
    cfg = HnswConfig(space="euclidean")
    run = lambda: stream_maintain_index(  # noqa: E731
        spark, changelog, base, index, ckpt, partition_count=4, config=cfg,
        tombstone_rebuild_fraction=0.2,
    ).awaitTermination(180)
    run()

    p0_ids = [r[1] for r in rows if int(r[1], 16) % 4 == 0]
    assert len(p0_ids) == 20
    spark.createDataFrame(
        [(n + j, d, "delete", None, None) for j, d in enumerate(p0_ids)], ddl
    ).write.mode("append").parquet(changelog)
    run()

    idx = load_index(spark, index)
    # partition 0's directory was REPLACED: no vertices, no tombstones
    p0 = idx.filter(F.col("partition_id") == 0)
    kinds = {r["kind"] for r in p0.collect()}
    assert kinds == {"config"}
    # search across the whole index (incl. the empty partition) works and
    # never returns a deleted id
    anchor = rows[1]  # partition 1, still present
    res = search_index(idx, None, [("q", anchor[3])], 10, config=cfg)
    got = [r["id"] for r in res.orderBy("rank").collect()]
    assert got and got[0] == anchor[1]
    assert not (set(got) & set(p0_ids))


def test_stream_maintain_index_insert_only_extends(spark, tmp_path, monkeypatch):
    """A small insert-only micro-batch must EXTEND the touched
    partition's existing graph (hnsw.extend_index — the reference's
    online Insert) instead of rebuilding it; results match what a full
    rebuild would serve."""
    import numpy as np

    import anndb_spark.streaming.changelog as chlog
    from anndb_spark.operators import hnsw as H
    from anndb_spark.operators.hnsw import HnswConfig, load_index, search_index
    from anndb_spark.streaming.changelog import stream_maintain_index

    changelog = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    rng = np.random.default_rng(55)
    dim, n = 8, 160
    ddl = "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>"

    rows = [
        (i, f"{i:032x}", "insert", rng.normal(0, 1, dim).tolist(), {"s": str(i)})
        for i in range(n)
    ]
    spark.createDataFrame(rows, ddl).write.mode("append").parquet(changelog)
    cfg = HnswConfig(space="euclidean")
    run = lambda: stream_maintain_index(  # noqa: E731
        spark, changelog, base, index, ckpt, partition_count=4, config=cfg,
        extend_max_fraction=0.1,
    ).awaitTermination(180)
    run()

    # batch 2: 2 new ids, both partition 0 (2/40 = 5% < 10% → extend).
    # build_index must NOT run — only extend_index.
    new = [
        (n + j, f"{(n + 4 * j):032x}", "insert",
         rng.normal(0, 1, dim).tolist(), {"s": "new"})
        for j in range(2)
    ]
    assert all(int(r[1], 16) % 4 == 0 for r in new)
    spark.createDataFrame(new, ddl).write.mode("append").parquet(changelog)

    def boom(*a, **k):
        raise AssertionError("build_index ran for an insert-only small batch")

    monkeypatch.setattr(H, "build_index", boom)
    assert chlog is not None  # module import exercised; patch via hnsw
    run()

    idx = load_index(spark, index)
    verts_p0 = {
        r["src"]
        for r in idx.filter(
            (F.col("kind") == "vertex") & (F.col("partition_id") == 0)
        ).collect()
    }
    assert {r[1] for r in new} <= verts_p0 and len(verts_p0) == 42
    # metadata rides the extension
    meta_rows = {
        r["src"]: r["meta"]
        for r in idx.filter(
            (F.col("kind") == "vertex") & (F.col("src") == new[0][1])
        ).collect()
    }
    assert meta_rows[new[0][1]]["s"] == "new"
    # the new vector is immediately searchable at rank 1, and old
    # anchors still resolve
    for probe in (new[0], rows[4]):
        res = search_index(idx, None, [("q", probe[3])], 3, config=cfg)
        assert res.orderBy("rank").collect()[0]["id"] == probe[1]


def test_insert_many_extends_loaded_graph_kernel():
    """Kernel-level online insert: a reconstructed-and-thawed graph
    accepts new vectors and serves them with parity to a fresh build's
    exact results."""
    import numpy as np

    from anndb_spark.operators.hnsw import HnswConfig, HnswGraph

    rng = np.random.default_rng(66)
    n, dim = 1200, 12
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    cfg = HnswConfig(m=8, ef_construction=80, heuristic=True)
    lr = np.random.default_rng(2)
    levels = np.floor(
        -np.log(np.clip(lr.random(n), 1e-12, 1 - 1e-12)) * cfg.level_multiplier
    ).astype(int).tolist()
    g = HnswGraph.build(mat, levels[:1000], cfg) if False else HnswGraph.build(
        mat[:1000], levels[:1000], cfg
    )
    g.finalize()
    g.thaw_adjacency()
    g.insert_many(mat[1000:], levels[1000:])
    assert len(g.levels) == n
    g.finalize()
    q = mat[1100]
    res = g.search_fast_batch(q.reshape(1, -1), 5, 60)[0][0]
    assert res[0] == 1100  # the freshly inserted vector finds itself
    truth = g.search_brute(q.reshape(1, -1), 5)[0][0]
    assert set(res.tolist()) == set(truth.tolist())


def test_stream_maintain_ivfpq(spark, tmp_path):
    """Insert → append to cells; update → old cell rewritten, new row
    re-routed; delete → gone.  Search results track each micro-batch."""
    import numpy as np
    from pyspark.sql import functions as F

    from anndb_spark.operators.ivfpq import build_ivfpq, search_ivfpq
    from anndb_spark.streaming.changelog import stream_maintain_ivfpq

    rng = np.random.default_rng(6)
    centers = rng.normal(0, 1, (4, 16)).astype(np.float32)
    mat = centers[np.arange(200) % 4] + rng.normal(0, 0.05, (200, 16)).astype(
        np.float32
    )
    rows = [(f"v{i}", mat[i].astype(float).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "id string, vector array<float>")
    path = str(tmp_path / "ivfpq")
    build_ivfpq(df, path, n_cells=4, m=4, n_centroids=16, sample_n=200)

    changelog = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")
    far = (centers[0] * 10).astype(np.float32)  # distinct probe target
    c1 = spark.createDataFrame(
        [
            (1, "new0", "insert", (far + 0.01).astype(float).tolist(), None),
            (2, "v3", "delete", None, None),
        ],
        "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, "
        "metadata MAP<STRING,STRING>",
    )
    c1.write.mode("append").parquet(changelog)
    stream_maintain_ivfpq(spark, changelog, path, ckpt).awaitTermination(120)

    codes = spark.read.parquet(f"{path}/codes")
    ids = {r["id"] for r in codes.select("id").collect()}
    assert "new0" in ids and "v3" not in ids and len(ids) == 200

    got = [
        r["id"]
        for r in search_ivfpq(
            spark, path, [("q", far.astype(float).tolist())], k=1, nprobe=4
        ).collect()
    ]
    assert got == ["new0"]

    # update moves new0 near a different center: it must leave its old
    # cell and be found at the new location
    far2 = (centers[1] * 10).astype(np.float32)
    c2 = spark.createDataFrame(
        [(3, "new0", "update", (far2 + 0.01).astype(float).tolist(), None)],
        "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, "
        "metadata MAP<STRING,STRING>",
    )
    c2.write.mode("append").parquet(changelog)
    stream_maintain_ivfpq(spark, changelog, path, ckpt).awaitTermination(120)
    codes2 = spark.read.parquet(f"{path}/codes")
    assert codes2.filter(F.col("id") == "new0").count() == 1
    got2 = [
        r["id"]
        for r in search_ivfpq(
            spark, path, [("q", far2.astype(float).tolist())], k=1, nprobe=4
        ).collect()
    ]
    assert got2 == ["new0"]

    # the idmap sidecar stayed consistent through insert/delete/update:
    # exactly one row per live id, mapping to the id's CURRENT cell
    side = {
        r["id"]: r["cluster_id"]
        for r in spark.read.parquet(f"{path}/idmap").collect()
    }
    cmap = {
        r["id"]: r["cluster_id"]
        for r in codes2.select("id", "cluster_id").collect()
    }
    assert side == cmap and "v3" not in side
    assert spark.read.parquet(f"{path}/idmap").count() == len(side)
