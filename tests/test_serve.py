"""The shared saved-index serving pieces (`operators/_serve.py`)."""

import pickle

import numpy as np

from anndb_spark.operators._serve import PartCache, query_chunks, route


def test_part_cache_lru_by_bytes_and_kind():
    cache = PartCache(max_bytes=100)
    cache.put("ivf", ("p", 0), "v", "a", 40)
    cache.put("ivf", ("p", 1), "v", "b", 40)
    # a get refreshes recency: the next eviction takes part 1, not 0
    assert cache.get("ivf", ("p", 0), "v") == "a"
    cache.put("ivf", ("p", 2), "v", "c", 40)  # 120 > 100: evict the LRU
    assert cache.get("ivf", ("p", 1), "v") is None
    assert cache.get("ivf", ("p", 0), "v") == "a"
    assert cache.get("ivf", ("p", 2), "v") == "c"
    # the budget is bytes, not entries
    cache.put("ivf", ("p", 3), "v", "d", 90)
    assert [cache.get("ivf", ("p", i), "v") for i in range(4)] == [None, None, None, "d"]
    # an entry above the whole budget is not stored and evicts nothing
    cache.put("ivf", ("p", 4), "v", "huge", 101)
    assert cache.get("ivf", ("p", 4), "v") is None
    assert cache.get("ivf", ("p", 3), "v") == "d"
    # kinds stay distinct under the same (path, part) and version
    cache.put("hnsw", ("p", 3), "v", "graph", 5)
    assert cache.get("hnsw", ("p", 3), "v") == "graph"
    assert cache.get("ivf", ("p", 3), "v") == "d"
    # re-putting a key replaces it without counting it twice
    cache.put("hnsw", ("p", 3), "v", "graph2", 5)
    assert sum(nb for _, _, nb in cache.entries.values()) == 95


def test_part_cache_keeps_one_version_per_path():
    """A get hits only the version it asks for; a put drops the path's
    entries of every other version (any kind), and no other path's."""
    cache = PartCache(max_bytes=100)
    cache.put("hnsw", ("p", 0), "v1", "g0", 10)
    cache.put("hnsw_brute", ("p", 1), "v1", "b1", 10)
    cache.put("hnsw", ("q", 0), "w1", "other", 10)
    assert cache.get("hnsw", ("p", 0), "v2") is None  # stale: a miss
    assert cache.get("hnsw", ("p", 0), "v1") == "g0"
    cache.put("hnsw", ("p", 0), "v2", "g0'", 10)
    assert set(cache.entries) == {("hnsw", ("p", 0)), ("hnsw", ("q", 0))}
    assert cache.get("hnsw", ("p", 0), "v2") == "g0'"
    assert cache.get("hnsw", ("q", 0), "w1") == "other"
    # an entry too big to keep still retires the path's old version
    cache.put("hnsw", ("q", 1), "w2", "huge", 101)
    assert set(cache.entries) == {("hnsw", ("p", 0))}


def test_route_groups_query_rows_by_nearest_parts():
    dist = np.array([[0.1, 0.5, 0.9], [0.9, 0.2, 0.1], [0.3, 0.1, 0.8]])
    assert route(dist, 1) == {0: [0], 2: [1], 1: [2]}
    assert {p: sorted(r) for p, r in route(dist, 2).items()} == {
        0: [0, 2], 1: [0, 1, 2], 2: [1]
    }
    assert len(route(dist, 9)) == 3  # nprobe above the part count
    assert route(np.empty((0, 3)), 2) == {}


def test_query_chunks_plan():
    """A flat plan's chunks keep their rows as ranges (constant-size in
    the task broadcast at any batch size); a routed plan slices each
    part's row list; a part without queries keeps one empty chunk."""
    flat = query_chunks(None, [0, 1], None, 10_000_000, queries_per_task=4_000_000)
    assert [(p, c, r) for p, c, r in flat] == [
        (p, c, range(c * 4_000_000, min((c + 1) * 4_000_000, 10_000_000)))
        for p in (0, 1) for c in range(3)
    ]
    assert len(pickle.dumps(flat)) < 1_000
    routed = query_chunks(None, [0, 1, 2], {0: [1, 4, 5], 2: [0]}, 6, queries_per_task=2)
    assert routed == [(0, 0, [1, 4]), (0, 1, [5]), (1, 0, []), (2, 0, [0])]
