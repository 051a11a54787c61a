"""CRUD semantics tests — differential vs a pure-Python reference model
over randomized op sequences (mirrors the reference's randomized
insert/delete round-trips, `index/hnsw_persistence_test.go:89-110`)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from anndb_spark.operators.crud import (
    ITEM_ALREADY_EXISTS,
    ITEM_NOT_FOUND,
    apply_changes_sql,
    split_rejects,
    split_state,
)

CHANGES_SCHEMA = (
    "seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>"
)
BASE_SCHEMA = "id STRING, vector ARRAY<DOUBLE>, metadata MAP<STRING,STRING>"


def model(base, ops):
    """Pure-Python reference model of the reference engine's semantics."""
    state = {i: (v, dict(md)) for i, v, md in base}
    rejects = []
    for seq, i, op, vec, md in sorted(ops):
        if op == "insert":
            if i in state:
                rejects.append((seq, i, op, ITEM_ALREADY_EXISTS))
            else:
                state[i] = (vec, dict(md or {}))
        elif op == "update":
            if i not in state:
                rejects.append((seq, i, op, ITEM_NOT_FOUND))
            else:
                old_v, old_md = state[i]
                new_md = dict(old_md)
                new_md.update(md or {})
                state[i] = (vec if vec is not None else old_v, new_md)
        elif op == "delete":
            if i not in state:
                rejects.append((seq, i, op, ITEM_NOT_FOUND))
            else:
                del state[i]
    return state, rejects


def run_spark(spark, base, ops):
    base_df = (
        spark.createDataFrame(base, BASE_SCHEMA) if base else None
    )
    changes_df = spark.createDataFrame(ops, CHANGES_SCHEMA)
    applied = apply_changes_sql(base_df, changes_df).cache()
    state = {
        r["id"]: (list(r["vector"]) if r["vector"] else None, dict(r["metadata"] or {}))
        for r in split_state(applied).collect()
    }
    rejects = [
        (r["seq"], r["id"], r["op"], r["error"]) for r in split_rejects(applied).collect()
    ]
    applied.unpersist()
    return state, rejects


def test_basic_insert_update_delete(spark):
    ops = [
        (1, "a", "insert", [1.0, 2.0], {"k1": "v1", "k2": "v2"}),
        (2, "a", "update", [3.0, 4.0], {"k2": "V2", "k3": "v3"}),
        (3, "b", "insert", [5.0, 6.0], {}),
        (4, "b", "delete", None, None),
        (5, "c", "update", [7.0, 8.0], {}),     # not found
        (6, "a", "insert", [9.0, 9.0], {}),     # already exists
        (7, "b", "insert", [1.0, 1.0], {"x": "y"}),  # re-insert after delete OK
    ]
    state, rejects = run_spark(spark, [], ops)
    # metadata merge: k1 kept, k2 overwritten, k3 added (partition.go:359-364)
    assert state["a"] == ([3.0, 4.0], {"k1": "v1", "k2": "V2", "k3": "v3"})
    assert state["b"] == ([1.0, 1.0], {"x": "y"})
    assert "c" not in state
    assert sorted(rejects) == [
        (5, "c", "update", ITEM_NOT_FOUND),
        (6, "a", "insert", ITEM_ALREADY_EXISTS),
    ]


def test_base_snapshot_participates(spark):
    base = [("a", [1.0], {"k": "v"}), ("b", [2.0], {})]
    ops = [
        (1, "a", "insert", [9.0], {}),   # dup vs base
        (2, "b", "update", [3.0], {"n": "m"}),
        (3, "c", "insert", [4.0], {}),
    ]
    state, rejects = run_spark(spark, base, ops)
    assert state["a"] == ([1.0], {"k": "v"})
    assert state["b"] == ([3.0], {"n": "m"})
    assert state["c"] == ([4.0], {})
    assert rejects == [(1, "a", "insert", ITEM_ALREADY_EXISTS)]


def test_update_preserves_level(spark):
    # level fixed at insert time, survives updates (storage/partition.go:349-367)
    ops_df = spark.createDataFrame(
        [
            (1, "a", "insert", [1.0], {}, 3),
            (2, "a", "update", [2.0], {}, None),
        ],
        CHANGES_SCHEMA + ", level INT",
    )
    applied = apply_changes_sql(None, ops_df)
    row = split_state(applied).collect()[0]
    assert row["level"] == 3 and row["vector"] == [2.0]


op_strategy = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.sampled_from(["a", "b", "c", "d"]),
        st.lists(st.integers(-5, 5).map(float), min_size=2, max_size=2),
        st.dictionaries(st.sampled_from(["k1", "k2", "k3"]), st.sampled_from(["x", "y"])),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=12, deadline=None)
@given(ops=op_strategy)
def test_property_sql_impl_matches_model(spark, ops):
    seq_ops = [
        (i, ident, op, vec if op != "delete" else None, md if op != "delete" else None)
        for i, (op, ident, vec, md) in enumerate(ops)
    ]
    want_state, want_rejects = model([], seq_ops)
    got_state, got_rejects = run_spark(spark, [], seq_ops)
    assert got_state == {k: (v, md) for k, (v, md) in want_state.items()}
    assert sorted(got_rejects) == sorted(want_rejects)


def test_sql_impl_with_base(spark):
    base = [("a", [1.0], {"k": "v"}), ("b", [2.0], {})]
    ops = [
        (1, "a", "insert", [9.0], {}),
        (2, "b", "update", [3.0], {"n": "m"}),
        (3, "b", "delete", None, None),
        (4, "b", "insert", [4.0], {"r": "s"}),
        (5, "c", "delete", None, None),
    ]
    state, rejects = run_spark(spark, base, ops)
    assert state["a"] == ([1.0], {"k": "v"})
    assert state["b"] == ([4.0], {"r": "s"})  # re-insert resets metadata
    assert sorted(rejects) == [
        (1, "a", "insert", ITEM_ALREADY_EXISTS),
        (5, "c", "delete", ITEM_NOT_FOUND),
    ]
