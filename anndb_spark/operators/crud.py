"""Changelog CRUD — insert / update / delete with per-item errors.

Parity targets (reference semantics, re-expressed as batch compaction):

- insert: fails with ItemAlreadyExistsError if the id exists
  (`index/hnsw.go:21`, duplicate check `storage/partition.go:150-153`)
- update: remove + re-insert with the SAME level and MERGED metadata —
  old keys kept unless overwritten (`storage/partition.go:349-367`)
- delete: tombstone; fails with ItemNotFoundError if missing
  (`index/hnsw.go:22,164-214`)
- per-item error maps for batches (`storage/dataset.go:243-252,549-609`;
  the reference's 100-item batch cap is intentionally dropped)
- level assigned at write time so replays are deterministic
  (`storage/partition.go:156,222-224`): here a hash-seeded level column

The changelog IS the Raft log analogue (`PartitionChange`,
`protobuf/proto/dataset.proto:137-154`): an append-only parquet table
ordered by ``seq``; compaction folds it into the base snapshot exactly
like the reference's periodic index snapshots truncate the WAL
(`storage/raft/group.go:275-300`).

Execution shape (100 TB-minded): ``apply_changes_sql`` is the one
compactor — window functions keyed by id over the seq-ordered ops, then
one groupBy(id) that folds each live id's last insert segment into its
state row.  No Python in the row loop; the exchanges carry the ops'
own columns, partitioned by id.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ITEM_ALREADY_EXISTS = "ItemAlreadyExistsError"
ITEM_NOT_FOUND = "ItemNotFoundError"

DEFAULT_M = 16


def assign_level(id_col: Column, m: int = DEFAULT_M) -> Column:
    """Deterministic write-time HNSW level: floor(-ln(U) * 1/ln(m)).

    The reference draws U at proposal time so replicas replay the same
    level (`index/hnsw.go:249-251`, `math/random.go:27-29`,
    `storage/partition.go:156`); we derive U from a hash of the id so
    rebuilds are reproducible (SURVEY §7 determinism note).
    """
    u = (F.pmod(F.xxhash64(id_col), F.lit(1 << 40)) + 0.5) / F.lit(float(1 << 40))
    ml = 1.0 / math.log(m)
    return F.floor(-F.log(u) * F.lit(ml)).cast("int")


def apply_changes_sql(
    base: DataFrame | None,
    changes: DataFrame,
    m: int = DEFAULT_M,
) -> DataFrame:
    """Compact a changelog into item state, emitting per-item rejects.

    ``changes``: (seq LONG, id STRING, op STRING, vector ARRAY<DOUBLE>,
    metadata MAP<STRING,STRING> [, level INT]).
    ``base``: prior snapshot (id, vector, metadata [, level]) or None.

    Returns one DataFrame with a ``kind`` column: 'state' rows are the
    compacted snapshot, 'reject' rows the per-item errors (the batch
    analogue of the reference's ``map[id]error``).  Split with
    ``split_state`` / ``split_rejects``.

    Fully relational: zero Python in the row loop (Catalyst windows +
    one regrouping aggregation).

    The automaton collapses to window functions because an op's validity
    depends only on the *last preceding structural op* (base/insert/
    delete) for its id:

      present_before = (last structural op's type is insert-like)
      insert valid  iff not present_before     (else ItemAlreadyExists)
      update/delete valid iff present_before   (else ItemNotFound)

    and invalid ops never change state, so "last structural op type"
    needs no validity recursion: an invalid insert only occurs when
    state is already present (and an invalid delete when absent), which
    is exactly what its own type would set — `last(stype)` is therefore
    the state itself.

    The final value of a live id comes from its last insert segment:
    the last valid insert plus every later update — vector = last
    non-null vector, level = the insert's level, metadata = per-key
    last value (a seq-ordered fold over the ops' map entries, later
    keys overwriting earlier ones).
    """
    if "level" not in changes.columns:
        changes = changes.withColumn(
            "level", F.when(F.col("op") == "insert", assign_level(F.col("id"), m))
        )
    ops = changes.select(
        "seq", "id", "op",
        F.col("vector").cast("array<double>").alias("vector"),
        "metadata", F.col("level").cast("int").alias("level"),
    )
    if base is not None:
        if "level" not in base.columns:
            base = base.withColumn("level", assign_level(F.col("id"), m))
        ops = base.select(
            F.lit(-(1 << 62)).cast("long").alias("seq"),
            "id", F.lit("base").alias("op"),
            F.col("vector").cast("array<double>").alias("vector"),
            "metadata", F.col("level").cast("int").alias("level"),
        ).unionByName(ops)

    w = Window.partitionBy("id").orderBy("seq")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)

    stype = F.when(F.col("op").isin("insert", "base"), F.lit("I")).when(
        F.col("op") == "delete", F.lit("D")
    )
    annotated = ops.withColumn(
        "present_before",
        F.coalesce(F.last(stype, ignorenulls=True).over(w_prev) == "I", F.lit(False)),
    ).withColumn(
        "valid",
        F.when(F.col("op").isin("insert", "base"), ~F.col("present_before") | (F.col("op") == "base"))
        .when(F.col("op").isin("update", "delete"), F.col("present_before"))
        .otherwise(F.lit(False)),
    )

    rejects = annotated.filter(~F.col("valid") & (F.col("op") != "base")).select(
        F.lit("reject").alias("kind"), "seq", "id", "op",
        F.when(F.col("op") == "insert", F.lit(ITEM_ALREADY_EXISTS))
        .when(F.col("op").isin("update", "delete"), F.lit(ITEM_NOT_FOUND))
        .otherwise(F.concat(F.lit("UnknownOp:"), F.col("op")))
        .alias("error"),
    )

    # live ids: last structural op overall is insert-like
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    seg = (
        annotated.withColumn("final_type", F.last(stype, ignorenulls=True).over(w_all))
        .withColumn(
            "seg_start",
            F.max(
                F.when(F.col("valid") & F.col("op").isin("insert", "base"), F.col("seq"))
            ).over(w_all),
        )
        .filter(
            (F.col("final_type") == "I")
            & (F.col("seq") >= F.col("seg_start"))
            & (F.col("valid"))
        )
    )
    # single aggregation for the whole state row (r13): the old shape
    # computed vector/level in one groupBy and the metadata merge in a
    # second chain (explode → groupBy(id, key) → groupBy(id) → left
    # join), so the window automaton above executed TWICE with two
    # extra exchanges.  The per-key-last merge is equivalently a
    # seq-ordered left fold over each row's entries where later rows
    # overwrite earlier keys — exactly dict.update per op.  Key ORDER
    # in the merged map can differ from the old collect_list order;
    # nothing observes it (map lookups and dict-equality only).
    merged_md = F.map_from_entries(
        F.aggregate(
            F.col("_md_seq"),
            F.lit(None).cast("array<struct<key:string,value:string>>"),
            lambda acc, x: F.concat(
                F.filter(
                    F.coalesce(acc, F.array()),
                    lambda p: ~F.array_contains(
                        F.transform(x["e"], lambda q: q["key"]), p["key"]
                    ),
                ),
                x["e"],
            ),
        )
    )
    state = (
        seg.groupBy("id")
        .agg(
            F.max_by(
                F.struct("seq", "vector"),
                F.when(F.col("vector").isNotNull(), F.col("seq")),
            ).vector.alias("vector"),
            F.min_by("level", "seq").alias("level"),
            # skew trade-off (ADVICE r13): this buffers every live op's
            # map entries per id before the fold — O(ops × entries)
            # aggregation state on a hot id, where the pre-r13
            # two-aggregation path (groupBy(id, key) max_by) streamed
            # with constant state.  Changelogs are delta-batch-sized
            # and per-id op counts small by construction; a high-churn
            # deployment (thousands of metadata updates to one id per
            # batch) should resurrect the two-aggregation form (git
            # a422bca^) — output parity is pinned by the crud pytests.
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("metadata").isNotNull(),
                        F.struct(F.col("seq"), F.map_entries("metadata").alias("e")),
                    )
                )
            ).alias("_md_seq"),
        )
        .select(
            F.lit("state").alias("kind"), "id", "vector",
            F.coalesce(merged_md, F.from_json(F.lit("{}"), "MAP<STRING,STRING>")).alias("metadata"),
            "level",
        )
    )
    return state.select(
        "kind", "id", "vector", "metadata", "level",
        F.lit(None).cast("long").alias("seq"),
        F.lit(None).cast("string").alias("op"),
        F.lit(None).cast("string").alias("error"),
    ).unionByName(
        rejects.select(
            "kind", "id",
            F.lit(None).cast("array<double>").alias("vector"),
            F.lit(None).cast("map<string,string>").alias("metadata"),
            F.lit(None).cast("int").alias("level"),
            "seq", "op", "error",
        )
    )


def split_state(applied: DataFrame) -> DataFrame:
    return applied.filter(F.col("kind") == "state").select("id", "vector", "metadata", "level")


def split_rejects(applied: DataFrame) -> DataFrame:
    return applied.filter(F.col("kind") == "reject").select("seq", "id", "op", "error")
