"""Gap sessionization and backward as-of join."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from anndb_spark.operators.temporal import asof_join, sessionize


@pytest.fixture(scope="module")
def spark():
    from anndb_spark.session import get_spark

    return get_spark()


def _t(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_sessionize_gap_boundaries(spark):
    rows = [
        (1, _t(0), 1.0),
        (1, _t(5), 2.0),   # within 10-min gap -> same session
        (1, _t(30), 4.0),  # 25 min silence -> new session
        (2, _t(0), 8.0),   # other key: independent numbering
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP, value DOUBLE")
    out = {
        (r["user_id"], r["session_seq"]): r
        for r in sessionize(df, gap_seconds=600, value_col="value").collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11 = out[(1, 1)]
    assert (s11["n_events"], s11["sum_value"]) == (2, 3.0)
    assert (s11["session_start"], s11["session_end"]) == (_t(0), _t(5))
    assert out[(1, 2)]["n_events"] == 1
    # an exactly-gap-wide silence does NOT split (strict >)
    df2 = spark.createDataFrame(
        [(1, _t(0), 1.0), (1, _t(10), 1.0)],
        "user_id LONG, ts TIMESTAMP, value DOUBLE",
    )
    assert sessionize(df2, gap_seconds=600).count() == 1


def test_asof_join_backward_inclusive(spark):
    quotes = spark.createDataFrame(
        [
            (1, _t(0), 10.0),
            (1, _t(10), 20.0),
            (2, _t(5), 99.0),
        ],
        "user_id LONG, ts TIMESTAMP, px DOUBLE",
    )
    trades = spark.createDataFrame(
        [
            (1, _t(4), "a"),   # -> quote @0
            (1, _t(10), "b"),  # same-instant quote matches (inclusive)
            (1, _t(15), "c"),  # -> quote @10
            (2, _t(0), "d"),   # before any quote -> NULL
            (3, _t(9), "e"),   # key with no quotes -> NULL
        ],
        "user_id LONG, ts TIMESTAMP, tag STRING",
    )
    out = {
        r["tag"]: r
        for r in asof_join(trades, quotes, on="ts", by="user_id").collect()
    }
    assert len(out) == 5 and set(trades.columns) < set(out["a"].asDict())
    assert (out["a"]["right_px"], out["a"]["right_ts"]) == (10.0, _t(0))
    assert out["b"]["right_px"] == 20.0
    assert out["c"]["right_px"] == 20.0
    assert out["d"]["right_px"] is None and out["d"]["right_ts"] is None
    assert out["e"]["right_px"] is None


def test_asof_join_forward(spark):
    quotes = spark.createDataFrame(
        [
            (1, _t(10), 20.0),
            (1, _t(20), 30.0),
        ],
        "user_id LONG, ts TIMESTAMP, px DOUBLE",
    )
    trades = spark.createDataFrame(
        [
            (1, _t(5), "a"),   # -> next quote @10
            (1, _t(10), "b"),  # same instant matches (inclusive)
            (1, _t(15), "c"),  # -> quote @20
            (1, _t(25), "d"),  # nothing after -> NULL
        ],
        "user_id LONG, ts TIMESTAMP, tag STRING",
    )
    out = {
        r["tag"]: r
        for r in asof_join(
            trades, quotes, on="ts", by="user_id", direction="forward"
        ).collect()
    }
    assert out["a"]["right_px"] == 20.0
    assert out["b"]["right_px"] == 20.0
    assert out["c"]["right_px"] == 30.0
    assert out["d"]["right_px"] is None
    # forward tolerance: matches for a and c are 5 min (300 s) ahead
    tol = {
        r["tag"]: r
        for r in asof_join(
            trades, quotes, on="ts", by="user_id",
            direction="forward", tolerance_seconds=360,
        ).collect()
    }
    assert tol["a"]["right_px"] == 20.0 and tol["c"]["right_px"] == 30.0
    tight = {
        r["tag"]: r
        for r in asof_join(
            trades, quotes, on="ts", by="user_id",
            direction="forward", tolerance_seconds=60,
        ).collect()
    }
    assert tight["b"]["right_px"] == 20.0  # 0 s away survives
    assert tight["a"]["right_px"] is None  # 300 s away > 60 s
    assert tight["c"]["right_px"] is None

    with pytest.raises(ValueError):
        asof_join(trades, quotes, direction="nearest")


def test_asof_join_tolerance(spark):
    quotes = spark.createDataFrame(
        [(1, _t(0), 10.0)], "user_id LONG, ts TIMESTAMP, px DOUBLE"
    )
    trades = spark.createDataFrame(
        [(1, _t(1), "near"), (1, _t(30), "stale")],
        "user_id LONG, ts TIMESTAMP, tag STRING",
    )
    out = {
        r["tag"]: r
        for r in asof_join(
            trades, quotes, on="ts", by="user_id", tolerance_seconds=300
        ).collect()
    }
    assert out["near"]["right_px"] == 10.0
    assert out["stale"]["right_px"] is None  # match exists but too old


def test_funnel_ordered_stages(spark):
    from anndb_spark.operators.temporal import funnel

    rows = [
        # user 1: full ordered funnel
        (1, _t(0), "view"), (1, _t(1), "click"), (1, _t(2), "purchase"),
        # user 2: clicked BEFORE first view -> stops at stage 1
        (2, _t(1), "view"), (2, _t(0), "click"),
        # user 3: view+click, purchase same second as the click
        # (strictly-after) -> stops at stage 2
        (3, _t(0), "view"), (3, _t(1), "click"), (3, _t(1), "purchase"),
        # user 4: never viewed -> not in the funnel at all
        (4, _t(0), "click"), (4, _t(1), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP, event_type STRING")
    out = {r["stage"]: r for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert [out[s]["step"] for s in ("view", "click", "purchase")] == [1, 2, 3]
    assert out["view"]["n_keys"] == 3      # users 1, 2, 3
    assert out["click"]["n_keys"] == 2     # users 1, 3 (user 2 out of order)
    assert out["purchase"]["n_keys"] == 1  # user 1 only


def test_funnel_counts_never_increase(spark):
    from anndb_spark.operators.temporal import funnel
    from anndb_spark.sources.tables import load_events

    out = funnel(
        load_events(spark, "/root/testdata/sf0.001"),
        ["view", "click", "purchase"],
    ).orderBy("step").collect()
    counts = [r["n_keys"] for r in out]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > 0


def test_funnel_fold_join_parity(spark):
    """The single-pass fold must match the relational join-per-stage
    form (`tests.operator_oracle.funnel_join`) row-for-row: random
    event streams with ties,
    out-of-order stages, repeated stage names, absent keys, null ts
    and non-stage event types."""
    import random

    from anndb_spark.operators.temporal import funnel
    from tests.operator_oracle import funnel_join

    rng = random.Random(131)
    types = ["view", "click", "purchase", "noise"]
    rows = []
    for u in range(60):
        for _ in range(rng.randint(0, 12)):
            rows.append((u, _t(rng.randint(0, 9)), rng.choice(types)))
    rows.append((90, None, "view"))  # null ts ignored by both forms
    df = spark.createDataFrame(
        rows, "user_id LONG, ts TIMESTAMP, event_type STRING"
    )
    for stages in (
        ["view", "click", "purchase"],
        ["click", "click"],  # repeated stage
        ["purchase"],
        ["view", "absent_type", "purchase"],
    ):
        fold = sorted(tuple(r) for r in funnel(df, stages).collect())
        join = sorted(tuple(r) for r in funnel_join(df, stages).collect())
        assert fold == join, (stages, fold, join)


def test_range_join_window_bounds(spark):
    from anndb_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [(10, 1, _t(10))], "lid LONG, user_id LONG, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [
            (20, 1, _t(9, 59)),   # 1 s before the window -> out
            (21, 1, _t(10)),      # same instant, inclusive lower -> in
            (22, 1, _t(12)),      # inside -> in
            (23, 1, _t(15)),      # exactly upper bound (300 s) -> in
            (24, 1, _t(15, 1)),   # 1 s past -> out
            (25, 2, _t(11)),      # other user -> out
        ],
        "rid LONG, user_id LONG, ts TIMESTAMP",
    )
    out = range_join(
        left, right, on="ts", by="user_id",
        lower_seconds=0, upper_seconds=300,
    )
    rows = {(r["lid"], r["right_rid"]): r["delta_us"] for r in out.collect()}
    assert set(rows) == {(10, 21), (10, 22), (10, 23)}
    assert rows[(10, 21)] == 0
    assert rows[(10, 22)] == 120_000_000
    assert rows[(10, 23)] == 300_000_000


def test_range_join_matches_bruteforce(spark):
    """Bucketed equi-join == the naive cross-filter on random data,
    including a window that starts before the left time."""
    import random

    from anndb_spark.operators.temporal import range_join

    rnd = random.Random(42)
    lrows = [(i, rnd.randint(1, 5), _t(rnd.randint(0, 50), rnd.randint(0, 59)))
             for i in range(40)]
    rrows = [(100 + i, rnd.randint(1, 5), _t(rnd.randint(0, 50), rnd.randint(0, 59)))
             for i in range(60)]
    left = spark.createDataFrame(lrows, "lid LONG, user_id LONG, ts TIMESTAMP")
    right = spark.createDataFrame(rrows, "rid LONG, user_id LONG, ts TIMESTAMP")
    lo, hi = -90, 150  # seconds; window spans the left time itself
    out = range_join(left, right, on="ts", by="user_id",
                     lower_seconds=lo, upper_seconds=hi)
    got = {(r["lid"], r["right_rid"]) for r in out.collect()}
    want = set()
    for lid, lu, lts in lrows:
        for rid, ru, rts in rrows:
            if lu == ru and lo <= (rts - lts).total_seconds() <= hi:
                want.add((lid, rid))
    assert got == want


def test_value_stats_partitioning_independent(spark):
    """Decimal power sums make the moment rollup bit-identical under
    any partitioning — the property float avg/var_pop lacks."""
    import __spark_entry__ as e

    base = e._value_stats_events(spark, "/root/testdata/sf0.001")
    a = {r["event_type"]: (r["n"], r["mean_value"], r["var_pop_value"])
         for r in base.collect()}

    from anndb_spark.sources.tables import load_events
    from pyspark.sql import functions as F2

    ev = load_events(spark, "/root/testdata/sf0.001").repartition(17, "value")
    v = F2.col("value").cast("decimal(18,2)")
    agg = ev.groupBy("event_type").agg(
        F2.count("*").alias("n"),
        F2.sum(v).alias("_s1"),
        F2.sum((v * v).cast("decimal(28,4)")).alias("_s2"),
    )
    n = F2.col("n").cast("double")
    s1 = F2.col("_s1").cast("double")
    s2 = F2.col("_s2").cast("double")
    b = {
        r["event_type"]: (r["n"], r["mean_value"], r["var_pop_value"])
        for r in agg.select(
            "event_type", "n",
            (s1 / n).alias("mean_value"),
            (s2 / n - (s1 / n) * (s1 / n)).alias("var_pop_value"),
        ).collect()
    }
    assert a == b  # BIT-identical, not approx


def test_unkeyed_degenerations_guarded(spark):
    """VERDICT r7 Wrong #5: un-keyed sessionize/asof silently serialize
    onto one window partition.  sessionize now refuses; asof_join warns
    (correct output, documented escape = pass `by=` keys)."""
    import warnings

    import pytest as _pytest

    from anndb_spark.operators.temporal import asof_join, sessionize

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "user_id LONG, ts STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    with _pytest.raises(ValueError, match="key_col"):
        sessionize(df, gap_seconds=60, key_col=None)

    right = df.select("ts", F.lit(7).alias("x"))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = asof_join(df, right, on="ts", by=None)
        assert any("ONE partition" in str(w.message) for w in rec)
    assert out.collect()[0]["right_x"] == 7

    # the documented escape: keyed call emits no warning
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        asof_join(df, df.select("user_id", "ts", F.lit(1).alias("x")),
                  on="ts", by="user_id")
        assert not [w for w in rec if "ONE partition" in str(w.message)]


def test_range_join_ntz_micros_zone_free(spark):
    """ADVICE r7: NTZ micros must not round-trip through the session
    zone.  delta_us on NTZ inputs is exact wall-clock micros whatever
    zone the session runs in (checked by flipping the session zone)."""
    from anndb_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [(1, "2024-03-10 01:59:00")], "k LONG, ts STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [(1, "2024-03-10 03:01:00")], "k LONG, ts STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        deltas = {}
        # America/New_York DST springs forward inside this interval;
        # an LTZ round-trip would shift delta_us by 3600s there.
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            row = range_join(
                left, right, on="ts", by="k",
                lower_seconds=0, upper_seconds=7200,
            ).collect()
            assert len(row) == 1, tz
            deltas[tz] = row[0]["delta_us"]
        assert deltas["UTC"] == deltas["America/New_York"] == 62 * 60 * 1_000_000
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
