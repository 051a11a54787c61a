"""Temporal relational operators Spark lacks as built-ins: gap-based
sessionization (batch twin of Structured Streaming's session windows)
and the backward as-of join.

* ``sessionize`` — split each key's event stream into sessions at
  inactivity gaps and roll each session up.  Spec is explicit (new
  session when the previous event is more than ``gap_seconds`` older,
  microsecond-exact), unlike ``F.session_window`` whose window end is
  padded by the gap; use ``F.session_window`` on the streaming path
  where watermark-driven state eviction matters, this one for batch
  jobs that need exact session bounds.  Scale shape: one shuffle on
  the key for the boundary window, then the rollup — session counts
  per key are tiny so the second exchange moves session-level rows,
  not events.

* ``asof_join`` — for every left row, the most recent right row at or
  before it (per key): the point-in-time lookup every feature/label
  pipeline needs (pandas ``merge_asof``, DuckDB/QuestDB ``ASOF
  JOIN``).  Spark has no native as-of join; the naive encodings are a
  range join (quadratic blow-up per key) or a per-key
  ``applyInPandas`` (Python in the hot path).  This is the union
  trick instead: tag both sides, one window over (key, time, tag)
  carrying the last non-null right attributes forward, keep left
  rows.  ONE shuffle on the key, all JVM, linear in rows — survives
  any key's cardinality.  Right side must be unique per (key, time)
  for deterministic output (pre-aggregate if not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _gap(seconds: float) -> Column:
    """A day-time interval of ``seconds`` — interval arithmetic works
    on TIMESTAMP and TIMESTAMP_NTZ alike (unix_micros does not)."""
    return F.make_dt_interval(secs=F.lit(float(seconds)))


def sessionize(
    df: DataFrame,
    gap_seconds: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """(key, session_seq, session_start, session_end, n_events[,
    sum_value]) — a new session starts when the previous event of the
    same key is more than ``gap_seconds`` older.  ``order_cols``
    breaks timestamp ties deterministically (default: none — supply
    an id column when (key, ts) is not unique)."""
    if not key_col:
        raise ValueError(
            "sessionize needs a key_col: an un-keyed session window "
            "sorts the whole stream in ONE partition (serial at scale)"
        )
    order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev.isNull() | (F.col(ts_col) > prev + _gap(gap_seconds)),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy(key_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = df.withColumn("session_seq", F.sum(is_new).over(run))
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    ]
    if value_col is not None:
        # decimal-summed so the result is order-independent (double
        # addition is not associative; the oracle does the same)
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value")
        )
    return seq.groupBy(key_col, "session_seq").agg(*aggs)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] | None = None,
    prefix: str = "right_",
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: every ``left`` row gains the ``right`` row's
    attributes from the most recent right time <= its own
    (``direction='backward'``, the default) or the earliest right
    time >= its own (``'forward'``); inclusive at equality, NULL when
    no match (or when farther than ``tolerance_seconds``).  Right
    columns arrive renamed ``prefix + name`` (including
    ``prefix + on``, the matched time)."""
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    if not by_cols:
        import warnings

        warnings.warn(
            "asof_join with by=None sorts the whole union in ONE "
            "partition (Window.partitionBy() with no keys): correct but "
            "serial — pass `by=` keys for any input that doesn't fit "
            "one task",
            UserWarning,
            stacklevel=2,
        )
    rattrs = [c for c in right.columns if c not in set(by_cols) | {on}]
    carried = [prefix + on] + [prefix + c for c in rattrs]

    l2 = left.withColumn("_is_left", F.lit(1))
    for name, src in zip(carried, [on] + rattrs):
        l2 = l2.withColumn(
            name, F.lit(None).cast(right.schema[src].dataType)
        )
    r2 = right.select(
        *by_cols,
        F.col(on),
        F.col(on).alias(prefix + on),
        *[F.col(c).alias(prefix + c) for c in rattrs],
    ).withColumn("_is_left", F.lit(0))
    for c in left.columns:
        if c not in r2.columns:
            r2 = r2.withColumn(c, F.lit(None).cast(left.schema[c].dataType))

    u = l2.unionByName(r2.select(*l2.columns))
    # right rows (tag 0) sort before left rows at the same time, so a
    # same-timestamp right row is visible to the left row: inclusive,
    # matching DuckDB ASOF (l.on >= r.on) and merge_asof defaults.
    # forward = the same walk over descending time.
    time_order = F.col(on) if direction == "backward" else F.col(on).desc()
    w = Window.partitionBy(*by_cols).orderBy(
        time_order, F.col("_is_left")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = u.select(
        *left.columns,
        F.col("_is_left"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carried],
    ).filter(F.col("_is_left") == 1)

    if tolerance_seconds is not None:
        if direction == "backward":
            near = F.col(on) <= F.col(prefix + on) + _gap(tolerance_seconds)
        else:
            near = F.col(prefix + on) <= F.col(on) + _gap(tolerance_seconds)
        in_tol = F.col(prefix + on).isNotNull() & near
        filled = filled.select(
            *left.columns,
            F.lit(1).alias("_is_left"),
            *[
                F.when(in_tol, F.col(c)).otherwise(F.lit(None)).alias(c)
                for c in carried
            ],
        )
    return filled.drop("_is_left")


def funnel(
    events: DataFrame,
    stages: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: how many keys reached each stage of
    ``stages`` IN ORDER (each stage's event strictly after the
    previous stage's earliest qualifying event).  Returns
    (step, stage, n_keys) with step 1-based.

    Scale shape: ONE filtered scan + ONE groupBy exchange — per key
    the relevant events are gathered sorted
    (``array_sort(collect_list(struct(ts, type)))``) and a left fold
    (``aggregate``) walks them once, setting stage k's reach
    timestamp from the first type-k event strictly after stage k-1's
    reach (exactly the relational min: in ascending-ts order the
    first qualifying event IS the min; equal-ts ties fail the strict
    ``>`` whichever side of the sort they land on, so the struct
    tiebreak order is immaterial).  Per-stage counts then reduce in
    one ≤|stages|-cell final agg.  A relational encoding — stage 1 a
    grouped min(ts), stage k a grouped min over events equi-joined to
    stage k-1 — gives the same counts but re-scans the event table
    per stage and shuffles each stage's per-key table (executed plan:
    5 scans / 4 exchanges at 3 stages); at 100 TB that is |stages|
    passes over the stream vs one.  Null-ts events are ignored (the
    fold's guard skips them).
    """
    if len(stages) < 1:
        raise ValueError("need at least one stage")
    k = len(stages)
    stage_arr = F.array(*[F.lit(s) for s in stages])
    evs = events.filter(F.col(type_col).isin(stages)).select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).alias("_t"),
        F.col(type_col).alias("_y"),
    )
    ts_type = evs.schema["_t"].dataType
    acc0 = F.array_repeat(F.lit(None).cast(ts_type), k)

    def step_fn(acc: Column, e: Column) -> Column:
        # stages fill strictly in order, so the count of set cells
        # IS the 0-based index of the next unreached stage
        j = F.size(F.filter(acc, lambda x: x.isNotNull()))
        target = F.get(stage_arr, j)  # null once all stages reached
        prev_rt = F.get(acc, j - F.lit(1))  # null at j == 0
        cond = (
            e["t"].isNotNull()
            & (e["y"] == target)
            & ((j == F.lit(0)) | (e["t"] > prev_rt))
        )
        upd = F.transform(
            acc, lambda x, i: F.when(i == j, e["t"]).otherwise(x)
        )
        return F.when(cond, upd).otherwise(acc)

    reach = (
        evs.groupBy("_k")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_t").alias("t"), F.col("_y").alias("y"))
                )
            ).alias("es"),
            # stage 1 counts every key with a stage-1 event: a key
            # with ONLY null-ts stage-1 events is counted (as a
            # grouped min(ts) counts it), though it can never
            # advance further
            F.max(F.col("_y") == F.lit(stages[0])).alias("_has_s1"),
        )
        .select(
            F.size(
                F.filter(
                    F.aggregate(F.col("es"), acc0, step_fn),
                    lambda x: x.isNotNull(),
                )
            ).alias("_max_step"),
            F.col("_has_s1"),
        )
    )
    counts = reach.agg(
        *[
            F.coalesce(
                F.sum(
                    (
                        F.col("_has_s1")
                        if s == 1
                        else (F.col("_max_step") >= s)
                    ).cast("long")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"_c{s}")
            for s in range(1, k + 1)
        ]
    )
    steps = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("step"),
                F.lit(stages[s - 1]).alias("stage"),
                F.col(f"_c{s}").alias("n_keys"),
            )
            for s in range(1, k + 1)
        ]
    )
    return counts.select(
        F.explode(steps).alias("_r")
    ).select("_r.step", "_r.stage", "_r.n_keys")


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] | None = None,
    lower_seconds: float = 0.0,
    upper_seconds: float = 60.0,
    prefix: str = "right_",
) -> DataFrame:
    """Interval join: every (left, right) pair with right.``on`` in
    [left.on + lower_seconds, left.on + upper_seconds] (inclusive),
    per key — the attribution/correlation join ("purchases within 10
    minutes of a click").  Right columns arrive as ``prefix + name``.

    Spark's native encoding of a time-range predicate is a nested-loop
    join (O(|L|·|R|) comparisons per key).  This is the bucketed
    equi-join instead: with bucket width = the window span, each right
    row lands in exactly ONE bucket and each left row's window spans
    at most TWO, so the left explodes to ≤2 (key, bucket) rows and the
    join is a plain hash equi-join on (key, bucket) + an exact range
    filter.  One shuffle each side, output-linear work, AQE handles
    hot buckets — survives any key/time skew at 100 TB.  Times are
    compared in exact integer microseconds (timestamps exceed
    double's 2^53 exact range).  Assumes epoch-nonnegative window
    starts (integer DIV, not floor-div).
    """
    if upper_seconds < lower_seconds:
        raise ValueError("upper_seconds must be >= lower_seconds")
    lo_us = int(round(lower_seconds * 1_000_000))
    hi_us = int(round(upper_seconds * 1_000_000))
    w = max(hi_us - lo_us, 1)
    by_cols = [by] if isinstance(by, str) else list(by or [])
    rattrs = [c for c in right.columns if c not in by_cols]

    # NTZ-safe micros with NO zone round-trip: timestamp_diff against
    # the epoch NTZ literal is exact integer micros regardless of the
    # session timezone or DST (a NTZ->LTZ cast is NOT a uniform shift
    # across a DST transition).  LTZ columns keep unix_micros, which
    # is zone-free by definition.
    from pyspark.sql.types import TimestampNTZType

    _epoch_ntz = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")

    def _us(c: Column, is_ntz: bool) -> Column:
        if is_ntz:
            return F.timestamp_diff("MICROSECOND", _epoch_ntz, c)
        return F.unix_micros(c.cast("timestamp"))

    l_ntz = isinstance(left.schema[on].dataType, TimestampNTZType)
    r_ntz = isinstance(right.schema[on].dataType, TimestampNTZType)

    l2 = left.withColumn("_lus", _us(F.col(on), l_ntz)).withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"(_lus + {lo_us}) DIV {w}"),
                F.expr(f"(_lus + {hi_us}) DIV {w}"),
            )
        ),
    )
    r2 = right.select(
        *by_cols, *[F.col(c).alias(prefix + c) for c in rattrs]
    ).withColumn("_rus", _us(F.col(prefix + on), r_ntz)).withColumn(
        "_bkt", F.expr(f"_rus DIV {w}")
    )
    joined = l2.join(r2, on=by_cols + ["_bkt"]).filter(
        (F.col("_rus") >= F.col("_lus") + F.lit(lo_us))
        & (F.col("_rus") <= F.col("_lus") + F.lit(hi_us))
    )
    return joined.select(
        *left.columns,
        *[prefix + c for c in rattrs],
        (F.col("_rus") - F.col("_lus")).alias("delta_us"),
    )
