"""Shared physical-layer helpers (anndb_spark/utils.py)."""

import pytest

from anndb_spark.utils import plan_size_over_broadcast_threshold


@pytest.mark.parametrize(
    "threshold, over",
    [("10MB", False), ("1g", False), ("-1", True), ("10485760", False)],
)
def test_broadcast_threshold_read_as_spark_parses_it(spark, threshold, over):
    """The auto-broadcast threshold is Spark's own typed value, so every
    spelling the planner accepts means what it means there: a tiny plan
    is under '10MB', '1g' and '10485760' alike, and '-1' (broadcast
    off) always reads as "over"."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try:
        assert plan_size_over_broadcast_threshold(spark.range(10)) is over
    finally:
        spark.conf.set(key, old)
