"""Grouped-map applyInArrow: recursive integer EWMA hand-case."""

import datetime as dt

from pyspark.sql import types as T

from cloud_ocr_summarizer_spark.operators.sequence import ewma_per_user

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_ewma_hand_computed(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: cents 100, 305 (3.045 rounds HALF_UP), 10
        # s = 100 -> (100+305)//2 = 202 -> (202+10)//2 = 106
        (1, t0, 1, 1.00),
        (1, t0 + dt.timedelta(minutes=1), 2, 3.045),
        (1, t0 + dt.timedelta(minutes=2), 3, 0.10),
        # user 2: single event -> s = its cents
        (2, t0, 4, 7.77),
    ]
    got = {
        r["user_id"]: (r["n_events"], r["ewma_cents"])
        for r in ewma_per_user(spark.createDataFrame(rows, SCHEMA)).collect()
    }
    assert got == {1: (3, 106), 2: (1, 777)}


def test_ewma_order_is_event_time_not_arrival(spark):
    """Same rows, shuffled input order and many partitions: identical
    result — the fold sorts by (ts, event_id) inside each group."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=m), m, float(m)) for m in range(20)
    ]
    a = ewma_per_user(
        spark.createDataFrame(rows, SCHEMA).repartition(8)
    ).collect()
    b = ewma_per_user(
        spark.createDataFrame(rows[::-1], SCHEMA).repartition(3)
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_events_ewma_matches_oracle(spark, oracle_equal):
    """The registered query equals the DuckDB WITH RECURSIVE replay on
    real data."""
    from cloud_ocr_summarizer_spark.plans.queries import q_events_ewma
    from tests.test_plans import SF

    res = oracle_equal(q_events_ewma(spark, SF), "events_ewma", SF)
    assert res["spark_rows"] > 0, res


def test_ewma_runs_as_arrow_grouped_map(spark):
    """The fold is an applyInArrow grouped map: no pandas layer."""
    t0 = dt.datetime(2024, 1, 1)
    df = ewma_per_user(spark.createDataFrame([(1, t0, 1, 1.0)], SCHEMA))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_ewma_empty_input(spark):
    empty = spark.createDataFrame([], SCHEMA)
    assert ewma_per_user(empty).count() == 0
