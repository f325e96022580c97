"""Temporal / windowed-stream analogue queries (SURVEY §2.6, T6 batch
forms).  The true streaming operators (watermarks, session_window,
dropDuplicatesWithinWatermark) live in streaming/; these are their
deterministic batch twins that the DuckDB oracle can check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from consume_kafka_avro_data_spark.functions.parity import dsum, o_dsum
from consume_kafka_avro_data_spark.registry import query
from consume_kafka_avro_data_spark.tables import load_table

#: 30-minute session gap in integer microseconds — the SINGLE source of
#: truth shared by q_session_like here and q_sessionize (analytics.py);
#: two hand-synced literals previously invited silent drift.
SESSION_GAP_US = 1_800_000_000


@query(
    "q_tumbling_window",
    oracle=f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {o_dsum("value")}        AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("T6",),
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (T6, batch analogue): 1-hour buckets ×
    event type.  In streaming this is ``F.window(ts, '1 hour')`` after
    ``withWatermark``; the bucket math is identical.
    """
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("sum_value"),
    )


@query(
    "q_sliding_window",
    oracle=f"""
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {o_dsum("value")}        AS sum_value
    FROM (
      SELECT unnest([time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
                     time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
                       - INTERVAL 30 MINUTE]) AS window_start,
             event_type, value
      FROM events)
    GROUP BY 1, 2
    """,
    tags=("T6",),
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (T6): 1-hour windows every 30 minutes —
    each event lands in exactly 2 windows.  Spark's ``F.window`` with a
    slide explodes window membership before aggregating; the oracle
    reproduces it by unnesting the two 30-minute-aligned starts.  In
    streaming this is the same expression plus a watermark."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_session_like",
    oracle=f"""
    SELECT user_id,
           CAST(1 + SUM(CASE WHEN gap_us > {SESSION_GAP_US} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY event_id) AS gap_us
      FROM events
    )
    GROUP BY user_id
    """,
    tags=("T6", "W2"),
)
def q_session_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session detection via gap analysis (T6/W2): a new session starts
    after a >30-minute silence.  Batch twin of ``F.session_window``;
    epoch math in integer microseconds on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    # unix_micros needs TIMESTAMP_LTZ; the NTZ→LTZ cast is the identity
    # because the session timezone is pinned to UTC (session.py)
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gapped = e.select(
        "user_id",
        (epoch_us - F.lag(epoch_us).over(w)).alias("gap_us"),
    )
    return gapped.groupBy("user_id").agg(
        (
            F.lit(1)
            + F.sum(F.when(F.col("gap_us") > SESSION_GAP_US, 1).otherwise(0))
        )
        .cast("long")
        .alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "q_calendar_densify",
    oracle=f"""
    WITH months AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-12-01',
                                         INTERVAL 1 MONTH)) AS DATE) AS month
    ), agg AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE) AS month,
             CAST(count(*) AS BIGINT) AS n_orders,
             {o_dsum("o_totalprice")} AS sum_price
      FROM orders GROUP BY 1
    )
    SELECT m.month,
           COALESCE(a.n_orders, 0)                  AS n_orders,
           COALESCE(a.sum_price, CAST(0 AS DOUBLE)) AS sum_price
    FROM months m LEFT JOIN agg a USING (month)
    """,
    tags=("P10", "T6"),
)
def q_calendar_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification (P10/T6 closure): a generated month spine
    left-joined to monthly order aggregates so silent months appear as
    zeros — the gap-filling step every time-series rollup needs.  The
    spine is sequence()+explode (a few dozen rows, broadcast to the agg
    side); the fact-table aggregate is the only shuffle, so the plan is
    scan → partial/final agg → broadcast join at any scale."""
    o = load_table(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-12-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("month")
    )
    agg = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )
    # agg is one row per calendar month in the data's 7-year span
    # (≤ ~100 rows at any SF) — broadcast onto the generated spine
    return months.join(F.broadcast(agg), "month", "left").select(
        "month",
        F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias("n_orders"),
        F.coalesce(F.col("sum_price"), F.lit(0.0)).alias("sum_price"),
    )
