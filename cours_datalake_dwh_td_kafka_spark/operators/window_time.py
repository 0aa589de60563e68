"""Event-time window aggregates — SURVEY.md §2.9 T2/T10 — registered as
batch queries over the events table. The SAME pipeline functions
(streaming/pipelines.py) run under readStream in production; here they run
in batch mode so the DuckDB oracle can check the window semantics exactly.

Oracle notes: Spark aligns windows to the unix epoch; DuckDB's
``time_bucket`` aligns interval buckets to 2000-01-03 00:00, which is a
whole number of days since epoch — identical boundaries for any window
width that divides 24h (all widths used here).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.registry import register

# events as a weather-like stream: event_time = ts, keys = (event_type,),
# value = value, alert = value > 150 (same banding threshold family as
# profiling.py).


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").alias("event_time"),
        "value",
    )


_TUMBLING_SQL = """
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS window_end,
           event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           COUNT(CASE WHEN value > 150 THEN 1 END) AS n_alerts,
           COUNT(*) AS n_obs
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
"""


@register("tumbling_window_agg", _TUMBLING_SQL)
def q_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    n = F.count(F.lit(1))
    return (
        e.groupBy(F.window("event_time", "6 hours"), "event_type")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double") / n, 6
            ).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.when(F.col("value") > 150, 1)).alias("n_alerts"),
            n.alias("n_obs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "avg_value",
            "min_value",
            "max_value",
            "n_alerts",
            "n_obs",
        )
        .orderBy("window_start", "event_type")
    )


# Sliding windows: every event belongs to window/slide = 3 overlapping
# 6h windows sliding by 2h. Oracle materializes the covering starts per row.
_SLIDING_SQL = """
    WITH exploded AS (
      SELECT e.*, time_bucket(INTERVAL '2 hours', e.ts) - k.k * INTERVAL '2 hours' AS window_start
      FROM events e, (SELECT UNNEST(generate_series(0, 2)) AS k) k
      WHERE e.ts < time_bucket(INTERVAL '2 hours', e.ts) - k.k * INTERVAL '2 hours' + INTERVAL '6 hours'
    )
    SELECT window_start,
           window_start + INTERVAL '6 hours' AS window_end,
           event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
           COUNT(*) AS n_obs
    FROM exploded
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
"""


@register("sliding_window_agg", _SLIDING_SQL)
def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    n = F.count(F.lit(1))
    return (
        e.groupBy(F.window("event_time", "6 hours", "2 hours"), "event_type")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double") / n, 6
            ).alias("avg_value"),
            n.alias("n_obs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "avg_value",
            "n_obs",
        )
        .orderBy("window_start", "event_type")
    )


# Session windows (gap = 4 hours, per user): Spark's session_window ==
# classic gaps-and-islands; window end = last event + gap.
_SESSION_SQL = """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '4 hours'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '4 hours' AS session_end,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
           COUNT(*) AS n_obs
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
"""


@register("session_window_agg", _SESSION_SQL)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    n = F.count(F.lit(1))
    return (
        e.groupBy(F.session_window("event_time", "4 hours"), "user_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double") / n, 6
            ).alias("avg_value"),
            n.alias("n_obs"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "avg_value",
            "n_obs",
        )
        .orderBy("user_id", "session_start")
    )


# Custom-state sessionization: same gap semantics as session_window but
# via an explicit fold over each user's time-ordered rows — the engine's
# extension point for state machines Spark lacks.
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_obs", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_US = 1_000_000


def sessionize_pandas_batch(events: DataFrame, gap_seconds: int) -> DataFrame:
    """Gap sessionization as an explicit per-partition fold in pandas,
    registered as ``pandas_sessionization``: same gap semantics as
    ``F.session_window`` (session_end = last event + gap), checked
    against the DuckDB oracle.

    Shape: hash-repartition by user_id, sort within partitions by
    (user_id, event_time), then ONE ``mapInPandas`` pass per partition
    with fully-vectorized numpy session folding. NOT
    ``groupBy().applyInPandas`` — grouped-map invokes the Python UDF once
    PER KEY, and at thousands of keys that per-call overhead dominated
    the query (measured 13.7 s grouped-map vs ~1.5 s partition-local at
    sf0.1, same results). Memory bound = one partition's rows; size
    ``n_partitions`` so partitions fit, the same dial every shuffle has."""
    import numpy as np

    gap_us = gap_seconds * _US

    def fold_partition(batches) -> "pd.DataFrame":
        # a user's rows can straddle Arrow batches, so fold whole
        # partitions (the repartition guarantees user completeness)
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        u = pdf["user_id"].to_numpy()
        ts = (pdf["event_time"].astype("int64") // 1_000).to_numpy()
        vals = pdf["value"].to_numpy(dtype="float64")
        new_session = np.concatenate(
            ([True], (u[1:] != u[:-1]) | (np.diff(ts) > gap_us))
        )
        starts = np.flatnonzero(new_session)
        bounds = np.concatenate((starts[1:], [len(ts)]))
        yield pd.DataFrame(
            {
                "user_id": u[starts],
                "session_start": pd.to_datetime(ts[starts], unit="us"),
                "session_end": pd.to_datetime(
                    ts[bounds - 1] + gap_us, unit="us"
                ),
                "n_obs": (bounds - starts).astype("int64"),
                "sum_value": np.add.reduceat(vals, starts),
            }
        )

    return (
        events.select("user_id", "event_time", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "event_time")
        .mapInPandas(fold_partition, OUTPUT_SCHEMA)
    )


_PANDAS_SESSION_SQL = """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '4 hours'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '4 hours' AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           ROUND(SUM(value), 4) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
"""


@register("pandas_sessionization", _PANDAS_SESSION_SQL)
def q_pandas_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    out = sessionize_pandas_batch(e, gap_seconds=4 * 3600)
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_obs",
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("user_id", "session_start")
