"""Data-warehouse modeling operators — the course IS a DWH course
(reference: the star-schema modeling in work/Td_Dwh notebooks and the
mutable-entity upsert the versioned lake's MERGE covers,
lake.py:lake_merge_upsert). This module adds the
classic slowly-changing-dimension type-2 build: derive validity
intervals from an event history, the batch backbone behind every
point-in-time join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.registry import register

_SCD2_SQL = """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS run_id
      FROM ordered
    ),
    grp AS (
      SELECT user_id, run_id, event_type,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) AS valid_to,
           n_events,
           (LEAD(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY valid_from) IS NULL)
             AS is_current
    FROM grp
    ORDER BY user_id, valid_from
"""


def scd2_dimension(
    ev: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing dimension from an event log: collapse each
    key's consecutive run of an attribute value into one row with
    [valid_from, valid_to) validity, valid_to NULL (is_current) on the
    open run — the point-in-time join side of a Kimball star schema.

    Run detection is the standard gaps-and-islands window chain: a
    change flag vs LAG, a running SUM as run id, then MIN/COUNT per run
    and LEAD for the closing timestamp. Scale shape: everything
    partitions by the dimension key — the window sort, the run
    aggregate, and the LEAD all reuse the one hash partitioning on
    ``key`` (AQE reuses the exchange); no global sort until the final
    presentation ORDER BY. Ordering ties break on ``tiebreak`` so the
    intervals are deterministic under retry."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    prev = F.lag(attr).over(w)
    chg = F.when(prev.isNull() | (prev != F.col(attr)), 1).otherwise(0)
    runs = ev.withColumn("_chg", chg).withColumn(
        "_run_id", F.sum("_chg").over(w)
    )
    grp = runs.groupBy(key, "_run_id", attr).agg(
        F.min(ts).alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy(key).orderBy("valid_from")
    nxt = F.lead("valid_from").over(w2)
    return (
        grp.withColumn("valid_to", nxt)
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(key, attr, "valid_from", "valid_to", "n_events", "is_current")
        .orderBy(key, "valid_from")
    )


@register("scd2_dimension", _SCD2_SQL)
def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_dimension(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------
_RFM_SQL = """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS n_orders,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                        AS DOUBLE), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    anchor AS (SELECT MAX(o_orderdate) AS corpus_last FROM orders),
    feat AS (
      SELECT o_custkey,
             date_diff('day', last_order, corpus_last) AS recency_days,
             n_orders, monetary,
             CAST(ROUND(monetary * 100) AS BIGINT) AS m_cents
      FROM per_cust CROSS JOIN anchor
    ),
    th AS (
      SELECT
        list_transform(quantile_cont(-recency_days, [0.2, 0.4, 0.6, 0.8]),
                       x -> CAST(FLOOR(x) AS BIGINT)) AS r_th,
        list_transform(quantile_cont(n_orders, [0.2, 0.4, 0.6, 0.8]),
                       x -> CAST(FLOOR(x) AS BIGINT)) AS f_th,
        list_transform(quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]),
                       x -> CAST(FLOOR(x) AS BIGINT)) AS m_th
      FROM feat
    ),
    scored AS (
      SELECT o_custkey, recency_days, n_orders, monetary,
             1 + CASE WHEN -recency_days > r_th[1] THEN 1 ELSE 0 END
               + CASE WHEN -recency_days > r_th[2] THEN 1 ELSE 0 END
               + CASE WHEN -recency_days > r_th[3] THEN 1 ELSE 0 END
               + CASE WHEN -recency_days > r_th[4] THEN 1 ELSE 0 END
               AS r_score,
             1 + CASE WHEN n_orders > f_th[1] THEN 1 ELSE 0 END
               + CASE WHEN n_orders > f_th[2] THEN 1 ELSE 0 END
               + CASE WHEN n_orders > f_th[3] THEN 1 ELSE 0 END
               + CASE WHEN n_orders > f_th[4] THEN 1 ELSE 0 END
               AS f_score,
             1 + CASE WHEN m_cents > m_th[1] THEN 1 ELSE 0 END
               + CASE WHEN m_cents > m_th[2] THEN 1 ELSE 0 END
               + CASE WHEN m_cents > m_th[3] THEN 1 ELSE 0 END
               + CASE WHEN m_cents > m_th[4] THEN 1 ELSE 0 END
               AS m_score
      FROM feat CROSS JOIN th
    )
    SELECT o_custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(n_orders AS BIGINT) AS n_orders,
           monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    ORDER BY o_custkey
"""

_RFM_PCTS = [0.2, 0.4, 0.6, 0.8]


def _quintile_score(v, th) -> "F.Column":
    """1-5 score: one plus the number of broadcast thresholds ``v``
    strictly exceeds (ties share a bucket, unlike NTILE's row-split)."""
    s = F.lit(1)
    for i in range(4):
        s = s + F.when(v > th[i], 1).otherwise(0)
    return s


def rfm_features(o: DataFrame) -> DataFrame:
    """Per-customer RFM feature table: days since last order (anchored
    at the corpus's newest order so the result is reproducible), order
    count, exact-decimal lifetime spend, plus integer cents for
    fp-robust threshold comparisons."""
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast(
                "double"
            ),
            2,
        ).alias("monetary"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("corpus_last"))
    return per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("corpus_last", "last_order")
        .cast("bigint")
        .alias("recency_days"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        "monetary",
        F.round(F.col("monetary") * 100)
        .cast("bigint")
        .alias("m_cents"),
    )


def rfm_segments(o: DataFrame) -> DataFrame:
    """Classic RFM segmentation: per customer, recency / frequency /
    monetary, each quintile-scored 1-5 with 5 best; the concatenated
    score string is the marketing segment key ('555' = champions,
    '155' = at-risk big spender).

    Scale shape — NO global window anywhere: one aggregate on the
    customer key collapses the fact table to one row per customer, one
    partial-aggregable ``percentile`` pass computes the p20/p40/p60/p80
    thresholds of each metric (12 scalars), and scoring is a broadcast
    join + CASE buckets. Every customer row is touched map-side; the
    quintile NTILE form (``rfm_segments_ntile``) survives as the
    tie-splitting cross-check in tests. Threshold semantics: score =
    1 + #(thresholds strictly exceeded), so metric TIES share a bucket
    — the stable choice at scale, where NTILE's row-split of a tie is
    an artifact of its tie-break column.

    Cross-engine exactness: all three metrics compare as INTEGERS
    (recency days, order counts, monetary cents) against FLOOR'd
    interpolated percentiles — adjacent order statistics bound each
    threshold, so a sub-ulp interpolation difference between engines
    cannot move any integer comparison."""
    feat = rfm_features(o)
    pcts = F.lit(_RFM_PCTS)
    th = feat.agg(
        F.transform(
            F.percentile(-F.col("recency_days").cast("double"), pcts),
            lambda x: F.floor(x).cast("bigint"),
        ).alias("r_th"),
        F.transform(
            F.percentile(F.col("n_orders").cast("double"), pcts),
            lambda x: F.floor(x).cast("bigint"),
        ).alias("f_th"),
        F.transform(
            F.percentile(F.col("m_cents").cast("double"), pcts),
            lambda x: F.floor(x).cast("bigint"),
        ).alias("m_th"),
    )
    scored = feat.crossJoin(F.broadcast(th)).select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary",
        _quintile_score(-F.col("recency_days"), F.col("r_th"))
        .cast("int")
        .alias("r_score"),
        _quintile_score(F.col("n_orders"), F.col("f_th"))
        .cast("int")
        .alias("f_score"),
        _quintile_score(F.col("m_cents"), F.col("m_th"))
        .cast("int")
        .alias("m_score"),
    )
    return scored.select(
        "*",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment"),
    ).orderBy("o_custkey")


def rfm_segments_ntile(o: DataFrame) -> DataFrame:
    """NTILE(5) form of :func:`rfm_segments` — three GLOBAL windows, a
    single-task sort at extreme customer counts, kept ONLY as the
    tie-splitting cross-check in tests (the two forms agree on every
    row whose metric value doesn't straddle a quintile edge)."""
    feat = rfm_features(o)
    w_r = Window.orderBy(F.desc("recency_days"), "o_custkey")
    w_f = Window.orderBy("n_orders", "o_custkey")
    w_m = Window.orderBy("monetary", "o_custkey")
    return feat.select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary",
        F.ntile(5).over(w_r).alias("r_score"),
        F.ntile(5).over(w_f).alias("f_score"),
        F.ntile(5).over(w_m).alias("m_score"),
    )


@register("rfm_segments", _RFM_SQL)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rfm_segments(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# beyond-ref: point-in-time state snapshot against the SCD2 dimension
# ---------------------------------------------------------------------------
PIT_SNAPSHOT_DATES = ("2024-01-08", "2024-01-15", "2024-01-22")

_PIT_SQL = f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS run_id
      FROM ordered
    ),
    grp AS (
      SELECT user_id, run_id, event_type, MIN(ts) AS valid_from
      FROM runs GROUP BY user_id, run_id, event_type
    ),
    dim AS (
      SELECT user_id, event_type, valid_from,
             LEAD(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from) AS valid_to
      FROM grp
    ),
    snaps AS (
      SELECT CAST(unnest([{", ".join(f"'{d}'" for d in PIT_SNAPSHOT_DATES)}])
                  AS TIMESTAMP) AS snapshot_ts
    )
    SELECT strftime(s.snapshot_ts, '%Y-%m-%d') AS snapshot_date,
           d.event_type AS state,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM dim d
    JOIN snaps s
      ON d.valid_from <= s.snapshot_ts
     AND (d.valid_to IS NULL OR s.snapshot_ts < d.valid_to)
    GROUP BY 1, 2
    ORDER BY snapshot_date, state
"""


def point_in_time_join(
    ev: DataFrame, snapshot_dates: tuple[str, ...] = PIT_SNAPSHOT_DATES
) -> DataFrame:
    """The Kimball point-in-time lookup the SCD2 dimension exists for:
    'how many users were in state X on date D' answered by probing the
    validity intervals of :func:`scd2_dimension` at fixed snapshot
    instants — the reconciliation report a DWH runs after every
    dimension load (reference: the star-schema TD's as-was reporting
    requirement, work/Td_Dwh notebooks).

    Scale shape: the dim build is the scd2 window chain (all
    partitioned by user); the snapshot probe is a BROADCAST join of a
    literal date spine against the dim with interval predicates — each
    dim row meets at most len(snapshots) spine rows, so fan-out is
    bounded by the snapshot count, and the rollup partial-aggregates.
    No per-snapshot re-scan of events."""
    spark = ev.sparkSession
    dim = scd2_dimension(ev).select(
        "user_id", "event_type", "valid_from", "valid_to"
    )
    snaps = spark.createDataFrame(
        [(d,) for d in snapshot_dates], "snapshot_ts string"
    ).select(F.col("snapshot_ts").cast("timestamp").alias("snapshot_ts"))
    return (
        dim.join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snapshot_ts"))
            & (
                F.col("valid_to").isNull()
                | (F.col("snapshot_ts") < F.col("valid_to"))
            ),
        )
        .groupBy(
            # STRING date (gap_fill_daily precedent): the driver's
            # pandas canonicalizer hashes python date objects and
            # DuckDB datetime64 differently
            F.date_format("snapshot_ts", "yyyy-MM-dd").alias(
                "snapshot_date"
            ),
            F.col("event_type").alias("state"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("snapshot_date", "state")
    )


@register("point_in_time_join", _PIT_SQL)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return point_in_time_join(load_table(spark, sf_dir, "events"))
