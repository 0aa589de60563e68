"""Time-series post-processing the reference's batch layer gestures at
(daily/monthly profiling, work/batch_profiling_enriched.py:20-27) but
never completes: exponential smoothing over each key's event history and
gap-filled daily resampling with forward fill — the two standard steps
between a raw event lake and a dashboard-ready series.

Both are exact cross-engine: the EWMA is a left fold whose float ops run
in the same order on both engines (list_reduce in DuckDB, F.aggregate in
Spark, identical literals), and the gap-fill spine is a deterministic
per-key date sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.registry import register

# ---------------------------------------------------------------------------
# EWMA per user: exact sequential fold, no UDF.
# ---------------------------------------------------------------------------
# 1 - 0.3 != 0.7 in IEEE doubles: both weights are spelled as literals so
# the Spark lambda and the DuckDB lambda compile to the same constants.
_EWMA_ALPHA = 0.3
_EWMA_BETA = 0.7

_EWMA_SQL = f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(list_reduce(
               list(value ORDER BY ts, event_id),
               (acc, x) -> {_EWMA_ALPHA} * x + {_EWMA_BETA} * acc
           ), 6) AS ewma_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


def ewma(e: DataFrame, key: str = "user_id", alpha: float = _EWMA_ALPHA) -> DataFrame:
    """Final exponentially-weighted moving average of ``value`` per key,
    folding events in (ts, event_id) order: ewma_0 = x_0, ewma_t =
    alpha*x_t + (1-alpha)*ewma_{t-1}.

    EWMA is a non-associative recurrence — it cannot be a partial-
    aggregable SUM, and a window-function form needs pow(beta, t-i)
    weights that overflow at large t. The scale-correct shape is a
    per-key SEQUENTIAL fold: collect the key's ordered history into an
    array (bounded by events-per-key, the same invariant every
    sessionization here relies on; for millions of events per key,
    switch to applyInPandas chunk folding) and F.aggregate over it —
    array lambdas execute JVM-side in codegen, so this is one shuffle
    on the key and zero Python.

    Cross-engine exactness: DuckDB's list_reduce seeds the fold with the
    first element; the Spark fold reproduces that with a NULL-seeded
    accumulator and a first-element branch. Same literals, same op
    order -> bit-identical doubles, rounded once for output."""
    beta = _EWMA_BETA if alpha == _EWMA_ALPHA else 1.0 - alpha
    xs = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", F.col("value")))
    )
    fold = F.aggregate(
        F.col("xs"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["value"]).otherwise(
            F.lit(alpha) * x["value"] + F.lit(beta) * acc
        ),
    )
    return (
        e.select(key, "ts", "event_id", "value")
        .groupBy(key)
        .agg(xs.alias("xs"))
        .select(
            key,
            F.size("xs").cast("bigint").alias("n_events"),
            F.round(fold, 6).alias("ewma_value"),
        )
        .orderBy(key)
    )


@register("ewma_per_user", _EWMA_SQL)
def q_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Holt's linear-trend smoothing (double exponential): the forecasting
# step above EWMA — level AND trend state, one exact sequential fold.
# ---------------------------------------------------------------------------
_HOLT_ALPHA = 0.3
_HOLT_1MA = 0.7
_HOLT_BETA = 0.1
_HOLT_1MB = 0.9

# DuckDB's list_reduce requires accumulator type == element type, so the
# value list lifts to [level, trend] DOUBLE[2] pairs first; the fold then
# carries both states. A LIST accumulator, not a STRUCT one: DuckDB
# evaluates struct-literal fields sequentially over an in-place
# accumulator (the 'b' expression would read the already-updated 'l' —
# measured, not documented), while list-literal elements evaluate against
# the UNCHANGED accumulator, matching Spark's functional fold. The l_new
# expression is spelled twice (for l and inside b) IDENTICALLY on both
# engines, so the doubles match bit-exact.
_HOLT_SQL = f"""
    WITH folded AS (
      SELECT user_id, COUNT(*) AS n_events,
             list_reduce(
               list_transform(list(value ORDER BY ts, event_id),
                              x -> [CAST(x AS DOUBLE),
                                    CAST(0.0 AS DOUBLE)]),
               (acc, x) -> [
                 {_HOLT_ALPHA} * x[1]
                     + {_HOLT_1MA} * (acc[1] + acc[2]),
                 {_HOLT_BETA} * (({_HOLT_ALPHA} * x[1]
                     + {_HOLT_1MA} * (acc[1] + acc[2])) - acc[1])
                     + {_HOLT_1MB} * acc[2]
               ]
             ) AS st
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           ROUND(st[1], 6) AS level,
           ROUND(st[2], 6) AS trend,
           ROUND(st[1] + st[2], 6) AS forecast_1
    FROM folded
    ORDER BY user_id
"""


def holt_forecast(
    e: DataFrame,
    key: str = "user_id",
    alpha: float = _HOLT_ALPHA,
    beta: float = _HOLT_BETA,
) -> DataFrame:
    """Holt's double exponential smoothing per key: the one-step
    forecaster a capacity dashboard runs where EWMA undershoots every
    trending series (EWMA has no trend state — it lags a ramp forever;
    Holt carries (level, trend) and extrapolates).

        l_0 = x_0, b_0 = 0
        l_t = alpha*x_t + (1-alpha)*(l_{{t-1}} + b_{{t-1}})
        b_t = beta*(l_t - l_{{t-1}}) + (1-beta)*b_{{t-1}}
        forecast_1 = l_T + b_T

    Same scale shape as :func:`ewma` — a non-associative recurrence is
    ONE shuffle on the key plus a JVM array fold over the key's ordered
    history (bounded by events-per-key), never a global window and
    never Python. Cross-engine exactness: the fold lifts values to
    (l, b) structs so DuckDB's same-type list_reduce can carry both
    states; identical literals and op order on both engines, rounded
    once at output."""
    a = F.lit(alpha)
    one_a = F.lit(_HOLT_1MA if alpha == _HOLT_ALPHA else 1.0 - alpha)
    b = F.lit(beta)
    one_b = F.lit(_HOLT_1MB if beta == _HOLT_BETA else 1.0 - beta)
    xs = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", F.col("value")))
    )

    def step(acc, x):
        l_new = a * x["value"] + one_a * (acc["l"] + acc["b"])
        return F.when(
            acc.isNull(),
            F.struct(
                x["value"].alias("l"), F.lit(0.0).alias("b")
            ),
        ).otherwise(
            F.struct(
                l_new.alias("l"),
                (b * (l_new - acc["l"]) + one_b * acc["b"]).alias("b"),
            )
        )

    fold = F.aggregate(
        F.col("xs"), F.lit(None).cast("struct<l:double,b:double>"), step
    )
    return (
        e.select(key, "ts", "event_id", "value")
        .groupBy(key)
        .agg(xs.alias("xs"))
        .select(
            key,
            F.size("xs").cast("bigint").alias("n_events"),
            fold.alias("st"),
        )
        .select(
            key,
            "n_events",
            F.round(F.col("st.l"), 6).alias("level"),
            F.round(F.col("st.b"), 6).alias("trend"),
            F.round(F.col("st.l") + F.col("st.b"), 6).alias("forecast_1"),
        )
        .orderBy(key)
    )


@register("holt_forecast", _HOLT_SQL)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return holt_forecast(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Daily resample with forward fill over a per-key date spine.
# ---------------------------------------------------------------------------
_GAP_FILL_SQL = """
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2)
                 AS day_value
        FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    bounds AS (
        SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily
        GROUP BY user_id
    ),
    spine AS (
        SELECT user_id,
               unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        FROM bounds
    )
    SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day, d.day_value,
           last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
           ) AS filled_value
    FROM spine s
    LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ORDER BY s.user_id, s.day
"""


def gap_fill_daily(e: DataFrame, key: str = "user_id") -> DataFrame:
    """Resample each key's events to a dense daily series between its
    first and last active day, forward-filling days with no events from
    the most recent observed day.

    Scale shape: the spine is sequence(min_day, max_day) per key —
    generated FROM the aggregate (one row per key explodes to its own
    day range), never a driver-side calendar loop or a global-calendar
    cross join. The daily aggregate, the bounds, the spine join and the
    fill window are all keyed on user_id, so AQE plans one shuffle
    family; the forward fill is last(ignorenulls) over the per-key
    chronological frame — identical default frame (unbounded preceding
    .. current row) on both engines. Day sums use the repo's exact
    decimal discipline, so filled values propagate bit-identical
    doubles."""
    day = F.date_trunc("day", F.col("ts"))
    daily = (
        e.select(key, day.alias("day"), "value")
        .groupBy(key, "day")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 2
            ).alias("day_value")
        )
        # the daily aggregate feeds BOTH the spine bounds and the fill
        # join; without a checkpoint Spark recomputes it (a second full
        # scan of the event lake — the kind of silent 2x that matters at
        # 100 TB). Materialized once, lazily, at O(keys x active days).
        .localCheckpoint(eager=False)
    )
    spine = (
        daily.groupBy(key)
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            key,
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    d = daily.select(
        F.col(key).alias("d_key"),
        F.col("day").alias("d_day"),
        "day_value",
    )
    w = Window.partitionBy(key).orderBy("day")
    return (
        spine.join(
            d,
            (F.col(key) == F.col("d_key")) & (F.col("day") == F.col("d_day")),
            "left",
        )
        .select(
            key,
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "day_value",
            F.last("day_value", ignorenulls=True).over(w).alias(
                "filled_value"
            ),
        )
        .orderBy(key, "day")
    )


@register("gap_fill_daily", _GAP_FILL_SQL)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gap_fill_daily(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Linear interpolation over the dense daily spine (TimescaleDB
# time_bucket_gapfill + interpolate(), the LOCF fill's sibling).
# ---------------------------------------------------------------------------
_INTERP_SQL = """
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2)
                 AS day_value
        FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    bounds AS (
        SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily
        GROUP BY user_id
    ),
    spine AS (
        SELECT user_id,
               unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        FROM bounds
    ),
    j AS (
        SELECT s.user_id, s.day, d.day_value
        FROM spine s
        LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ),
    f AS (
        SELECT user_id, day, day_value,
               last_value(day_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_val,
               last_value(CASE WHEN day_value IS NOT NULL THEN day END
                          IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_day,
               first_value(day_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_val,
               first_value(CASE WHEN day_value IS NOT NULL THEN day END
                           IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_day
        FROM j
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, day_value,
           ROUND(CASE WHEN day_value IS NOT NULL THEN day_value
                 ELSE prev_val + (next_val - prev_val) *
                      (CAST(date_diff('day', prev_day, day) AS DOUBLE)
                       / CAST(date_diff('day', prev_day, next_day) AS DOUBLE))
                 END, 6) AS interp_value
    FROM f
    ORDER BY user_id, day
"""


def interpolate_linear(e: DataFrame, key: str = "user_id") -> DataFrame:
    """Dense daily resampling with LINEAR interpolation between observed
    days — the sibling of :func:`gap_fill_daily`'s forward fill and the
    batch statement of TimescaleDB's ``interpolate()`` gapfill mode.
    LOCF answers "what was the level?"; interpolation answers "what was
    the trend?" — the right fill for rates and meter-style series.

    Every spine day lies between its key's first and last OBSERVED day,
    so a gap always has both endpoints: prev/next observed (value, day)
    pairs come from ``last/first(ignorenulls)`` over the two half-open
    frames, and the fill is the exact two-point line
    ``prev + (next - prev) * elapsed/gap`` evaluated in the same IEEE
    order on both engines (int day-diffs cast to double, one divide,
    one multiply, one add, round 6).

    Scale shape: identical to :func:`gap_fill_daily` — one daily
    aggregate (decimal-exact, localCheckpoint'd so the spine bounds and
    the fill join share one scan), a per-key ``sequence()`` spine, and
    per-key windows whose row counts are bounded by the key's active
    calendar span, not by event volume; all four fills share one
    shuffle family on ``user_id`` (data-scale cardinality, never the
    low-card gate's concern)."""
    day = F.date_trunc("day", F.col("ts"))
    daily = (
        e.select(key, day.alias("day"), "value")
        .groupBy(key, "day")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 2
            ).alias("day_value")
        )
        .localCheckpoint(eager=False)
    )
    spine = (
        daily.groupBy(key)
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            key,
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    d = daily.select(
        F.col(key).alias("d_key"),
        F.col("day").alias("d_day"),
        "day_value",
    )
    w_prev = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    observed_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    prev_val = F.last("day_value", ignorenulls=True).over(w_prev)
    prev_day = F.last(observed_day, ignorenulls=True).over(w_prev)
    next_val = F.first("day_value", ignorenulls=True).over(w_next)
    next_day = F.first(observed_day, ignorenulls=True).over(w_next)
    frac = F.datediff(F.col("day"), prev_day).cast("double") / F.datediff(
        next_day, prev_day
    ).cast("double")
    interp = F.round(
        F.when(F.col("day_value").isNotNull(), F.col("day_value")).otherwise(
            prev_val + (next_val - prev_val) * frac
        ),
        6,
    )
    return (
        spine.join(
            d,
            (F.col(key) == F.col("d_key")) & (F.col("day") == F.col("d_day")),
            "left",
        )
        .select(
            key,
            F.col("day"),
            "day_value",
        )
        .select(
            key,
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "day_value",
            interp.alias("interp_value"),
        )
        .orderBy(key, "day")
    )


@register("interpolate_linear", _INTERP_SQL)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interpolate_linear(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Day-of-week seasonality profile
# ---------------------------------------------------------------------------
_DOW_SQL = """
    WITH e AS (
      SELECT dayofweek(ts) AS dow, value FROM events
    ),
    tot AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*) AS grand_mean
      FROM e
    )
    SELECT dow,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS dow_mean,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*) / tot.grand_mean, 6) AS seasonality_index
    FROM e CROSS JOIN tot
    GROUP BY dow, tot.grand_mean
    ORDER BY dow
"""


def dow_seasonality(e: DataFrame) -> DataFrame:
    """Per-day-of-week mean value and its ratio to the grand mean — the
    seasonality index a forecaster divides out before trend fitting
    (multiplicative decomposition's first factor; pairs with
    user_value_trend's OLS trend in aggregates.py).

    One scan: the grand mean rides a broadcast scalar row; both means
    use the exact-decimal-sum-then-one-division discipline, so the
    index is a ratio of two deterministic doubles. NOTE on the dow key:
    Spark's dayofweek() and DuckDB's dayofweek() disagree (1=Sunday vs
    0=Sunday); both sides use their engine's EXTRACT-equivalent mapped
    to ISO 1=Monday..7=Sunday explicitly so the group keys align."""
    dow = (
        (F.dayofweek("ts") + 5) % 7 + 1  # Spark 1=Sun..7=Sat -> ISO
    ).alias("dow")
    per = e.select(dow, "value")
    tot = per.agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("grand_mean")
    )
    mean = F.sum(F.col("value").cast("decimal(28,6)")).cast(
        "double"
    ) / F.count(F.lit(1))
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("dow", "grand_mean")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(mean, 6).alias("dow_mean"),
            F.round(mean / F.col("grand_mean"), 6).alias(
                "seasonality_index"
            ),
        )
        .drop("grand_mean")
        .orderBy("dow")
    )


@register(
    "dow_seasonality",
    _DOW_SQL.replace("dayofweek(ts)", "isodow(ts)"),
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dow_seasonality(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# CUSUM drift detection (mean-shift changepoint screen)
# ---------------------------------------------------------------------------
_CUSUM_H_SIGMA = 5.0  # drift flag threshold, in per-user sigma units

_CUSUM_SQL = f"""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS v6
      FROM events
    ),
    mu AS (
      SELECT user_id,
             COUNT(*) AS n,
             ROUND(CAST(SUM(v6) AS DOUBLE) / COUNT(*), 6) AS mu,
             SQRT(GREATEST(
               COUNT(*) * CAST(SUM(CAST(v6 * v6 AS DECIMAL(38,12)))
                               AS DOUBLE)
               - CAST(SUM(v6) AS DOUBLE) * CAST(SUM(v6) AS DOUBLE),
               0.0)) / COUNT(*) AS sigma
      FROM v GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, v.ts, v.event_id, mu.n, mu.sigma,
             SUM(CAST(ROUND(CAST(v6 AS DOUBLE) - mu, 6)
                 AS DECIMAL(28,6)))
               OVER (PARTITION BY v.user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS ct
      FROM v JOIN mu USING (user_id)
    ),
    s AS (
      SELECT user_id, n, sigma,
             ct - MIN(ct) OVER w AS s_pos,
             MAX(ct) OVER w - ct AS s_neg
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(MAX(s_pos) AS DOUBLE), 6) AS max_pos_cusum,
           ROUND(CAST(MAX(s_neg) AS DOUBLE), 6) AS max_neg_cusum,
           GREATEST(ROUND(CAST(MAX(s_pos) AS DOUBLE), 6),
                    ROUND(CAST(MAX(s_neg) AS DOUBLE), 6))
             > {_CUSUM_H_SIGMA} * sigma AS drift_detected
    FROM s
    GROUP BY user_id, n, sigma
    ORDER BY user_id
"""


def cusum_changepoint(
    e: DataFrame,
    key: str = "user_id",
    target_mu: float | None = None,
    target_sigma: float | None = None,
) -> DataFrame:
    """Per-key CUSUM mean-shift screen: with C_t the running sum of
    mean-centered values in (ts, event_id) order, the classic one-sided
    CUSUM with resets equals the prefix-min identity
    S+_t = C_t - min_{j<=t} C_j (and S-_t = max_{j<=t} C_j - C_t), so
    the whole sequential-looking statistic is three window functions —
    no fold, no UDF. A key drifts if either side's maximum exceeds
    ``_CUSUM_H_SIGMA`` per-key sigmas.

    Cross-engine exactness: each centered deviation rounds to 6 dp and
    accumulates as DECIMAL(28,6), so the running sums are exact integers
    of micro-units on both engines — window-accumulation order (Spark's
    running aggregate vs DuckDB's segment tree) cannot shift them. The
    per-key mean/sigma ride the repo's exact-decimal sum discipline.

    Scale shape: one shuffle on the key; the three windows share one
    sort; per-key state in the window operator is O(1).

    ``target_mu``/``target_sigma``: monitor drift against a KNOWN
    baseline instead of the key's own sample stats — the form a
    streaming monitor runs, since a stream cannot know its full-series
    mean. Both
    modes share the SAME downstream pipeline; only the (n, mu, sigma)
    source differs."""
    cum = Window.partitionBy(key).orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v6 = F.round(F.col("value"), 6).cast("decimal(18,6)")
    if target_mu is not None:
        sigma_lit = float(target_sigma if target_sigma is not None else 1.0)
        stats = (
            e.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                key,
                "n",
                F.lit(float(target_mu)).alias("mu"),
                F.lit(sigma_lit).alias("sigma"),
            )
        )
    else:
        stats = (
            e.select(key, F.col("value"))
            .groupBy(key)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(v6).cast("double") / F.count(F.lit(1)), 6
                ).alias("mu"),
                (
                    F.sqrt(
                        F.greatest(
                            F.count(F.lit(1))
                            * F.sum(
                                (v6 * v6).cast("decimal(38,12)")
                            ).cast("double")
                            - F.sum(v6).cast("double")
                            * F.sum(v6).cast("double"),
                            F.lit(0.0),
                        )
                    )
                    / F.count(F.lit(1))
                ).alias("sigma"),
            )
        )
    dev = F.round(v6.cast("double") - F.col("mu"), 6).cast("decimal(28,6)")
    ct = (
        e.select(key, "ts", "event_id", "value")
        .join(stats, key)
        .withColumn("ct", F.sum(dev).over(cum))
    )
    s_pos = F.col("ct") - F.min("ct").over(cum)
    s_neg = F.max("ct").over(cum) - F.col("ct")
    runs = ct.select(
        key,
        "n",
        "sigma",
        s_pos.alias("s_pos"),
        s_neg.alias("s_neg"),
    )
    return (
        runs.groupBy(key, "n", "sigma")
        .agg(
            F.round(F.max("s_pos").cast("double"), 6).alias(
                "max_pos_cusum"
            ),
            F.round(F.max("s_neg").cast("double"), 6).alias(
                "max_neg_cusum"
            ),
        )
        .select(
            key,
            F.col("n").cast("bigint").alias("n_events"),
            "max_pos_cusum",
            "max_neg_cusum",
            (
                F.greatest("max_pos_cusum", "max_neg_cusum")
                > F.lit(_CUSUM_H_SIGMA) * F.col("sigma")
            ).alias("drift_detected"),
        )
        .orderBy(key)
    )


@register("cusum_changepoint", _CUSUM_SQL)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cusum_changepoint(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# beyond-ref: autocorrelation function of the daily value series
# ---------------------------------------------------------------------------
ACF_MAX_LAG = 5

_ACF_SQL = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS x
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS lag),
    pairs AS (
      SELECT l.lag,
             a.x AS xa, b.x AS xb
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
    ),
    mom AS (
      SELECT lag,
             COUNT(*) AS n,
             SUM(CAST(xa AS DECIMAL(38,12))) AS sa,
             SUM(CAST(xb AS DECIMAL(38,12))) AS sb,
             SUM(CAST(xa AS DECIMAL(38,12)) * xb) AS sab,
             SUM(CAST(xa AS DECIMAL(38,12)) * xa) AS saa,
             SUM(CAST(xb AS DECIMAL(38,12)) * xb) AS sbb
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           ROUND(
             (n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / SQRT(
                 (n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                 * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
               ),
             6) AS acf
    FROM mom
    ORDER BY lag
"""


def autocorrelation_acf(
    e: DataFrame, max_lag: int = ACF_MAX_LAG
) -> DataFrame:
    """Sample autocorrelation of the daily total-value series at lags
    1..max_lag — the seasonality probe a monitoring pipeline runs
    before picking a forecasting window (pairs with dow_seasonality,
    which fixes the period at 7; ACF FINDS the period).

    Scale shape — deliberately NO window function: the lagged pairing
    is an equi-join of the daily aggregate against itself on
    ``day + lag`` (days-many rows, range-partitionable at any horizon),
    never a single-partition LAG window over the series. Pearson terms
    accumulate as exact DECIMAL(38,12) moments (the daily inputs are
    6-dp decimals, so every product is exact), and the correlation
    assembles in doubles once per lag — bit-identical across engines
    and partition orders."""
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("x")
    )
    lags = e.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select(F.col("day").alias("a_day"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("b_day"), F.col("x").alias("xb"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        b,
        F.expr("date_add(a_day, lag)") == F.col("b_day"),
    )
    d12 = lambda c: F.col(c).cast("decimal(38,12)")  # noqa: E731
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d12("xa")).alias("sa"),
        F.sum(d12("xb")).alias("sb"),
        F.sum(d12("xa") * F.col("xb")).alias("sab"),
        F.sum(d12("xa") * F.col("xa")).alias("saa"),
        F.sum(d12("xb") * F.col("xb")).alias("sbb"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    acf = (
        F.col("n") * dbl("sab") - dbl("sa") * dbl("sb")
    ) / F.sqrt(
        (F.col("n") * dbl("saa") - dbl("sa") * dbl("sa"))
        * (F.col("n") * dbl("sbb") - dbl("sb") * dbl("sb"))
    )
    return mom.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    ).orderBy("lag")


@register("autocorrelation_acf", _ACF_SQL)
def q_autocorrelation_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return autocorrelation_acf(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# OHLC bars (round 11, beyond-ref): the canonical time-series
# downsample — per bucket, the first/highest/lowest/last value by
# event time. open/close are order statistics over (ts, event_id), so
# they are exact argmin/argmax (min_by/max_by — one grouped aggregate,
# never a window over the raw stream), the shape every market-data /
# metrics pipeline reduces raw ticks with before charting or modeling.
# ---------------------------------------------------------------------------
_OHLC_SQL = """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           ROUND(arg_min(value, printf('%020d-%012d', epoch_us(ts),
                                       event_id)), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(arg_max(value, printf('%020d-%012d', epoch_us(ts),
                                       event_id)), 6) AS close
    FROM events
    GROUP BY 1
    ORDER BY bar
"""


def ohlc_bars(e: DataFrame, bucket: str = "hour") -> DataFrame:
    """Hourly OHLC bars over the event stream. Ties on the timestamp
    break by event_id (both engines order the same struct
    lexicographically), so open/close are deterministic even when two
    ticks share a microsecond. One grouped aggregate: at 100 TB this
    shuffles one row per (bucket, partition) after partial aggregation,
    never the raw ticks."""
    # fixed-width string key: lexicographic == (epoch_us, event_id)
    # order, and DuckDB's arg_min/arg_max accept it (structs it won't)
    key = F.format_string(
        "%020d-%012d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return (
        e.groupBy(F.date_trunc(bucket, F.col("ts")).alias("bar"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
            F.round(F.min_by("value", key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", key), 6).alias("close"),
        )
        .orderBy("bar")
    )


@register("ohlc_bars", _OHLC_SQL)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ohlc_bars(load_table(spark, sf_dir, "events"))
