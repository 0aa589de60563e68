"""OLAP analytics surface beyond the reference's GROUP BY: cube / rollup
grouping sets, pivot, the full ranking-window family, TF-IDF term scoring,
and stratified sampling. SURVEY.md §2.4 notes the reference has "no
grouping sets / cube / rollup" and §2.5 covers only lag/row_number/rank —
these round out the engine to the full public Spark analytic surface.

Scale notes:
- cube/rollup: Spark expands to a union of grouping sets BEFORE the
  shuffle (Expand operator), so one pass over the fact table feeds all
  groupings; partial aggregation still applies per set.
- pivot: explicit value list => one hash aggregate with n_values
  conditional aggs — never use the value-discovery overload on big data
  (it runs a distinct scan first).
- TF-IDF: two shuffles (term stats, per-doc scores); document frequency
  via count(distinct) per term. The per-doc top-k is a bounded window.
- stratified sampling: sampleBy is a per-row Bernoulli filter with
  per-stratum rates — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.operators.dedup import norm_text
from cours_datalake_dwh_td_kafka_spark.operators.relational import dec_sum
from cours_datalake_dwh_td_kafka_spark.registry import register

# --------------------------------------------------------------------------
# CUBE: all 2^2 groupings of (returnflag, linestatus) in one pass.
# grouping_id() disambiguates "subtotal NULL" from a real NULL key.
# --------------------------------------------------------------------------
_CUBE_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("cube_agg", _CUBE_SQL)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            dec_sum(F.col("l_quantity")).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty")
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# GROUPING SETS: hand-picked groupings (priority) and (status) — the
# general form cube/rollup specialize.
# --------------------------------------------------------------------------
_GSETS_SQL = """
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
"""


@register("grouping_sets_agg", _GSETS_SQL)
def q_grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    # DataFrame API has cube/rollup; arbitrary sets go through the SQL
    # surface (same Expand physical plan underneath)
    return load_table(spark, sf_dir, "orders").sparkSession.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
               COUNT(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
        """
    )


# --------------------------------------------------------------------------
# PIVOT: events count per user bucketed by event_type — explicit value
# list (policy: never value-discover on big data).
# --------------------------------------------------------------------------
_EVENT_TYPES = ("click", "view", "purchase", "scroll")

_PIVOT_SQL = f"""
    SELECT user_id,
           {", ".join(
               f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


@register("pivot_event_counts", _PIVOT_SQL)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for empty cells; the conditional-count oracle
    # yields 0 — align on 0
    return p.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Ranking-window family: lead / first / last / ntile / percent_rank /
# cume_dist over each customer's order history (completes §2.5 W1-W6).
# --------------------------------------------------------------------------
_WINDOW_SUITE_SQL = """
    SELECT o_custkey, o_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_orderkey,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
"""


@register("window_suite", _WINDOW_SUITE_SQL)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.last("o_orderkey").over(w_full).alias("last_orderkey"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


# --------------------------------------------------------------------------
# TF-IDF top terms per document (sklearn-style smooth idf:
# ln((1+N)/(1+df)) + 1), deterministic top-3 by (score desc, term asc).
# --------------------------------------------------------------------------
TFIDF_TOP_K = 3
MIN_TERM_LEN = 4  # crude stopword proxy, identical on both engines

_TFIDF_SQL = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
      FROM documents
    ),
    toks_f AS (SELECT * FROM toks WHERE length(term) >= {MIN_TERM_LEN}),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks_f GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {TFIDF_TOP_K}
    ORDER BY doc_id, rn
"""


@register("tfidf_top_terms", _TFIDF_SQL)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("term"),
    ).where(F.length("term") >= MIN_TERM_LEN)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency as a window over the tf rows — saves the
    # groupBy+re-join shuffle pair of the textbook formulation (the tf
    # rows are already one-per-(doc,term), so count over term = df)
    df = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.withColumn("df", df)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df")))
                    + 1.0
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )


# --------------------------------------------------------------------------
# Stratified sampling: per-language fractions via sampleBy (seeded
# Bernoulli per stratum). The RNG stream is engine-specific, so the
# MEMBERSHIP has no cross-engine value oracle (hash_stratified_sample
# below is the deterministic twin); what CAN be value-oracled is the
# sampler's contract, measured on the real draw — the same fold the
# round-9 `sampling` upgrade applied to P14.
# --------------------------------------------------------------------------
STRATA_FRACTIONS = {"en": 0.5, "fr": 0.2, "de": 0.1}

_STRAT_SQL = f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pop,
           TRUE AS subset_ok,
           TRUE AS within_4sigma,
           TRUE AS no_duplicates,
           TRUE AS seed_deterministic,
           TRUE AS unlisted_zero
    FROM documents
    WHERE lang IN ({", ".join(repr(k) for k in sorted(STRATA_FRACTIONS))})
    GROUP BY lang ORDER BY lang
"""


@register("stratified_sample", _STRAT_SQL)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampleBy contract as a value-hashed guarantees table
    (one row per declared stratum), measured on the real seeded draw:

    - ``subset_ok``: the stratum's sample anti-joins to nothing outside
      the stratum's population;
    - ``within_4sigma``: |n_sampled - f*N| <= 4*sqrt(N*f*(1-f)) — the
      binomial concentration bound a per-stratum Bernoulli sampler must
      obey (false-alarm < 1e-4, deterministic for a fixed seed);
    - ``no_duplicates``: sampling is without replacement;
    - ``seed_deterministic``: the same seed re-draws the same multiset;
    - ``unlisted_zero``: strata absent from STRATA_FRACTIONS contribute
      ZERO rows (sampleBy's missing-key semantics — the clause that
      makes the fraction map a whitelist).

    The membership itself stays deterministic-twinned by
    ``hash_stratified_sample`` below."""
    import math

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    s1 = d.sampleBy("lang", STRATA_FRACTIONS, seed=42)
    s2 = d.sampleBy("lang", STRATA_FRACTIONS, seed=42)
    langs = sorted(STRATA_FRACTIONS)
    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        multiset_eq,
        parallel_vals,
    )

    # seven independent read-only actions (sampleBy is deterministic
    # under its seed, so concurrent re-evaluation is consistent);
    # determinism is one signed-tag action instead of two exceptAlls
    (
        pop_rows,
        samp_rows,
        subset_cnt,
        s1_cnt,
        s1_distinct,
        deterministic,
        unlisted_cnt,
    ) = parallel_vals(
        lambda: d.where(F.col("lang").isin(langs))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
        lambda: s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect(),
        lambda: s1.join(d, ["doc_id", "lang"], "left_anti").count(),
        lambda: s1.count(),
        lambda: s1.select("doc_id").distinct().count(),
        lambda: multiset_eq(s1, s2),
        lambda: s1.where(~F.col("lang").isin(langs)).count(),
    )
    pop = {r["lang"]: r["n"] for r in pop_rows}
    samp = {r["lang"]: r["n"] for r in samp_rows}
    subset_ok = subset_cnt == 0
    no_dup = s1_cnt == s1_distinct
    unlisted_zero = unlisted_cnt == 0
    rows = []
    for lang in langs:
        n_pop, n_s = pop.get(lang, 0), samp.get(lang, 0)
        if n_pop == 0:
            # mirror the oracle's GROUP BY: a declared stratum with no
            # population produces no row on either engine
            continue
        f = STRATA_FRACTIONS[lang]
        bound = 4.0 * math.sqrt(n_pop * f * (1 - f))
        rows.append(
            (
                lang,
                int(n_pop),
                subset_ok,
                abs(n_s - f * n_pop) <= bound,
                no_dup,
                deterministic,
                unlisted_zero,
            )
        )
    return spark.createDataFrame(
        rows,
        "lang STRING, n_pop BIGINT, subset_ok BOOLEAN, "
        "within_4sigma BOOLEAN, no_duplicates BOOLEAN, "
        "seed_deterministic BOOLEAN, unlisted_zero BOOLEAN",
    )


def _hash_strat_sql() -> str:
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import HASH32_SQL

    h = HASH32_SQL.format(c="'strat:' || CAST(doc_id AS VARCHAR)")
    whens = " ".join(
        f"WHEN '{lang}' THEN {int(frac * 100)}"
        for lang, frac in STRATA_FRACTIONS.items()
    )
    return f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ({h}) % 100 < CASE lang {whens} ELSE 0 END
    ORDER BY doc_id
    """


@register("hash_stratified_sample", _hash_strat_sql())
def q_hash_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-checkable twin of `stratified_sample`, the same way
    `hash_sample` twins `sampling`: per-stratum rates come from a pure
    md5-threshold predicate on the key (salted 'strat:' so this split is
    independent of hash_sample's), not an RNG — reproducible across
    engines, runs, partitionings, and corpus versions, and pushed to the
    scan like any filter. Strata absent from STRATA_FRACTIONS sample at
    0, matching sampleBy's missing-key semantics."""
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        _HASH32_SPARK,
    )

    d = load_table(spark, sf_dir, "documents")
    h = (
        _HASH32_SPARK(
            F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
        )
        % 100
    )
    pct = F.lit(0)
    for lang, frac in STRATA_FRACTIONS.items():
        pct = F.when(F.col("lang") == lang, F.lit(int(frac * 100))).otherwise(
            pct
        )
    return (
        d.where(h < pct)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# UNPIVOT/melt: wide per-customer numeric columns -> long (metric, value)
# rows — the inverse of pivot, and the shape feature-store exports use.
# --------------------------------------------------------------------------
_UNPIVOT_SQL = """
    SELECT c_custkey, metric, value FROM (
      SELECT c_custkey,
             'acctbal' AS metric, c_acctbal AS value
      FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE)
      FROM customer
    )
    ORDER BY c_custkey, metric
"""


@register("unpivot_customer", _UNPIVOT_SQL)
def q_unpivot_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt via the native ``unpivot`` operator (an Expand
    node — one scan emits all metric rows, NOT a per-metric union that
    rescans the table per column; the oracle SQL spells the UNION ALL
    form because that is its relational definition)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_nationkey").cast("double").alias("nationkey"),
        )
        .unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "value")
        .orderBy("c_custkey", "metric")
    )


# --------------------------------------------------------------------------
# funnel analysis: ordered stage progression per user
# --------------------------------------------------------------------------
_FUNNEL_SQL = """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT stage, n_users, step FROM (
      SELECT 'click' AS stage, COUNT(*) AS n_users, 1 AS step FROM s1
      UNION ALL
      SELECT 'view', COUNT(*), 2 FROM s2
      UNION ALL
      SELECT 'purchase', COUNT(*), 3 FROM s3
    )
    ORDER BY step
"""


@register("funnel_stages", _FUNNEL_SQL)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who clicked, then VIEWED AFTER the first
    click, then PURCHASED AFTER that first qualifying view. Each stage
    is one filtered aggregate keyed on user_id joined to the previous
    stage's frontier — per-stage cost is one shuffle on the user key
    (the frontier side shrinks monotonically and broadcasts when small).
    Order matters: a purchase BEFORE the first click does not count, so
    this is sequence matching, not set intersection."""
    e = load_table(spark, sf_dir, "events")

    def stage_after(ev_type: str, prev: DataFrame, tcol: str, out: str):
        return (
            e.where(F.col("event_type") == ev_type)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col(tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    # each frontier feeds BOTH the next stage and its own count row:
    # materialize the tiny per-user aggregates once (lazy localCheckpoint)
    # so counting a stage does not re-derive the whole prefix chain —
    # without this the count branches re-scan events 6x total
    s1 = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    s2 = stage_after("view", s1, "t1", "t2").localCheckpoint(eager=False)
    s3 = stage_after("purchase", s2, "t2", "t3")

    def count_row(df: DataFrame, stage: str, step: int) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            F.lit(step).cast("int").alias("step"),
        )

    return (
        count_row(s1, "click", 1)
        .unionByName(count_row(s2, "view", 2))
        .unionByName(count_row(s3, "purchase", 3))
        .orderBy("step")
    )


# Conversion-windowed funnel: each step must land within
# FUNNEL_WINDOW_DAYS of the previous step's timestamp — how a real
# product-analytics user asks the question (unbounded follow-time counts
# a purchase a year later as "converted").
FUNNEL_WINDOW_DAYS = 7

_FUNNEL_WINDOWED_SQL = f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t2 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
      GROUP BY e.user_id
    )
    SELECT stage, n_users, step FROM (
      SELECT 'click' AS stage, COUNT(*) AS n_users, 1 AS step FROM s1
      UNION ALL
      SELECT 'view', COUNT(*), 2 FROM s2
      UNION ALL
      SELECT 'purchase', COUNT(*), 3 FROM s3
    )
    ORDER BY step
"""


@register("funnel_stages_windowed", _FUNNEL_WINDOWED_SQL)
def q_funnel_stages_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_funnel_stages` with a max-conversion-window: a step only
    counts if it happens within FUNNEL_WINDOW_DAYS of the previous
    step. Same join/aggregate shape (one user-keyed shuffle per stage,
    shrinking frontier); the window predicate rides the stage filter, so
    it prunes before the aggregate rather than after."""
    e = load_table(spark, sf_dir, "events")
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY")

    def stage_after(ev_type: str, prev: DataFrame, tcol: str, out: str):
        return (
            e.where(F.col("event_type") == ev_type)
            .join(prev, "user_id")
            .where(
                (F.col("ts") > F.col(tcol))
                & (F.col("ts") <= F.col(tcol) + win)
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    # each frontier feeds BOTH the next stage and its own count row:
    # materialize the tiny per-user aggregates once (lazy localCheckpoint)
    # so counting a stage does not re-derive the whole prefix chain —
    # without this the count branches re-scan events 6x total
    s1 = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    s2 = stage_after("view", s1, "t1", "t2").localCheckpoint(eager=False)
    s3 = stage_after("purchase", s2, "t2", "t3")

    def count_row(df: DataFrame, stage: str, step: int) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            F.lit(step).cast("int").alias("step"),
        )

    return (
        count_row(s1, "click", 1)
        .unionByName(count_row(s2, "view", 2))
        .unionByName(count_row(s3, "purchase", 3))
        .orderBy("step")
    )


# --------------------------------------------------------------------------
# retention cohorts: weekly activity by first-seen week
# --------------------------------------------------------------------------
_RETENTION_SQL = """
    WITH wk AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, w.week) / 7 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_active
    FROM wk w JOIN cohort c USING (user_id)
    GROUP BY c.cohort_week, week_offset
    ORDER BY c.cohort_week, week_offset
"""


@register("retention_cohorts", _RETENTION_SQL)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-active week
    (cohort), counted in every later week they appear. Two aggregates
    and one join, all keyed on user_id / (cohort, offset) — the wk
    frame is the distinct (user, week) activity matrix, so volume into
    the join is bounded by users x weeks, not raw events."""
    e = load_table(spark, sf_dir, "events")
    wk = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# time-to-convert distribution: latency percentiles of signup -> purchase
# ---------------------------------------------------------------------------
_TTC_SQL = """
    WITH first_signup AS (
      SELECT user_id, MIN(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    first_purchase AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN first_signup s
        ON s.user_id = e.user_id
       AND e.ts >= s.t_signup
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT date_diff('second', s.t_signup, p.t_purchase) AS secs
      FROM first_signup s JOIN first_purchase p USING (user_id)
    )
    SELECT COUNT(*) AS n_converted,
           CAST(FLOOR(quantile_cont(secs, 0.5)) AS BIGINT) AS p50_secs,
           CAST(FLOOR(quantile_cont(secs, 0.9)) AS BIGINT) AS p90_secs,
           CAST(MAX(secs) AS BIGINT) AS max_secs
    FROM lat
"""


@register("time_to_convert", _TTC_SQL)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for users whose first purchase
    happens AT OR AFTER their first signup, the p50/p90/max seconds
    between the two — the number a growth team reads next to the funnel
    counts (funnel_stages says HOW MANY convert; this says HOW FAST).

    Scale shape: two filtered MIN aggregates on the user key, one
    equi-join (the signup frontier bounds the purchase scan's
    qualifying rows), exact interpolated percentiles over the
    converted-users row set (one row per converter — tiny). The >=
    ordering constraint keeps it sequence-aware, matching the funnel's
    semantics. quantile_cont at integer-second inputs interpolates to
    exact halves at worst — and the integer cast goes through an
    EXPLICIT FLOOR on both sides, because bare double->BIGINT casts
    disagree across engines (Spark truncates, DuckDB rounds — a
    measured 1-second p90 mismatch)."""
    e = load_table(spark, sf_dir, "events")
    signup = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    purchase = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(signup, "user_id")
        .where(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = (
        signup.join(purchase, "user_id")
        .select(
            (
                F.unix_timestamp("t_purchase")
                - F.unix_timestamp("t_signup")
            ).alias("secs")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.floor(F.percentile("secs", F.lit(0.5)))
        .cast("bigint")
        .alias("p50_secs"),
        F.floor(F.percentile("secs", F.lit(0.9)))
        .cast("bigint")
        .alias("p90_secs"),
        F.max("secs").cast("bigint").alias("max_secs"),
    )


# ---------------------------------------------------------------------------
# beyond-ref: user-concentration (Lorenz) shares of the event stream
# ---------------------------------------------------------------------------
_CONC_TOPS = (0.01, 0.10)

_CONCENTRATION_SQL = f"""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT COUNT(*) AS n_users, SUM(c) AS n_events FROM per_user
    ),
    th AS (
      SELECT
        {", ".join(
            f"CAST(FLOOR(quantile_cont(c, {1 - p})) AS BIGINT) AS th_{i}"
            for i, p in enumerate(_CONC_TOPS)
        )}
      FROM per_user
    )
    {" UNION ALL ".join(
        f'''SELECT {p} AS top_pct,
           CAST(SUM(CASE WHEN c > th_{i} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_heavy_users,
           CAST(MAX(n_users) AS BIGINT) AS n_users,
           ROUND(SUM(CASE WHEN c > th_{i} THEN c ELSE 0 END)
                 / CAST(MAX(n_events) AS DOUBLE), 6) AS event_share
        FROM per_user CROSS JOIN tot CROSS JOIN th'''
        for i, p in enumerate(_CONC_TOPS)
    )}
    ORDER BY top_pct
"""


def user_concentration(
    e: DataFrame, tops: tuple[float, ...] = _CONC_TOPS
) -> DataFrame:
    """Lorenz-curve points of the event stream: what share of all
    events the heaviest ~p of users generate (p = 1%, 10%) — the
    concentration number that decides whether per-user keys need
    salting and whether a 'power user' tier exists at all. 'Heaviest
    p' is threshold semantics (count > FLOOR(percentile(1-p)) — ties
    at the threshold excluded), so the share is exactly reproducible.

    Scale shape — the rfm_segments recipe on the activity axis: one
    keyed count collapses events to users, one partial-aggregable
    percentile pass yields the thresholds (broadcast scalars), and the
    shares are conditional integer sums — no sort, no window, no rank
    of the user table."""
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    per_user = per_user.localCheckpoint(eager=False)  # feeds th + shares
    th = per_user.agg(
        *[
            F.floor(F.percentile(F.col("c").cast("double"), F.lit(1 - p)))
            .cast("bigint")
            .alias(f"th_{i}")
            for i, p in enumerate(tops)
        ]
    )
    joined = per_user.crossJoin(F.broadcast(th))
    out = None
    for i, p in enumerate(tops):
        heavy = F.col("c") > F.col(f"th_{i}")
        row = joined.agg(
            F.lit(p).alias("top_pct"),
            F.sum(F.when(heavy, 1).otherwise(0))
            .cast("bigint")
            .alias("n_heavy_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(
                F.sum(F.when(heavy, F.col("c")).otherwise(0))
                / F.sum("c").cast("double"),
                6,
            ).alias("event_share"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("top_pct")


@register("user_concentration", _CONCENTRATION_SQL)
def q_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_concentration(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# beyond-ref: first-order Markov transition matrix of user event types
# ---------------------------------------------------------------------------
_MARKOV_SQL = """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    rowtot AS (
      SELECT from_type, SUM(n) AS tot FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n AS BIGINT) AS n_transitions,
           ROUND(t.n / CAST(r.tot AS DOUBLE), 6) AS prob
    FROM trans t JOIN rowtot r USING (from_type)
    ORDER BY from_type, to_type
"""


def event_markov_matrix(e: DataFrame) -> DataFrame:
    """First-order Markov transition matrix of per-user event-type
    sequences: P(next = b | current = a), with counts — the behavioral
    fingerprint funnels summarize away (a purchase->error hot cell is
    a product bug; a view->view diagonal near 1 is a crawler). Also the
    input a sequence-model sanity check starts from.

    Scale shape: the LAG window partitions by user (the same per-key
    window discipline as sessionization — never a global sort), then
    two small keyed aggregates over |types|^2 rows. Probabilities are
    integer-count ratios rounded once — engine-exact."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    rowtot = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        trans.join(rowtot, "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n_transitions"),
            F.round(F.col("n") / F.col("tot").cast("double"), 6).alias(
                "prob"
            ),
        )
        .orderBy("from_type", "to_type")
    )


@register("event_markov_matrix", _MARKOV_SQL)
def q_event_markov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_markov_matrix(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# beyond-ref: log2-bucketed inter-event-time distribution
# ---------------------------------------------------------------------------
_INTER_EVENT_SQL = """
    WITH seq AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    gaps AS (
      SELECT GREATEST(CAST(epoch_us(ts - prev_ts) // 1000000 AS BIGINT), 1)
               AS gap_s
      FROM seq WHERE prev_ts IS NOT NULL
    )
    SELECT CAST(FLOOR(LOG2(gap_s)) AS INT) AS log2_bucket,
           CAST(POW(2, FLOOR(LOG2(gap_s))) AS BIGINT) AS bucket_min_s,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps
    GROUP BY 1, 2
    ORDER BY log2_bucket
"""


def inter_event_time_distribution(e: DataFrame) -> DataFrame:
    """Log2-bucketed histogram of per-user inter-arrival gaps (whole
    seconds, floored at 1) — the burstiness fingerprint that sizes
    every sessionization gap threshold and watermark: human activity
    is bimodal (seconds-scale bursts, hours-scale returns) and the
    valley between the modes IS the right session gap; a unimodal or
    shifted histogram flags bot traffic or a clock-skewed feed.

    Scale shape: the LAG window partitions by user (the sessionization
    discipline — never a global sort); gaps truncate to integer seconds
    via exact integer microsecond arithmetic — Spark's ``div`` and
    DuckDB's ``//`` are both integer division, and the gap is
    non-negative (LAG within an ORDER BY ts window), so floor-vs-
    truncate cannot diverge and no double ever enters the expression
    (round-7 advice: the previous /1e6-then-FLOOR matched across
    engines but was not the exactness the docstring claimed); the
    histogram is a ~log2(max gap)-group aggregate with map-side
    combine. LOG2 only buckets integers (exact below 2^53 — the
    degree_distribution precedent)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.greatest(
        F.expr(
            "CAST((unix_micros(ts) - unix_micros(prev_ts)) div 1000000"
            " AS BIGINT)"
        ),
        F.lit(1),
    )
    gaps = (
        e.select("user_id", "ts", F.lag("ts").over(w).alias("prev_ts"))
        .where(F.col("prev_ts").isNotNull())
        .select(gap_s.alias("gap_s"))
    )
    bucket = F.floor(F.log2("gap_s")).cast("int")
    return (
        gaps.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
        )
        .select(
            "log2_bucket",
            F.pow(F.lit(2.0), F.col("log2_bucket").cast("double"))
            .cast("bigint")
            .alias("bucket_min_s"),
            "n_gaps",
            "min_gap_s",
            "max_gap_s",
        )
        .orderBy("log2_bucket")
    )


@register("inter_event_time_distribution", _INTER_EVENT_SQL)
def q_inter_event_time_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return inter_event_time_distribution(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# beyond-ref: most common whole-session event-type paths
# ---------------------------------------------------------------------------
PATH_GAP_MINUTES = 30
PATH_TOP_N = 20

_TOP_PATHS_SQL = f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w
                       > INTERVAL {PATH_GAP_MINUTES} MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM seq
    ),
    paths AS (
      SELECT user_id, sess_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {PATH_TOP_N}
"""


def top_event_paths(
    e: DataFrame,
    gap_minutes: int = PATH_GAP_MINUTES,
    top_n: int = PATH_TOP_N,
) -> DataFrame:
    """Most common WHOLE-session event-type paths under a
    ``gap_minutes`` inactivity sessionization — funnel DISCOVERY, where
    funnel_stages measures a path someone already hypothesized: the
    top paths table is where the hypotheses come from (and where the
    loops a predefined funnel can't see show up, e.g. view>view>view>
    purchase vs view>purchase).

    Scale shape: gap-break flag + running session number are the two
    per-user windows sessionization already pins (ONE exchange — both
    windows and the session groupBy share the user clustering); the
    path string builds from array_sort(collect_list(struct)) — struct
    field order (ts, event_id, type) makes the sort a total order, so
    the path is deterministic regardless of aggregation order; the
    final top-n over path counts is limit-first
    (TakeOrderedAndProject). Path strings stay bounded because sessions
    are gap-bounded — at 100 TB, cap session length with the same
    windowed-funnel guard funnel_stages_windowed uses."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    brk = F.when(
        F.col("prev_ts").isNull()
        | (F.unix_micros("ts") - F.unix_micros("prev_ts") > gap_us),
        1,
    ).otherwise(0)
    sess = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .withColumn("brk", brk)
        .withColumn(
            "sess_id",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    paths = sess.groupBy("user_id", "sess_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(top_n)
    )


@register("top_event_paths", _TOP_PATHS_SQL)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_event_paths(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# beyond-ref: peak concurrency (sweep line over session intervals)
# ---------------------------------------------------------------------------
_PEAK_SQL = f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM seq
    ),
    ivals AS (
      SELECT MIN(ts) AS s, MAX(ts) + INTERVAL 1 MICROSECOND AS e
      FROM sess GROUP BY user_id, sess_id
    ),
    deltas AS (
      SELECT t, SUM(d) AS delta FROM (
        SELECT s AS t, 1 AS d FROM ivals
        UNION ALL
        SELECT e AS t, -1 AS d FROM ivals
      ) GROUP BY t
    ),
    cum AS (
      SELECT t, SUM(delta) OVER (ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS conc
      FROM deltas
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ivals) AS n_sessions,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
           MIN(t) FILTER (WHERE conc = (SELECT MAX(conc) FROM cum))
             AS peak_ts
    FROM cum
"""


def peak_concurrency(e: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Maximum number of simultaneously-active user sessions (closed
    intervals [first event, last event] under a ``gap_minutes``
    inactivity sessionization) and the first instant the peak is
    reached — the capacity-planning number every serving fleet is
    sized by, and the classic interval sweep line GROUP BY can't
    express (concurrency couples every interval crossing a point).

    Scale shape: sessions are the shared per-user window recipe; the
    sweep line is +1/-1 deltas AGGREGATED PER DISTINCT TIMESTAMP (the
    order key becomes unique, and the running state shrinks to distinct
    boundary instants), then the running sum is the two-phase
    :func:`~.scale.prefix_sums` — no data-scale single-partition
    window — and the peak is one scalar aggregate with a broadcast
    join-back for its first instant."""
    from cours_datalake_dwh_td_kafka_spark.operators.scale import (
        prefix_sums,
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    brk = F.when(
        F.col("prev_ts").isNull()
        | (F.unix_micros("ts") - F.unix_micros("prev_ts") > gap_us),
        1,
    ).otherwise(0)
    sess = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .withColumn("brk", brk)
        .withColumn(
            "sess_id",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    ivals = sess.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("s"),
        (F.timestamp_micros(F.unix_micros(F.max("ts")) + 1)).alias("e"),
    ).localCheckpoint(eager=False)  # feeds deltas AND the session count
    n_sessions = ivals.agg(F.count(F.lit(1)).alias("n_sessions"))
    deltas = (
        ivals.select(F.col("s").alias("t"), F.lit(1).alias("d"))
        .unionByName(
            ivals.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
        )
        .groupBy("t")
        .agg(F.sum("d").alias("delta"))
    )
    cum = prefix_sums(deltas, "t", {"conc": "delta"}).localCheckpoint(
        eager=False
    )  # feeds the max AND the first-instant join-back
    peak = cum.agg(F.max("conc").alias("peak_concurrent"))
    first_at_peak = (
        cum.join(
            F.broadcast(peak), F.col("conc") == F.col("peak_concurrent")
        )
        .agg(F.min("t").alias("peak_ts"))
    )
    return (
        n_sessions.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(first_at_peak))
        .select(
            F.col("n_sessions").cast("bigint").alias("n_sessions"),
            F.col("peak_concurrent").cast("bigint").alias("peak_concurrent"),
            "peak_ts",
        )
    )


@register("peak_concurrency", _PEAK_SQL)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return peak_concurrency(load_table(spark, sf_dir, "events"))
