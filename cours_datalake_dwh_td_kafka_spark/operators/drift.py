"""Corpus drift monitoring: Population Stability Index between two
corpus snapshots.

A refreshed training corpus can pass every dedup/quality gate and still
have MOVED — longer documents, a shifted language mix, a source that
quietly doubled. PSI is the standard production drift metric for
exactly this: for each feature, bin both snapshots, compare the binned
proportions, and sum ``(p_cur - p_ref) * ln(p_cur / p_ref)`` over bins.
The conventional reading: < 0.1 stable, 0.1-0.25 moderate shift,
> 0.25 population change requiring investigation.

Determinism discipline (this row is value-hashed cross-engine):

- proportions are Laplace-smoothed ``(cnt + 0.5) / (n + 0.5 * B)`` with
  ``B`` = bins observed in EITHER snapshot — integer inputs, so both
  engines derive bit-identical doubles and no bin ever divides by zero
  or feeds ``ln`` a 0;
- each bin's PSI term is rounded to 6 BEFORE the feature total, and the
  total sums the rounded terms as ``DECIMAL`` — exact, associative,
  immune to float summation order (the importance-weight row's trick);
- ``ln`` is the only transcendental and both engines' libm agree far
  beyond the 6 rounded digits.

Scale shape: one scan builds both feature frames (a 2-way union of
constant-width projections), ONE groupBy on (feature, bin) produces the
contingency table (bins are bounded: <= 16 length buckets + observed
langs), and the per-feature totals are a 2-row broadcast join — no
window, no collect beyond the result itself. At 100 TB this is a single
partial-aggregated shuffle of ~B rows per executor.

The registered row splits the documents table by doc_id parity as two
deterministic snapshot stand-ins; a deployment passes two lake versions
(``lake_read(path, version=...)`` pairs) to :func:`corpus_drift_psi`
directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.registry import register

#: length-feature binning: floor(n_chars / LEN_BIN_WIDTH), capped
LEN_BIN_WIDTH = 64
LEN_BIN_MAX = 15

#: conventional PSI alert threshold (0.1 = moderate shift)
PSI_ALERT = 0.1


def _feature_rows(d: DataFrame, side: str) -> DataFrame:
    """(feature, bin, <side>=1) rows for one snapshot: a capped
    length-bucket feature and the categorical lang feature."""
    len_bin = F.least(
        F.floor(F.col("n_chars") / LEN_BIN_WIDTH), F.lit(LEN_BIN_MAX)
    ).cast("string")
    lng = d.select(
        F.lit("lang").alias("feature"), F.col("lang").alias("bin")
    )
    ln = d.select(
        F.lit("len_bucket").alias("feature"), len_bin.alias("bin")
    )
    return lng.unionByName(ln).withColumn(side, F.lit(1))


def corpus_drift_psi(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """PSI between two snapshots over the lang and length-bucket
    features. Output: one row per (feature, bin) with both counts, the
    smoothed proportions, the bin's PSI term, the feature's total PSI
    and the alert verdict — bounded by the bin space, never by corpus
    size."""
    rows = _feature_rows(ref, "is_ref").unionByName(
        _feature_rows(cur, "is_cur"), allowMissingColumns=True
    )
    binned = rows.groupBy("feature", "bin").agg(
        F.sum(F.coalesce("is_ref", F.lit(0))).cast("long").alias("ref_cnt"),
        F.sum(F.coalesce("is_cur", F.lit(0))).cast("long").alias("cur_cnt"),
    )
    totals = binned.groupBy("feature").agg(
        F.sum("ref_cnt").alias("n_ref"),
        F.sum("cur_cnt").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    p_ref = (F.col("ref_cnt") + 0.5) / (
        F.col("n_ref") + 0.5 * F.col("n_bins")
    )
    p_cur = (F.col("cur_cnt") + 0.5) / (
        F.col("n_cur") + 0.5 * F.col("n_bins")
    )
    terms = binned.join(F.broadcast(totals), "feature").withColumn(
        "psi_term", F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6)
    )
    feature_psi = terms.groupBy("feature").agg(
        F.sum(F.col("psi_term").cast("decimal(18,6)"))
        .cast("double")
        .alias("feature_psi")
    )
    return (
        terms.join(F.broadcast(feature_psi), "feature")
        .select(
            "feature",
            "bin",
            "ref_cnt",
            "cur_cnt",
            F.round(p_ref, 6).alias("p_ref"),
            F.round(p_cur, 6).alias("p_cur"),
            "psi_term",
            "feature_psi",
            (F.col("feature_psi") > PSI_ALERT).alias("drift_alert"),
        )
        # explicit null placement: Spark sorts NULLS FIRST ascending,
        # DuckDB NULLS LAST — a null lang bin would produce a row-order
        # (thus value-hash) divergence even with equal values (ADVICE r11)
        .orderBy("feature", F.asc_nulls_last("bin"))
    )


_PSI_SQL = f"""
    WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    cur AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    rows_ AS (
      SELECT 'lang' AS feature, lang AS bin, 1 AS is_ref, 0 AS is_cur
        FROM ref
      UNION ALL
      SELECT 'len_bucket',
             CAST(LEAST(FLOOR(n_chars / {LEN_BIN_WIDTH}), {LEN_BIN_MAX})
                  AS BIGINT)::VARCHAR, 1, 0
        FROM ref
      UNION ALL
      SELECT 'lang', lang, 0, 1 FROM cur
      UNION ALL
      SELECT 'len_bucket',
             CAST(LEAST(FLOOR(n_chars / {LEN_BIN_WIDTH}), {LEN_BIN_MAX})
                  AS BIGINT)::VARCHAR, 0, 1
        FROM cur
    ),
    binned AS (
      SELECT feature, bin,
             CAST(SUM(is_ref) AS BIGINT) AS ref_cnt,
             CAST(SUM(is_cur) AS BIGINT) AS cur_cnt
      FROM rows_ GROUP BY feature, bin
    ),
    totals AS (
      SELECT feature, SUM(ref_cnt) AS n_ref, SUM(cur_cnt) AS n_cur,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM binned GROUP BY feature
    ),
    props AS (
      -- explicit DOUBLE casts: DuckDB's BIGINT + 0.5 is DECIMAL math,
      -- Spark's long + 0.5d is double math — force the Spark shape
      SELECT b.feature, b.bin, b.ref_cnt, b.cur_cnt,
             (CAST(b.ref_cnt AS DOUBLE) + 0.5)
               / (CAST(t.n_ref AS DOUBLE)
                  + 0.5 * CAST(t.n_bins AS DOUBLE)) AS p_ref_raw,
             (CAST(b.cur_cnt AS DOUBLE) + 0.5)
               / (CAST(t.n_cur AS DOUBLE)
                  + 0.5 * CAST(t.n_bins AS DOUBLE)) AS p_cur_raw
      FROM binned b JOIN totals t USING (feature)
    ),
    terms AS (
      SELECT feature, bin, ref_cnt, cur_cnt, p_ref_raw, p_cur_raw,
             ROUND((p_cur_raw - p_ref_raw) * LN(p_cur_raw / p_ref_raw), 6)
               AS psi_term
      FROM props
    ),
    fpsi AS (
      SELECT feature,
             CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) AS DOUBLE)
               AS feature_psi
      FROM terms GROUP BY feature
    )
    SELECT t.feature, t.bin, t.ref_cnt, t.cur_cnt,
           ROUND(t.p_ref_raw, 6) AS p_ref,
           ROUND(t.p_cur_raw, 6) AS p_cur,
           t.psi_term, f.feature_psi,
           f.feature_psi > {PSI_ALERT} AS drift_alert
    FROM terms t JOIN fpsi f USING (feature)
    ORDER BY feature, bin NULLS LAST
"""


@register("corpus_drift_psi", _PSI_SQL)
def q_corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return corpus_drift_psi(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1)
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov drift (round 12, beyond-ref): the ORDERED
# complement of PSI. PSI treats bins as categories — a distribution that
# shifts mass one bucket to the right scores the same as one that
# scatters it anywhere; KS measures the maximal CDF gap, which is
# exactly sensitive to directional shift. Full-resolution KS needs a
# global sort of both samples (the one-task anti-pattern the plan gate
# polices); the production form at 100 TB is KS over the HISTOGRAM —
# bounded bins, cumulative sums via a broadcast triangular self-join
# over <= 16 rows, one partial-aggregated shuffle of ~bins rows total.
# Binned KS is exact for the binned distribution and lower-bounds the
# unbinned statistic (coarsening can only erase gaps, never create
# them), so an alert here is always a true alert at full resolution.
# ---------------------------------------------------------------------------

#: alpha = 0.05 two-sample KS critical coefficient
KS_COEFF = 1.358

#: sentinel bin for NULL n_chars (ADVICE r12): a NULL bin key survives
#: the groupBy but vanishes from the triangular CDF join (NULL never
#: satisfies bin2 <= bin, in Spark OR SQL), so its mass would count in
#: the totals yet never reach a CDF — the CDFs would silently top out
#: below 1.0 and null mass could never contribute a gap. Mapping NULL
#: to LEN_BIN_MAX + 1 makes it a REAL ordered bin, placed after every
#: capped non-null bin (the NULLS LAST convention the PSI row uses),
#: and collision-free because non-null bins are capped at LEN_BIN_MAX.
KS_NULL_BIN = LEN_BIN_MAX + 1


def ks_len_bin() -> "F.Column":
    """The KS length-bucket binning expression: null ``n_chars`` lands
    in :data:`KS_NULL_BIN`, after every capped bin."""
    return (
        F.when(F.col("n_chars").isNull(), F.lit(KS_NULL_BIN))
        .otherwise(
            F.least(
                F.floor(F.col("n_chars") / LEN_BIN_WIDTH),
                F.lit(LEN_BIN_MAX),
            )
        )
        .cast("long")
    )


def corpus_drift_ks(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """Binned two-sample KS over the length-bucket feature. One row per
    bin with both counts, both CDFs, the per-bin gap, the KS statistic
    (max gap) and the alpha=0.05 verdict — bounded by the bin space.
    NULL n_chars rows are binned at :data:`KS_NULL_BIN` (after every
    real bucket), so their mass reaches the CDFs and both CDFs end at
    exactly 1.0."""
    len_bin = ks_len_bin()
    rows = (
        ref.select(len_bin.alias("bin"), F.lit(1).alias("is_ref"),
                   F.lit(0).alias("is_cur"))
        .unionByName(
            cur.select(len_bin.alias("bin"), F.lit(0).alias("is_ref"),
                       F.lit(1).alias("is_cur"))
        )
    )
    binned = rows.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("ref_cnt"),
        F.sum("is_cur").cast("long").alias("cur_cnt"),
    )
    totals = binned.agg(
        F.sum("ref_cnt").cast("long").alias("n_ref"),
        F.sum("cur_cnt").cast("long").alias("n_cur"),
    )
    rhs = binned.select(
        F.col("bin").alias("bin2"),
        F.col("ref_cnt").alias("rc2"),
        F.col("cur_cnt").alias("cc2"),
    )
    cum = (
        binned.join(F.broadcast(rhs), F.col("bin2") <= F.col("bin"))
        .groupBy("bin", "ref_cnt", "cur_cnt")
        .agg(
            F.sum("rc2").cast("long").alias("cum_ref"),
            F.sum("cc2").cast("long").alias("cum_cur"),
        )
    )
    gaps = cum.crossJoin(F.broadcast(totals)).withColumn(
        "d_bin",
        F.round(
            F.abs(
                F.col("cum_ref").cast("double") / F.col("n_ref")
                - F.col("cum_cur").cast("double") / F.col("n_cur")
            ),
            6,
        ),
    )
    ks = gaps.agg(F.max("d_bin").alias("ks_stat"))
    crit = F.round(
        F.lit(KS_COEFF)
        * F.sqrt(
            (F.col("n_ref") + F.col("n_cur")).cast("double")
            / (F.col("n_ref") * F.col("n_cur")).cast("double")
        ),
        6,
    )
    return (
        gaps.crossJoin(F.broadcast(ks))
        .select(
            "bin",
            "ref_cnt",
            "cur_cnt",
            F.round(F.col("cum_ref").cast("double") / F.col("n_ref"), 6)
            .alias("cdf_ref"),
            F.round(F.col("cum_cur").cast("double") / F.col("n_cur"), 6)
            .alias("cdf_cur"),
            "d_bin",
            "ks_stat",
            crit.alias("critical_value"),
            (F.col("ks_stat") > crit).alias("drift_alert"),
        )
        .orderBy("bin")
    )


_KS_SQL = f"""
    WITH rows_ AS (
      SELECT CASE WHEN n_chars IS NULL THEN CAST({KS_NULL_BIN} AS BIGINT)
                  ELSE CAST(LEAST(FLOOR(n_chars / {LEN_BIN_WIDTH}),
                                  {LEN_BIN_MAX}) AS BIGINT)
             END AS bin,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref,
             CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS is_cur
      FROM documents
    ),
    binned AS (
      SELECT bin, CAST(SUM(is_ref) AS BIGINT) AS ref_cnt,
             CAST(SUM(is_cur) AS BIGINT) AS cur_cnt
      FROM rows_ GROUP BY bin
    ),
    totals AS (
      SELECT CAST(SUM(ref_cnt) AS BIGINT) AS n_ref,
             CAST(SUM(cur_cnt) AS BIGINT) AS n_cur
      FROM binned
    ),
    cum AS (
      SELECT b.bin, b.ref_cnt, b.cur_cnt,
             CAST(SUM(b2.ref_cnt) AS BIGINT) AS cum_ref,
             CAST(SUM(b2.cur_cnt) AS BIGINT) AS cum_cur
      FROM binned b JOIN binned b2 ON b2.bin <= b.bin
      GROUP BY b.bin, b.ref_cnt, b.cur_cnt
    ),
    gaps AS (
      SELECT c.bin, c.ref_cnt, c.cur_cnt, c.cum_ref, c.cum_cur,
             t.n_ref, t.n_cur,
             ROUND(ABS(CAST(c.cum_ref AS DOUBLE) / CAST(t.n_ref AS DOUBLE)
                     - CAST(c.cum_cur AS DOUBLE) / CAST(t.n_cur AS DOUBLE)),
                   6) AS d_bin
      FROM cum c CROSS JOIN totals t
    ),
    ks AS (SELECT MAX(d_bin) AS ks_stat FROM gaps)
    SELECT g.bin, g.ref_cnt, g.cur_cnt,
           ROUND(CAST(g.cum_ref AS DOUBLE) / CAST(g.n_ref AS DOUBLE), 6)
             AS cdf_ref,
           ROUND(CAST(g.cum_cur AS DOUBLE) / CAST(g.n_cur AS DOUBLE), 6)
             AS cdf_cur,
           g.d_bin, k.ks_stat,
           ROUND({KS_COEFF} * SQRT(
             CAST(g.n_ref + g.n_cur AS DOUBLE)
             / CAST(g.n_ref * g.n_cur AS DOUBLE)), 6) AS critical_value,
           k.ks_stat > ROUND({KS_COEFF} * SQRT(
             CAST(g.n_ref + g.n_cur AS DOUBLE)
             / CAST(g.n_ref * g.n_cur AS DOUBLE)), 6) AS drift_alert
    FROM gaps g CROSS JOIN ks k
    ORDER BY bin
"""


@register("corpus_drift_ks", _KS_SQL)
def q_corpus_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return corpus_drift_ks(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1)
    )


# ---------------------------------------------------------------------------
# equi-depth (adaptive-bin) KS (round 13): the fixed-width length bins
# above waste resolution where the corpus is sparse and saturate where
# it is dense — the classic fix is EQUI-DEPTH bins (one per decile of
# the reference snapshot), which maximizes per-bin KS sensitivity for a
# fixed bin budget. At 100 TB the decile boundaries come from the
# mergeable quantile sketch (operators/quantile_sketch — one pass,
# bounded state, self-reported rank error), never a sort; the ATTESTED
# row derives them from the exact percentile aggregate so the oracle
# can recompute the very same bin assignment, and carries an in-row
# boolean proving the sketch's boundary estimates sit within its
# self-reported rank-error budget of the exact targets — the evidence
# that the sketch-driven production path bins faithfully.
# ---------------------------------------------------------------------------

#: reference-snapshot quantiles that become the adaptive bin edges
KSA_PS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

#: the adaptive NULL sentinel bin — after every real equi-depth bin
KSA_NULL_BIN = len(KSA_PS) + 1


def ksa_edges(ref: DataFrame) -> list[float]:
    """The reference snapshot's exact n_chars deciles, rounded ONCE to
    6 in-engine (Spark's double ROUND == DuckDB's — never round a
    collected float in Python, whose round() is banker's). A 100 TB
    deployment substitutes the mergeable quantile sketch's estimates
    here; the attested row uses the exact aggregate so the oracle can
    recompute bin assignment, and separately attests the sketch's
    fidelity."""
    row = ref.agg(
        F.transform(
            F.percentile(F.col("n_chars").cast("double"),
                         F.array(*[F.lit(p) for p in KSA_PS])),
            lambda x: F.round(x, 6),
        ).alias("qs")
    ).first()
    if row["qs"] is None or any(x is None for x in row["qs"]):
        raise ValueError(
            "ksa_edges: the reference snapshot has no non-null n_chars "
            "rows — equi-depth bin edges are undefined (an empty or "
            "all-null reference cannot anchor a drift monitor)"
        )
    return [float(x) for x in row["qs"]]


def ksa_bin_expr(edges: list[float], c: "F.Column") -> "F.Column":
    """Equi-depth bin of ``c``: the count of edges it exceeds; NULL
    lands in the sentinel bin after every real one."""
    b = F.lit(0)
    for e in edges:
        b = b + F.when(c.cast("double") > F.lit(e), 1).otherwise(0)
    return F.when(c.isNull(), F.lit(KSA_NULL_BIN)).otherwise(b).cast("long")


def _ks_from_binned(binned: DataFrame) -> DataFrame:
    """Shared KS tail: (bin, ref_cnt, cur_cnt) -> CDFs, gaps, statistic,
    verdict. Bounded by the bin space (broadcast triangular join)."""
    totals = binned.agg(
        F.sum("ref_cnt").cast("long").alias("n_ref"),
        F.sum("cur_cnt").cast("long").alias("n_cur"),
    )
    rhs = binned.select(
        F.col("bin").alias("bin2"),
        F.col("ref_cnt").alias("rc2"),
        F.col("cur_cnt").alias("cc2"),
    )
    cum = (
        binned.join(F.broadcast(rhs), F.col("bin2") <= F.col("bin"))
        .groupBy("bin", "ref_cnt", "cur_cnt")
        .agg(
            F.sum("rc2").cast("long").alias("cum_ref"),
            F.sum("cc2").cast("long").alias("cum_cur"),
        )
    )
    gaps = cum.crossJoin(F.broadcast(totals)).withColumn(
        "d_bin",
        F.round(
            F.abs(
                F.col("cum_ref").cast("double") / F.col("n_ref")
                - F.col("cum_cur").cast("double") / F.col("n_cur")
            ),
            6,
        ),
    )
    ks = gaps.agg(F.max("d_bin").alias("ks_stat"))
    crit = F.round(
        F.lit(KS_COEFF)
        * F.sqrt(
            (F.col("n_ref") + F.col("n_cur")).cast("double")
            / (F.col("n_ref") * F.col("n_cur")).cast("double")
        ),
        6,
    )
    return (
        gaps.crossJoin(F.broadcast(ks))
        .select(
            "bin",
            "ref_cnt",
            "cur_cnt",
            F.round(F.col("cum_ref").cast("double") / F.col("n_ref"), 6)
            .alias("cdf_ref"),
            F.round(F.col("cum_cur").cast("double") / F.col("n_cur"), 6)
            .alias("cdf_cur"),
            "d_bin",
            "ks_stat",
            crit.alias("critical_value"),
            (F.col("ks_stat") > crit).alias("drift_alert"),
        )
        .orderBy("bin")
    )


def corpus_drift_ks_adaptive(
    ref: DataFrame, cur: DataFrame
) -> DataFrame:
    """Equi-depth binned two-sample KS: bin edges are the REFERENCE
    snapshot's exact n_chars deciles (rounded once to 6, the shared
    cross-engine rounding), values bin by counting edges they exceed,
    NULL lengths land in the sentinel bin after every real one. Output
    rows as :func:`corpus_drift_ks`, plus ``sketch_bins_within_rank_err``
    — the mergeable quantile sketch's decile estimates over the same
    reference sit within its self-reported rank-error budget of the
    exact targets (the production path's fidelity, attested)."""
    import math as _math

    from cours_datalake_dwh_td_kafka_spark.operators.quantile_sketch import (
        quantile_sketch_summary,
        sketch_quantile,
    )

    edges = ksa_edges(ref)

    def bin_of(c):
        return ksa_bin_expr(edges, c)

    rows = ref.select(
        bin_of(F.col("n_chars")).alias("bin"),
        F.lit(1).alias("is_ref"),
        F.lit(0).alias("is_cur"),
    ).unionByName(
        cur.select(
            bin_of(F.col("n_chars")).alias("bin"),
            F.lit(0).alias("is_ref"),
            F.lit(1).alias("is_cur"),
        )
    )
    binned = rows.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("ref_cnt"),
        F.sum("is_cur").cast("long").alias("cur_cnt"),
    )
    out = _ks_from_binned(binned)

    # sketch fidelity: each decile estimate's value must lie between the
    # exact percentiles at (target ± (err + 1))/n — the quantile_sketch
    # row's bracket, applied to the boundaries this monitor would use
    # at scale
    srows = quantile_sketch_summary(
        ref.select(F.col("n_chars").cast("double").alias("v")), "v"
    ).collect()
    pts = [(r.value, r.weight) for r in srows if r.value is not None]
    n = sum(r.n for r in srows)
    err = sum(r.err for r in srows)
    lo_ps = [max(0.0, (_math.ceil(p * n) - err - 1) / n) for p in KSA_PS]
    hi_ps = [min(1.0, (_math.ceil(p * n) + err + 1) / n) for p in KSA_PS]
    arr = lambda xs: F.array(*[F.lit(float(x)) for x in xs])  # noqa: E731
    br = ref.agg(
        F.percentile(F.col("n_chars").cast("double"), arr(lo_ps)).alias("lo"),
        F.percentile(F.col("n_chars").cast("double"), arr(hi_ps)).alias("hi"),
    ).first()
    within = all(
        float(br["lo"][i])
        <= sketch_quantile(pts, n, p)
        <= float(br["hi"][i])
        for i, p in enumerate(KSA_PS)
    )
    return out.withColumn(
        "sketch_bins_within_rank_err", F.lit(bool(within))
    )


def _ksa_sql() -> str:
    edge_cols = ", ".join(
        f"ROUND(quantile_cont(CAST(n_chars AS DOUBLE), {p}), 6) AS e{i}"
        for i, p in enumerate(KSA_PS)
    )
    bin_sum = " + ".join(
        f"(CASE WHEN CAST(n_chars AS DOUBLE) > b.e{i} THEN 1 ELSE 0 END)"
        for i in range(len(KSA_PS))
    )
    null_bin = len(KSA_PS) + 1
    return f"""
    WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    cur AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    b AS (SELECT {edge_cols} FROM ref),
    rows_ AS (
      SELECT CASE WHEN n_chars IS NULL THEN CAST({null_bin} AS BIGINT)
                  ELSE CAST({bin_sum} AS BIGINT) END AS bin,
             is_ref, is_cur
      FROM (SELECT n_chars, 1 AS is_ref, 0 AS is_cur FROM ref
            UNION ALL
            SELECT n_chars, 0, 1 FROM cur) CROSS JOIN b
    ),
    binned AS (
      SELECT bin, CAST(SUM(is_ref) AS BIGINT) AS ref_cnt,
             CAST(SUM(is_cur) AS BIGINT) AS cur_cnt
      FROM rows_ GROUP BY bin
    ),
    totals AS (
      SELECT CAST(SUM(ref_cnt) AS BIGINT) AS n_ref,
             CAST(SUM(cur_cnt) AS BIGINT) AS n_cur
      FROM binned
    ),
    cum AS (
      SELECT bn.bin, bn.ref_cnt, bn.cur_cnt,
             CAST(SUM(b2.ref_cnt) AS BIGINT) AS cum_ref,
             CAST(SUM(b2.cur_cnt) AS BIGINT) AS cum_cur
      FROM binned bn JOIN binned b2 ON b2.bin <= bn.bin
      GROUP BY bn.bin, bn.ref_cnt, bn.cur_cnt
    ),
    gaps AS (
      SELECT c.bin, c.ref_cnt, c.cur_cnt, c.cum_ref, c.cum_cur,
             t.n_ref, t.n_cur,
             ROUND(ABS(CAST(c.cum_ref AS DOUBLE) / CAST(t.n_ref AS DOUBLE)
                     - CAST(c.cum_cur AS DOUBLE) / CAST(t.n_cur AS DOUBLE)),
                   6) AS d_bin
      FROM cum c CROSS JOIN totals t
    ),
    ks AS (SELECT MAX(d_bin) AS ks_stat FROM gaps)
    SELECT g.bin, g.ref_cnt, g.cur_cnt,
           ROUND(CAST(g.cum_ref AS DOUBLE) / CAST(g.n_ref AS DOUBLE), 6)
             AS cdf_ref,
           ROUND(CAST(g.cum_cur AS DOUBLE) / CAST(g.n_cur AS DOUBLE), 6)
             AS cdf_cur,
           g.d_bin, k.ks_stat,
           ROUND({KS_COEFF} * SQRT(
             CAST(g.n_ref + g.n_cur AS DOUBLE)
             / CAST(g.n_ref * g.n_cur AS DOUBLE)), 6) AS critical_value,
           k.ks_stat > ROUND({KS_COEFF} * SQRT(
             CAST(g.n_ref + g.n_cur AS DOUBLE)
             / CAST(g.n_ref * g.n_cur AS DOUBLE)), 6) AS drift_alert,
           TRUE AS sketch_bins_within_rank_err
    FROM gaps g CROSS JOIN ks k
    ORDER BY bin
"""


@register("corpus_drift_ks_adaptive", _ksa_sql())
def q_corpus_drift_ks_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return corpus_drift_ks_adaptive(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1)
    )
