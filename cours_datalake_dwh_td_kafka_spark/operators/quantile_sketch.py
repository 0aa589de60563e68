"""Mergeable quantile sketch (round 13, VERDICT r12 #4): the missing
member of the sketch family next to CMS / HLL / KMV / Misra-Gries,
and the drift monitors bin at fixed width (LEN_BIN_WIDTH) because
full-resolution KS needs a global sort. This module adds a KLL/MRL-style compacting
summary (Munro-Paterson 1980; Manku-Rajagopalan-Lindsay 1998;
Karnin-Lang-Liberty 2016 — public papers; the reference has no sketch
of any kind, its quantiles come from pandas ``describe``,
work/Intro_pySpark.ipynb):

- each partition folds its rows through a DETERMINISTIC multi-level
  compactor: level-h buffers hold at most ``QS_K`` values of weight
  2^h; an overflowing buffer is sorted and its odd-indexed half is
  promoted to level h+1 at doubled weight. One compaction of a
  weight-w level perturbs any rank by at most w (the classic
  deterministic bound — no randomized offset, so the error accounting
  below is worst-case, not expected), and the sketch carries its own
  EXACT error budget: ``err += w`` per compaction performed.
- a sketch is a weighted point multiset + (n, err). Compaction
  conserves total weight (2m points of weight w become m of weight
  2w), so sum(weight) == n exactly — asserted in-row.
- MERGE is multiset union with n/err adding — associative,
  commutative, order-insensitive bit-for-bit (no cross-summary
  re-compaction, so merging adds ZERO new error; the union grows by
  O(k log(m/k)) per summary, the driver-side fold every production
  sketch library does in its ``get_quantiles``).
- a rank query walks the value-sorted points' cumulative weights.
  Guarantee: the returned value's TRUE rank is within ``err`` of the
  target — checked in-query against Spark's exact ``percentile`` at
  the (target ± err)/n brackets, the ``approx_quantiles`` /
  ``distinct_hll_bound`` oracle pattern (sketch content is
  partitioning-specific; the GUARANTEE is the oracle-checkable fact).

Scale shape: one pass, O(k log(m/k)) memory per partition, summaries
ship as (value, weight) rows — at 100 TB the sketch leg is a linear
scan plus a P*k-row collect, never a sort. The exact-percentile leg
exists ONLY to attest the bound at test scale.
"""

from __future__ import annotations

import math
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.registry import register

# The mapInPandas summarizer closes over this module's sketch core;
# pickling the module BY VALUE ships the code inside the task, so a
# plain driver session whose workers lack the repo on sys.path (the
# round-3 gram lesson) still runs it.
try:
    from pyspark.cloudpickle import register_pickle_by_value

    register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover - old pyspark without the API
    pass

#: buffer capacity per level; rank error is O(n log(n/K) / K)
QS_K = 200

#: probed quantiles (scalar-shaped output, one row per p)
QS_PS = (0.01, 0.25, 0.5, 0.75, 0.99)

_SUMMARY_SCHEMA = "value double, weight long, err long, n long"


# ---------------------------------------------------------------------------
# pure-Python sketch core, run by the mapInPandas workers
# ---------------------------------------------------------------------------


def sketch_new() -> dict:
    return {"levels": [[]], "n": 0, "err": 0}


def _compact_level(state: dict, h: int) -> None:
    buf = state["levels"][h]
    buf.sort()
    if len(state["levels"]) == h + 1:
        state["levels"].append([])
    keep_odd = len(buf) % 2  # odd length: last element stays at level h
    even = buf[: len(buf) - keep_odd]
    promoted = even[1::2]  # deterministic: odd indices of the sorted prefix
    state["levels"][h] = [buf[-1]] if keep_odd else []
    state["levels"][h + 1].extend(promoted)
    state["err"] += 1 << h  # one compaction at weight 2^h costs <= 2^h


def sketch_update(state: dict, values) -> None:
    """Feed raw values (floats; caller drops NULLs). Amortized O(1)
    per value; memory bounded by QS_K per level."""
    lv0 = state["levels"][0]
    for v in values:
        lv0.append(float(v))
        state["n"] += 1
        if len(lv0) > QS_K:
            _compact_level(state, 0)
            lv0 = state["levels"][0]
            h = 1
            while h < len(state["levels"]) and len(state["levels"][h]) > QS_K:
                _compact_level(state, h)
                h += 1


def sketch_points(state: dict) -> list[tuple[float, int]]:
    return [
        (v, 1 << h)
        for h, buf in enumerate(state["levels"])
        for v in buf
    ]


def sketch_merge(
    points_a: list, n_a: int, err_a: int, points_b: list, n_b: int, err_b: int
) -> tuple[list, int, int]:
    """Union-only merge: associative, commutative, adds no error."""
    return points_a + points_b, n_a + n_b, err_a + err_b


def sketch_quantile(points: list, n: int, p: float) -> float:
    """Smallest value whose cumulative weight reaches ceil(p*n)."""
    if not points or n <= 0:
        return float("nan")
    target = max(1, math.ceil(p * n))
    cum = 0
    for v, w in sorted(points):
        cum += w
        if cum >= target:
            return v
    return sorted(points)[-1][0]


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------


def quantile_sketch_summary(df: DataFrame, col: str) -> DataFrame:
    """Per-partition sketch summaries as (value, weight, err, n) rows:
    point rows carry (value, weight, 0, 0); ONE sentinel row per
    partition (value NULL) carries that partition's (err, n). The
    union of all partitions' rows IS the merged sketch — bounded by
    partitions * K * levels, never by row count."""
    import pandas as pd

    def summarize(batches):
        st = sketch_new()
        seen = False
        for pdf in batches:
            vals = pdf[col].dropna()
            if len(vals):
                seen = True
                sketch_update(st, vals.to_numpy())
        if not seen:
            return
        pts = sketch_points(st)
        yield pd.DataFrame(
            {
                "value": [v for v, _ in pts] + [None],
                "weight": [w for _, w in pts] + [0],
                "err": [0] * len(pts) + [st["err"]],
                "n": [0] * len(pts) + [st["n"]],
            }
        )

    return df.select(col).mapInPandas(summarize, _SUMMARY_SCHEMA)


def quantile_sketch_bound(
    df: DataFrame, col: str, ps=QS_PS
) -> DataFrame:
    """The attested row: estimate each p through the mergeable sketch,
    then bound-check the estimate against Spark's EXACT interpolated
    percentile at the (rank ± err ± 1)/n brackets. Hashed columns are
    (p, exact_q, within_rank_err, weight_conserved_ok) — the sketch
    content depends on partitioning, the guarantee does not."""
    rows = quantile_sketch_summary(df, col).collect()
    points = [(r.value, r.weight) for r in rows if r.value is not None]
    n = sum(r.n for r in rows)
    err = sum(r.err for r in rows)
    if n == 0:
        raise ValueError(f"quantile_sketch_bound: no non-null {col!r} rows")
    weight_ok = sum(w for _, w in points) == n
    ests = {p: sketch_quantile(points, n, p) for p in ps}

    ps_l = list(ps)
    lo = [max(0.0, (math.ceil(p * n) - err - 1) / n) for p in ps_l]
    hi = [min(1.0, (math.ceil(p * n) + err + 1) / n) for p in ps_l]
    arr = lambda xs: F.array(*[F.lit(float(x)) for x in xs])  # noqa: E731
    agg = df.agg(
        F.percentile(col, arr(ps_l)).alias("qe"),
        F.percentile(col, arr(lo)).alias("qlo"),
        F.percentile(col, arr(hi)).alias("qhi"),
    )
    est_col = F.array(*[F.lit(float(ests[p])) for p in ps_l])
    return (
        agg.select(F.posexplode(arr(ps_l)).alias("i", "p"), "qe", "qlo", "qhi")
        .select(
            "p",
            F.round(F.col("qe")[F.col("i")], 6).alias("exact_q"),
            (
                (est_col[F.col("i")] >= F.col("qlo")[F.col("i")])
                & (est_col[F.col("i")] <= F.col("qhi")[F.col("i")])
            ).alias("within_rank_err"),
            F.lit(bool(weight_ok)).alias("weight_conserved_ok"),
        )
        .orderBy("p")
    )


_QS_SQL = " UNION ALL ".join(
    f"""
    SELECT CAST({p} AS DOUBLE) AS p,
           ROUND(quantile_cont(value, {p}), 6) AS exact_q,
           TRUE AS within_rank_err,
           TRUE AS weight_conserved_ok
    FROM events
    """
    for p in QS_PS
) + " ORDER BY p"


@register("quantile_sketch", _QS_SQL)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantile_sketch_bound(load_table(spark, sf_dir, "events"), "value")


# ---------------------------------------------------------------------------
# grouped variant: one sketch per key — the per-cohort monitoring shape
# (latency percentiles per event type, length percentiles per source).
# Same scale split as the CMS/HLL/MG per-key sketches: the volume-
# scaling pass is ONE mapInPandas over the (key, value) projection with
# a dict of compactors (state bounded by keys-per-partition * K *
# levels), the all-keys fold is a bounded driver merge.
# ---------------------------------------------------------------------------

#: probed per-group quantiles (fewer than the global row: one output
#: row per (key, p) keeps the attested frame scalar-shaped and small)
QS_GROUP_PS = (0.25, 0.5, 0.75, 0.95)


def quantile_sketch_summary_by(
    df: DataFrame, key: str, col: str
) -> DataFrame:
    """Per-(partition, key) sketch summaries. Point rows carry
    (key, value, weight, 0, 0); one sentinel row per (partition, key)
    carries (key, NULL, 0, err, n)."""
    import pandas as pd

    key_type = df.schema[key].dataType.simpleString()
    schema = f"{key} {key_type}, value double, weight long, err long, n long"

    def summarize(batches):
        states: dict = {}
        for pdf in batches:
            sub = pdf[[key, col]].dropna(subset=[col])
            for k, grp in sub.groupby(key, dropna=False, sort=False):
                st = states.get(k)
                if st is None:
                    st = states[k] = sketch_new()
                sketch_update(st, grp[col].to_numpy())
        for k, st in states.items():
            pts = sketch_points(st)
            yield pd.DataFrame(
                {
                    key: [k] * (len(pts) + 1),
                    "value": [v for v, _ in pts] + [None],
                    "weight": [w for _, w in pts] + [0],
                    "err": [0] * len(pts) + [st["err"]],
                    "n": [0] * len(pts) + [st["n"]],
                }
            )

    return df.select(key, col).mapInPandas(summarize, schema)


def quantile_sketch_by_group(
    df: DataFrame, key: str, col: str, ps=QS_GROUP_PS
) -> DataFrame:
    """One row per (key, p): the exact interpolated percentile (the
    value-hashed ground truth) plus the sketch guarantee booleans —
    every group's estimate within its OWN sketch's rank-error budget,
    every group's weights conserved. The union-only merge means a
    group's error budget is exactly the sum of its partitions'
    compaction costs, independent of every other group."""
    rows = quantile_sketch_summary_by(df, key, col).collect()
    by_key: dict = {}
    for r in rows:
        st = by_key.setdefault(r[key], {"pts": [], "n": 0, "err": 0})
        if r.value is not None:
            st["pts"].append((r.value, r.weight))
        else:
            st["n"] += r.n
            st["err"] += r.err

    ps_l = list(ps)
    checks = {}
    for k, st in by_key.items():
        n = st["n"]
        checks[k] = {
            "n": n,
            "err": st["err"],
            "w_ok": sum(w for _, w in st["pts"]) == n and n > 0,
            "ests": {p: sketch_quantile(st["pts"], n, p) for p in ps_l},
        }

    arr = lambda xs: F.array(*[F.lit(float(x)) for x in xs])  # noqa: E731
    vcol = F.col(col).cast("double")
    # ONE pass verifies every (key, p) estimate: its true rank window
    # in its group is [1 + #(< est), #(<= est)], and the guarantee is
    # that window overlapping [target - err, target + err]. Conditional
    # sums are bounded by keys * |ps| * 2 — keys here are cohorts
    # (event types, sources), never user-scale.
    sums = []
    labels = []
    for k, c in checks.items():
        for p in ps_l:
            v = float(c["ests"][p])
            # null-safe: a NULL cohort key is a real group (groupBy
            # keeps it); == would silently verify against zero rows
            kf = F.col(key).eqNullSafe(F.lit(k))
            sums.append(
                F.sum(F.when(kf & (vcol < v), 1).otherwise(0))
                .cast("long")
                .alias(f"lt_{len(labels)}")
            )
            sums.append(
                F.sum(F.when(kf & (vcol <= v), 1).otherwise(0))
                .cast("long")
                .alias(f"le_{len(labels)}")
            )
            labels.append((k, p))
    ranks = df.agg(*sums).first() if sums else None
    exact = {
        r[key]: (
            [(float(x) if x is not None else None) for x in r["qe"]]
            if r["qe"] is not None
            else [None] * len(ps_l)
        )
        for r in df.groupBy(key)
        .agg(F.percentile(vcol, arr(ps_l)).alias("qe"))
        .collect()
    }
    final = []
    for i, (k, p) in enumerate(labels):
        c = checks[k]
        lo = 1 + int(ranks[f"lt_{i}"])
        hi = max(lo, int(ranks[f"le_{i}"]))
        target = max(1, math.ceil(p * c["n"]))
        within = lo - c["err"] <= target <= hi + c["err"]
        final.append(
            (
                k,
                float(p),
                bool(within),
                bool(c["w_ok"]),
                exact[k][ps_l.index(p)],
            )
        )
    # an ALL-NULL-value cohort has no sketch state (the summarizer
    # drops nulls) but is a real group: emit its rows with NULL
    # exact_q and vacuously-true guarantees, exactly as the oracle's
    # GROUP BY does — otherwise the row counts diverge
    for k in exact:
        if k not in checks:
            for p in ps_l:
                final.append((k, float(p), True, True, None))
    # the cohort key keeps its REAL type (ADVICE r13: hardcoding
    # `string` here made a bigint cohort key fail at result assembly
    # even though every upstream stage supports it) — same derivation
    # as quantile_sketch_summary_by's state schema
    key_type = df.schema[key].dataType.simpleString()
    res = df.sparkSession.createDataFrame(
        final,
        f"{key} {key_type}, p double, within_rank_err boolean, "
        "weight_conserved_ok boolean, exact_raw double",
    )
    return res.select(
        key,
        "p",
        F.round(F.col("exact_raw"), 6).alias("exact_q"),
        "within_rank_err",
        "weight_conserved_ok",
        # NULLS LAST on the nullable cohort key: Spark default is
        # NULLS FIRST, DuckDB's is NULLS LAST (the drift.py convention)
    ).orderBy(F.asc_nulls_last(key), "p")


_QSG_SQL = " UNION ALL ".join(
    f"""
    SELECT event_type, CAST({p} AS DOUBLE) AS p,
           ROUND(quantile_cont(CAST(value AS DOUBLE), {p}), 6) AS exact_q,
           TRUE AS within_rank_err,
           TRUE AS weight_conserved_ok
    FROM events GROUP BY event_type
    """
    for p in QS_GROUP_PS
) + " ORDER BY event_type NULLS LAST, p"


@register("quantile_sketch_by_group", _QSG_SQL)
def q_quantile_sketch_by_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return quantile_sketch_by_group(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )
