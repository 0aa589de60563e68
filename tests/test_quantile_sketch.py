"""Mergeable quantile sketch (VERDICT r12 #4): deterministic compactor
with exact self-reported rank-error accounting and union-only merges."""

from __future__ import annotations

import math
import random

import pytest

from cours_datalake_dwh_td_kafka_spark.operators.quantile_sketch import (
    QS_K,
    QS_PS,
    quantile_sketch_bound,
    quantile_sketch_by_group,
    quantile_sketch_summary,
    sketch_merge,
    sketch_new,
    sketch_points,
    sketch_quantile,
    sketch_update,
)


def _true_rank_window(data: list, v: float) -> tuple[int, int]:
    """[min rank, max rank] (1-based) of value v in sorted(data)."""
    s = sorted(data)
    lo = 1 + sum(1 for x in s if x < v)
    hi = sum(1 for x in s if x <= v)
    return lo, max(lo, hi)


def _assert_bound(points, n, err, data, ps=QS_PS):
    assert sum(w for _, w in points) == n == len(data)
    for p in ps:
        target = max(1, math.ceil(p * n))
        v = sketch_quantile(points, n, p)
        lo, hi = _true_rank_window(data, v)
        # some rank of v must be within err of the target
        assert lo - err <= target <= hi + err, (p, v, lo, hi, err, target)


@pytest.mark.parametrize("order", ["shuffled", "ascending", "descending"])
def test_core_error_bound_and_state_bound(order):
    rng = random.Random(13)
    data = [rng.gauss(100.0, 25.0) for _ in range(20000)]
    feed = {
        "shuffled": data,
        "ascending": sorted(data),
        "descending": sorted(data, reverse=True),
    }[order]
    st = sketch_new()
    sketch_update(st, feed)
    assert all(len(buf) <= QS_K for buf in st["levels"])  # bounded state
    assert st["err"] > 0  # compactions actually happened at this size
    # the budget is far below worst-case-useless: err << n
    assert st["err"] < len(data) * 0.1
    _assert_bound(sketch_points(st), st["n"], st["err"], data)


def test_core_deterministic():
    data = [math.sin(i) * 50 for i in range(5000)]
    a, b = sketch_new(), sketch_new()
    sketch_update(a, data)
    sketch_update(b, data)
    assert sketch_points(a) == sketch_points(b)
    assert (a["n"], a["err"]) == (b["n"], b["err"])


def test_merge_union_is_associative_commutative_and_error_free():
    rng = random.Random(7)
    chunks = [[rng.uniform(0, 1000) for _ in range(3000)] for _ in range(3)]
    sks = []
    for c in chunks:
        st = sketch_new()
        sketch_update(st, c)
        sks.append((sketch_points(st), st["n"], st["err"]))

    def key(s):
        return (sorted(s[0]), s[1], s[2])

    ab_c = sketch_merge(*sketch_merge(*sks[0], *sks[1]), *sks[2])
    a_bc = sketch_merge(*sks[0], *sketch_merge(*sks[1], *sks[2]))
    c_ba = sketch_merge(*sks[2], *sketch_merge(*sks[1], *sks[0]))
    assert key(ab_c) == key(a_bc) == key(c_ba)
    # union adds no error: total err == sum of part errs
    assert ab_c[2] == sum(s[2] for s in sks)
    alldata = [v for c in chunks for v in c]
    _assert_bound(*ab_c, alldata)


def test_spark_summary_and_bound_row(spark):
    rng = random.Random(5)
    vals = [(float(rng.lognormvariate(3, 1)),) for _ in range(40000)]
    df = spark.createDataFrame(vals, "value double").repartition(16)
    rows = quantile_sketch_bound(df, "value").collect()
    assert [r.p for r in rows] == sorted(QS_PS)
    assert all(r.within_rank_err for r in rows)
    assert all(r.weight_conserved_ok for r in rows)
    # summary is bounded: <= partitions * (K * levels + sentinel)
    summ = quantile_sketch_summary(df, "value").collect()
    assert len(summ) <= 16 * (QS_K * 12 + 1)
    # NULLs are dropped, not counted
    with_null = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (3.0,)], "value double"
    )
    s2 = quantile_sketch_summary(with_null, "value").collect()
    assert sum(r.n for r in s2) == 3


def test_grouped_sketch_independent_budgets(spark):
    """Per-key sketches: each group's estimate honors its OWN error
    budget; a tiny group (never compacted, err 0) is EXACT while a big
    skewed group still bounds. NULL values are dropped per group."""
    import random as _random

    rng = _random.Random(3)
    rows = [("big", float(rng.expovariate(0.01))) for _ in range(20000)]
    rows += [("tiny", float(v)) for v in (1.0, 2.0, 3.0, 4.0)]
    rows += [("tiny", None)]
    df = spark.createDataFrame(rows, "k string, value double").repartition(8)
    out = quantile_sketch_by_group(df, "k", "value").collect()
    assert {r.k for r in out} == {"big", "tiny"}
    assert all(r.within_rank_err and r.weight_conserved_ok for r in out)
    tiny = {r.p: r.exact_q for r in out if r.k == "tiny"}
    # 4 values, interpolated percentiles — exact, nulls excluded
    assert tiny[0.5] == 2.5


def test_grouped_sketch_all_null_cohort_and_null_ordering(spark):
    """An all-NULL-value cohort is a real group: it gets rows with
    NULL exact_q and vacuous guarantees (matching the oracle's GROUP
    BY); a NULL cohort KEY sorts last (the NULLS LAST convention)."""
    rows = (
        [("a", float(i)) for i in range(50)]
        + [("allnull", None), ("allnull", None)]
        + [(None, float(i)) for i in range(30)]
    )
    df = spark.createDataFrame(rows, "k string, value double")
    out = quantile_sketch_by_group(df, "k", "value").collect()
    keys_in_order = [r.k for r in out]
    assert keys_in_order[-len({r.p for r in out}):] == [None] * 4
    an = [r for r in out if r.k == "allnull"]
    assert len(an) == 4
    assert all(r.exact_q is None for r in an)
    assert all(r.within_rank_err and r.weight_conserved_ok for r in an)


def test_summary_plan_is_map_side_and_column_pruned(spark):
    """Scale shape pinned: the sketch summary is ONE map-side pass —
    the parquet scan reads only the probed column and no Exchange
    (shuffle) appears anywhere in the plan."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    plan = (
        quantile_sketch_summary(ev, "value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ReadSchema: struct<value:double>" in plan
    assert "Exchange" not in plan


def test_grouped_sketch_non_string_key(spark):
    """ADVICE r13: the result schema must carry the cohort key's REAL
    type — a bigint key used to raise TypeError at result assembly
    because the final createDataFrame hardcoded `string`."""
    rows = [(1, float(v)) for v in range(1, 101)]
    rows += [(2, float(v)) for v in (10.0, 20.0, 30.0)]
    df = spark.createDataFrame(rows, "k bigint, value double").repartition(4)
    out = quantile_sketch_by_group(df, "k", "value")
    assert dict(out.dtypes)["k"] == "bigint"
    got = out.collect()
    assert {r.k for r in got} == {1, 2}
    assert all(r.within_rank_err and r.weight_conserved_ok for r in got)
    small = {r.p: r.exact_q for r in got if r.k == 2}
    assert small[0.5] == 20.0
