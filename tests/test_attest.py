"""The shared one-action signed-tag comparator (round 14): semantics
must match the exceptAll formulations it replaced."""

from __future__ import annotations

from cours_datalake_dwh_td_kafka_spark.operators.attest import multiset_eq


def test_multiset_eq_basic_and_duplicates(spark):
    a = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k int, v string")
    b = spark.createDataFrame([(2, "y"), (1, "x"), (1, "x")], "k int, v string")
    assert multiset_eq(a, b)
    # multiplicity matters: dropping one duplicate breaks equality
    c = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    assert not multiset_eq(a, c)
    assert not multiset_eq(c, a)


def test_multiset_eq_null_and_nan_match_exceptall(spark):
    a = spark.createDataFrame(
        [(None, float("nan")), (1, 2.0)], "k int, v double"
    )
    b = spark.createDataFrame(
        [(1, 2.0), (None, float("nan"))], "k int, v double"
    )
    # exceptAll treats NULL == NULL and NaN == NaN; so must the tag form
    assert a.exceptAll(b).count() == 0
    assert multiset_eq(a, b)
    assert not multiset_eq(a, b.where("k IS NOT NULL"))


def test_multiset_eq_column_order_insensitive(spark):
    a = spark.createDataFrame([(1, "x")], "k int, v string")
    b = spark.createDataFrame([("x", 1)], "v string, k int")
    assert multiset_eq(a, b)


def test_multiset_eq_survives_tag_named_columns(spark):
    """r14 review: a data column named _t (or _s) must be COMPARED, not
    silently replaced by the tag."""
    a = spark.createDataFrame([(1, 10), (2, 20)], "_t int, _s int")
    b = spark.createDataFrame([(1, 10), (2, 20)], "_t int, _s int")
    assert multiset_eq(a, b)
    c = spark.createDataFrame([(1, 10), (2, 99)], "_t int, _s int")
    assert not multiset_eq(a, c)

# ---------------------------------------------------------------------------
# parallel_vals (round 14): driver-side overlap of independent actions —
# results must be bit-identical to the sequential form, in submission
# order, with failures as loud as the sequential form.
# ---------------------------------------------------------------------------
import pytest

from cours_datalake_dwh_td_kafka_spark.operators.attest import parallel_vals


def test_parallel_vals_order_and_values(spark):
    df = spark.range(100)
    got = parallel_vals(
        lambda: df.count(),
        lambda: df.where("id % 2 = 0").count(),
        lambda: "tag",
        lambda: df.agg({"id": "sum"}).first()[0],
    )
    assert got == [100, 50, "tag", 4950]


def test_parallel_vals_single_thunk_short_circuit(spark):
    # one thunk must not spin up a pool (and still return a list)
    assert parallel_vals(lambda: 7) == [7]


def test_parallel_vals_exception_propagates(spark):
    def boom():
        raise ValueError("attestation failed")

    with pytest.raises(ValueError, match="attestation failed"):
        parallel_vals(lambda: 1, boom, lambda: 2)


def test_parallel_vals_matches_sequential_on_spark_jobs(spark):
    """The pooled results equal the same thunks run sequentially —
    overlap may reorder EXECUTION, never values."""
    df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    thunks = [
        lambda: df.groupBy("k").count().count(),
        lambda: df.where("k = 3").count(),
        lambda: df.selectExpr("sum(id)").first()[0],
        lambda: df.distinct().count(),
        lambda: df.where("k in (1, 2)").count(),
    ]
    assert parallel_vals(*thunks) == [t() for t in thunks]


# ---------------------------------------------------------------------------
# legs: the one background-work primitive. Leaving the block joins every
# leg, a leg failure nobody read is raised, a failing body cancels the
# queued legs, and legs keep the submitter's Spark job group.
# ---------------------------------------------------------------------------
import threading

from cours_datalake_dwh_td_kafka_spark.operators.attest import (
    LEG_THREAD_PREFIX,
    legs,
)
from cours_datalake_dwh_td_kafka_spark.plans.inspect import count_jobs


def _live_legs() -> list[str]:
    return [
        t.name
        for t in threading.enumerate()
        if t.name.startswith(LEG_THREAD_PREFIX)
    ]


def test_legs_raise_an_unread_leg_failure(spark):
    def boom():
        raise ValueError("leg failed")

    with pytest.raises(ValueError, match="leg failed"):
        with legs(spark) as bg:
            bg.submit(lambda: 1)
            bg.submit(boom)
    # a failure the body read through .exception() is the body's to
    # handle: it is not raised again on exit
    with legs(spark) as bg:
        fut = bg.submit(boom)
        assert isinstance(fut.exception(), ValueError)
    assert _live_legs() == []


def test_legs_failing_body_cancels_queued_and_joins_running(spark):
    started, release = threading.Event(), threading.Event()
    ran = []

    def sleeper():
        started.set()
        release.wait(timeout=1.0)  # still running when the body fails
        ran.append("running")

    with pytest.raises(RuntimeError, match="body failed"):
        with legs(spark, max_workers=1) as bg:
            running = bg.submit(sleeper)
            queued = bg.submit(lambda: ran.append("queued"))
            assert started.wait(timeout=30)
            raise RuntimeError("body failed")
    # the running leg was joined before the exception left the block;
    # the leg queued behind it never ran
    assert ran == ["running"] and running.done()
    assert queued.cancelled()
    assert _live_legs() == []


def test_parallel_vals_jobs_keep_the_callers_job_group(spark):
    df = spark.range(1000)
    vals, jobs = count_jobs(
        spark,
        lambda: parallel_vals(
            lambda: df.count(), lambda: df.where("id % 2 = 0").count()
        ),
    )
    assert vals == [1000, 500]
    assert jobs >= 2
