"""Physical-plan regression tests (SURVEY.md §4): pin the scale-relevant
plan shapes — pushdown reaches the parquet scan, dimension joins
broadcast, no accidental cartesian products, no row-wise Python UDFs
anywhere, and whole-stage codegen covers the hot paths."""

from __future__ import annotations

import pytest

from cours_datalake_dwh_td_kafka_spark import registry
from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
    formatted_plan,
    plan_facts,
)
from tests.conftest import SF_ORACLE

# queries where a cartesian product would be a plan bug (the deliberate
# small-side nested-loop joins — range_join, ann brute force — are
# BroadcastNestedLoop, not CartesianProduct)
_ALL = sorted(
    n
    for n in registry.queries()
    if n not in {"stratified_sample"}  # trivial plan, RNG-dependent
)

# r15 (suite wall time, VERDICT r14 #2): three whole-registry gates
# each rebuilt every query's DataFrame — for the protocol rows that
# means re-RUNNING the whole lifecycle three times per suite. Build
# each query once and evaluate all three gates' inputs immediately
# (while the frame is fresh); the parametrized tests read the memo.
_GATE_CACHE: dict[str, tuple] = {}


def _gate_results(spark, name):
    if name not in _GATE_CACHE:
        from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
            low_cardinality_keyed_windows,
            unbounded_global_windows,
        )

        df = registry.queries()[name](spark, SF_ORACLE)
        _GATE_CACHE[name] = (
            plan_facts(df),
            unbounded_global_windows(df),
            low_cardinality_keyed_windows(df),
        )
    return _GATE_CACHE[name]


@pytest.mark.parametrize("name", _ALL)
def test_no_cartesian_and_no_row_python_udf(spark, name):
    f = _gate_results(spark, name)[0]
    assert f.n_cartesian == 0, f"{name}: CartesianProduct in plan"
    assert f.python_evals == 0, f"{name}: row-wise Python UDF in plan"


def test_filter_pushdown_reaches_parquet_scan(spark):
    """P6/P8/P11 predicates must land in PushedFilters, and column
    pruning must shrink ReadSchema below the full table width."""
    df = registry.queries()["filter_project"](spark, SF_ORACLE)
    f = plan_facts(df)
    pushed = " ".join(f.pushed_filters)
    assert "GreaterThan(l_quantity" in pushed
    assert "l_shipdate" in pushed
    # lineitem has 11 columns; the query needs 7
    assert f.read_schemas and "l_comment" not in f.read_schemas[0]


def test_dimension_joins_broadcast(spark):
    """Star-schema dims (customer->nation) must broadcast — a shuffled
    fact side on a dim join is the classic 100 TB regression."""
    df = registry.queries()["join_revenue_per_nation"](spark, SF_ORACLE)
    f = plan_facts(df)
    assert f.n_broadcast_joins >= 1
    assert f.n_sortmerge_joins == 0


def test_ann_topk_two_stage_reduce(spark):
    """The exact-ANN global top-k must be the tree shape: TWO Window
    operators (salted local top-k, then the final per-query rank) over
    two distinct partitionings — a single per-query window would funnel
    every scan partition's candidates into one reducer task at scale."""
    import re

    from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
        physical_plan,
    )

    df = registry.queries()["ann_topk_cosine"](spark, SF_ORACLE)
    plan = physical_plan(df)
    windows = re.findall(r"\bWindow\b", plan)
    assert len(windows) >= 2, "expected salted + final Window stages"
    assert "_salt" in plan, "local stage must partition by the salt"


def test_semi_join_not_driver_collect(spark):
    """The reference's collect()+isin is a broadcast left-semi join here:
    the plan must contain a semi join, not an In-filter of literals."""
    df = registry.queries()["semi_join"](spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan


def test_minhash_lsh_band_explosion_not_union(spark):
    """Band keys come from ONE signature pass (explode), not an n-way
    union that recomputes the signature subtree per band."""
    df = registry.queries()["dedup_minhash_lsh"](spark, SF_ORACLE)
    f = plan_facts(df)
    assert f.n_shuffles <= 12, f"minhash shuffle count regressed: {f.n_shuffles}"


def test_codegen_covers_hot_paths(spark):
    """After execution the final adaptive plan should show whole-stage
    codegen spans (JVM-compiled pipelines, SURVEY.md §4)."""
    df = registry.queries()["pricing_summary"](spark, SF_ORACLE)
    f = plan_facts(df, executed=True)
    assert f.codegen_spans >= 1


def test_exchange_reuse_in_self_joins(spark):
    """Self-join reads the same exchange twice — AQE must reuse it, not
    rescan (dedup_simhash_pairs both sides derive from one simhash)."""
    df = registry.queries()["dedup_simhash_pairs"](spark, SF_ORACLE)
    f = plan_facts(df, executed=True)
    assert f.n_reused_exchanges >= 1


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """The third 100 TB join lever after broadcast and bucketing
    (scale.py): Catalyst's runtime bloom filter. A selective filter on
    the creation side (orders) must inject a might_contain() predicate
    on the application side (lineitem), so fact rows that cannot join
    die at the scan instead of riding the shuffle. Conf-gated because
    the application-side threshold (10 GB default) never triggers on
    test data; the PLAN SHAPE is what we pin."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from pyspark.sql import functions as F

        from cours_datalake_dwh_td_kafka_spark.io import load_table

        o = load_table(spark, SF_ORACLE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_ORACLE, "lineitem")
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_project_once_blocks_hof_inlining(spark):
    """ADVICE r2: the round-2 guard column was pruned and the barrier was
    a no-op. The reworked barrier (nondeterministic tautology filter)
    must hold the tokenization to EXACTLY ONE split() in the optimized
    plan — without it, PushDownPredicate+CollapseProject re-expand
    split(norm(text)) once per feature reference (3x) plus once inside
    the inlined quality predicate."""
    df = registry.queries()["curation_pipeline"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def test_forecast_revenue_is_pure_scan_path(spark):
    """Q6 shape is the scan-path probe: all three predicates reach
    PushedFilters, ReadSchema carries only the four needed columns, and
    the plan has no join at all."""
    df = registry.queries()["forecast_revenue"](spark, SF_ORACLE)
    f = plan_facts(df)
    pushed = " ".join(f.pushed_filters)
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "LessThan(l_quantity" in pushed
    assert f.read_schemas and "l_orderkey" not in f.read_schemas[0]
    assert f.n_broadcast_joins + f.n_sortmerge_joins == 0


def test_disjunctive_revenue_hand_cnf_pushdown(spark):
    """Q19 shape: the hand-derived single-table supersets of the mixed
    OR must reach BOTH parquet scans (brand IN + size bound on part,
    quantity range on lineitem) and part must broadcast."""
    df = registry.queries()["disjunctive_revenue"](spark, SF_ORACLE)
    f = plan_facts(df)
    pushed = " ".join(f.pushed_filters)
    assert "In(p_brand" in pushed
    assert "GreaterThanOrEqual(l_quantity" in pushed
    assert f.n_broadcast_joins >= 1


def test_explain_cli_lists_and_reports(spark, capsys):
    """The module-level EXPLAIN surface: --list enumerates the registry;
    a query name prints its plan facts (reusing the live session
    without rewriting its confs)."""
    from cours_datalake_dwh_td_kafka_spark.explain import main

    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "shipping_priority" in out and "(rows-only)" in out

    assert main(["forecast_revenue", "--sf-dir", SF_ORACLE]) == 0
    out = capsys.readouterr().out
    assert "pushed_filters" in out and "l_shipdate" in out
    assert main(["no_such_query"]) == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions


@pytest.mark.parametrize(
    "name,expected",
    [
        # 2 setup (edges, degree table); the small-graph branch carries
        # per-iteration state via driver broadcasts, which bound lineage
        # without checkpoint jobs (r14 — above GRAPH_BC_MAX_NODES the
        # shuffle branch adds e2 + iters/2 amortized rank checkpoints)
        ("pagerank_copurchase", 2),
        # edges + labels + rounds-to-convergence on this corpus
        ("dedup_clusters", 4),
        # 1 word table + 6 merge rebuilds
        ("bpe_train_merges", 7),
        # canonical edge set + degree orientation, each multi-consumer
        ("triangle_count", 2),
        # per-doc bigram tf table + unigram table, each multi-consumer
        ("bigram_logprob", 2),
        # token rows feed both aggregations once + the prefix_sums
        # bucket pin (one materialized range-partitioning for both the
        # offset aggregate and the probe join)
        ("heaps_law_fit", 2),
    ],
)
def test_iterative_round_counts_pinned(spark, name, expected):
    """Iterative operators bound lineage with per-round localCheckpoint;
    the FINAL plan can't show the round count (each checkpoint truncates
    it by design), so pin the checkpoint-call count instead — an edit
    can't silently double the iteration cost any more than it can
    silently add a CartesianProduct."""
    from cours_datalake_dwh_td_kafka_spark.operators import bpe
    from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
        count_local_checkpoints,
    )

    bpe._CORE_CACHE.clear()
    with count_local_checkpoints() as c:
        registry.queries()[name](spark, SF_ORACLE)
    assert c["n"] == expected, f"{name}: {c['n']} checkpoints"


def test_no_global_data_scale_windows(spark):
    """The two r5 'weak' marks: rfm_segments and heaps_law_fit may not
    sort data-scale rows through a single-partition window. rfm's plan
    must contain NO Window at all (percentile thresholds + CASE); heaps'
    doc-spine running sums must partition by the range bucket — its only
    unpartitioned window is the n_buckets-row offset table."""
    from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
        physical_plan,
    )

    rfm = registry.queries()["rfm_segments"](spark, SF_ORACLE)
    assert "Window" not in physical_plan(rfm)

    heaps = registry.queries()["heaps_law_fit"](spark, SF_ORACLE)
    for line in physical_plan(heaps).splitlines():
        if "Window [" in line and "doc_id ASC" in line:
            assert "_bucket" in line, f"global doc-spine window:\n{line}"


@pytest.mark.parametrize("name", _ALL)
def test_no_unbounded_global_window_any_query(spark, name):
    """The permanent gate for the class behind VERDICT r5/r6 findings
    (rfm/heaps r5, bm25/vocab_coverage r6 — the class regressed
    silently past two audits): NO registered query may contain a
    physical Window requiring AllTuples (empty partitionBy -> Exchange
    SinglePartition) unless its input subtree is provably
    constant-bounded (TakeOrderedAndProject / GlobalLimit / scalar or
    partition-id-keyed aggregate / driver-local literal on every leaf
    path). At 100 TB an unbounded one is a one-task sort of the
    dataset."""
    bad = _gate_results(spark, name)[1]
    assert not bad, f"{name}: unbounded global window(s): {bad}"


def test_global_window_gate_catches_seeded_regression(spark):
    """The gate must FAIL on the anti-pattern it polices — a global
    running sum over a full parquet scan (never optimizer-rescued, no
    rank filter to push) — and pass the limit-first rescue of the same
    query. A detector that can't catch the seeded regression is a
    green light, not a gate."""
    from pyspark.sql import Window, functions as F

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
        unbounded_global_windows,
    )

    d = load_table(spark, SF_ORACLE, "documents")
    w = Window.orderBy(F.desc("n_chars"), "doc_id")
    cum = d.select(
        F.sum("n_chars")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("c")
    )
    assert unbounded_global_windows(cum), "gate missed the seeded regression"

    rescued = (
        d.orderBy(F.desc("n_chars"), "doc_id")
        .limit(10)
        .select(
            F.sum("n_chars")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("c")
        )
    )
    assert not unbounded_global_windows(rescued)


@pytest.mark.parametrize("name", _ALL)
def test_no_low_cardinality_keyed_window_any_query(spark, name):
    """The keyed sibling of the global-window gate (VERDICT r8 finding
    #1: doc_pack's per-source packing cumsum was keyed by source, so
    the AllTuples gate never saw it). NO registered query may contain
    an unbounded-frame ordered Window partitioned ONLY by declared
    low-cardinality columns (source/lang/split/event_type/...) unless
    its input is constant-bounded or a WindowGroupLimit caps the
    surviving rows — rows-per-key scale with data, keys don't, so such
    a window serializes terabytes through ~n_keys tasks at 100 TB."""
    bad = _gate_results(spark, name)[2]
    assert not bad, f"{name}: low-cardinality keyed window(s): {bad}"


def test_low_card_window_gate_catches_seeded_regression(spark):
    """The gate must FAIL on the exact pre-fix doc_pack shape (per-
    source running sum over a full scan), PASS the two-phase prefix-
    kernel rewrite of the same computation, and PASS a per-key
    rank-then-filter (WindowGroupLimit caps it at n_keys * k rows)."""
    from pyspark.sql import Window, functions as F

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.scale import (
        prefix_sums,
    )
    from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
        low_cardinality_keyed_windows,
    )

    d = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seeded = d.select(F.sum("n_chars").over(w).alias("cum"))
    assert low_cardinality_keyed_windows(seeded), (
        "gate missed the seeded per-source cumsum"
    )

    fixed = prefix_sums(
        d, "doc_id", {"cum": "n_chars"}, partition_cols=("source",)
    )
    assert not low_cardinality_keyed_windows(fixed)

    topk = (
        d.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.desc("n_chars"), "doc_id"
                )
            ),
        ).where(F.col("rk") <= 3)
    )
    assert not low_cardinality_keyed_windows(topk), (
        "rank-then-filter is WindowGroupLimit-rescued; must not flag"
    )


def test_bucket_aggregate_bounding_requires_low_card_extra_keys(spark):
    """The `_bucket` bounding convention must NOT bless an aggregate
    whose extra group keys are data-scale: groupBy(_bucket, source)
    feeding a global window passes (sources are declared low-card),
    groupBy(_bucket, c_custkey) must be flagged — its output is
    data-scale no matter how it is bucketed."""
    from pyspark.sql import Window, functions as F

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
        unbounded_global_windows,
    )

    d = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)

    def offsets(key):
        return (
            d.repartitionByRange(8, key, "doc_id")
            .withColumn("_bucket", F.spark_partition_id())
            .groupBy("_bucket", key)
            .agg(F.sum("n_chars").alias("_n"))
            .select(F.sum("_n").over(w).alias("off"))
        )

    assert not unbounded_global_windows(offsets("source"))
    c = load_table(spark, SF_ORACLE, "customer").select(
        F.col("c_custkey").alias("doc_id"),
        F.col("c_custkey"),
        F.col("c_acctbal").alias("n_chars"),
    )
    bad = (
        c.repartitionByRange(8, "c_custkey", "doc_id")
        .withColumn("_bucket", F.spark_partition_id())
        .groupBy("_bucket", "c_custkey")
        .agg(F.sum("n_chars").alias("_n"))
        .select(F.sum("_n").over(w).alias("off"))
    )
    assert unbounded_global_windows(bad), (
        "high-cardinality extra key must not be blessed as bounded"
    )


def test_rfm_threshold_scores_cross_check_ntile(spark):
    """Threshold quintiles == NTILE quintiles wherever no metric TIE
    straddles a bucket edge (ties are the one place the semantics
    legitimately differ: thresholds keep ties together, NTILE row-splits
    them by the custkey tie-break)."""
    import pandas as pd

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.dwh import (
        rfm_segments,
        rfm_segments_ntile,
    )

    o = load_table(spark, SF_ORACLE, "orders")
    th = rfm_segments(o).toPandas().set_index("o_custkey").sort_index()
    nt = (
        rfm_segments_ntile(o).toPandas().set_index("o_custkey").sort_index()
    )
    assert len(th) == len(nt)
    checked = 0
    for metric, score in [
        ("recency_days", "r_score"),
        ("n_orders", "f_score"),
        ("monetary", "m_score"),
    ]:
        spanning = {
            v
            for v, g in nt.groupby(metric)[score]
            if g.nunique() > 1
        }
        clean = ~th[metric].isin(spanning)
        pd.testing.assert_series_equal(
            th.loc[clean, score], nt.loc[clean, score], check_dtype=False
        )
        checked += int(clean.sum())
    assert checked > 0


def test_bpe_segment_reuses_memoized_training(spark):
    """bpe_segment_stats after bpe_train_merges must train ZERO extra
    rounds — the round-4 bench's dominant line was exactly this double
    training."""
    from cours_datalake_dwh_td_kafka_spark.operators import bpe
    from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
        count_local_checkpoints,
    )

    bpe._CORE_CACHE.clear()
    registry.queries()["bpe_train_merges"](spark, SF_ORACLE)
    with count_local_checkpoints() as c:
        registry.queries()["bpe_segment_stats"](spark, SF_ORACLE)
    assert c["n"] == 0, "segment stats re-trained BPE"
