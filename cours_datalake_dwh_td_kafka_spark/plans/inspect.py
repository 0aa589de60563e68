"""Physical-plan inspection: the facts that decide whether a plan
survives a 100x scale-up, extracted programmatically so tests can pin
them (SURVEY.md §4 — Catalyst does the optimizing; our job is to verify
the declarative plan actually triggers pushdown / broadcast / codegen
and stays free of accidental cartesian products).

Used by tests/test_plans.py to lock plan shapes against regressions —
an operator edit that silently turns a broadcast join into a shuffle
join, or drops a parquet filter pushdown, fails CI here long before a
cluster bill would notice it.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def physical_plan(df: DataFrame, executed: bool = False) -> str:
    """Physical plan as text. ``executed=True`` runs the query first so
    the ADAPTIVE (final) plan is returned — that's where AQE's runtime
    decisions (coalesced partitions, reused exchanges, codegen spans,
    dynamically-switched broadcast joins) become visible."""
    if executed:
        # collect() (not count()) — count() builds a DIFFERENT query
        # execution; only executing THIS plan flips AQE to its final form
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text — scans with PushedFilters/ReadSchema."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@dataclass
class PlanFacts:
    """Scale-relevant facts about one query plan."""

    n_shuffles: int = 0
    n_broadcast_joins: int = 0
    n_sortmerge_joins: int = 0
    n_nested_loop_joins: int = 0
    n_cartesian: int = 0
    python_evals: int = 0  # row-at-a-time Python UDF operators (slow path)
    arrow_evals: int = 0  # pandas-UDF / mapInPandas operators
    codegen_spans: int = 0
    n_reused_exchanges: int = 0
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)


def plan_facts(df: DataFrame, executed: bool = False) -> PlanFacts:
    plan = physical_plan(df, executed=executed)
    fmt = formatted_plan(df)
    facts = PlanFacts(
        n_shuffles=len(re.findall(r"Exchange (?:hash|range)partitioning", plan)),
        n_broadcast_joins=plan.count("BroadcastHashJoin"),
        n_sortmerge_joins=plan.count("SortMergeJoin"),
        n_nested_loop_joins=plan.count("BroadcastNestedLoopJoin"),
        n_cartesian=plan.count("CartesianProduct"),
        python_evals=plan.count("BatchEvalPython"),
        arrow_evals=plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        codegen_spans=len(set(re.findall(r"\*\((\d+)\)", plan))),
        n_reused_exchanges=plan.count("ReusedExchange"),
        pushed_filters=[
            m.strip()
            for m in re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
            if m.strip()
        ],
        read_schemas=re.findall(r"ReadSchema: (\S+)", fmt),
    )
    return facts


def codegen_compiles(spark: SparkSession) -> int:
    """Number of classes Spark has compiled from generated code (Janino)
    since the JVM started: ``CodegenMetrics``' compilation-time histogram
    count. A compile is a miss in the generated-class cache
    (``spark.sql.codegen.cache.maxEntries``), so a warm query that
    reports compiles is paying Janino again.

    The counter is JVM-wide, not per session or per query: the
    difference between two calls is exact only when one query runs at a
    time; concurrent queries, streams or pooled driver threads add their
    compiles to whichever delta is open."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@contextmanager
def count_local_checkpoints():
    """Count ``DataFrame.localCheckpoint`` calls made while a query is
    BUILT — the round-count plan fact for iterative operators
    (pagerank / dedup_clusters / BPE), which the final physical plan
    cannot show: by design each round's checkpoint truncates lineage,
    so only the last round survives into the plan text. Pinning the
    call count in tests means an edit cannot silently double the
    per-query iteration cost the same way it cannot silently add a
    CartesianProduct.

    Yields a mutable ``{"n": int}`` counter; restores the original
    method on exit. Patches the CONCRETE DataFrame class (PySpark >= 4
    splits the public ``pyspark.sql.DataFrame`` ABC from
    ``pyspark.sql.classic.dataframe.DataFrame``, and instances resolve
    methods on the latter)."""
    try:  # PySpark >= 4
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pragma: no cover - PySpark 3.x
        _DF = DataFrame
    counter = {"n": 0}
    orig = _DF.localCheckpoint

    def patched(self, *args, **kwargs):
        # pass-through signature: PySpark 4 adds storageLevel and may
        # add more — the counter must never reject a valid call
        counter["n"] += 1
        return orig(self, *args, **kwargs)

    _DF.localCheckpoint = patched
    try:
        yield counter
    finally:
        _DF.localCheckpoint = orig


def _jtree(node):
    """Depth-first iteration over a JVM SparkPlan tree via py4j.
    AQE wrappers (AdaptiveSparkPlanExec, QueryStageExec) hide the real
    plan from ``children()`` — unwrap them explicitly or the walk stops
    at the root."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _jtree(node.initialPlan())
        return
    if "QueryStage" in name:  # ShuffleQueryStage / BroadcastQueryStage
        yield from _jtree(node.plan())
        return
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _jtree(ch.apply(i))


# Physical nodes that provably bound their output row count by a
# constant regardless of input scale — a window fed (transitively, on
# every branch) by one of these cannot funnel data-scale rows into its
# single partition.
_BOUNDING_NODES = {
    "TakeOrderedAndProject",  # orderBy().limit(k): per-partition heaps
    "GlobalLimit",
    "CollectLimit",
    "LocalTableScan",  # driver-local literals (createDataFrame)
}


def _is_bounding(node) -> bool:
    name = node.nodeName()
    if name in _BOUNDING_NODES:
        return True
    if "Aggregate" in name:
        s = node.simpleString(30)
        # scalar aggregate (no grouping keys) -> exactly one output row
        if "keys=[]" in s:
            return True
        # repo convention (operators/scale.py two-phase prefix sums):
        # an aggregate grouped on a `_bucket` column (possibly plus the
        # kernel's low-cardinality partition keys) is grouped on
        # spark_partition_id() after an n_buckets repartitionByRange —
        # because buckets are contiguous in (partition_cols, order) a
        # bucket adds one row per key group it TOUCHES, so the output
        # is <= n_buckets + n_groups - 1 rows, not data scale, and the
        # offset window it feeds is bounded. That bound only holds when
        # the EXTRA keys are declared low-cardinality columns — a
        # dense_ids(partition_cols=('user_id',)) call must NOT be
        # blessed (its offsets table is data-scale and gets broadcast),
        # so every non-_bucket key is checked against
        # LOW_CARDINALITY_COLS.
        m = re.search(r"keys=\[([^\]]*)\]", s)
        if m:
            names = [
                k.strip().split("#")[0] for k in m.group(1).split(",")
            ]
            if names and names[0] == "_bucket" and all(
                n in LOW_CARDINALITY_COLS for n in names[1:]
            ):
                return True
    return False


def _jchildren(node) -> list:
    """Children of a JVM SparkPlan node, unwrapping AQE wrappers."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.initialPlan()]
    if "QueryStage" in name:
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _subtree_bounded(node) -> bool:
    """True iff every leaf-ward path from ``node`` hits a bounding
    operator before reaching a data source — i.e. the subtree's row
    count is constant-bounded by construction, independent of data
    scale. Pass-through/join/union nodes recurse into ALL children;
    unknown leaves (file scans, checkpointed RDD scans, reused
    exchanges) count as data-scale (conservative)."""
    if _is_bounding(node):
        return True
    ch = _jchildren(node)
    if not ch:
        return False  # a data source (FileScan / ExistingRDD / Range)
    return all(_subtree_bounded(c) for c in ch)


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """The 100 TB window discipline (VERDICT r6 findings #1/#2): return
    the node strings of every physical Window/WindowGroupLimit whose
    required child distribution is AllTuples (empty partitionBy ->
    Exchange SinglePartition) and whose input subtree is NOT provably
    constant-bounded. Empirically this Spark build's
    InferWindowGroupLimit does NOT rescue the global rank-then-filter
    form, so every such window sorts ALL its input rows through one
    task — the fix is always limit-first (TakeOrderedAndProject), then
    the window over the k survivors."""
    bad: list[str] = []
    plan = df._jdf.queryExecution().executedPlan()
    for node in _jtree(plan):
        if "Window" not in node.nodeName():
            continue
        req = node.requiredChildDistribution()
        all_tuples = any(
            "AllTuples" in str(req.apply(i)) for i in range(req.size())
        )
        if not all_tuples:
            continue
        if not all(_subtree_bounded(c) for c in _jchildren(node)):
            bad.append(node.simpleString(30))
    return bad


# Columns whose cardinality is DATA-INDEPENDENT in this schema (a feed
# list, a language tag set, a split enum, a zone table, a topic count):
# a window PARTITIONed only by these keys caps its parallelism at the
# key count no matter how large the data grows — rows-per-key scale,
# keys don't. The gate below polices unbounded-frame ordered windows
# behind them (the round-8 verdict class: doc_pack's per-source packing
# cumsum was keyed, so the global-window gate never saw it).
LOW_CARDINALITY_COLS = frozenset(
    {
        "source",
        "lang",
        "language",
        "split",
        "event_type",
        "zone_id",
        "label",
        "topic",
        "modality",
        "region",
    }
)


def _window_partition_key_names(node) -> set[str] | None:
    """Column names inside the Window node's required ClusteredDistribution
    (its partition spec). None for a global (AllTuples) window."""
    req = node.requiredChildDistribution()
    names: set[str] = set()
    clustered = False
    for i in range(req.size()):
        s = str(req.apply(i))
        if "ClusteredDistribution" in s:
            clustered = True
            names.update(m.group(1) for m in re.finditer(r"(\w+)#\d+", s))
    return names if clustered else None


def _descendant_group_limit_keys(node) -> list[set[str]]:
    """Partition-key name sets of every WindowGroupLimit beneath ``node``
    (stopping recursion at further Window nodes — a limit below another
    window bounds THAT window's input, not this one's)."""
    out: list[set[str]] = []
    for c in _jchildren(node):
        name = c.nodeName()
        if name == "WindowGroupLimit":
            out.append(
                {
                    m.group(1)
                    for m in re.finditer(r"(\w+)#\d+", c.simpleString(50))
                }
            )
        if "Window" == name:
            continue
        out.extend(_descendant_group_limit_keys(c))
    return out


def low_cardinality_keyed_windows(
    df: DataFrame, low_card: frozenset[str] = LOW_CARDINALITY_COLS
) -> list[str]:
    """The keyed sibling of :func:`unbounded_global_windows` (round-8
    verdict): return every physical Window whose partition keys are ALL
    declared low-cardinality columns, whose spec is an ordered
    unbounded-preceding frame (running accumulation / rank), and whose
    input is neither constant-bounded nor rescued by an inferred
    WindowGroupLimit over the same keys. Such a window sorts
    rows-that-scale through keys-that-don't — at 100 TB, ~n_keys
    reducer tasks each scanning terabytes. Fix: the two-phase prefix
    kernel (scale.prefix_sums with partition_cols) for accumulations;
    rank-then-filter forms are rescued automatically (the group limit
    caps surviving rows at n_keys * k)."""
    bad: list[str] = []
    plan = df._jdf.queryExecution().executedPlan()
    for node in _jtree(plan):
        if node.nodeName() != "Window":
            continue
        keys = _window_partition_key_names(node)
        if not keys or not keys <= low_card:
            continue  # global windows are the other gate's job
        spec = node.simpleString(100)
        if "unboundedpreceding" not in spec:
            continue
        if all(_subtree_bounded(c) for c in _jchildren(node)):
            continue
        if any(
            keys <= gl for gl in _descendant_group_limit_keys(node)
        ):
            continue  # per-key top-k: survivors capped at n_keys * k
        bad.append(spec)
    return bad


def assert_no_cartesian(df: DataFrame) -> None:
    f = plan_facts(df)
    assert f.n_cartesian == 0, f"unexpected CartesianProduct:\n{physical_plan(df)}"


def assert_no_python_row_udf(df: DataFrame) -> None:
    """The engine policy (SURVEY.md §4): no row-at-a-time Python UDFs in
    any hot path — pandas/Arrow evals only where built-ins can't express
    the op."""
    f = plan_facts(df)
    assert f.python_evals == 0, f"row-wise Python UDF in plan:\n{physical_plan(df)}"
