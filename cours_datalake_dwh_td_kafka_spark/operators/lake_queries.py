"""The versioned-lake layer (lake.py) driven through the driver
correctness gate as a QUERY: until round 7 the commit/time-travel/CDC/
compaction protocol was pytest-pinned only; this module folds one full
lifecycle into a deterministic one-row result the DuckDB oracle can
assert, so the lake's guarantees carry a driver attestation like every
other operator family.

Scale note: the lifecycle here runs against a scratch COPY of the
documents table because a registered query must be self-contained; a
production deployment points the same calls at its real table path.
Driver-side collects are bounded scalars (change-type counts, row
counts) — the drift-monitor precedent (operators/ann_index.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.lake import (
    lake_commit,
    lake_compact,
    lake_delete_where,
    lake_diff,
    lake_history,
    lake_merge_upsert,
    lake_read,
)
from cours_datalake_dwh_td_kafka_spark.operators.attest import (
    legs,
    multiset_eq,
    parallel_vals,
)
from cours_datalake_dwh_td_kafka_spark.registry import register

_LIFECYCLE_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deleted,
           CAST(0 AS BIGINT) AS n_inserted,
           CAST(SUM(CASE WHEN doc_id % 100 = 25 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_streamed,
           TRUE AS time_travel_ok,
           TRUE AS compact_preserved_rows,
           TRUE AS schema_evolution_ok,
           TRUE AS merge_upsert_ok,
           TRUE AS streamed_append_ok,
           'append>compact>delete>append>merge>append' AS history_ops
    FROM documents
"""


def lake_lifecycle(spark: SparkSession, d: DataFrame, path: str) -> DataFrame:
    """Commit the corpus (v1), compact (v2), copy-on-write delete the
    English docs (v3), and fold the protocol's guarantees into one
    deterministic row:

    - ``compact_preserved_rows``: compaction is a physical rewrite —
      the snapshot's row count is untouched (v2 == v1);
    - ``n_deleted``/``n_inserted``: the v2→v3 CDC diff (lake_diff)
      must report exactly the predicate's rows as deletes, nothing as
      inserts — the after-the-fact change feed the manifest layout
      makes cheap;
    - ``time_travel_ok``: v1 still reads the FULL corpus after all
      mutations (snapshot isolation);
    - ``schema_evolution_ok``: v4 appends a ``quality`` column (round 8)
      — the NEW reader sees the column with NULLs for every pre-column
      row and the appended values for the new ones, while the OLD
      reader (time travel to v1) still sees exactly the original
      columns, untouched by the later schema;
    - ``merge_upsert_ok``: v5 batch-MERGEs a corrected slice (round 8)
      — matched rows replaced, unmatched keys inserted, one atomic
      commit; the pre-merge snapshot still shows the old values;
    - ``streamed_append_ok`` (round 10): v6 lands through the
      STREAMING lake-commit sink (foreachBatch ->
      ``commit_stream_to_lake``) — streamed rows are first-class lake
      citizens: the CDC diff v5→v6 reports exactly them as inserts,
      the manifest records the micro-batch id (the exactly-once replay
      guard, kill-tested in tests/test_streaming.py), and time travel
      to v1 is still intact afterwards;
    - ``history_ops``: the surviving manifest operations in order.

    Compaction runs against v1, whose file count is an EXPLICIT
    repartition(4) — the delete's rewrite width depends on the scan
    parallelism of the running cluster, so compacting after it would
    make ``history_ops`` (compact fires only with >1 small file)
    nondeterministic on a single-core driver."""
    lake_commit(d.repartition(4), path)  # v1: small-file-shaped commit
    orig_cols = d.columns
    n_docs = lake_read(spark, path, 1).count()
    lake_compact(spark, path, target_files=1)  # v2
    compact_ok = lake_read(spark, path, 2).count() == n_docs
    lake_delete_where(spark, path, "lang = 'en'")  # v3: CoW delete
    # two independent read-only actions over the settled v3 (r14,
    # guide §2.6)
    changes_rows, n3 = parallel_vals(
        lambda: lake_diff(spark, path, 2, 3)
        .groupBy("_change")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
        lambda: lake_read(spark, path, 3).count(),
    )
    changes = {r["_change"]: r["n"] for r in changes_rows}
    # v4: add-column append — a deterministic slice re-lands with a
    # quality score the original schema never had
    extra = d.where(F.col("doc_id") % 100 == 0).withColumn(
        "quality", F.lit(0.5)
    )
    n_extra = extra.count()
    lake_commit(extra, path)  # v4: schema-evolving append
    v4 = lake_read(spark, path, 4)
    v1_after = lake_read(spark, path, 1)
    # two read-only counts over the settled v4 (columns checks are
    # metadata-only) — pooled
    n4, n_quality = parallel_vals(
        lambda: v4.count(),
        lambda: v4.where(F.col("quality").isNotNull()).count(),
    )
    evolved_ok = (
        v4.columns == orig_cols + ["quality"]
        and n4 == n3 + n_extra
        and n_quality == n_extra
        and v1_after.columns == orig_cols
    )
    # v5: batch MERGE — re-land a deterministic slice with a corrected
    # quality score; matched rows replace, unmatched keys insert
    upd = d.where(F.col("doc_id") % 100 == 50).withColumn(
        "quality", F.lit(0.9)
    )
    n_upd, n_matched = parallel_vals(
        lambda: upd.count(),
        lambda: v4.join(
            upd.select("doc_id").distinct(), "doc_id", "leftsemi"
        ).count(),
    )
    lake_merge_upsert(spark, path, upd, "doc_id")  # v5
    v5 = lake_read(spark, path, 5)
    merged_slice = v5.where(F.col("doc_id") % 100 == 50)
    # four read-only actions over the settled v5/v4 — one pool
    n5, n_slice, n_bad_quality, n_premerge = parallel_vals(
        lambda: v5.count(),
        lambda: merged_slice.count(),
        # null-safe: a NULL quality must FAIL the check, not slip past a
        # NULL-blind != (the attestation would otherwise stay TRUE on a
        # column-alignment regression landing NULLs)
        lambda: merged_slice.where(
            ~F.col("quality").eqNullSafe(0.9)
        ).count(),
        # pre-merge snapshot untouched: v4's slice still has NULL quality
        lambda: v4.where(
            (F.col("doc_id") % 100 == 50) & F.col("quality").isNotNull()
        ).count(),
    )
    merge_ok = (
        n5 == n4 - n_matched + n_upd
        and n_slice == n_upd
        and n_bad_quality == 0
        and n_premerge == 0
    )
    # v6: STREAMED append through the versioned-commit sink (round 10)
    from cours_datalake_dwh_td_kafka_spark.lake import last_stream_batch_id
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        commit_stream_to_lake,
    )

    workdir = os.path.dirname(path)
    indir = os.path.join(workdir, "stream_in")
    streamed = d.where(F.col("doc_id") % 100 == 25)
    n_streamed = streamed.count()
    streamed.coalesce(1).write.json(indir)
    src = spark.readStream.schema(streamed.schema).json(indir)
    q = commit_stream_to_lake(
        src, path, os.path.join(workdir, "stream_ckpt")
    ).start()
    q.awaitTermination(120)
    v6 = lake_read(spark, path, 6)
    # three read-only actions over the settled v6/v1 — one pool (v5's
    # count was already taken above)
    n6, sc_rows, n_v1_final = parallel_vals(
        lambda: v6.count(),
        lambda: lake_diff(spark, path, 5, 6)
        .groupBy("_change")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
        lambda: v1_after.count(),
    )
    stream_changes = {r["_change"]: r["n"] for r in sc_rows}
    streamed_ok = (
        n6 == n5 + n_streamed
        and stream_changes.get("insert", 0) == n_streamed
        and stream_changes.get("delete", 0) == 0
        and last_stream_batch_id(path) == 0  # the replay guard's marker
    )
    travel_ok = n_v1_final == n_docs
    ops = ">".join(h["op"] for h in lake_history(path))
    return spark.createDataFrame(
        [
            (
                int(n_docs),
                int(changes.get("delete", 0)),
                int(changes.get("insert", 0)),
                int(n_streamed),
                bool(travel_ok),
                bool(compact_ok),
                bool(evolved_ok),
                bool(merge_ok),
                bool(streamed_ok),
                ops,
            )
        ],
        "n_docs BIGINT, n_deleted BIGINT, n_inserted BIGINT, "
        "n_streamed BIGINT, time_travel_ok BOOLEAN, "
        "compact_preserved_rows BOOLEAN, schema_evolution_ok BOOLEAN, "
        "merge_upsert_ok BOOLEAN, streamed_append_ok BOOLEAN, "
        "history_ops STRING",
    )


@register("lake_lifecycle", _LIFECYCLE_SQL)
def q_lake_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_lake_lifecycle_")
    try:
        return lake_lifecycle(spark, d, os.path.join(tmp, "t"))
    finally:
        # the result is a driver-local literal row — the lake files are
        # not needed to collect it later
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# data-layout clustering: the OPTIMIZE/Z-ORDER rung as an attested row
# ---------------------------------------------------------------------------
CLUSTER_FILES = 8
PRUNE_LO, PRUNE_HI = 10, 30

_CLUSTER_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_custkey BETWEEN {PRUNE_LO} AND {PRUNE_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_probe_rows,
           TRUE AS rows_identical,
           TRUE AS ranges_disjoint,
           TRUE AS pruning_effective,
           TRUE AS pruned_equals_full,
           TRUE AS time_travel_ok
    FROM orders
"""


def lake_cluster_protocol(
    spark: SparkSession, o: DataFrame, path: str
) -> DataFrame:
    """Commit the orders table hash-distributed (v1: every file spans
    the whole o_custkey range — the layout a probe must fully scan),
    then :func:`lake.lake_cluster_by` it on o_custkey (v2) and measure
    the layout contract:

    - ``rows_identical``: clustering is a physical rewrite — count and
      exact key checksum unchanged (both independently recomputed by
      the oracle from the raw table);
    - ``ranges_disjoint``: the manifest's per-file [min, max] of the
      cluster key never overlap — the range partitioner sends each key
      to one file, which is what makes stats pruning sound;
    - ``pruning_effective``: the range probe opens every file on v1
      (no stats) but a strict minority on v2 — the manifest became an
      index;
    - ``pruned_equals_full``: the stats-pruned read returns EXACTLY the
      full-scan filter's rows (file pruning is a superset filter, never
      a substitute — the row count is oracle-recomputed);
    - ``time_travel_ok``: v1 still reads the pre-cluster layout."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_cluster_by,
        lake_read_pruned,
        pruned_files,
    )

    lake_commit(o.repartition(CLUSTER_FILES), path)  # v1: hash layout
    v1 = lake_read(spark, path, 1)
    # two independent read-only actions over the settled v1 (r14,
    # guide §2.6)
    n_rows, key_sum = parallel_vals(
        lambda: v1.count(),
        lambda: v1.agg(
            F.sum("o_orderkey").cast("long").alias("s")
        ).first().s,
    )
    hit_v1, total_v1 = pruned_files(
        path, "o_custkey", PRUNE_LO, PRUNE_HI, version=1
    )
    lake_cluster_by(spark, path, "o_custkey", n_files=CLUSTER_FILES)  # v2
    v2 = lake_read(spark, path, 2)
    n_v2, key_sum_v2 = parallel_vals(
        lambda: v2.count(),
        lambda: v2.agg(
            F.sum("o_orderkey").cast("long").alias("s")
        ).first().s,
    )
    rows_identical = n_v2 == n_rows and key_sum_v2 == key_sum
    from cours_datalake_dwh_td_kafka_spark.lake import _read_manifest

    stats = _read_manifest(path, 2)["stats"]
    ranges = sorted(
        tuple(s["cols"]["o_custkey"])
        for s in stats.values()
        if s["cols"]["o_custkey"][0] is not None
    )
    ranges_disjoint = all(
        ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1)
    ) and all(lo <= hi for lo, hi in ranges)
    hit_v2, total_v2 = pruned_files(
        path, "o_custkey", PRUNE_LO, PRUNE_HI, version=2
    )
    pruning_effective = (
        len(hit_v1) == total_v1  # no stats: v1 must scan everything
        and len(hit_v2) < len(hit_v1)
        and len(hit_v2) < total_v2
    )
    # three independent read-only probes — one overlapped pool
    n_pruned, n_probe, n_v1_after = parallel_vals(
        lambda: lake_read_pruned(
            spark, path, "o_custkey", PRUNE_LO, PRUNE_HI
        ).count(),
        lambda: v2.where(
            F.col("o_custkey").between(PRUNE_LO, PRUNE_HI)
        ).count(),
        lambda: lake_read(spark, path, 1).count(),
    )
    pruned_equals_full = n_pruned == n_probe
    time_travel_ok = n_v1_after == n_rows
    return spark.createDataFrame(
        [
            (
                int(n_rows),
                int(key_sum),
                int(n_probe),
                bool(rows_identical),
                bool(ranges_disjoint),
                bool(pruning_effective),
                bool(pruned_equals_full),
                bool(time_travel_ok),
            )
        ],
        "n_rows BIGINT, key_sum BIGINT, n_probe_rows BIGINT, "
        "rows_identical BOOLEAN, ranges_disjoint BOOLEAN, "
        "pruning_effective BOOLEAN, pruned_equals_full BOOLEAN, "
        "time_travel_ok BOOLEAN",
    )


@register("lake_cluster", _CLUSTER_SQL)
def q_lake_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    tmp = tempfile.mkdtemp(prefix="graft_lake_cluster_")
    try:
        return lake_cluster_protocol(spark, o, os.path.join(tmp, "t"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Z-order: multi-dimensional clustering, measured against the 1-D layout
# ---------------------------------------------------------------------------
DATE_LO, DATE_HI = "1995-01-01", "1995-03-31"

_ZORDER_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN o_custkey BETWEEN {PRUNE_LO} AND {PRUNE_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_probe_cust,
           CAST(SUM(CASE WHEN o_orderdate BETWEEN DATE '{DATE_LO}'
                         AND DATE '{DATE_HI}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_probe_date,
           TRUE AS cust_pruned_1d,
           TRUE AS date_unpruned_1d,
           TRUE AS cust_pruned_z,
           TRUE AS date_pruned_z,
           TRUE AS pruned_reads_exact
    FROM orders
"""


def lake_zorder_protocol(
    spark: SparkSession, o: DataFrame, path: str
) -> DataFrame:
    """The multi-dimensional-clustering head-to-head as one attested
    row. v1 commits the hash layout; v2 clusters 1-D by o_custkey but
    records o_orderdate stats TOO; v3 Z-ORDERS by (o_custkey,
    o_orderdate) — quantile-cell Morton interleave (lake._morton_code).
    Measured:

    - ``cust_pruned_1d``: the custkey probe prunes on the 1-D layout
      (the dimension it sorted by);
    - ``date_unpruned_1d``: the DATE probe opens every v2 file even
      though date stats exist — each 1-D file spans the full date
      range; this is the second-dimension blindness of lexicographic
      layouts, measured rather than asserted;
    - ``cust_pruned_z`` / ``date_pruned_z``: the Z-ordered layout
      prunes BOTH probes — locality in the Morton code is locality in
      every interleaved dimension;
    - ``pruned_reads_exact``: both pruned reads return exactly the
      full-scan filter's rows (counts oracle-recomputed);
    - row count and key checksum oracle-recomputed (the rewrite moved
      bytes, never rows)."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_cluster_by,
        lake_read_pruned,
        pruned_files,
    )

    lake_commit(o.repartition(CLUSTER_FILES), path)  # v1: hash layout
    v1 = lake_read(spark, path, 1)
    # two independent read-only actions over the IMMUTABLE v1 snapshot
    # — they ride UNDER the v2 rewrite (r15, guide §2.6; the rewrite
    # only adds a version, the pinned v1 manifest never changes)
    with legs(spark) as bg:
        counts_fut = bg.submit(
            lambda: parallel_vals(
                lambda: v1.count(),
                lambda: v1.agg(
                    F.sum("o_orderkey").cast("long").alias("s")
                ).first().s,
            )
        )
        lake_cluster_by(  # v2: 1-D, with second-column stats recorded
            spark,
            path,
            "o_custkey",
            n_files=CLUSTER_FILES,
            stats_cols=("o_orderdate",),
        )
        n_rows, key_sum = counts_fut.result()
    hit_cust_1d, tot_1d = pruned_files(
        path, "o_custkey", PRUNE_LO, PRUNE_HI, version=2
    )
    hit_date_1d, _ = pruned_files(
        path, "o_orderdate", DATE_LO, DATE_HI, version=2
    )
    lake_cluster_by(  # v3: Z-order on both dimensions
        spark,
        path,
        ["o_custkey", "o_orderdate"],
        n_files=CLUSTER_FILES,
    )
    hit_cust_z, tot_z = pruned_files(
        path, "o_custkey", PRUNE_LO, PRUNE_HI, version=3
    )
    hit_date_z, _ = pruned_files(
        path, "o_orderdate", DATE_LO, DATE_HI, version=3
    )
    v3 = lake_read(spark, path, 3)
    # six independent read-only probes over the settled v3 layout —
    # one overlapped pool (r14, guide §2.6)
    (
        n_probe_cust,
        n_probe_date,
        n_pruned_cust,
        n_pruned_date,
        n_v3,
        key_sum_v3,
    ) = parallel_vals(
        lambda: v3.where(
            F.col("o_custkey").between(PRUNE_LO, PRUNE_HI)
        ).count(),
        lambda: v3.where(
            F.col("o_orderdate").between(DATE_LO, DATE_HI)
        ).count(),
        lambda: lake_read_pruned(
            spark, path, "o_custkey", PRUNE_LO, PRUNE_HI, 3
        ).count(),
        lambda: lake_read_pruned(
            spark, path, "o_orderdate", DATE_LO, DATE_HI, 3
        ).count(),
        lambda: v3.count(),
        lambda: v3.agg(
            F.sum("o_orderkey").cast("long").alias("s")
        ).first().s,
    )
    reads_exact = (
        n_pruned_cust == n_probe_cust and n_pruned_date == n_probe_date
    )
    return spark.createDataFrame(
        [
            (
                int(n_rows),
                int(key_sum),
                int(n_probe_cust),
                int(n_probe_date),
                len(hit_cust_1d) < tot_1d,
                len(hit_date_1d) == tot_1d,
                len(hit_cust_z) < tot_z,
                len(hit_date_z) < tot_z,
                bool(
                    reads_exact
                    and n_v3 == n_rows
                    and key_sum_v3 == key_sum
                ),
            )
        ],
        "n_rows BIGINT, key_sum BIGINT, n_probe_cust BIGINT, "
        "n_probe_date BIGINT, cust_pruned_1d BOOLEAN, "
        "date_unpruned_1d BOOLEAN, cust_pruned_z BOOLEAN, "
        "date_pruned_z BOOLEAN, pruned_reads_exact BOOLEAN",
    )


@register("lake_zorder", _ZORDER_SQL)
def q_lake_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    tmp = tempfile.mkdtemp(prefix="graft_lake_zorder_")
    try:
        return lake_zorder_protocol(spark, o, os.path.join(tmp, "t"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Bloom point-lookup index as an attested row
# ---------------------------------------------------------------------------
BLOOM_PROBES = (1, 1024, 32000)
BLOOM_ABSENT = 10**15

_BLOOM_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IN
                         ({", ".join(str(p) for p in BLOOM_PROBES)})
                    THEN 1 ELSE 0 END) AS BIGINT) AS probe_hits,
           CAST(0 AS BIGINT) AS absent_hits,
           TRUE AS bloom_pruned,
           TRUE AS lookups_exact
    FROM orders
"""


def lake_bloom_protocol(
    spark: SparkSession, o: DataFrame, path: str
) -> DataFrame:
    """The Bloom point-lookup index measured end-to-end: commit the
    orders table hash-scattered (v1), bloom-index o_orderkey (v2), and
    attest:

    - ``probe_hits``: total rows returned by bloom-pruned point lookups
      of the probe keys — oracle-recomputed from the raw table, so a
      false NEGATIVE (a wrongly skipped file) breaks the value hash;
    - ``absent_hits``: a key absent from the corpus returns zero rows;
    - ``bloom_pruned``: at least one probe skipped at least one file
      (the index does something) — and on a hash-scattered unique key
      every present-probe opens strictly fewer files than the total;
    - ``lookups_exact``: each pruned lookup's count equals the full
      scan filter's count, key by key."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_bloom_index,
        lake_read_point,
        pruned_files_eq,
    )

    lake_commit(o.repartition(CLUSTER_FILES), path)  # v1
    lake_bloom_index(spark, path, "o_orderkey")  # v2
    n_rows = lake_read(spark, path).count()
    probe_hits = 0
    skipped = 0
    exact = True
    full = lake_read(spark, path)
    for key in BLOOM_PROBES:
        files, tot = pruned_files_eq(path, "o_orderkey", key)
        skipped += tot - len(files)
        got = lake_read_point(spark, path, "o_orderkey", key).count()
        want = full.where(F.col("o_orderkey") == key).count()
        exact = exact and got == want
        probe_hits += got
    absent_hits = lake_read_point(
        spark, path, "o_orderkey", BLOOM_ABSENT
    ).count()
    return spark.createDataFrame(
        [
            (
                int(n_rows),
                int(probe_hits),
                int(absent_hits),
                skipped > 0,
                bool(exact),
            )
        ],
        "n_rows BIGINT, probe_hits BIGINT, absent_hits BIGINT, "
        "bloom_pruned BOOLEAN, lookups_exact BOOLEAN",
    )


@register("lake_bloom", _BLOOM_SQL)
def q_lake_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="graft_lake_bloom_")
    try:
        return lake_bloom_protocol(spark, o, os.path.join(tmp, "t"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# merge-on-read equality deletes: the O(deleted) delete a 100 TB table
# needs (Iceberg-v2 shape), attested end to end
# ---------------------------------------------------------------------------
_MOR_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deleted,
           CAST(0 AS BIGINT) AS data_files_rewritten,
           TRUE AS read_equals_cow,
           TRUE AS time_travel_ok,
           TRUE AS pruned_reads_respect_deletes,
           TRUE AS reinsert_survives,
           TRUE AS fold_clears_deletes
    FROM documents
"""


def lake_merge_on_read_protocol(
    spark: SparkSession, d: DataFrame, path: str
) -> DataFrame:
    """Drive :func:`lake_delete_keys` through its whole contract:

    - the delete commit rewrites ZERO data files (``data_files_
      rewritten`` — measured from the manifests, the entire point:
      O(deleted) write cost instead of lake_delete_where's O(table));
    - ``read_equals_cow``: the merge-on-read result equals what a
      copy-on-write delete of the same predicate would produce, row
      set for row set;
    - ``time_travel_ok``: the pre-delete snapshot still reads every row;
    - ``pruned_reads_respect_deletes``: the bloom point-lookup path
      anti-joins the pending deletes too — a deleted key returns zero
      rows even when its file is opened (resurrection through a pruned
      read was the easy bug to write);
    - ``reinsert_survives``: a later append re-inserting a deleted key
      is NOT retro-deleted (delete entries scope to the files present
      when they committed — the sequence-number rule);
    - ``fold_clears_deletes``: a compaction folds the debt — rows
      unchanged, manifest carries no delete entries afterwards."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        current_version,
        lake_bloom_index,
        lake_compact,
        lake_delete_keys,
        lake_read_point,
    )

    base = d.select("doc_id", "source", "n_chars")
    lake_commit(base.repartition(4), path)  # v1
    n_rows = base.count()
    lake_bloom_index(spark, path, "doc_id")  # v2: point-lookup index
    lake_delete_keys(spark, path, "doc_id", "doc_id % 10 = 3")  # v3
    m2, m3 = _read_manifest(path, 2), _read_manifest(path, 3)
    files_rewritten = len(set(m3["files"]) - set(m2["files"]))
    n_deleted = base.where("doc_id % 10 = 3").count()
    v3 = lake_read(spark, path, 3)
    cow_equiv = base.where("NOT (doc_id % 10 = 3)")
    # one signed-tag action (r14) — equality implies the count identity
    read_equals_cow = multiset_eq(v3, cow_equiv)
    travel_ok = lake_read(spark, path, 2).count() == n_rows
    # a deleted key through the BLOOM-pruned point path: zero rows
    some_deleted = base.where("doc_id % 10 = 3").agg(
        F.min("doc_id")
    ).first()[0]
    pruned_ok = (
        lake_read_point(spark, path, "doc_id", int(some_deleted)).count()
        == 0
    )
    # re-insert one deleted key: later files are outside the delete's
    # scope, so the row survives
    reinserted = base.where(F.col("doc_id") == int(some_deleted))
    lake_commit(reinserted, path)  # v4
    reinsert_ok = (
        lake_read(spark, path, 4)
        .where(F.col("doc_id") == int(some_deleted))
        .count()
        == 1
    )
    # fold: compaction pays the deferred debt and clears the entries
    lake_compact(spark, path, target_files=2)  # v5
    m5 = _read_manifest(path, current_version(path))
    fold_ok = (
        not m5.get("deletes")
        and lake_read(spark, path).count() == n_rows - n_deleted + 1
    )
    return spark.createDataFrame(
        [
            (
                int(n_rows),
                int(n_deleted),
                int(files_rewritten),
                bool(read_equals_cow),
                bool(travel_ok),
                bool(pruned_ok),
                bool(reinsert_ok),
                bool(fold_ok),
            )
        ],
        "n_rows BIGINT, n_deleted BIGINT, data_files_rewritten BIGINT, "
        "read_equals_cow BOOLEAN, time_travel_ok BOOLEAN, "
        "pruned_reads_respect_deletes BOOLEAN, reinsert_survives BOOLEAN, "
        "fold_clears_deletes BOOLEAN",
    )


@register("lake_merge_on_read", _MOR_SQL)
def q_lake_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_lake_mor_")
    try:
        return lake_merge_on_read_protocol(spark, d, os.path.join(tmp, "t"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# the maintenance advisor driven through a degrade-and-repair cycle
# ---------------------------------------------------------------------------
_MAINT_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS fragmented_flagged,
           TRUE AS eroded_flagged,
           TRUE AS pileup_flagged,
           TRUE AS bloom_eroded_flagged,
           TRUE AS repairs_preserve_rows,
           TRUE AS clear_after_maintenance,
           TRUE AS bloom_prunes_after_repair
    FROM documents
"""


def lake_maintenance_protocol(
    spark: SparkSession, d: DataFrame, path: str
) -> DataFrame:
    """Degrade the table four ways, check the advisor flags each —
    and ONLY each — due op, run the repairs it prescribed, and check
    the verdicts clear:

    1. fragmented commit (6 small files)      -> compact_due;
    2. cluster + bloom-index, then two
       stats-less appends                     -> recluster_due AND
                                                 reindex_due (the
       appended files carry neither range stats nor bitmaps — round
       10: a degraded bloom index was previously invisible to the
       advisor, so point lookups quietly decayed to full scans);
    3. the version pileup from 1-2            -> vacuum_due;
    4. compact + re-cluster + re-index +
       vacuum                                 -> nothing due, rows
       untouched throughout (oracle-recomputed count), and a
       point probe on the REBUILT bloom actually skips files."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_bloom_index,
        lake_cluster_by,
        lake_compact,
        lake_maintenance_plan,
        lake_vacuum,
        pruned_files_eq,
    )

    base = d.select("doc_id", "source", "n_chars")
    lake_commit(base.repartition(6), path)  # v1: fragmented
    p1 = lake_maintenance_plan(path)
    fragmented = (
        p1["compact_due"]
        and not p1["recluster_due"]
        and not p1["vacuum_due"]
        and not p1["reindex_due"]  # no bloom yet -> never due
    )
    lake_cluster_by(spark, path, "doc_id", n_files=2)  # v2
    lake_bloom_index(spark, path, "doc_id")  # v3: fully indexed
    extra = base.where(F.col("doc_id") % 100 < 2)
    lake_commit(extra.coalesce(1), path)  # v4: stats+bitmap-less append
    lake_commit(
        base.where((F.col("doc_id") % 100 >= 2) & (F.col("doc_id") % 100 < 4))
        .coalesce(1),
        path,
    )  # v5
    n_expected = base.count() + extra.count() + base.where(
        (F.col("doc_id") % 100 >= 2) & (F.col("doc_id") % 100 < 4)
    ).count()
    p2 = lake_maintenance_plan(path, keep_versions=3)
    eroded = p2["recluster_due"]
    bloom_eroded = (
        p2["reindex_due"] and p2["n_unindexed_files"] == 2  # the appends
    )
    pileup = p2["vacuum_due"]  # 5 surviving versions > keep_versions=3
    # run the prescribed repairs (recluster drops the bloom section —
    # its files are rewritten — so the re-index runs after it)
    lake_compact(spark, path, target_files=1)  # v6
    lake_cluster_by(spark, path, "doc_id", n_files=2)  # v7
    lake_bloom_index(spark, path, "doc_id")  # v8
    lake_vacuum(path, keep_versions=1, orphan_grace_seconds=0)
    n_after = lake_read(spark, path).count()
    p3 = lake_maintenance_plan(path, keep_versions=3)
    clear = (
        not p3["compact_due"]
        and not p3["recluster_due"]
        and not p3["vacuum_due"]
        and not p3["reindex_due"]
        and p3["n_unclustered_files"] == 0
        and p3["n_unindexed_files"] == 0
    )
    # the rebuilt index bites: an absent key skips every file (up to
    # bloom false positives — deterministic for fixed data, and zero
    # at every tested SF)
    kept, total = pruned_files_eq(path, "doc_id", -1)
    return spark.createDataFrame(
        [
            (
                int(d.count()),
                bool(fragmented),
                bool(eroded),
                bool(pileup),
                bool(bloom_eroded),
                n_after == n_expected,
                bool(clear),
                len(kept) < total,
            )
        ],
        "n_rows BIGINT, fragmented_flagged BOOLEAN, eroded_flagged BOOLEAN, "
        "pileup_flagged BOOLEAN, bloom_eroded_flagged BOOLEAN, "
        "repairs_preserve_rows BOOLEAN, clear_after_maintenance BOOLEAN, "
        "bloom_prunes_after_repair BOOLEAN",
    )


@register("lake_maintenance", _MAINT_SQL)
def q_lake_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_lake_maint_")
    try:
        return lake_maintenance_protocol(spark, d, os.path.join(tmp, "t"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# restore: rollback-as-a-new-commit (the rescue rung after a bad merge)
# ---------------------------------------------------------------------------
_RESTORE_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_by_bad_op,
           TRUE AS restore_equals_target,
           TRUE AS bad_version_still_readable,
           TRUE AS diff_reverses_bad_op,
           TRUE AS metadata_only,
           'append>delete>restore' AS history_ops
    FROM documents
"""


def lake_restore_protocol(
    spark: SparkSession, d: DataFrame, path: str
) -> DataFrame:
    """A botched operation (v2 copy-on-write deletes the English docs)
    rolled back by :func:`lake_restore` (v3), with the contract
    measured on the artifacts:

    - ``restore_equals_target``: v3 reads exactly v1, row set for row
      set;
    - ``bad_version_still_readable``: v2 remains open for forensics —
      restore adds a version, it never erases history;
    - ``diff_reverses_bad_op``: the v2→v3 CDC feed is exactly the bad
      op's v1→v2 feed with insert/delete flipped;
    - ``metadata_only``: the restore commit added ZERO data files (its
      file list is v1's, byte for byte) — O(1) in table size."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        lake_delete_where,
        lake_diff,
        lake_history,
        lake_restore,
    )

    base = d.select("doc_id", "source", "lang", "n_chars")
    lake_commit(base, path)  # v1
    n_docs = base.count()
    lake_delete_where(spark, path, "lang = 'en'")  # v2: the bad op
    n_dropped = base.where("lang = 'en'").count()
    lake_restore(spark, path, 1)  # v3
    v1r, v3 = lake_read(spark, path, 1), lake_read(spark, path, 3)
    # one signed-tag action (r14); the count identity (== n_docs) is
    # implied by multiset equality with v1, whose count the row attests
    restored_ok = multiset_eq(v3, v1r)
    bad_readable = lake_read(spark, path, 2).count() == n_docs - n_dropped
    fwd = {
        r["_change"]: r["n"]
        for r in lake_diff(spark, path, 1, 2)
        .groupBy("_change")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    back = {
        r["_change"]: r["n"]
        for r in lake_diff(spark, path, 2, 3)
        .groupBy("_change")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    reverses = (
        fwd.get("delete", 0) == back.get("insert", 0) == n_dropped
        and fwd.get("insert", 0) == back.get("delete", 0) == 0
    )
    metadata_only = _read_manifest(path, 3)["files"] == _read_manifest(
        path, 1
    )["files"]
    ops = ">".join(h["op"] for h in lake_history(path))
    return spark.createDataFrame(
        [
            (
                int(n_docs),
                int(n_dropped),
                bool(restored_ok),
                bool(bad_readable),
                bool(reverses),
                bool(metadata_only),
                ops,
            )
        ],
        "n_docs BIGINT, n_dropped_by_bad_op BIGINT, "
        "restore_equals_target BOOLEAN, bad_version_still_readable "
        "BOOLEAN, diff_reverses_bad_op BOOLEAN, metadata_only BOOLEAN, "
        "history_ops STRING",
    )


@register("lake_restore", _RESTORE_SQL)
def q_lake_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_lake_restore_")
    try:
        return lake_restore_protocol(spark, d, os.path.join(tmp, "t"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# incremental materialized view (round 11, beyond-ref): classic
# incremental view maintenance (Blakeley/Larson/Tompa 1986 counting
# algorithm) driven by the lake's CDC feed — COUNT and SUM are
# self-maintainable aggregates, so a grouped rollup updates from the
# row-level change feed alone, never a base-table rescan. At 100 TB
# this is the difference between "refresh the dashboard" costing
# O(changed rows) and O(corpus).
# ---------------------------------------------------------------------------


def mv_delta_rows(changes: DataFrame) -> DataFrame:
    """Per-group (d_docs, d_chars) deltas of one CDC step: +1/+n_chars
    per inserted row, -1/-n_chars per deleted row. Row-preserving
    maintenance ops contribute nothing (the feed already skips them
    from the manifest op alone). One grouped aggregate over O(changed
    rows)."""
    sign = F.when(F.col("_change") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    return (
        changes.where(F.col("_change").isin("insert", "delete"))
        .groupBy("source")
        .agg(
            F.sum(sign).cast("long").alias("d_docs"),
            F.sum(sign * F.col("n_chars")).cast("long").alias("d_chars"),
        )
    )


def mv_serve(
    spark: SparkSession, mv_path: str, version: int | None = None
) -> DataFrame:
    """Serve the view from the delta log: one grouped SUM over the
    (tiny) MV table; groups whose count folded to zero are dropped.
    The log is itself a versioned lake table, so the serve is
    snapshot-consistent and time-travels like any other read."""
    return (
        lake_read(spark, mv_path, version)
        .groupBy("source")
        .agg(
            F.sum("d_docs").cast("long").alias("n_docs"),
            F.sum("d_chars").cast("long").alias("sum_chars"),
        )
        .where(F.col("n_docs") > 0)
        .orderBy("source")
    )


def mv_fold(spark: SparkSession, mv_path: str) -> int:
    """Fold the delta log to one row per surviving group (the compact
    rung of the MV lifecycle): an OVERWRITE commit of the aggregated
    state. The consumer's high-water mark auto-carries from the newest
    manifest, so folding can never cause a consumed source version to
    replay."""
    folded = (
        lake_read(spark, mv_path)
        .groupBy("source")
        .agg(
            F.sum("d_docs").cast("long").alias("d_docs"),
            F.sum("d_chars").cast("long").alias("d_chars"),
        )
        .where((F.col("d_docs") != 0) | (F.col("d_chars") != 0))
    )
    return lake_commit(folded, mv_path, mode="overwrite")


def lake_incremental_mv_protocol(
    spark: SparkSession, d: DataFrame, workdir: str
) -> DataFrame:
    """The attested IVM lifecycle over a per-source rollup
    (n_docs, sum_chars):

    1. commit 60% of the corpus, APPEND the rest — the consumer derives
       the MV purely from each version's change feed (inserts read only
       the added files);
    2. merge-on-read DELETE of every doc_id % 7 == 0 via the
       explicit-keys GDPR path — the feed emits the deleted rows, the
       MV subtracts them;
    3. FOLD the delta log (overwrite commit) — served view unchanged,
       and the consumer's exactly-once mark survives the fold;
    4. RESTORE the source to the pre-delete version — the feed surfaces
       the restored rows as inserts (the r11 CDC-across-restore rule)
       and the view returns to the full-corpus rollup.

    After EVERY consumed version the served view is compared to a
    from-scratch recompute over the live snapshot; re-consuming with
    nothing new must be a no-op. The final rows are the full-corpus
    rollup (value-hashed by the driver), with the protocol booleans
    riding along."""
    import os

    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_consume_changes,
        lake_delete_keys,
        lake_restore,
    )

    src = os.path.join(workdir, "docs")
    mv = os.path.join(workdir, "mv")
    base = d.select("doc_id", "source", "lang", "n_chars", "text")
    lo, hi = base.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = int(lo) + int((int(hi) - int(lo)) * 0.6)

    # r15 (guide §2.6): the serve==recompute checks are read-only over
    # IMMUTABLE pinned snapshots (a lake version never mutates; the
    # chain only adds versions), so the version chain need not stall on
    # them — pin (src, mv) versions at each checkpoint of the chain and
    # run every comparison on a background pool, joined before the
    # protocol returns. Values identical: each deferred check reads
    # exactly the manifests the in-line check read.
    with legs(spark) as checks:
        check_futs = []

        def queue_serve_eq_check() -> None:
            src_v, mv_v = current_version(src), current_version(mv)

            def run() -> bool:
                direct = (
                    lake_read(spark, src, src_v)
                    .groupBy("source")
                    .agg(
                        F.count(F.lit(1)).cast("long").alias("n_docs"),
                        F.sum("n_chars").cast("long").alias("sum_chars"),
                    )
                )
                return multiset_eq(mv_serve(spark, mv, mv_v), direct)

            check_futs.append(checks.submit(run))

        lake_commit(base.where(F.col("doc_id") < cut), src)
        lake_consume_changes(spark, src, mv, apply_fn=mv_delta_rows)
        queue_serve_eq_check()

        lake_commit(base.where(F.col("doc_id") >= cut), src, mode="append")
        lake_consume_changes(spark, src, mv, apply_fn=mv_delta_rows)
        queue_serve_eq_check()

        erase = base.where(F.col("doc_id") % 7 == 0).select("doc_id")
        pre_delete_v = lake_delete_keys(spark, src, "doc_id", keys=erase) - 1
        lake_consume_changes(spark, src, mv, apply_fn=mv_delta_rows)
        queue_serve_eq_check()

        before_fold_v = current_version(mv)
        mv_fold(spark, mv)
        after_fold_v = current_version(mv)
        fold_fut = checks.submit(
            lambda: multiset_eq(
                mv_serve(spark, mv, after_fold_v),
                mv_serve(spark, mv, before_fold_v),
            )
        )
        # nothing new at the source: the consumer must be a no-op even
        # though the MV table itself advanced a version in the fold
        exactly_once = (
            lake_consume_changes(spark, src, mv, apply_fn=mv_delta_rows) == []
        )

        lake_restore(spark, src, pre_delete_v)
        consumed = lake_consume_changes(spark, src, mv, apply_fn=mv_delta_rows)
        exactly_once &= len(consumed) == 1
        queue_serve_eq_check()

        all_match = all([f.result() for f in check_futs])
        fold_ok = fold_fut.result()

    return mv_serve(spark, mv).select(
        "source",
        "n_docs",
        "sum_chars",
        F.lit(bool(all_match)).alias("mv_matches_recompute_ok"),
        F.lit(bool(fold_ok)).alias("fold_preserves_view_ok"),
        F.lit(bool(exactly_once)).alias("exactly_once_ok"),
    ).orderBy("source")


_MV_SQL = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS mv_matches_recompute_ok,
           TRUE AS fold_preserves_view_ok,
           TRUE AS exactly_once_ok
    FROM documents
    GROUP BY source
    ORDER BY source
"""


@register("lake_incremental_mv", _MV_SQL)
def q_lake_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_mv_")
    try:
        out = lake_incremental_mv_protocol(spark, d, tmp)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# cross-table transaction consistency (round 11, beyond-ref): the
# catalog-commit protocol over (base table, derived rollup) — no reader
# resolving through the txn log can ever observe the base at a version
# paired with a rollup that hadn't landed, no matter where the writer
# is mid-protocol.
# ---------------------------------------------------------------------------


def _rollup_of(docs: DataFrame) -> DataFrame:
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def lake_txn_consistency_protocol(
    spark: SparkSession, d: DataFrame, workdir: str
) -> DataFrame:
    """Three ingest waves into a base table, each followed by an
    OVERWRITE of its per-source rollup and ONE txn publish pairing the
    two versions. Between every wave's base commit and its txn publish
    — the window where the raw tables are mutually INCONSISTENT — a
    txn reader is exercised and must still see the previous consistent
    pair (rollup(base@recorded) == rollup_table@recorded, multiset
    equality). After the final publish the reader sees the full corpus.
    Booleans: ``all_reads_consistent_ok`` (every read, mid-window and
    post-publish, satisfied the invariant), ``stale_window_ok`` (the
    mid-window reads did NOT leak the in-flight base commit — version
    pinning, not just invariant luck), ``single_winner_ok`` (a rival
    publishing the same txn number loses loudly)."""
    import os

    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_txn_publish,
        lake_txn_read,
        lake_txn_snapshot,
    )

    base = d.select("doc_id", "source", "lang", "n_chars")
    root = os.path.join(workdir, "txn_root")
    docs_p = os.path.join(workdir, "docs")
    roll_p = os.path.join(workdir, "rollup")
    lo, hi = base.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = int(hi) - int(lo) + 1
    cuts = [
        int(lo) + span // 3,
        int(lo) + 2 * span // 3,
        int(hi) + 1,
    ]

    def txn_pair_consistent() -> bool:
        snap_docs = lake_txn_read(spark, root, "docs")
        snap_roll = lake_txn_read(spark, root, "rollup")
        return multiset_eq(snap_roll, _rollup_of(snap_docs))

    all_ok = True
    stale_ok = True
    prev_cut = int(lo)
    for i, cut in enumerate(cuts):
        wave = base.where(
            (F.col("doc_id") >= prev_cut) & (F.col("doc_id") < cut)
        )
        prev_cut = cut
        dv = lake_commit(wave, docs_p, mode="append" if i else "overwrite")
        if i > 0:
            # the inconsistency window: docs advanced, rollup + txn not
            # yet — a txn reader must still see the OLD pair, and must
            # NOT see the in-flight base version
            all_ok &= txn_pair_consistent()
            stale_ok &= (
                lake_txn_snapshot(root)["docs"]["version"] == dv - 1
            )
        rv = lake_commit(
            _rollup_of(lake_read(spark, docs_p, dv)),
            roll_p,
            mode="overwrite" if current_version(roll_p) else "append",
        )
        lake_txn_publish(root, {"docs": (docs_p, dv), "rollup": (roll_p, rv)})
        all_ok &= txn_pair_consistent()

    # single-winner: a rival re-publishing the just-taken txn number
    # must fail loudly (the O_EXCL/link contract)
    import json as _json

    taken = max(
        int(n[1:-5])
        for n in os.listdir(os.path.join(root, "_txns"))
        if n.endswith(".json")
    )
    single_winner = False
    try:
        # replay the same number by hand-creating the entry the way a
        # lagging rival would
        tdir = os.path.join(root, "_txns")
        tmp = os.path.join(tdir, "rival.tmp")
        with open(tmp, "w") as f:
            _json.dump({"txn": taken, "tables": {}}, f)
        try:
            os.link(tmp, os.path.join(tdir, f"t{taken}.json"))
        except FileExistsError:
            single_winner = True
        finally:
            os.unlink(tmp)
    except OSError:
        single_winner = False

    return (
        lake_txn_read(spark, root, "rollup")
        .select(
            "source",
            "n_docs",
            "sum_chars",
            F.lit(bool(all_ok)).alias("all_reads_consistent_ok"),
            F.lit(bool(stale_ok)).alias("stale_window_ok"),
            F.lit(bool(single_winner)).alias("single_winner_ok"),
        )
        .orderBy("source")
    )


_TXN_SQL = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS all_reads_consistent_ok,
           TRUE AS stale_window_ok,
           TRUE AS single_winner_ok
    FROM documents
    GROUP BY source
    ORDER BY source
"""


@register("lake_txn_consistency", _TXN_SQL)
def q_lake_txn_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_txn_")
    try:
        return lake_txn_consistency_protocol(spark, d, tmp).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# commit-time expectations as an attested row: the quality gate at the
# write boundary, with the dead-letter route auditable in-row.
# ---------------------------------------------------------------------------

#: the registered row's expectation set over the documents table — the
#: oracle recomputes each check's violation count directly, so the
#: row's counts are value-hashed, not just boolean-attested
_EXPECTATIONS = {
    "nonempty_text": "length(text) > 0",
    "chars_match": "n_chars = length(text)",
    # deliberately excludes 'zh' so the dead-letter route FIRES on the
    # real corpus (a quarantine leg that never quarantines proves
    # nothing) — the count is value-hashed against the oracle
    "known_lang": "lang IN ('en','es','de','fr')",
    "has_source": "source IS NOT NULL",
}


def lake_expectations_protocol(
    spark: SparkSession, d: DataFrame, workdir: str
) -> DataFrame:
    """Drive all three violation modes over the same batch:

    - QUARANTINE: the full corpus commits under the expectation set;
      clean rows land in the table, violators land in the dead-letter
      table tagged with the first failed check;
    - FAIL: a batch with a poisoned row must abort atomically (nothing
      lands — version count unchanged);
    - DROP: the same poisoned batch commits only its clean rows.

    Output: one row per expectation with its violation count (oracle
    recomputes each count from the raw table), plus the protocol
    booleans: conservation (clean + quarantined == input), fail-mode
    atomicity, drop-mode kept-count, quarantine tag correctness."""
    import os

    from cours_datalake_dwh_td_kafka_spark.lake import (
        ExpectationViolation,
        current_version,
        lake_commit_expect,
        lake_read,
    )

    base = d.select("doc_id", "source", "lang", "n_chars", "text")
    t = os.path.join(workdir, "docs")
    q = os.path.join(workdir, "dead_letter")
    res = lake_commit_expect(
        base,
        t,
        _EXPECTATIONS,
        on_violation="quarantine",
        quarantine_path=q,
    )
    n_in = base.count()
    n_quar = (
        lake_read(spark, q).count() if res["quarantine_version"] else 0
    )
    conservation_ok = res["n_clean"] + n_quar == n_in
    # every quarantined row really fails the check it is tagged with
    tag_ok = True
    if n_quar:
        quar = lake_read(spark, q)
        for name, cond in _EXPECTATIONS.items():
            mistagged = quar.where(
                (F.col("_failed_expectation") == name)
                & F.expr(cond).eqNullSafe(F.lit(True))
            ).count()
            tag_ok &= mistagged == 0

    # fail mode: one poisoned row aborts the WHOLE batch
    poisoned = base.limit(5).withColumn("text", F.lit(""))
    v_before = current_version(t)
    try:
        lake_commit_expect(poisoned, t, _EXPECTATIONS, on_violation="fail")
        fail_atomic_ok = False
    except ExpectationViolation:
        fail_atomic_ok = current_version(t) == v_before

    # drop mode: the clean remainder commits
    mixed = base.limit(5).withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0, F.lit("")).otherwise(
            F.col("text")
        ),
    ).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 2 == 0, F.lit(0)).otherwise(
            F.col("n_chars")
        ),
    )
    res2 = lake_commit_expect(
        mixed, t, _EXPECTATIONS, mode="append", on_violation="drop"
    )
    want_clean = mixed
    for cond in _EXPECTATIONS.values():
        want_clean = want_clean.where(
            F.expr(cond).eqNullSafe(F.lit(True))
        )
    drop_ok = res2["n_clean"] == want_clean.count()

    rows = [
        (
            name,
            res["violations"][name],
            bool(conservation_ok),
            bool(tag_ok),
            bool(fail_atomic_ok),
            bool(drop_ok),
        )
        for name in sorted(_EXPECTATIONS)
    ]
    return spark.createDataFrame(
        rows,
        "expectation STRING, n_violations BIGINT, conservation_ok BOOLEAN,"
        " quarantine_tags_ok BOOLEAN, fail_atomic_ok BOOLEAN,"
        " drop_keeps_clean_ok BOOLEAN",
    ).orderBy("expectation")


def _expectations_sql() -> str:
    cases = {
        name: f"SUM(CASE WHEN NOT COALESCE({cond}, FALSE) THEN 1 ELSE 0 END)"
        for name, cond in _EXPECTATIONS.items()
    }
    selects = " UNION ALL ".join(
        f"SELECT '{name}' AS expectation, CAST({expr} AS BIGINT)"
        f" AS n_violations FROM documents"
        for name, expr in sorted(cases.items())
    )
    return f"""
    SELECT expectation, n_violations,
           TRUE AS conservation_ok, TRUE AS quarantine_tags_ok,
           TRUE AS fail_atomic_ok, TRUE AS drop_keeps_clean_ok
    FROM ({selects})
    ORDER BY expectation
    """


@register("lake_expectations", _expectations_sql())
def q_lake_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_expect_")
    try:
        return lake_expectations_protocol(spark, d, tmp).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# continuous-aggregate cascade (round 11, beyond-ref): hierarchical
# rollups where EACH LEVEL consumes the level below's change feed — the
# TimescaleDB continuous-aggregate shape on the delta-log MV: base
# events -> hourly rollup -> daily rollup, every hop O(changed rows).
# The daily level never reads the base table at all; because the MV log
# is itself a versioned lake table, its CDC feed IS the next level's
# input, and a FOLD of the hourly log (snapshot rewrite) flows through
# as paired delete/insert deltas that cancel exactly.
# ---------------------------------------------------------------------------


def _fine_delta_rows(changes: DataFrame) -> DataFrame:
    """Base-events CDC -> hourly (d_n, d_v) deltas; values fold as
    DECIMAL(28,6) so delta arithmetic (and the fold-cancellation
    argument) is exact, never an ulp war."""
    sign = F.when(F.col("_change") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    return (
        changes.where(F.col("_change").isin("insert", "delete"))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.sum(sign).cast("long").alias("d_n"),
            F.sum(
                sign * F.col("value").cast("decimal(28,6)")
            ).cast("decimal(28,6)").alias("d_v"),
        )
    )


def _coarse_delta_rows(changes: DataFrame) -> DataFrame:
    """Hourly-log CDC -> daily deltas: an INSERTED fine delta carries
    its (d_n, d_v) forward, a DELETED one (a fold rewrote the log)
    carries the negation — so maintenance of the intermediate level is
    invisible one level up."""
    sign = F.when(F.col("_change") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    return (
        changes.where(F.col("_change").isin("insert", "delete"))
        .groupBy(F.date_trunc("day", F.col("h")).alias("day"))
        .agg(
            F.sum(sign * F.col("d_n")).cast("long").alias("d_n"),
            F.sum(sign * F.col("d_v")).cast("decimal(28,6)").alias("d_v"),
        )
    )


def _serve_rollup(
    spark: SparkSession,
    path: str,
    bucket: str,
    version: int | None = None,
) -> DataFrame:
    from cours_datalake_dwh_td_kafka_spark.lake import lake_read

    return (
        lake_read(spark, path, version)
        .groupBy(bucket)
        .agg(
            F.sum("d_n").cast("long").alias("n_events"),
            F.round(
                F.sum("d_v").cast("decimal(28,6)").cast("double"), 6
            ).alias("sum_value"),
        )
        .where(F.col("n_events") > 0)
        .orderBy(bucket)
    )


def rollup_cascade_protocol(
    spark: SparkSession, ev: DataFrame, workdir: str
) -> DataFrame:
    """The attested cascade lifecycle: two ingest waves, a
    merge-on-read delete of every event_id % 13 == 0, then a FOLD of
    the hourly log. After every consumed hop BOTH levels equal a
    from-scratch recompute over the live base snapshot, and the fold's
    delete/insert churn nets to zero at the daily level. Final rows:
    the daily rollup (value-hashed), protocol booleans riding along."""
    import os

    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_consume_changes,
        lake_delete_keys,
        lake_read,
    )

    base = ev.select("event_id", "ts", "value")
    src = os.path.join(workdir, "events")
    fine = os.path.join(workdir, "hourly")
    coarse = os.path.join(workdir, "daily")
    lo, hi = base.agg(F.min("event_id"), F.max("event_id")).first()
    cut = int(lo) + (int(hi) - int(lo)) // 2

    def consume_chain():
        lake_consume_changes(spark, src, fine, apply_fn=_fine_delta_rows)
        lake_consume_changes(
            spark, fine, coarse, apply_fn=_coarse_delta_rows
        )

    # r15 (guide §2.6): every levels==recompute check is read-only over
    # IMMUTABLE pinned snapshots (the chain only adds versions), so the
    # hop chain need not stall on it — pin the three versions at each
    # hop boundary and run the four checks (x2 levels) on a background
    # pool, joined before the protocol returns. Each deferred check
    # reads exactly the manifests the in-line check read.
    with legs(spark) as checks:
        check_futs = []

        def queue_levels_eq_check() -> None:
            src_v = current_version(src)
            fine_v = current_version(fine)
            coarse_v = current_version(coarse)

            def run() -> bool:
                live = lake_read(spark, src, src_v)

                def want(bucket_fn, bucket):
                    return (
                        live.groupBy(bucket_fn(F.col("ts")).alias(bucket))
                        .agg(
                            F.count(F.lit(1)).cast("long").alias("n_events"),
                            F.round(
                                F.sum(F.col("value").cast("decimal(28,6)"))
                                .cast("decimal(28,6)")
                                .cast("double"),
                                6,
                            ).alias("sum_value"),
                        )
                    )

                fine_got = _serve_rollup(spark, fine, "h", version=fine_v)
                fine_want = want(lambda c: F.date_trunc("hour", c), "h")
                coarse_got = _serve_rollup(
                    spark, coarse, "day", version=coarse_v
                )
                coarse_want = want(lambda c: F.date_trunc("day", c), "day")
                # one signed-tag action per level instead of count+count+
                # exceptAll (VERDICT r13 #4), the two levels overlapped
                # (r14, guide §2.6) — this check runs after every hop, so
                # the 4-call row pays the saving four times
                return all(
                    parallel_vals(
                        lambda: multiset_eq(fine_got, fine_want),
                        lambda: multiset_eq(coarse_got, coarse_want),
                    )
                )

            check_futs.append(checks.submit(run))

        lake_commit(base.where(F.col("event_id") < cut), src)
        consume_chain()
        queue_levels_eq_check()

        lake_commit(base.where(F.col("event_id") >= cut), src, mode="append")
        consume_chain()
        queue_levels_eq_check()

        erase = base.where(F.col("event_id") % 13 == 0).select("event_id")
        lake_delete_keys(spark, src, "event_id", keys=erase)
        consume_chain()
        queue_levels_eq_check()

        # fold the INTERMEDIATE level; the daily level must absorb the
        # rewrite's delete/insert churn to exactly zero
        before_v = current_version(coarse)
        folded = (
            lake_read(spark, fine)
            .groupBy("h")
            .agg(
                F.sum("d_n").cast("long").alias("d_n"),
                F.sum("d_v").cast("decimal(28,6)").alias("d_v"),
            )
            .where((F.col("d_n") != 0) | (F.col("d_v") != 0))
        )
        lake_commit(folded, fine, mode="overwrite")
        lake_consume_changes(spark, fine, coarse, apply_fn=_coarse_delta_rows)
        after_v = current_version(coarse)
        after = _serve_rollup(spark, coarse, "day")
        # one signed-tag action (VERDICT r13 #4) replaces count + count +
        # exceptAll
        fold_fut = checks.submit(
            lambda: multiset_eq(
                _serve_rollup(spark, coarse, "day", version=after_v),
                _serve_rollup(spark, coarse, "day", version=before_v),
            )
        )
        queue_levels_eq_check()

        all_ok = all([f.result() for f in check_futs])
        fold_invisible = fold_fut.result()

    return after.select(
        "day",
        "n_events",
        "sum_value",
        F.lit(bool(all_ok)).alias("cascade_matches_recompute_ok"),
        F.lit(bool(fold_invisible)).alias("fold_invisible_upstream_ok"),
    ).orderBy("day")


_CASCADE_SQL = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6)
             AS sum_value,
           TRUE AS cascade_matches_recompute_ok,
           TRUE AS fold_invisible_upstream_ok
    FROM events
    WHERE event_id % 13 != 0
    GROUP BY 1
    ORDER BY day
"""


@register("rollup_cascade", _CASCADE_SQL)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="graft_cascade_")
    try:
        return rollup_cascade_protocol(spark, ev, tmp).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# optimistic multi-writer concurrency (round 13, VERDICT r12 #3): the
# Delta/Iceberg OCC rung over the raw single-winner CAS. Reference has
# no lake at all (SURVEY §2.1 S6-S9 are plain file sinks); public
# semantics per the Delta Lake concurrency-control docs / Iceberg spec.
# ---------------------------------------------------------------------------


def lake_occ_protocol(
    spark: SparkSession, orders: DataFrame, workdir: str
) -> DataFrame:
    """Two RACING blind appends against a base snapshot — genuinely
    concurrent threads, a shared barrier — must BOTH land, each exactly
    once, with every row preserved (append∥append commutes: the loser
    of the manifest CAS rebases onto the winner's tip and re-publishes).
    Then a GENUINE scope conflict: a read-modify-write append pinned to
    the pre-delete snapshot races a key erasure and must abort loudly
    (LakeConflictError), leaving no reader-visible trace.

    Booleans attested in-row (the lake_lifecycle pattern):

    - ``race_both_landed_ok``: base + exactly one commit per writer
      (version == 3 — a lost writer or a double commit both fail this);
    - ``race_rows_preserved_ok``: the merged table multiset-equals the
      union of base and both waves (exceptAll both directions);
    - ``conflict_aborts_ok``: the RMW append raised LakeConflictError;
    - ``abort_invisible_ok``: after the abort the table still equals
      the post-erasure expectation — the loser's written-but-never-
      committed files are invisible to every reader.

    The returned rollup groups the FINAL table (post-erasure) by
    o_orderpriority with integer-only aggregates (count + orderkey
    sum), so the value hash is float-free."""
    from threading import Barrier

    from cours_datalake_dwh_td_kafka_spark.lake import (
        LakeConflictError,
        current_version,
        lake_commit_occ,
        lake_delete_keys,
    )

    cols = ["o_orderkey", "o_orderpriority"]
    base = orders.where(F.col("o_orderkey") % 3 == 0).select(cols)
    w1 = orders.where(F.col("o_orderkey") % 3 == 1).select(cols)
    w2 = orders.where(F.col("o_orderkey") % 3 == 2).select(cols)
    path = os.path.join(workdir, "occ_orders")
    lake_commit(base, path)

    barrier = Barrier(2)

    def writer(df: DataFrame) -> None:
        barrier.wait(timeout=60)
        lake_commit_occ(df, path)

    with legs(spark) as bg:
        writers = [bg.submit(writer, w) for w in (w1, w2)]
        # a writer's error is folded into the row, not raised
        errs = [f.exception() for f in writers]
    both_landed = not any(errs) and current_version(path) == 3
    merged = lake_read(spark, path)
    full = orders.select(cols)
    # one signed-tag action (r14) replaces 2 counts + 2 exceptAlls
    rows_preserved = multiset_eq(merged, full)

    # genuine scope conflict: erase the 5 smallest orderkeys (v4), then
    # an RMW append pinned to the pre-erasure snapshot must abort
    victims = full.orderBy("o_orderkey").limit(5).select("o_orderkey")
    lake_delete_keys(spark, path, "o_orderkey", keys=victims)
    conflict_aborts = False
    try:
        lake_commit_occ(
            spark.createDataFrame(
                [(999999999, "9-DERIVED")],
                "o_orderkey bigint, o_orderpriority string",
            ),
            path,
            read_version=3,
        )
    except LakeConflictError:
        conflict_aborts = True
    after = lake_read(spark, path)
    want = full.join(victims, "o_orderkey", "left_anti")
    # one signed-tag action (r14)
    abort_invisible = multiset_eq(after, want)

    return (
        after.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "key_sum",
            F.lit(bool(both_landed)).alias("race_both_landed_ok"),
            F.lit(bool(rows_preserved)).alias("race_rows_preserved_ok"),
            F.lit(bool(conflict_aborts)).alias("conflict_aborts_ok"),
            F.lit(bool(abort_invisible)).alias("abort_invisible_ok"),
        )
        .orderBy("o_orderpriority")
    )


_OCC_SQL = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS race_both_landed_ok,
           TRUE AS race_rows_preserved_ok,
           TRUE AS conflict_aborts_ok,
           TRUE AS abort_invisible_ok
    FROM orders
    WHERE o_orderkey NOT IN (
      SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register("lake_occ_multiwriter", _OCC_SQL)
def q_lake_occ_multiwriter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="graft_occ_")
    try:
        return lake_occ_protocol(spark, orders, tmp).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# round 14 (VERDICT r13 #1 "Done" criterion): the README's recommended
# topology — a micro-batch ingest stream PLUS maintenance daemons on ONE
# table — actually running concurrently. Before round 14 only
# lake_commit_occ survived a race; the streaming commit, compact, and
# every other writer died on the raw single-winner CAS, so this exact
# topology could not run.
# ---------------------------------------------------------------------------

_CONCURRENT_SQL = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS stream_exactly_once_ok,
           TRUE AS mark_intact_ok,
           TRUE AS maintenance_landed_ok,
           TRUE AS no_conflict_ok
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


def lake_concurrent_writers_protocol(
    spark: SparkSession, orders: DataFrame, workdir: str
) -> DataFrame:
    """One table, three writers AT ONCE: a checkpointed micro-batch
    ingest stream (4 batches via ``commit_stream_to_lake`` — the
    exactly-once OCC append), a compaction daemon (twice, full-rewrite
    settings), and a rival blind append — the classify-rebase ladder
    (lake.py:lake_commit_occ / lake_compact) landing every commit
    exactly once with no writer dying on a lost CAS. Attested in-row:

    - ``stream_exactly_once_ok``: the final snapshot is multiset-equal
      to base + all four streamed slices + the rival append — nothing
      lost to a rebase, nothing doubled by a replay;
    - ``mark_intact_ok``: the stream's scoped high-water mark reads 3
      (its last batch id) from ONE manifest even though compactions
      and a rival append committed after mark-bearing commits — the
      auto-carry survives every rebase;
    - ``maintenance_landed_ok``: exactly 2 compacts and 6 appends in
      history (base + 4 micro-batches + rival) — every writer landed
      exactly once, whatever the interleave;
    - ``no_conflict_ok``: no thread saw LakeConflictError or a raw
      FileExistsError.

    The deterministic lost-CAS paths (rebase file-carry, re-derive,
    bounded abort) are pinned per-writer in tests/test_lake_occ.py;
    this row proves the composed topology on real engine threads."""
    import time

    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_commit_occ,
        last_stream_batch_id,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        checkpoint_query_id,
        commit_stream_to_lake,
    )

    cols = ["o_orderkey", "o_orderpriority"]
    src = orders.select(*cols)
    path = os.path.join(workdir, "lake")
    indir = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    lake_commit(src.where("o_orderkey % 7 = 0"), path)
    for i in (1, 2, 3, 4):
        src.where(f"o_orderkey % 7 = {i}").coalesce(1).write.mode(
            "append"
        ).parquet(indir)
    extra = src.where("o_orderkey % 7 IN (5, 6)")

    def maintenance() -> None:
        # wait for the stream's first batch, then maintain WHILE the
        # remaining batches commit
        for _ in range(1500):
            if current_version(path) >= 2:
                break
            time.sleep(0.02)
        lake_compact(spark, path, small_file_bytes=1 << 30, target_files=1)
        lake_commit_occ(extra, path)
        lake_compact(spark, path, small_file_bytes=1 << 30, target_files=1)

    with legs(spark) as bg:
        maint = bg.submit(maintenance)
        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderpriority string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        q = commit_stream_to_lake(stream, path, ckpt).start()
        q.awaitTermination(600)
        # the maintenance error is folded into the row, not raised
        maint_err = maint.exception()

    final = lake_read(spark, path)
    exactly_once = multiset_eq(final, src)
    mark_ok = (
        last_stream_batch_id(path, checkpoint_query_id(ckpt)) == 3
    )
    ops = [h["op"] for h in lake_history(path)]
    maintenance_ok = ops.count("compact") == 2 and ops.count("append") == 6
    return (
        final.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "key_sum",
            F.lit(bool(exactly_once)).alias("stream_exactly_once_ok"),
            F.lit(bool(mark_ok)).alias("mark_intact_ok"),
            F.lit(bool(maintenance_ok)).alias("maintenance_landed_ok"),
            F.lit(maint_err is None).alias("no_conflict_ok"),
        )
        .orderBy("o_orderpriority")
    )


@register("lake_concurrent_writers", _CONCURRENT_SQL)
def q_lake_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="graft_concwr_")
    try:
        return lake_concurrent_writers_protocol(
            spark, orders, tmp
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
