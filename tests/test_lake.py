"""Versioned-lake semantics: snapshot isolation, time travel, CoW
deletes, optimistic-concurrency commit point, and vacuum GC."""

from __future__ import annotations

import os

import pytest

from cours_datalake_dwh_td_kafka_spark.lake import (
    current_version,
    lake_commit,
    lake_delete_where,
    lake_history,
    lake_read,
    lake_vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["id", "val"])


def test_commit_read_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = lake_commit(_df(spark, [(1, "a"), (2, "b")]), path)
    v2 = lake_commit(_df(spark, [(3, "c")]), path)  # append
    assert (v1, v2) == (1, 2)
    assert current_version(path) == 2

    latest = {tuple(r) for r in lake_read(spark, path).collect()}
    assert latest == {(1, "a"), (2, "b"), (3, "c")}
    # time travel: v1 still readable, unchanged by the append
    old = {tuple(r) for r in lake_read(spark, path, version=1).collect()}
    assert old == {(1, "a"), (2, "b")}


def test_overwrite_keeps_old_versions_readable(spark, tmp_path):
    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a")]), path)
    lake_commit(_df(spark, [(9, "z")]), path, mode="overwrite")
    assert {tuple(r) for r in lake_read(spark, path).collect()} == {(9, "z")}
    assert {tuple(r) for r in lake_read(spark, path, 1).collect()} == {
        (1, "a")
    }


def test_delete_where_is_copy_on_write(spark, tmp_path):
    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(i, "x") for i in range(10)]), path)
    v = lake_delete_where(spark, path, "id % 2 = 0")
    assert v == 2
    kept = sorted(r.id for r in lake_read(spark, path).collect())
    assert kept == [1, 3, 5, 7, 9]
    # the pre-delete snapshot still has every row
    assert len(lake_read(spark, path, 1).collect()) == 10
    assert [h["op"] for h in lake_history(path)] == ["append", "delete"]


def test_concurrent_commit_point_is_exclusive(spark, tmp_path):
    """Two writers committing the same next version: exactly one wins."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        _commit_manifest,
        _write_data_files,
    )

    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a")]), path)
    f1 = _write_data_files(_df(spark, [(2, "b")]), path)
    f2 = _write_data_files(_df(spark, [(3, "c")]), path)
    _commit_manifest(path, 2, f1, "append")
    with pytest.raises(FileExistsError):
        _commit_manifest(path, 2, f2, "append")
    # loser retries on top of the winner - standard optimistic protocol
    _commit_manifest(path, 3, f2, "append")
    assert current_version(path) == 3


def test_vacuum_deletes_only_unreferenced_files(spark, tmp_path):
    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a")]), path)            # v1
    lake_commit(_df(spark, [(9, "z")]), path, "overwrite")  # v2: v1 orphaned
    lake_commit(_df(spark, [(10, "y")]), path)           # v3 = v2 files + new
    deleted = lake_vacuum(path, keep_versions=2)
    # v1's files are referenced by no kept manifest -> gone
    assert deleted, "expected v1 data files to be deleted"
    for rel in deleted:
        assert not os.path.exists(os.path.join(path, rel))
    # latest and v2 still read fine (v2's files are shared with v3)
    assert {tuple(r) for r in lake_read(spark, path).collect()} == {
        (9, "z"),
        (10, "y"),
    }
    assert {tuple(r) for r in lake_read(spark, path, 2).collect()} == {
        (9, "z")
    }
    with pytest.raises(ValueError, match="removed by lake_vacuum"):
        lake_read(spark, path, 1)
    # history still works after the vacuum: only surviving versions
    from cours_datalake_dwh_td_kafka_spark.lake import lake_history

    assert [h["version"] for h in lake_history(path)] == [2, 3]


def test_lake_diff_reports_inserts_and_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    lake_delete_where(spark, path, "id = 2")          # v2: drop row 2
    lake_commit(_df(spark, [(4, "d")]), path)         # v3: add row 4

    from cours_datalake_dwh_td_kafka_spark.lake import lake_diff

    d = {
        (r.id, r.val, r._change)
        for r in lake_diff(spark, path, from_version=1).collect()
    }
    assert d == {(4, "d", "insert"), (2, "b", "delete")}
    # adjacent-version diff isolates one commit's effect
    d12 = {
        (r.id, r._change)
        for r in lake_diff(spark, path, 1, 2).collect()
    }
    assert d12 == {(2, "delete")}


def test_vacuum_reclaims_orphaned_commit_dirs(spark, tmp_path):
    """Data files written by a commit that never published its manifest
    (crashed, or lost the O_EXCL race) are swept by vacuum once they are
    older than the grace window — and never before."""
    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a")]), path)
    orphan = os.path.join(path, "data", "deadbeef0000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "w") as f:
        f.write("x")
    # inside the grace window: untouched
    assert lake_vacuum(path, keep_versions=1) == []
    assert os.path.exists(os.path.join(orphan, "part-00000.parquet"))
    # past the grace window: reclaimed, dir removed, live commit intact
    deleted = lake_vacuum(path, keep_versions=1, orphan_grace_seconds=0)
    assert deleted == [
        os.path.join("data", "deadbeef0000", "part-00000.parquet")
    ]
    assert not os.path.exists(orphan)
    assert {tuple(r) for r in lake_read(spark, path).collect()} == {(1, "a")}


def _commit_dirs(path: str, version: int) -> set[str]:
    """The data/<commit-id>/ directories a version's manifest lists."""
    from cours_datalake_dwh_td_kafka_spark.lake import _read_manifest

    return {
        rel.split(os.sep)[1] for rel in _read_manifest(path, version)["files"]
    }


def test_commit_dir_holds_parts_and_checksums_only(spark, tmp_path):
    """A lake write leaves its part files and their checksums, and no
    _SUCCESS marker: the manifest is the commit point and nothing reads
    the marker."""
    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a"), (2, "b")]), path)
    (cid,) = _commit_dirs(path, 1)
    names = os.listdir(os.path.join(path, "data", cid))
    parts = {n for n in names if n.startswith("part-")}
    assert parts and all(n.endswith(".parquet") for n in parts)
    assert set(names) == parts | {f".{n}.crc" for n in parts}
    assert "_SUCCESS" not in names


def test_vacuum_sweeps_a_whole_uncommitted_write(spark, tmp_path):
    """Files a real lake write left without publishing a manifest (its
    parts and their .crc files) are all swept past the grace window, and
    the empty commit directory goes with them."""
    from cours_datalake_dwh_td_kafka_spark.lake import _write_data_files

    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a")]), path)
    files = _write_data_files(_df(spark, [(2, "b"), (3, "c")]), path)
    orphan = os.path.join(path, os.path.dirname(files[0]))
    assert any(n.endswith(".crc") for n in os.listdir(orphan))
    deleted = lake_vacuum(path, keep_versions=1, orphan_grace_seconds=0)
    assert deleted == files
    assert not os.path.exists(orphan)
    assert {tuple(r) for r in lake_read(spark, path).collect()} == {(1, "a")}


def test_manifest_publish_is_atomic_no_partial_visible(spark, tmp_path):
    """The published v{N}.json is complete the instant it exists: no
    .tmp residue survives a commit, and every manifest in the directory
    parses (the O_EXCL-create-then-write window of the old scheme would
    leave an empty target visible mid-commit)."""
    import json

    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a")]), path)
    lake_commit(_df(spark, [(2, "b")]), path)
    mdir = os.path.join(path, "_manifests")
    names = sorted(os.listdir(mdir))
    assert names == ["v1.json", "v2.json"]  # no tmp files left behind
    for n in names:
        with open(os.path.join(mdir, n)) as f:
            m = json.load(f)  # parses => never published empty
        assert m["files"]


@pytest.mark.slow
def test_ivf_index_rebuild_in_place(spark, tmp_path):
    """build_ivf_index at an existing path refreshes the index instead
    of throwing errorifexists — the build-once/serve-many refresh path."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        build_ivf_index,
        ivf_query_index,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    idx = str(tmp_path / "ivf")
    n1 = build_ivf_index(emb, idx, n_cells=4)
    n2 = build_ivf_index(emb, idx, n_cells=4)  # rebuild: atomic swap
    assert n1 == n2 == 4
    q = emb.limit(2).selectExpr("vec_id AS query_id", "embedding AS emb")
    got = ivf_query_index(spark, idx, q, nprobe=2, top_k=3)
    assert got.count() > 0
    # the superseded version dir is residue until vacuumed
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        vacuum_index,
    )

    # inside the grace window: never swept (a concurrent rebuild's
    # not-yet-published version dir must survive vacuum)
    assert vacuum_index(idx) == []
    removed = vacuum_index(idx, grace_seconds=0)
    assert len(removed) == 1 and removed[0].startswith("v_")
    assert ivf_query_index(spark, idx, q, nprobe=2, top_k=3).count() > 0


@pytest.mark.slow
def test_knn_label_accuracy_ivf_matches_exact_anchor(spark, tmp_path):
    """The served-index kNN probe's acc_exact must equal the brute-force
    probe's aggregated accuracy (same vote half, same truth), its
    guarantees must hold, and the second call must SERVE the published
    index (build-once-reuse: no new version dir)."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        knn_label_accuracy_ivf,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        knn_label_accuracy,
    )

    # sf0.01, not sf0.001: the documented recall floor is probabilistic
    # in how clustered the corpus is, and the ~60-vector toy corpus can
    # legitimately dip under it (too few vectors per cell for a top-5)
    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    idx = str(tmp_path / "knn_idx")
    row = knn_label_accuracy_ivf(spark, emb, idx).collect()[0]
    exact = knn_label_accuracy(emb).collect()
    anchor = round(sum(r.correct for r in exact) / len(exact), 6)
    assert row.n_queries == len(exact)
    assert row.acc_exact == anchor
    assert row.served_recall_ok and row.acc_delta_bounded
    versions = sorted(n for n in os.listdir(idx) if n.startswith("v_"))
    row2 = knn_label_accuracy_ivf(spark, emb, idx).collect()[0]
    assert row2 == row
    assert (
        sorted(n for n in os.listdir(idx) if n.startswith("v_")) == versions
    ), "second call must reuse the published index, not rebuild"


def test_lake_vacuum_rejects_destroy_all(spark, tmp_path):
    """keep_versions < 1 is a table drop, not a vacuum — refused."""
    path = str(tmp_path / "t")
    lake_commit(_df(spark, [(1, "a")]), path)
    with pytest.raises(ValueError, match="keep_versions"):
        lake_vacuum(path, keep_versions=0)
    assert {tuple(r) for r in lake_read(spark, path).collect()} == {(1, "a")}


@pytest.mark.slow
def test_lake_compact_rewrites_small_files(spark, tmp_path):
    """Compaction folds a micro-batch-shaped pile of small files into
    one, preserves the rows EXACTLY, keeps time travel to the
    pre-compaction version, and leaves the superseded files for vacuum
    (which then reclaims them without touching the live compacted
    file)."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_compact,
        lake_history,
    )

    path = str(tmp_path / "t")
    for i in range(4):  # four tiny commits = many small files
        lake_commit(_df(spark, [(i, f"v{i}")]), path)
    v_before = 4
    n_files_before = len(
        lake_read(spark, path).inputFiles()
    )
    assert n_files_before >= 4
    rows_before = {tuple(r) for r in lake_read(spark, path).collect()}

    v_after = lake_compact(spark, path, target_files=1)
    assert v_after == v_before + 1
    assert {tuple(r) for r in lake_read(spark, path).collect()} == rows_before
    assert len(lake_read(spark, path).inputFiles()) == 1
    # time travel to the pre-compaction snapshot still works
    assert {
        tuple(r) for r in lake_read(spark, path, v_before).collect()
    } == rows_before
    assert lake_history(path)[-1]["op"] == "compact"
    # compacting an already-compacted table is a no-op at the same version
    assert lake_compact(spark, path, target_files=1) == v_after
    # vacuum drops the superseded manifests and reclaims the small files
    deleted = lake_vacuum(path, keep_versions=1, orphan_grace_seconds=0)
    assert deleted, "superseded small files must be reclaimed"
    assert {tuple(r) for r in lake_read(spark, path).collect()} == rows_before


@pytest.mark.slow
def test_lake_stream_compact_vacuum_lifecycle(spark, tmp_path):
    """The full maintenance loop a streaming lake lives on, end-to-end:
    micro-batch appends (foreachBatch -> lake_commit, one version per
    trigger) accumulate small files -> compact folds them -> vacuum
    drops superseded manifests -> EVERY kept version still time-travels
    to its exact rows, and a concurrent reader that resolved its
    snapshot BEFORE the maintenance ran still collects unchanged rows
    AFTER compact+vacuum (kept manifests pin their files)."""
    import json

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_compact,
        lake_history,
    )

    path = str(tmp_path / "lake")
    indir = tmp_path / "in"
    indir.mkdir()
    for i in range(4):
        with open(indir / f"b{i}.json", "w") as f:
            f.write(json.dumps({"id": i, "val": f"v{i}"}) + "\n")

    src = (
        spark.readStream.schema("id BIGINT, val STRING")
        .option("maxFilesPerTrigger", 1)  # one commit per micro-batch
        .json(str(indir))
    )
    (
        src.writeStream.foreachBatch(
            lambda batch_df, batch_id: lake_commit(batch_df, path)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert current_version(path) == 4
    per_version = {
        v: {tuple(r) for r in lake_read(spark, path, v).collect()}
        for v in range(1, 5)
    }
    assert per_version[4] == {(i, f"v{i}") for i in range(4)}

    # concurrent reader: resolves v4's manifest now, collects later
    concurrent = lake_read(spark, path, 4)

    v5 = lake_compact(spark, path, target_files=1)
    assert v5 == 5
    assert len(lake_read(spark, path).inputFiles()) == 1
    # keep v4 (the reader's snapshot) and v5; v1-v3 manifests drop, but
    # their FILES survive because v4's manifest still references them
    deleted = lake_vacuum(path, keep_versions=2, orphan_grace_seconds=0)
    assert [h["version"] for h in lake_history(path)] == [4, 5]
    assert not deleted, "v4 references every pre-compact file: none die"

    # every kept version still resolves to its exact rows
    assert {tuple(r) for r in lake_read(spark, path, 4).collect()} == (
        per_version[4]
    )
    assert {tuple(r) for r in lake_read(spark, path, 5).collect()} == (
        per_version[4]
    )
    # the pre-maintenance reader is unharmed
    assert {tuple(r) for r in concurrent.collect()} == per_version[4]
    # dropped manifests are gone from time travel, explicitly
    with pytest.raises(ValueError, match="removed by lake_vacuum"):
        lake_read(spark, path, 2)

    # second vacuum round: drop v4 too -> the small files ARE reclaimed
    deleted2 = lake_vacuum(path, keep_versions=1, orphan_grace_seconds=0)
    assert deleted2, "superseded small files must be reclaimed"
    assert {tuple(r) for r in lake_read(spark, path).collect()} == (
        per_version[4]
    )


def test_lake_compact_loses_commit_race(spark, tmp_path, monkeypatch):
    """A rival commit that lands between compaction's read of the
    current version and its manifest publish must never silently drop
    the rival's files. With the compaction pinned to a stale version
    read (so it can never observe the rival and rebase past it), every
    publish loses the single-winner CAS and the bounded retry loop
    aborts loudly with the last collision chained (round 14: the raw
    FileExistsError became LakeConflictError when compaction joined
    the OCC rebase ladder)."""
    import json

    from cours_datalake_dwh_td_kafka_spark import lake
    from cours_datalake_dwh_td_kafka_spark.lake import (
        LakeConflictError,
        lake_compact,
    )

    path = str(tmp_path / "t")
    for i in range(3):
        lake_commit(_df(spark, [(i, "x")]), path)
    # rival lands v4 AFTER compaction (below) reads "current = 3"
    mdir = os.path.join(path, "_manifests")
    rival = {"version": 4, "op": "append", "files": []}
    with open(os.path.join(mdir, "v4.json"), "w") as f:
        json.dump(rival, f)
    monkeypatch.setattr(lake, "current_version", lambda p: 3)
    with pytest.raises(LakeConflictError) as ei:
        lake_compact(spark, path)
    assert isinstance(ei.value.__cause__, FileExistsError)


def test_schema_evolution_add_column(spark, tmp_path):
    """Add-column append: the new reader sees NULLs for pre-column rows
    and values for appended ones; time travel to the pre-column version
    still sees exactly the old columns; compaction normalizes mixed-
    schema files without changing any row; retyping a column is
    rejected."""
    import pytest as _pytest

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_compact,
        lake_read,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id BIGINT, name STRING"
    )
    lake_commit(base.repartition(2), path)  # v1: old schema, 2 files
    extra = spark.createDataFrame(
        [(4, "d", 0.9), (5, "e", 0.7)], "id BIGINT, name STRING, q DOUBLE"
    )
    lake_commit(extra, path)  # v2: adds column q

    v2 = lake_read(spark, path, 2)
    assert v2.columns == ["id", "name", "q"]
    rows = {r.id: (r.name, r.q) for r in v2.collect()}
    assert rows == {
        1: ("a", None), 2: ("b", None), 3: ("c", None),
        4: ("d", 0.9), 5: ("e", 0.7),
    }
    # old reader: time travel to v1 shows the old schema, no q column
    v1 = lake_read(spark, path, 1)
    assert v1.columns == ["id", "name"]
    assert {r.id for r in v1.collect()} == {1, 2, 3}

    # an append missing a declared column is fine (reads back NULL)...
    lake_commit(
        spark.createDataFrame([(6, 0.1)], "id BIGINT, q DOUBLE"), path
    )  # v3
    v3 = {r.id: (r.name, r.q) for r in lake_read(spark, path, 3).collect()}
    assert v3[6] == (None, 0.1)
    # ...but retyping one is rejected (schema-on-write enforcement)
    with _pytest.raises(ValueError, match="retyping"):
        lake_commit(
            spark.createDataFrame([("x", "y")], "id STRING, name STRING"),
            path,
        )

    # compaction over mixed-schema files preserves every row/value and
    # keeps the declared schema
    v_after = lake_compact(spark, path, target_files=1)
    after = {
        r.id: (r.name, r.q)
        for r in lake_read(spark, path, v_after).collect()
    }
    assert after == {**rows, 6: (None, 0.1)}


def test_lake_diff_across_schema_versions(spark, tmp_path):
    """CDC across an add-column commit: unchanged pre-column rows
    produce NO spurious changes (they compare equal once both sides
    align to the union schema with NULLs), and the appended rows report
    as inserts carrying the new column's value."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_commit, lake_diff

    path = str(tmp_path / "t")
    lake_commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, name STRING"),
        path,
    )  # v1
    lake_commit(
        spark.createDataFrame([(3, "c", 0.9)], "id BIGINT, name STRING, q DOUBLE"),
        path,
    )  # v2: adds q
    d = {
        (r.id, r.name, r.q, r._change)
        for r in lake_diff(spark, path, 1, 2).collect()
    }
    assert d == {(3, "c", 0.9, "insert")}


def test_lake_diff_matches_except_all_multisets(spark, tmp_path):
    """The one-aggregation diff reports exactly the two-``exceptAll``
    change feed: duplicate rows by their count difference, NULL and
    NaN cells as equal to themselves, and versions of different
    schemas aligned on the union of their columns."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import lake_diff

    nan = float("nan")
    schema = "id BIGINT, x DOUBLE, s STRING"
    path = str(tmp_path / "t")
    lake_commit(
        spark.createDataFrame(
            [(1, 1.0, "a")] * 3 + [(2, nan, None)] * 2
            + [(None, None, None), (3, 0.0, "c")],
            schema,
        ),
        path,
    )  # v1
    lake_commit(
        spark.createDataFrame(
            [(1, 1.0, "a")] + [(2, nan, None)] * 3
            + [(None, None, None)] + [(4, nan, "d")] * 2,
            schema,
        ),
        path,
        mode="overwrite",
    )  # v2
    lake_commit(
        spark.createDataFrame(
            [(5, nan, None, None)] * 2 + [(1, 1.0, "a", 7)],
            schema + ", q BIGINT",
        ),
        path,
    )  # v3: adds q

    def bag(df):
        return Counter(
            tuple(
                "NaN" if isinstance(v, float) and math.isnan(v) else v
                for v in r
            )
            for r in df.collect()
        )

    def except_all(frm, to):
        new, old = lake_read(spark, path, to), lake_read(spark, path, frm)
        fields = {f.name: f.dataType for f in old.schema.fields}
        for f in new.schema.fields:
            fields.setdefault(f.name, f.dataType)

        def align(df):
            return df.select([
                F.col(c) if c in df.columns else F.lit(None).cast(t).alias(c)
                for c, t in fields.items()
            ])

        new, old = align(new), align(old)
        return new.exceptAll(old).withColumn(
            "_change", F.lit("insert")
        ).unionByName(old.exceptAll(new).withColumn("_change", F.lit("delete")))

    for frm, to in ((1, 2), (2, 1), (2, 3), (1, 3)):
        got, want = lake_diff(spark, path, frm, to), except_all(frm, to)
        assert got.columns == want.columns
        assert bag(got) == bag(want), (frm, to)
    assert bag(lake_diff(spark, path, 1, 2)) == Counter({
        (1, 1.0, "a", "delete"): 2,
        (3, 0.0, "c", "delete"): 1,
        (2, "NaN", None, "insert"): 1,
        (4, "NaN", "d", "insert"): 2,
    })


def test_ivf_index_append_serves_grown_corpus_and_survives_vacuum(
    spark, tmp_path
):
    """Incremental index maintenance: after append_ivf_index the CURRENT
    version serves the WHOLE corpus — at FULL probe it equals exact
    brute force regardless of the frozen quantizer — while the
    pre-append version still serves exactly the snapshot; vacuum keeps
    every version the live manifest chain references, and a full
    rebuild releases the chain."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        _current_version_dir,
        _vector_roots,
        append_ivf_index,
        build_ivf_index,
        ivf_query_index,
        vacuum_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        ann_topk_bruteforce,
    )

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    emb_d = e.select("vec_id", "embedding")
    path = str(tmp_path / "idx")
    build_ivf_index(emb_d.where(F.col("vec_id") % 2 == 0), path)
    old_version = os.path.basename(_current_version_dir(path))
    n_roots = append_ivf_index(
        emb_d.where(F.col("vec_id") % 2 == 1), path
    )
    assert n_roots == 2

    q = emb_d.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    # full probe == exact brute force over the grown corpus, quantizer
    # irrelevant (every cell is scanned)
    served = sorted(
        map(
            tuple,
            ivf_query_index(spark, path, q, nprobe=N_CELLS).collect(),
        )
    )
    exact = sorted(map(tuple, ann_topk_bruteforce(e).collect()))
    assert served == exact

    # the pre-append version is untouched: only snapshot members
    old = ivf_query_index(
        spark, path, q, nprobe=N_CELLS, version=old_version
    )
    assert old.where(F.col("neighbor_id") % 2 == 1).count() == 0

    # vacuum must NOT reclaim the referenced ancestor
    assert vacuum_index(path, grace_seconds=0) == []
    assert os.path.isdir(os.path.join(path, old_version))

    # a full rebuild releases the chain: both old versions reclaimable
    build_ivf_index(emb_d, path)
    removed = set(vacuum_index(path, grace_seconds=0))
    assert old_version in removed and len(removed) == 2
    again = sorted(
        map(
            tuple,
            ivf_query_index(spark, path, q, nprobe=N_CELLS).collect(),
        )
    )
    assert again == exact


def _patch_stale_chain_read(monkeypatch, stale_vdir):
    """Make the FIRST _current_version_dir call return ``stale_vdir``
    (simulating an appender that read the chain just before a rival
    published), then delegate to the real resolver."""
    import cours_datalake_dwh_td_kafka_spark.operators.ann_index as ai

    real = ai._current_version_dir
    calls = {"n": 0}

    def fake(path):
        calls["n"] += 1
        return stale_vdir if calls["n"] == 1 else real(path)

    monkeypatch.setattr(ai, "_current_version_dir", fake)


def test_ivf_append_publish_single_winner_rechains_sibling(
    spark, tmp_path, monkeypatch
):
    """Two appends racing from the same parent must BOTH survive: the
    CAS publish makes the loser re-chain against the winner's version
    (safe — sibling appends share the frozen quantizer) instead of
    silently orphaning its batch under last-writer-wins (round-8
    advice). Full-probe over the final index == brute force over ALL
    three slices proves no batch vanished."""
    import pytest

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        ConcurrentIndexMutation,
        _current_version_dir,
        _publish_current,
        append_ivf_index,
        build_ivf_index,
        ivf_query_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        ann_topk_bruteforce,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings").where(F.col("vec_id") % 4 < 3)
    emb_d = e.select("vec_id", "embedding")
    path = str(tmp_path / "idx")
    build_ivf_index(emb_d.where(F.col("vec_id") % 4 == 0), path)
    v0 = _current_version_dir(path)
    append_ivf_index(emb_d.where(F.col("vec_id") % 4 == 1), path)

    # a straggler that captured the chain BEFORE that append published
    _patch_stale_chain_read(monkeypatch, v0)
    n_roots = append_ivf_index(emb_d.where(F.col("vec_id") % 4 == 2), path)
    assert n_roots == 3  # re-chained onto the winner, nothing orphaned

    q = emb_d.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    served = sorted(
        map(tuple, ivf_query_index(spark, path, q, nprobe=N_CELLS).collect())
    )
    exact = sorted(map(tuple, ann_topk_bruteforce(e).collect()))
    assert served == exact

    # the raw CAS itself is single-winner: publishing against a parent
    # that is no longer CURRENT fails loudly
    with pytest.raises(ConcurrentIndexMutation, match="CURRENT moved"):
        _publish_current(
            path, "v_bogus", expect_parent=os.path.basename(v0)
        )


def test_ivf_append_fails_when_rebuild_lands_mid_flight(
    spark, tmp_path, monkeypatch
):
    """If a REBUILD (retrained quantizer) wins the race, the in-flight
    append's cell assignments are stale — re-chaining would corrupt the
    index, so the append must fail loudly instead."""
    import pytest

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        ConcurrentIndexMutation,
        _current_version_dir,
        append_ivf_index,
        build_ivf_index,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    emb_d = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "idx")
    build_ivf_index(emb_d.where(F.col("vec_id") % 4 == 0), path)
    v0 = _current_version_dir(path)
    build_ivf_index(emb_d.where(F.col("vec_id") % 4 < 2), path)  # rebuild

    _patch_stale_chain_read(monkeypatch, v0)
    with pytest.raises(ConcurrentIndexMutation, match="rebuild"):
        append_ivf_index(emb_d.where(F.col("vec_id") % 4 == 2), path)


@pytest.mark.slow
def test_ivf_compact_lifecycle_row_and_vacuum(spark, tmp_path):
    """The compaction rung end-to-end: the attested row reports chain
    2 -> 1 with every guarantee true; the lifecycle is resume-safe
    (a second run re-measures without re-appending or re-compacting);
    a REAL vacuum then reclaims the ancestor chain and the compacted
    index still serves brute-force-exact at full probe."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        ann_index_compact_lifecycle,
        chain_length,
        ivf_query_index,
        vacuum_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        ann_topk_bruteforce,
    )
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    row = ann_index_compact_lifecycle(spark, e, path).collect()[0]
    assert (row.chain_before, row.chain_after) == (2, 1)
    assert row.full_probe_exact and row.recall_not_worse
    assert row.ancestors_reclaimable
    assert row.n_vectors == e.count()

    row2 = ann_index_compact_lifecycle(spark, e, path).collect()[0]
    assert tuple(row2) == tuple(row)  # resume: pure re-measurement
    assert chain_length(path) == 1

    removed = vacuum_index(path, grace_seconds=0)
    assert len(removed) == 2  # the build + append ancestors
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    ).where(F.col("query_id") < N_QUERIES)
    served = sorted(
        map(tuple, ivf_query_index(spark, path, q, nprobe=N_CELLS).collect())
    )
    exact = sorted(map(tuple, ann_topk_bruteforce(e).collect()))
    assert served == exact


@pytest.mark.slow
def test_compact_if_drifted_fires_only_on_measured_gap(spark, tmp_path):
    """The drift-bound trigger: a freshly-built index shows ~zero
    fresh-vs-served recall gap and no compaction runs; a chain whose
    frozen even-half-trained quantizer serves the appended union
    (measured gap 0.22 at this scale) fires the trigger, the compaction
    re-trains on the chain, and the re-check is quiet again."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        _current_version_dir,
        append_ivf_index,
        build_ivf_index,
        compact_if_drifted,
    )
    from pyspark.sql import functions as F

    from tests.conftest import SF_ORACLE

    e = load_table(spark, SF_ORACLE, "embeddings")
    emb_d = e.select("vec_id", "embedding")
    path = str(tmp_path / "idx")

    build_ivf_index(emb_d, path)
    assert not compact_if_drifted(spark, path, e)  # no drift, no fire

    # quantizer drift: the chain CONTAINS the union, but cells were
    # trained on the even half only (the append contract)
    path2 = str(tmp_path / "idx2")
    build_ivf_index(emb_d.where(F.col("vec_id") % 2 == 0), path2)
    append_ivf_index(emb_d.where(F.col("vec_id") % 2 == 1), path2)
    v0 = _current_version_dir(path2)
    assert compact_if_drifted(spark, path2, e)  # gap measured, compacted
    assert _current_version_dir(path2) != v0
    assert not compact_if_drifted(spark, path2, e)  # repaired, quiet


def test_ivf_compact_loses_cas_to_mid_flight_append(
    spark, tmp_path, monkeypatch
):
    """An append landing mid-compaction must WIN: the compaction's CAS
    publish fails loudly (re-chaining would drop the appended batch
    from the compacted rewrite), and the trigger wrapper only fires
    past its chain-length threshold."""
    import pytest

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        ConcurrentIndexMutation,
        _current_version_dir,
        append_ivf_index,
        build_ivf_index,
        chain_length,
        compact_if_needed,
        compact_ivf_index,
    )
    from pyspark.sql import functions as F

    emb_d = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    build_ivf_index(emb_d.where(F.col("vec_id") % 4 == 0), path)
    v0 = _current_version_dir(path)
    append_ivf_index(emb_d.where(F.col("vec_id") % 4 == 1), path)

    # a compaction that captured the chain BEFORE that append published
    _patch_stale_chain_read(monkeypatch, v0)
    with pytest.raises(ConcurrentIndexMutation):
        compact_ivf_index(spark, path)
    assert chain_length(path) == 2  # the appended batch survived

    assert not compact_if_needed(spark, path, max_chain=4)
    assert compact_if_needed(spark, path, max_chain=1)
    assert chain_length(path) == 1


def test_schema_evolution_recovers_legacy_manifest(spark, tmp_path):
    """Appending to a PRE-evolution table (manifest without a recorded
    schema) must recover the declared schema from the existing files:
    legacy columns survive the evolving append, and retyping is still
    rejected."""
    import json

    import pytest as _pytest

    from cours_datalake_dwh_td_kafka_spark.lake import lake_commit, lake_read

    path = str(tmp_path / "t")
    lake_commit(
        spark.createDataFrame([(1, "a")], "id BIGINT, name STRING"), path
    )
    # simulate a legacy manifest: strip the recorded schema
    mpath = os.path.join(path, "_manifests", "v1.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)

    lake_commit(
        spark.createDataFrame([(2, 0.5)], "id BIGINT, q DOUBLE"), path
    )  # evolving append against the legacy manifest
    rows = {r.id: (r.name, r.q) for r in lake_read(spark, path, 2).collect()}
    assert rows == {1: ("a", None), 2: (None, 0.5)}  # 'name' survived

    with _pytest.raises(ValueError, match="retyping"):
        lake_commit(
            spark.createDataFrame([("x",)], "id STRING"), path
        )


def test_legacy_recovery_merges_heterogeneous_file_schemas(spark, tmp_path):
    """Pre-evolution appends never validated schemas, so a legacy file
    set can be HETEROGENEOUS — recovery must union every file's columns
    (mergeSchema), not adopt whichever file's footer wins, or legacy
    columns still get silently dropped (round-8 advice)."""
    import json

    from cours_datalake_dwh_td_kafka_spark.lake import lake_commit, lake_read

    path = str(tmp_path / "t")
    lake_commit(
        spark.createDataFrame([(1, "a")], "id BIGINT, name STRING"), path
    )  # v1
    lake_commit(
        spark.createDataFrame([(2, 0.5)], "id BIGINT, q DOUBLE"), path
    )  # v2: heterogeneous append
    # strip recorded schemas from BOTH manifests -> fully legacy table
    for v in (1, 2):
        mpath = os.path.join(path, "_manifests", f"v{v}.json")
        with open(mpath) as f:
            m = json.load(f)
        del m["schema"]
        with open(mpath, "w") as f:
            json.dump(m, f)

    lake_commit(
        spark.createDataFrame([(3, True)], "id BIGINT, flag BOOLEAN"), path
    )  # v3: evolving append against the heterogeneous legacy set
    rows = {
        r.id: (r.name, r.q, r.flag)
        for r in lake_read(spark, path, 3).collect()
    }
    assert rows == {
        1: ("a", None, None),
        2: (None, 0.5, None),
        3: (None, None, True),
    }  # every legacy column survived the recovery


def test_lake_merge_upsert_replaces_and_inserts(spark, tmp_path):
    """Batch MERGE: matched keys replace, unmatched keys insert, one
    atomic commit; the pre-merge snapshot is untouched; a merge whose
    updates ADD a column evolves the schema under the append rule."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_history,
        lake_merge_upsert,
        lake_read,
    )

    path = str(tmp_path / "t")
    lake_commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id BIGINT, val STRING"
        ),
        path,
    )
    lake_merge_upsert(
        spark,
        path,
        spark.createDataFrame([(2, "B2"), (9, "Z")], "id BIGINT, val STRING"),
        "id",
    )  # v2
    v2 = {r.id: r.val for r in lake_read(spark, path, 2).collect()}
    assert v2 == {1: "a", 2: "B2", 3: "c", 9: "Z"}
    # kept rows and updates land in ONE data write: one new commit dir
    (merge_dir,) = _commit_dirs(path, 2)
    assert merge_dir not in _commit_dirs(path, 1)
    v1 = {r.id: r.val for r in lake_read(spark, path, 1).collect()}
    assert v1 == {1: "a", 2: "b", 3: "c"}  # snapshot untouched
    assert [h["op"] for h in lake_history(path)] == ["append", "merge"]

    # schema-evolving merge: updates add a column
    lake_merge_upsert(
        spark,
        path,
        spark.createDataFrame(
            [(3, "C3", 0.7)], "id BIGINT, val STRING, q DOUBLE"
        ),
        "id",
    )  # v3
    v3 = {r.id: (r.val, r.q) for r in lake_read(spark, path, 3).collect()}
    assert v3 == {
        1: ("a", None), 2: ("B2", None), 3: ("C3", 0.7), 9: ("Z", None),
    }
    (evolved_dir,) = _commit_dirs(path, 3)
    assert evolved_dir != merge_dir


def test_lake_cluster_by_stats_pruning_and_append_conservatism(
    spark, tmp_path
):
    """Clustering records disjoint per-file key ranges; the pruned read
    equals the full filter on every version (pre-cluster versions scan
    everything — missing stats prove nothing); an append AFTER
    clustering adds stats-less files that the pruner must keep; and an
    empty probe range prunes every clustered file but still returns a
    readable empty frame."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        lake_cluster_by,
        lake_read_pruned,
        pruned_files,
    )

    path = str(tmp_path / "t")
    rows = [(i, i % 97, f"p{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "k LONG, key LONG, payload STRING")
    lake_commit(df.repartition(6), path)  # v1: hash layout, no stats
    hit1, tot1 = pruned_files(path, "key", 10, 20, version=1)
    assert len(hit1) == tot1  # conservative: no stats -> scan all

    lake_cluster_by(spark, path, "key", n_files=6)  # v2
    stats = _read_manifest(path, 2)["stats"]
    ranges = sorted(tuple(s["cols"]["key"]) for s in stats.values())
    assert all(
        ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1)
    )
    hit2, tot2 = pruned_files(path, "key", 10, 20, version=2)
    assert len(hit2) < tot2
    want = {
        tuple(r)
        for r in lake_read(spark, path, 2)
        .where(F.col("key").between(10, 20))
        .collect()
    }
    got = {
        tuple(r)
        for r in lake_read_pruned(spark, path, "key", 10, 20, 2).collect()
    }
    assert got == want and want

    # append after clustering: the new files have no stats and must be
    # scanned; the pruned read still equals the full filter
    extra = spark.createDataFrame(
        [(1000, 15, "new")], "k LONG, key LONG, payload STRING"
    )
    lake_commit(extra, path)  # v3
    got3 = {
        tuple(r)
        for r in lake_read_pruned(spark, path, "key", 10, 20).collect()
    }
    assert (1000, 15, "new") in got3 and got3 == want | {(1000, 15, "new")}
    # the append carried the clustered files' stats forward: the v3
    # probe scans the stats-less new file plus only the matching
    # clustered files, not the whole table
    n_new = len(_read_manifest(path, 3)["files"]) - len(
        _read_manifest(path, 2)["files"]
    )
    hit3, tot3 = pruned_files(path, "key", 10, 20, version=3)
    assert len(hit3) == len(hit2) + n_new and tot3 == tot2 + n_new

    # a probe outside every range: all clustered files pruned, frame
    # still readable and empty on v2
    assert lake_read_pruned(spark, path, "key", 500, 600, 2).count() == 0


def test_lake_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order on a synthetic 2-D uniform grid: both dimensions' range
    probes open a strict minority of files, pruned reads equal full
    filters, and an unsupported column type is rejected loudly."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_cluster_by,
        lake_read_pruned,
        pruned_files,
    )

    path = str(tmp_path / "t")
    rows = [(i, i % 64, (i * 37) % 64, f"p{i}") for i in range(2048)]
    df = spark.createDataFrame(rows, "k LONG, x LONG, y LONG, s STRING")
    lake_commit(df.repartition(8), path)
    lake_cluster_by(spark, path, ["x", "y"], n_files=8)
    for col in ("x", "y"):
        hit, tot = pruned_files(path, col, 5, 12, version=2)
        assert len(hit) < tot, f"{col}: {len(hit)}/{tot}"
        want = {
            tuple(r)
            for r in lake_read(spark, path, 2)
            .where(F.col(col).between(5, 12))
            .collect()
        }
        got = {
            tuple(r)
            for r in lake_read_pruned(spark, path, col, 5, 12, 2).collect()
        }
        assert got == want and want
    with pytest.raises(ValueError, match="unsupported type"):
        lake_cluster_by(spark, path, ["x", "s"], n_files=4)


@pytest.mark.slow
def test_lake_maintenance_plan_verdicts(spark, tmp_path):
    """The advisor flags exactly the due ops: fragmented commits ->
    compact_due; appends eroding a clustered layout -> recluster_due;
    version pileup -> vacuum_due; and a freshly clustered single-commit
    table is flagged for nothing."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_cluster_by,
        lake_maintenance_plan,
    )

    path = str(tmp_path / "t")
    rows = [(i, i % 11, f"p{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "k LONG, key LONG, payload STRING")
    lake_commit(df.repartition(6), path)  # v1: 6 tiny files
    p = lake_maintenance_plan(path, keep_versions=3)
    assert p["compact_due"] and not p["recluster_due"] and not p["vacuum_due"]

    lake_cluster_by(spark, path, "key", n_files=2)  # v2: clustered
    p = lake_maintenance_plan(path, min_small_files=3, keep_versions=3)
    assert not p["recluster_due"] and p["has_clustering"]

    # erode the layout: append stats-less files until > 25% unclustered
    for i in range(3):
        lake_commit(
            spark.createDataFrame(
                [(1000 + i, 5, "new")], "k LONG, key LONG, payload STRING"
            ).coalesce(1),
            path,
        )
    p = lake_maintenance_plan(path, keep_versions=3)
    assert p["recluster_due"] and p["n_unclustered_files"] >= 3
    assert p["vacuum_due"]  # 5 versions survive > keep_versions=3


def test_lake_cluster_by_decimal_column(spark, tmp_path):
    """DECIMAL cluster keys must survive the JSON manifest (stats
    convert to floats, widened one ulp outward where inexact) and the
    pruned read must still equal the full filter."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_cluster_by,
        lake_read_pruned,
        pruned_files,
    )

    path = str(tmp_path / "t")
    rows = [(i, Decimal(i) / 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "k LONG, price DECIMAL(12,2)")
    lake_commit(df.repartition(4), path)
    lake_cluster_by(spark, path, "price", n_files=4)  # crashed pre-fix
    hit, tot = pruned_files(
        path, "price", Decimal("1.00"), Decimal("2.00"), version=2
    )
    assert len(hit) < tot
    got = lake_read_pruned(
        spark, path, "price", Decimal("1.00"), Decimal("2.00"), 2
    ).count()
    want = (
        lake_read(spark, path, 2)
        .where(F.col("price").between(Decimal("1.00"), Decimal("2.00")))
        .count()
    )
    assert got == want and want == 101


def test_rebuild_publish_waits_for_cas_critical_section(tmp_path):
    """A rebuild's unconditional swap takes the same flock as the CAS
    publishers: while an appender holds the lock, the rebuild BLOCKS
    (its swap cannot interleave inside a check-then-swap window and be
    silently overwritten), then lands once the lock is released."""
    import fcntl
    import threading
    import time

    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        _publish_current,
    )

    path = str(tmp_path / "idx")
    os.makedirs(path)
    with open(os.path.join(path, "CURRENT"), "w") as f:
        f.write("v_parent")
    holder = os.open(os.path.join(path, "CURRENT.lock"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(holder, fcntl.LOCK_EX)
    done = threading.Event()

    def rebuild():
        _publish_current(path, "v_rebuild")  # expect_parent=None
        done.set()

    t = threading.Thread(target=rebuild, daemon=True)
    t.start()
    time.sleep(0.3)
    assert not done.is_set(), "rebuild must block while the lock is held"
    with open(os.path.join(path, "CURRENT")) as f:
        assert f.read().strip() == "v_parent"
    os.close(holder)  # releases the flock
    assert done.wait(10), "rebuild must land after the lock releases"
    with open(os.path.join(path, "CURRENT")) as f:
        assert f.read().strip() == "v_rebuild"


def test_lake_bloom_index_point_lookup(spark, tmp_path):
    """The Bloom index never false-negatives (every present key's
    lookup equals the full filter, checked for many keys), skips a
    strict majority of files for point probes on a hash-scattered
    column, conservatively scans files appended after the index, and
    composes with clustering stats in one manifest."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_bloom_index,
        lake_cluster_by,
        lake_read_point,
        pruned_files_eq,
    )

    path = str(tmp_path / "t")
    rows = [(i, i % 97, f"u{(i * 13) % 50}") for i in range(2000)]
    df = spark.createDataFrame(rows, "k LONG, key LONG, user STRING")
    lake_commit(df.repartition(8), path)  # v1: 8 files, k scattered
    lake_cluster_by(spark, path, "key", n_files=8)  # v2: range stats
    lake_bloom_index(spark, path, "k")  # v3: bloom on the NON-sort col

    pruned_hits = 0
    for probe in (0, 123, 999, 1500, 1999):
        files, tot = pruned_files_eq(path, "k", probe)
        got = {
            tuple(r) for r in lake_read_point(spark, path, "k", probe).collect()
        }
        want = {
            tuple(r)
            for r in lake_read(spark, path)
            .where(F.col("k") == probe)
            .collect()
        }
        assert got == want and len(want) == 1  # no false negative
        pruned_hits += tot - len(files)
    assert pruned_hits > 0, "bloom should skip files for some probe"

    # absent key: usually zero files; the read is correct either way
    assert lake_read_point(spark, path, "k", 10**9).count() == 0

    # stats carried forward: the v2 range pruning still works on v3
    from cours_datalake_dwh_td_kafka_spark.lake import pruned_files

    hit, tot = pruned_files(path, "key", 10, 20, version=3)
    assert len(hit) < tot

    # string-column bloom: correct lookups even when every file holds
    # every user (no pruning possible — the honest dense-column case)
    lake_bloom_index(spark, path, "user")  # v4
    got_u = lake_read_point(spark, path, "user", "u7").count()
    assert got_u == lake_read(spark, path).where(F.col("user") == "u7").count()

    # append conservatism + carry-forward, on the SPARSE k column: the
    # new bloom-less file is scanned, old blooms still prune
    from cours_datalake_dwh_td_kafka_spark.lake import _read_manifest

    probe = 123
    files_k4, tot4 = pruned_files_eq(path, "k", probe, version=4)
    assert len(files_k4) < tot4  # k-bloom prunes pre-append
    lake_commit(
        spark.createDataFrame([(10**6, 5, "u7")], "k LONG, key LONG, user STRING"),
        path,
    )  # v5: bloom-less file
    got5 = lake_read_point(spark, path, "user", "u7").count()
    assert got5 == got_u + 1  # new file conservatively scanned
    files_k5, tot5 = pruned_files_eq(path, "k", probe)
    n_new = tot5 - tot4
    assert len(files_k5) == len(files_k4) + n_new and len(files_k5) < tot5
    assert lake_read_point(spark, path, "k", probe).count() == 1


def test_lake_bloom_canonicalization_no_false_negatives(spark, tmp_path):
    """Probe-vs-column scale mismatches must never false-negative:
    DECIMAL(12,2) probed at scale 1 (and by a plain int), and a
    timestamp with trailing fractional zeros, all return their rows
    through the bloom-pruned path; a non-multiple-of-8 m_bits is
    rejected up front."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_bloom_index,
        lake_read_point,
    )

    path = str(tmp_path / "t")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (
            i,
            Decimal(i) / 2,  # .0 / .5 values at scale 2
            t0 + datetime.timedelta(milliseconds=500 * i),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "k LONG, price DECIMAL(12,2), ts TIMESTAMP"
    )
    lake_commit(df.repartition(6), path)
    lake_bloom_index(spark, path, "price")
    lake_bloom_index(spark, path, "ts")

    # Decimal("1.5") == column's 1.50; int probe 5 == column's 5.00
    assert lake_read_point(spark, path, "price", Decimal("1.5")).count() == 1
    assert lake_read_point(spark, path, "price", Decimal("1.50")).count() == 1
    assert lake_read_point(spark, path, "price", 5).count() == 1
    # timestamp at .5 s: isoformat renders .500000, Spark renders .5
    probe_ts = t0 + datetime.timedelta(milliseconds=500)
    assert lake_read_point(spark, path, "ts", probe_ts).count() == 1
    # fractionless timestamp
    assert lake_read_point(spark, path, "ts", t0).count() == 1

    with pytest.raises(ValueError, match="multiple of 8"):
        lake_bloom_index(spark, path, "k", m_bits=1001)


@pytest.mark.slow
def test_maintenance_plan_reindex_verdict(spark, tmp_path):
    """reindex_due (round 10): never due without a bloom index; due when
    appends leave enough files without bitmaps; cleared by a re-index;
    timestamp-stat probes prune correctly in BOTH ISO renderings
    (the r9 timestamp-separator fix)."""
    import datetime

    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_bloom_index,
        lake_cluster_by,
        lake_commit,
        lake_maintenance_plan,
        pruned_files,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
    )
    lake_commit(df.repartition(2), path)  # v1
    p = lake_maintenance_plan(path)
    assert not p["has_bloom"] and not p["reindex_due"]
    lake_bloom_index(spark, path, "k")  # v2
    assert not lake_maintenance_plan(path)["reindex_due"]
    lake_commit(
        spark.range(400, 420).select(
            F.col("id").alias("k"),
            F.lit("2024-03-01 00:00:00").cast("timestamp").alias("ts"),
        ),
        path,
    )  # v3: bitmap-less append
    p = lake_maintenance_plan(path)
    assert p["reindex_due"] and p["n_unindexed_files"] >= 1
    lake_bloom_index(spark, path, "k")  # v4: repair
    p = lake_maintenance_plan(path)
    assert not p["reindex_due"] and p["n_unindexed_files"] == 0

    # float bloom columns are rejected up front (r9 advice)
    path2 = str(tmp_path / "f")
    lake_commit(df.select(F.col("k").cast("double").alias("x")), path2)
    with pytest.raises(ValueError, match="float/double"):
        lake_bloom_index(spark, path2, "x")

    # timestamp stats prune identically for 'T'- and space-separated
    # probes, and never wrongly skip (r9 advice, medium)
    lake_cluster_by(spark, path, "ts", n_files=4)
    n_all = sum(
        1 for _ in lake_read(spark, path).where(
            F.col("ts").between("2024-01-05 00:00:00", "2024-01-06 00:00:00")
        ).collect()
    )
    for lo, hi in (
        ("2024-01-05 00:00:00", "2024-01-06 00:00:00"),
        ("2024-01-05T00:00:00", "2024-01-06T00:00:00"),
        (
            datetime.datetime(2024, 1, 5),
            datetime.datetime(2024, 1, 6),
        ),
    ):
        files, total = pruned_files(path, "ts", lo, hi)
        assert files, (lo, hi)
        assert len(files) < total  # the stats actually prune
        from cours_datalake_dwh_td_kafka_spark.lake import lake_read_pruned

        got = lake_read_pruned(spark, path, "ts", lo, hi).count()
        assert got == n_all == 25, (lo, got, n_all)


def test_merge_on_read_delete_corners(spark, tmp_path):
    """lake_delete_keys corners beyond the attested row: stacked delete
    commits compose; CDC diff reports the merge-on-read delete as row
    deletes; vacuum keeps the delete-key files of surviving versions
    (a vacuumed table must not resurrect rows); stats-pruned range
    reads respect pending deletes."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_cluster_by,
        lake_commit,
        lake_delete_keys,
        lake_diff,
        lake_read,
        lake_read_pruned,
        lake_vacuum,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    lake_commit(df.repartition(2), path)  # v1
    lake_delete_keys(spark, path, "k", "k < 10")  # v2
    lake_delete_keys(spark, path, "k", "k >= 90")  # v3: stacked
    assert lake_read(spark, path).count() == 80
    assert lake_read(spark, path, 2).count() == 90
    d = lake_diff(spark, path, 1, 3)
    assert d.where("_change = 'insert'").count() == 0
    assert d.where("_change = 'delete'").count() == 20

    # stats-pruned range read over a delete-covered file
    lake_cluster_by(spark, path, "k", n_files=2)  # v4: folds deletes
    lake_delete_keys(spark, path, "k", "k = 40")  # v5
    got = lake_read_pruned(spark, path, "k", 35, 45)
    assert {r.k for r in got.collect()} == set(range(35, 46)) - {40}

    # vacuum to the newest version only: delete files must survive
    lake_vacuum(path, keep_versions=1, orphan_grace_seconds=0)
    assert lake_read(spark, path).count() == 79
    assert lake_read(spark, path).where("k = 40").count() == 0


def test_merge_on_read_reads_build_without_jobs(spark, tmp_path):
    """Building a merge-on-read read (a pending delete_keys entry) and
    its CDC delete step submits no Spark job: the delete-key files are
    read under the manifest's declared key type, not inferred. A
    pre-evolution manifest (no declared schema) still infers and reads
    the same rows."""
    import json

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_changes_since,
        lake_delete_keys,
    )
    from tests.conftest import spark_jobs

    path = str(tmp_path / "t")
    lake_commit(
        spark.createDataFrame(
            [(f"v{i}", i) for i in range(10)], "val STRING, k BIGINT"
        ),
        path,
    )
    lake_delete_keys(spark, path, "k", "k < 3")  # v2
    df, jobs = spark_jobs(spark, lambda: lake_read(spark, path))
    assert jobs == 0
    cdc, jobs = spark_jobs(spark, lambda: lake_changes_since(spark, path, 1))
    assert jobs == 0
    assert df.columns == ["val", "k"]
    assert sorted(r.k for r in df.collect()) == list(range(3, 10))
    assert sorted((r.k, r._change) for r in cdc.collect()) == [
        (k, "delete") for k in range(3)
    ]

    mpath = os.path.join(path, "_manifests", "v2.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    assert sorted(r.k for r in lake_read(spark, path).collect()) == list(
        range(3, 10)
    )


def test_maintenance_plan_fold_verdict(spark, tmp_path):
    """fold_due: pending merge-on-read delete entries past the knob
    flag a fold; a rewrite rung clears both the entries and the flag."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_compact,
        lake_delete_keys,
        lake_maintenance_plan,
    )

    path = str(tmp_path / "t")
    lake_commit(
        spark.range(0, 50).select(F.col("id").alias("k")).repartition(2),
        path,
    )
    assert lake_maintenance_plan(path)["n_delete_entries"] == 0
    for i in range(4):
        lake_delete_keys(spark, path, "k", f"k = {i}")
    p = lake_maintenance_plan(path)
    assert p["n_delete_entries"] == 4 and p["fold_due"]
    lake_compact(spark, path, target_files=1)  # the fold
    p = lake_maintenance_plan(path)
    assert p["n_delete_entries"] == 0 and not p["fold_due"]
    from cours_datalake_dwh_td_kafka_spark.lake import lake_read

    assert lake_read(spark, path).count() == 46


def test_delete_keys_noop_commits_nothing(spark, tmp_path):
    """A merge-on-read erasure matching zero rows (replayed request,
    absent keys) must not commit a version or a delete entry."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_commit,
        lake_delete_keys,
        lake_maintenance_plan,
        lake_read,
    )

    path = str(tmp_path / "t")
    lake_commit(spark.range(0, 20).select(F.col("id").alias("k")), path)
    assert lake_delete_keys(spark, path, "k", "k = 5") == 2
    # replay of the same erasure: the key is already gone
    assert lake_delete_keys(spark, path, "k", "k = 5") == 2
    assert lake_delete_keys(spark, path, "k", "k = 9999") == 2
    assert current_version(path) == 2
    assert lake_maintenance_plan(path)["n_delete_entries"] == 1
    assert lake_read(spark, path).count() == 19


def test_restore_carries_deletes_and_stream_mark(spark, tmp_path):
    """lake_restore corners: restoring a version with PENDING
    merge-on-read deletes restores its delete entries too (the target's
    read semantics, not its raw files), and the streaming high-water
    mark carries from the NEWEST manifest — a restore never rewinds the
    exactly-once guard."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_delete_keys,
        lake_read,
        lake_restore,
        last_stream_batch_id,
    )

    path = str(tmp_path / "t")
    lake_commit(
        spark.range(0, 30).select(F.col("id").alias("k")),
        path,
        stream_batch_id=7,
        stream_id="q1",
    )  # v1
    lake_delete_keys(spark, path, "k", "k < 5")  # v2: 25 rows read
    lake_commit(
        spark.range(100, 105).select(F.col("id").alias("k")), path
    )  # v3: 30 rows read
    lake_restore(spark, path, 2)  # v4: back to the 25-row view
    assert lake_read(spark, path).count() == 25
    assert lake_read(spark, path).where("k < 5").count() == 0
    # the stream mark survived the restore (newest-manifest carry)
    assert last_stream_batch_id(path, "q1") == 7


def test_bloom_index_under_pending_deletes(spark, tmp_path):
    """ADVICE r11 (medium): lake_bloom_index must build from the RAW
    file scan, never the delete-applied view — input_file_name()
    returns '' once _apply_deletes' anti-join runs as a shuffle, which
    silently produced all-zero bitmaps (a false-NEGATIVE index: point
    reads returned zero rows for keys that exist). Pin: build the
    bloom AFTER a merge-on-read delete and assert point lookups still
    find every surviving key, while deleted keys stay deleted."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_bloom_index,
        lake_commit,
        lake_delete_keys,
        lake_read_point,
        pruned_files_eq,
    )

    path = str(tmp_path / "t")
    lake_commit(
        spark.range(0, 400).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).repartition(4),
        path,
    )  # v1: 4 files
    lake_delete_keys(spark, path, "k", "k % 2 = 0")  # v2: 200 keys pending
    lake_bloom_index(spark, path, "k")  # v3: built while deletes pend
    # every file must keep a real bitmap: a surviving key is found...
    for probe in (1, 77, 399):
        assert lake_read_point(spark, path, "k", probe).count() == 1, probe
    # ...and a deleted key's files still PRUNE-match (false positives
    # only) but the read anti-joins it out
    files, total = pruned_files_eq(path, "k", 2)
    assert files, "deleted keys must stay in bitmaps (no false negatives)"
    assert lake_read_point(spark, path, "k", 2).count() == 0


def test_stream_mark_scoping_rejects_unscoped_wildcard(spark, tmp_path):
    """ADVICE r11: an unscoped stream mark must not match ANY requested
    stream_id (rebuilt-checkpoint data-loss trap), and lake_commit now
    refuses to record one."""
    import pytest
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        _commit_manifest,
        _write_data_files,
        lake_commit,
        last_stream_batch_id,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="requires stream_id"):
        lake_commit(df, path, stream_batch_id=3)
    # a legacy unscoped mark (pre-r11 manifest written directly): a
    # scoped lookup returns -1 so the new stream COMMITS batches 0..3;
    # the unscoped lookup still reads the raw mark
    files = _write_data_files(df, path)
    _commit_manifest(path, 1, files, "append", stream_batch_id=3)
    assert last_stream_batch_id(path) == 3
    assert last_stream_batch_id(path, "fresh-query-id") == -1
    # and a properly scoped mark matches only its own stream
    lake_commit(df, path, stream_batch_id=9, stream_id="q1")
    assert last_stream_batch_id(path, "q1") == 9
    assert last_stream_batch_id(path, "q2") == -1


def test_lake_changes_since_fast_paths_and_ops(spark, tmp_path, monkeypatch):
    """r11 (verdict #4): appends and merge-on-read deletes must produce
    their CDC rows WITHOUT a snapshot diff (lake_diff reserved for
    genuinely rewriting ops), and row-preserving maintenance emits
    nothing."""
    from pyspark.sql import functions as F

    import cours_datalake_dwh_td_kafka_spark.lake as lk

    path = str(tmp_path / "t")
    lk.lake_commit(spark.range(0, 10).select(F.col("id").alias("k")), path)
    lk.lake_commit(
        spark.range(10, 15).select(F.col("id").alias("k")), path
    )
    lk.lake_delete_keys(spark, path, "k", "k < 3")
    lk.lake_bloom_index(spark, path, "k")
    lk.lake_compact(spark, path, target_files=1)

    diff_calls = []
    orig = lk.lake_diff

    def spy(*a, **kw):
        diff_calls.append(a[2:])
        return orig(*a, **kw)

    monkeypatch.setattr(lk, "lake_diff", spy)
    ch = lk.lake_changes_since(spark, path, 0)
    got = {
        (r._version, r._change): r.n
        for r in ch.groupBy("_version", "_change")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {(1, "insert"): 10, (2, "insert"): 5, (3, "delete"): 3}
    assert diff_calls == [], "append/delete steps must not snapshot-diff"
    deleted = {
        r.k for r in ch.where("_change = 'delete'").collect()
    }
    assert deleted == {0, 1, 2}
    # an overwrite falls back to the honest diff
    lk.lake_commit(
        spark.range(100, 103).select(F.col("id").alias("k")),
        path,
        mode="overwrite",
    )
    ch2 = lk.lake_changes_since(spark, path, 5)
    assert ch2.where("_change = 'insert'").count() == 3
    assert ch2.where("_change = 'delete'").count() == 12  # 15 - 3 deleted
    assert len(diff_calls) == 1


def test_lake_consume_changes_exactly_once_kill_resume(spark, tmp_path):
    """Consumption and its record are one atomic commit: a crash
    mid-run (apply_fn raising on the second version of a call) loses
    nothing and duplicates nothing on resume — each source version's
    changes land in the out table exactly once."""
    import pytest
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_consume_changes,
        lake_read,
    )

    src = str(tmp_path / "s")
    out = str(tmp_path / "o")
    for lo in (0, 10, 20):
        lake_commit(
            spark.range(lo, lo + 5).select(F.col("id").alias("k")), src
        )

    seen = []

    def crashy(ch):
        seen.append(1)
        if len(seen) == 2:
            raise RuntimeError("simulated kill between versions")
        return ch

    with pytest.raises(RuntimeError, match="simulated kill"):
        lake_consume_changes(spark, src, out, apply_fn=crashy)
    # v1 landed before the crash; v2 and v3 resume — exactly once each
    assert lake_consume_changes(spark, src, out) == [2, 3]
    assert lake_consume_changes(spark, src, out) == []
    got = lake_read(spark, out)
    assert got.count() == 15
    assert got.select("k").distinct().count() == 15
    assert {r._version for r in got.select("_version").collect()} == {
        1, 2, 3,
    }


@pytest.mark.slow
def test_delete_keys_explicit_overload_bloom_narrowed(spark, tmp_path):
    """r11 (verdict #5): an erasure that already knows its keys must
    never read the table — the keys frame is written directly, and with
    a Bloom index on the key column the entry's over-scope narrows to
    the files that might hold any key (manifest-only work). Pinned by
    the entry's coverage count; correctness pinned by reads, re-insert
    scoping, and the provably-absent no-op."""
    import pytest
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        current_version,
        lake_bloom_index,
        lake_cluster_by,
        lake_commit,
        lake_delete_keys,
        lake_read,
        lake_read_point,
    )

    path = str(tmp_path / "t")
    lake_commit(
        spark.range(0, 400).select(F.col("id").alias("k")).repartition(8),
        path,
    )  # v1
    lake_cluster_by(spark, path, "k", n_files=8)  # v2: k-disjoint files
    lake_bloom_index(spark, path, "k")  # v3
    # the erasure request: three keys from one narrow k-range
    req = spark.createDataFrame([(7,), (9,), (11,)], "k BIGINT")
    v = lake_delete_keys(spark, path, "k", keys=req)  # v4
    assert v == 4
    m = _read_manifest(path, v)
    entry = m["deletes"][-1]
    assert len(entry["over"]) < len(m["files"]), (
        "bloom must narrow the delete scope below the full file list"
    )
    assert lake_read(spark, path).where("k IN (7, 9, 11)").count() == 0
    assert lake_read(spark, path).count() == 397
    assert lake_read_point(spark, path, "k", 9).count() == 0
    assert lake_read_point(spark, path, "k", 8).count() == 1
    # provably-absent keys commit nothing
    ghost = spark.createDataFrame([(100001,), (100002,)], "k BIGINT")
    assert lake_delete_keys(spark, path, "k", keys=ghost) == 4
    # empty request commits nothing
    assert (
        lake_delete_keys(spark, path, "k", keys=req.where("k > 999")) == 4
    )
    # CDC over the NARROWED entry still reports exactly the deleted
    # rows (the bloom-kept files provably hold every key occurrence)
    from cours_datalake_dwh_td_kafka_spark.lake import lake_changes_since

    ch = lake_changes_since(spark, path, 3, to_version=4)
    assert {(r.k, r._change) for r in ch.collect()} == {
        (7, "delete"), (9, "delete"), (11, "delete"),
    }
    # re-insert after the erasure is NOT retro-deleted (scoping rule)
    lake_commit(
        spark.createDataFrame([(7,)], "k BIGINT"), path, mode="append"
    )
    assert lake_read(spark, path).where("k = 7").count() == 1
    # exactly one of predicate/keys
    with pytest.raises(ValueError, match="exactly one"):
        lake_delete_keys(spark, path, "k")
    with pytest.raises(ValueError, match="exactly one"):
        lake_delete_keys(spark, path, "k", "k = 1", keys=req)
    with pytest.raises(ValueError, match="lacks the key column"):
        lake_delete_keys(
            spark, path, "k", keys=req.withColumnRenamed("k", "x")
        )
    assert current_version(path) == 5


def test_delete_keys_rejects_type_mismatched_key_frame(spark, tmp_path):
    """A keys frame whose key column type differs from the table's
    declared type must fail loudly — an implicit-cast anti-join would
    silently delete nothing (or the wrong rows)."""
    import pytest
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_delete_keys,
    )

    path = str(tmp_path / "t")
    lake_commit(spark.range(0, 5).select(F.col("id").alias("k")), path)
    bad = spark.createDataFrame([("3",)], "k STRING")
    with pytest.raises(ValueError, match="declares"):
        lake_delete_keys(spark, path, "k", keys=bad)


def test_lake_changes_since_across_restore(spark, tmp_path):
    """A restore is a genuinely row-changing step for CDC: the rows it
    brings back surface as inserts at the restore version, so replaying
    the feed reconstructs the live table."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_changes_since,
        lake_commit,
        lake_delete_keys,
        lake_restore,
    )

    path = str(tmp_path / "t")
    lake_commit(spark.range(0, 6).select(F.col("id").alias("k")), path)
    lake_delete_keys(spark, path, "k", "k < 2")
    lake_restore(spark, path, 1)
    got = sorted(
        (r._version, r._change, r.k)
        for r in lake_changes_since(spark, path, 0).collect()
    )
    assert got == (
        [(1, "insert", k) for k in range(6)]
        + [(2, "delete", 0), (2, "delete", 1)]
        + [(3, "insert", 0), (3, "insert", 1)]
    )


def test_incremental_mv_group_folds_to_zero_and_disappears(spark, tmp_path):
    """IVM edge: deleting EVERY row of one group drives its count to
    zero — the served view must drop the group (not show a zero/negative
    row), and a fold must physically remove the dead delta rows while
    preserving the view."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_consume_changes,
        lake_delete_keys,
        lake_read,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.lake_queries import (
        mv_delta_rows,
        mv_fold,
        mv_serve,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    from cours_datalake_dwh_td_kafka_spark.lake import lake_commit

    lake_commit(d, src)
    lake_consume_changes(spark, src, mv, apply_fn=mv_delta_rows)
    victim = "src3"
    keys = d.where(F.col("source") == victim).select("doc_id")
    lake_delete_keys(spark, src, "doc_id", keys=keys)
    lake_consume_changes(spark, src, mv, apply_fn=mv_delta_rows)

    served = mv_serve(spark, mv)
    assert served.where(F.col("source") == victim).count() == 0
    # view equals recompute over the live snapshot
    direct = (
        lake_read(spark, src)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    assert served.count() == direct.count()
    assert served.exceptAll(direct).count() == 0

    before = served.localCheckpoint()
    mv_fold(spark, mv)
    # the dead group's paired +/- delta rows cancelled and are GONE
    folded_log = lake_read(spark, mv)
    assert folded_log.where(F.col("source") == victim).count() == 0
    after = mv_serve(spark, mv)
    assert after.count() == before.count()
    assert after.exceptAll(before).count() == 0


def test_txn_log_single_winner_and_version_pinning(spark, tmp_path):
    """The cross-table txn log: (a) two concurrent publishes of the
    same txn number have exactly one winner (O_EXCL link); (b) a reader
    through an OLD txn number still sees that txn's versions (time
    travel at the catalog level); (c) a pointer to a version that does
    not exist is rejected at publish time, not discovered at read
    time."""
    import threading

    import pytest
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_txn_publish,
        lake_txn_read,
        lake_txn_snapshot,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "n_chars"
    )
    t = str(tmp_path / "t")
    root = str(tmp_path / "root")
    v1 = lake_commit(d.where("doc_id < 100"), t)
    n1 = lake_txn_publish(root, {"t": (t, v1)})
    v2 = lake_commit(d.where("doc_id >= 100"), t, mode="append")

    # (a) race: both rivals target txn n1+1
    results = []

    def publish():
        try:
            results.append(("ok", lake_txn_publish(root, {"t": (t, v2)})))
        except FileExistsError:
            results.append(("lost", None))

    threads = [threading.Thread(target=publish) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    outcomes = sorted(r[0] for r in results)
    # at least one winner; both may win only by taking DIFFERENT
    # numbers, which must then record identical content — assert the
    # strong form: distinct txn numbers never collide
    wins = [r[1] for r in results if r[0] == "ok"]
    assert len(set(wins)) == len(wins) and len(wins) >= 1, results

    # (b) catalog time travel: txn n1 still reads v1's rows
    old = lake_txn_read(spark, root, "t", txn=n1)
    assert old.count() == d.where("doc_id < 100").count()
    assert lake_txn_snapshot(root, n1)["t"]["version"] == v1

    # (c) loud rejection of a dangling pointer
    with pytest.raises(ValueError, match="does not exist"):
        lake_txn_publish(root, {"t": (t, 99)})
    with pytest.raises(ValueError, match="records no table"):
        lake_txn_read(spark, root, "nope")


def test_commit_expectations_modes(spark, tmp_path):
    """lake_commit_expect: NULL predicates count as violations (CHECK
    semantics), fail mode is atomic, quarantine conserves rows and tags
    each with the FIRST failed check in declaration order."""
    import pytest

    from cours_datalake_dwh_td_kafka_spark.lake import (
        ExpectationViolation,
        current_version,
        lake_commit_expect,
        lake_read,
    )

    df = spark.createDataFrame(
        [
            (1, "ok", 10),
            (2, None, 10),     # null_name violation (NULL -> violation)
            (3, "bad", -1),    # positive violation
            (4, None, -2),     # violates BOTH -> tagged with the first
        ],
        "id BIGINT, name STRING, v BIGINT",
    )
    checks = {"named": "name IS NOT NULL", "positive": "v > 0"}
    t, q = str(tmp_path / "t"), str(tmp_path / "q")

    with pytest.raises(ExpectationViolation, match="named=2"):
        lake_commit_expect(df, t, checks, on_violation="fail")
    assert current_version(t) == 0  # atomic: nothing landed

    res = lake_commit_expect(
        df, t, checks, on_violation="quarantine", quarantine_path=q
    )
    assert res["n_clean"] == 1 and res["violations"] == {
        "named": 2,
        "positive": 2,
    }
    quar = {
        r.id: r._failed_expectation
        for r in lake_read(spark, q).collect()
    }
    assert quar == {2: "named", 3: "positive", 4: "named"}
    assert lake_read(spark, t).count() == 1

    res2 = lake_commit_expect(
        df, str(tmp_path / "t2"), checks, on_violation="drop"
    )
    assert res2["n_clean"] == 1


def test_incremental_sessions_split_and_noop(spark, tmp_path):
    """A LATE error event lands mid-run and must SPLIT the touched
    user's session (renumbering included) while the untouched user's
    bootstrap rows survive unrewritten; an empty wave is a no-op (no
    commit). The swap is merge-on-read: the delete commit adds no data
    files."""
    from datetime import datetime

    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_commit,
        lake_read,
        _read_manifest,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.session_queries import (
        maintain_sessions_incremental,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.sessionization import (
        sessionize_events,
    )

    def ev(eid, uid, minute, etype="click", value=1.0):
        return (eid, uid, datetime(2024, 3, 1, 10, minute), etype, value)

    schema = (
        "event_id bigint, user_id bigint, ts timestamp, "
        "event_type string, value double"
    )
    wave1 = spark.createDataFrame(
        [
            ev(1, 1, 0),
            ev(2, 1, 10),
            ev(3, 1, 20),
            ev(4, 1, 30),
            ev(5, 2, 0),
            ev(6, 2, 5),
        ],
        schema,
    )
    ev_path = str(tmp_path / "events")
    sess_path = str(tmp_path / "sessions")
    v1 = lake_commit(wave1, ev_path)
    lake_commit(sessionize_events(lake_read(spark, ev_path)), sess_path)
    boot = lake_read(spark, sess_path)
    assert boot.where("user_id = 1").count() == 1  # one unbroken run

    # late ERROR at minute 15: splits user 1's run into two sessions
    lake_commit(
        spark.createDataFrame([ev(7, 1, 15, "error")], schema),
        ev_path,
        mode="append",
    )
    n_touched = maintain_sessions_incremental(
        spark, ev_path, sess_path, since_version=v1
    )
    assert n_touched == 1
    final = lake_read(spark, sess_path)
    recompute = sessionize_events(lake_read(spark, ev_path))
    assert final.exceptAll(recompute).count() == 0
    assert recompute.exceptAll(final).count() == 0
    u1 = final.where("user_id = 1").orderBy("session_id").collect()
    assert [r.session_id for r in u1] == [1, 2]
    assert [r.n_events for r in u1] == [2, 2]
    # untouched user 2's row came through the swap byte-identical
    assert (
        final.where("user_id = 2").exceptAll(
            boot.where("user_id = 2")
        ).count()
        == 0
    )
    # the swap's delete commit is merge-on-read: same data file list as
    # the bootstrap version, deletes carried in the manifest
    v_sess = current_version(sess_path)
    m_del = _read_manifest(sess_path, v_sess - 1)  # the delete commit
    m_boot = _read_manifest(sess_path, v_sess - 2)
    assert m_del["files"] == m_boot["files"]
    assert m_del.get("deletes")

    # empty wave: nothing touched, no new commit on the sessions table
    v_ev = current_version(ev_path)
    assert (
        maintain_sessions_incremental(
            spark, ev_path, sess_path, since_version=v_ev
        )
        == 0
    )
    assert current_version(sess_path) == v_sess


def test_merge_on_read_preserves_declared_column_order(spark, tmp_path):
    """_apply_deletes must not let the anti-join's USING column hoist
    the delete key to the front: a table whose key is NOT the leading
    column reads back in its declared order (r13 regression — surfaced
    by the postings table, where positional consumers like exceptAll
    would compare term against doc_id)."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_delete_keys,
        lake_read,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, 2.5), ("c", 3, 3.5)],
        "name string, k bigint, v double",
    )
    lake_commit(df, path)
    lake_delete_keys(
        spark, path, "k", keys=spark.createDataFrame([(2,)], "k bigint")
    )
    got = lake_read(spark, path)
    assert got.columns == ["name", "k", "v"]
    assert sorted(tuple(r) for r in got.collect()) == [
        ("a", 1, 1.5),
        ("c", 3, 3.5),
    ]


def test_stats_on_append_prunes_new_files(spark, tmp_path):
    """Round 14 stats-on-append: an append that records its files'
    [min, max] keeps pruned reads sharp — a probe outside the appended
    range skips the new file, a probe inside opens it, and results
    always equal the full-scan predicate."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_cluster_by,
        lake_read_pruned,
        pruned_files,
    )

    path = str(tmp_path / "t")
    lake_commit(
        spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v"), path
    )
    lake_cluster_by(spark, path, "k", n_files=4)
    # a narrow late wave, committed WITH stats
    lake_commit(
        spark.range(5000, 5100).selectExpr("id AS k", "id * 2 AS v")
        .coalesce(1),
        path,
        stats_cols=("k",),
    )
    # probe inside the base range: the appended file is provably
    # outside [100, 150] and must be skipped
    keep, total = pruned_files(path, "k", 100, 150)
    assert total == 5 and len(keep) == 1
    got = sorted(r.k for r in lake_read_pruned(spark, path, "k", 100, 150).collect())
    assert got == list(range(100, 151))
    # probe inside the appended range opens the appended file
    keep2, _ = pruned_files(path, "k", 5050, 5060)
    assert len(keep2) == 1
    got2 = sorted(r.k for r in lake_read_pruned(spark, path, "k", 5050, 5060).collect())
    assert got2 == list(range(5050, 5061))
    # WITHOUT stats_cols the same append is conservatively scanned
    lake_commit(
        spark.range(9000, 9010).selectExpr("id AS k", "id * 2 AS v")
        .coalesce(1),
        path,
    )
    keep3, total3 = pruned_files(path, "k", 100, 150)
    assert total3 == 6 and len(keep3) == 2  # stat-less file kept


def test_stats_on_append_occ_rebase_merges_both_sides(spark, tmp_path):
    """Two racing stats-carrying OCC appends: both land and the final
    manifest carries BOTH waves' file ranges (the rebase merges the
    writer's new stats with whatever the live tip accumulated)."""
    import threading

    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        current_version,
        lake_commit_occ,
        pruned_files,
    )

    path = str(tmp_path / "t")
    lake_commit(spark.range(0, 100).selectExpr("id AS k"), path)
    barrier = threading.Barrier(2)
    errs = []

    def writer(lo, hi):
        try:
            df = spark.range(lo, hi).selectExpr("id AS k").coalesce(1)
            barrier.wait(timeout=30)
            lake_commit_occ(df, path, stats_cols=("k",))
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=(1000, 1100)),
        threading.Thread(target=writer, args=(2000, 2100)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errs, errs
    m = _read_manifest(path, current_version(path))
    assert len(m.get("stats") or {}) == 2  # both waves' files ranged
    keep, total = pruned_files(path, "k", 1000, 1050)
    # base files (no stats) conservatively kept; wave-2000 file skipped
    assert len(keep) == total - 1


def test_stats_on_append_runs_no_inference_job(spark, tmp_path):
    """Stats-on-append reads the new files under the appending frame's
    schema, so their [min, max] cost only the aggregate's two jobs (its
    shuffle stage and its result, under AQE) and no schema-inference
    job: a stats-carrying append submits exactly two jobs more than the
    same plain append, through both append paths."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_commit_occ
    from tests.conftest import spark_jobs

    path = str(tmp_path / "t")
    lake_commit(spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"), path)

    def wave(lo):
        return (
            spark.range(lo, lo + 50)
            .selectExpr("id AS k", "id * 2 AS v")
            .coalesce(1)
        )

    _, plain = spark_jobs(spark, lambda: lake_commit(wave(1000), path))
    _, seq = spark_jobs(
        spark, lambda: lake_commit(wave(2000), path, stats_cols=("k",))
    )
    _, occ = spark_jobs(
        spark, lambda: lake_commit_occ(wave(3000), path, stats_cols=("k",))
    )
    assert (seq, occ) == (plain + 2, plain + 2)
