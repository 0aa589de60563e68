"""Optimistic multi-writer concurrency for the lake (VERDICT r12 #3):
two racing appends BOTH land (rebase + re-CAS), a genuine scope
conflict aborts loudly, retries are bounded, and losers never disturb
readers."""

from __future__ import annotations

import threading

import pytest

import cours_datalake_dwh_td_kafka_spark.lake as lake_mod
from cours_datalake_dwh_td_kafka_spark.lake import (
    LakeConflictError,
    current_version,
    lake_commit,
    lake_commit_occ,
    lake_delete_keys,
    lake_read,
)


def _frame(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr("id AS k", f"'{tag}' AS src")


def _rows(spark, path):
    return sorted(tuple(r) for r in lake_read(spark, path).collect())


def test_occ_rebases_over_rival_append(spark, tmp_path):
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 10, "base"), path)
    # rival lands AFTER the writer read v1 but before its publish
    lake_commit(_frame(spark, 10, 20, "rival"), path, mode="append")
    v = lake_commit_occ(_frame(spark, 20, 30, "mine"), path, read_version=1)
    assert v == 3 and current_version(path) == 3
    assert _rows(spark, path) == sorted(
        [(k, "base") for k in range(10)]
        + [(k, "rival") for k in range(10, 20)]
        + [(k, "mine") for k in range(20, 30)]
    )


def test_occ_thread_race_both_appends_land(spark, tmp_path):
    """The Done criterion: two genuinely concurrent appends both land
    with rows preserved, regardless of interleaving."""
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 5, "base"), path)
    barrier = threading.Barrier(2)
    errs: list[BaseException] = []

    def writer(lo, hi, tag):
        try:
            df = _frame(spark, lo, hi, tag)
            barrier.wait(timeout=30)
            lake_commit_occ(df, path)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=(100, 110, "w1")),
        threading.Thread(target=writer, args=(200, 210, "w2")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errs, errs
    assert current_version(path) == 3  # base + exactly one commit each
    assert _rows(spark, path) == sorted(
        [(k, "base") for k in range(5)]
        + [(k, "w1") for k in range(100, 110)]
        + [(k, "w2") for k in range(200, 210)]
    )


def test_occ_rmw_aborts_on_row_changing_rival(spark, tmp_path):
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 10, "base"), path)
    before = _rows(spark, path)
    # rival erases keys the RMW writer may have derived from
    lake_delete_keys(
        spark, path, "k", keys=spark.createDataFrame([(3,)], "k bigint")
    )
    with pytest.raises(LakeConflictError, match="changed row visibility"):
        lake_commit_occ(
            _frame(spark, 20, 25, "derived"), path, read_version=1
        )
    # the loser left no trace a reader can see
    assert current_version(path) == 2
    assert _rows(spark, path) == [r for r in before if r[0] != 3]


def test_occ_blind_append_commutes_with_deletes_and_maintenance(
    spark, tmp_path
):
    from cours_datalake_dwh_td_kafka_spark.lake import lake_compact

    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 10, "base"), path)
    lake_delete_keys(
        spark, path, "k", keys=spark.createDataFrame([(1,)], "k bigint")
    )
    lake_compact(spark, path, small_file_bytes=1 << 30)
    v = lake_commit_occ(_frame(spark, 50, 52, "blind"), path)
    assert v == current_version(path)
    got = _rows(spark, path)
    assert (1, "base") not in got and (50, "blind") in got


def test_occ_blind_append_aborts_on_overwrite(spark, tmp_path, monkeypatch):
    """An overwrite landing WHILE the blind append is in flight (after
    it read the tip, before its publish) aborts it: appending
    pre-replacement rows past a contents replacement is made loud."""
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 10, "base"), path)

    orig_write = lake_mod._write_data_files
    fired = []

    def write_then_rival(df, p):
        files = orig_write(df, p)
        if not fired:
            fired.append(True)
            lake_commit(
                _frame(spark, 0, 3, "replaced"), path, mode="overwrite"
            )
        return files

    monkeypatch.setattr(lake_mod, "_write_data_files", write_then_rival)
    with pytest.raises(LakeConflictError, match="replaced table contents"):
        lake_commit_occ(_frame(spark, 90, 92, "late"), path)
    # the loser's rows are invisible; the overwrite won
    assert _rows(spark, path) == [(k, "replaced") for k in range(3)]


def test_occ_bounded_attempts(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 3, "base"), path)

    def always_lose(*a, **kw):
        raise FileExistsError("rival")

    monkeypatch.setattr(lake_mod, "_commit_manifest", always_lose)
    with pytest.raises(LakeConflictError, match="lost the publish race"):
        lake_commit_occ(_frame(spark, 5, 6, "x"), path, max_attempts=3)


def test_occ_schema_evolution_and_retype(spark, tmp_path):
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 3, "base"), path)
    # adding a column through the OCC path follows the evolution rule
    v = lake_commit_occ(
        spark.range(7, 9).selectExpr(
            "id AS k", "'new' AS src", "id * 2 AS extra"
        ),
        path,
    )
    got = lake_read(spark, path, v)
    assert "extra" in got.columns
    assert got.where("extra IS NULL").count() == 3  # pre-column files
    with pytest.raises(ValueError, match="retyping"):
        lake_commit_occ(
            spark.range(0, 1).selectExpr("CAST(id AS STRING) AS k",
                                         "'bad' AS src"),
            path,
        )


def test_occ_read_version_ahead_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 3, "base"), path)
    with pytest.raises(ValueError, match="ahead"):
        lake_commit_occ(_frame(spark, 5, 6, "x"), path, read_version=9)


def test_occ_read_keys_narrow_delete_conflicts(spark, tmp_path):
    """Declared read footprint (Delta's ConcurrentDeleteRead at key
    scope): a rival equality-delete of DISJOINT keys commutes with the
    RMW append; an overlapping delete, or one keyed on a different
    column, aborts."""
    path = str(tmp_path / "t")
    lake_commit(
        spark.range(0, 100).selectExpr(
            "id AS k", "id AS other", "'base' AS src"
        ),
        path,
    )
    # disjoint delete: writer read keys {1, 2}, rival erased {90}
    lake_delete_keys(
        spark, path, "k", keys=spark.createDataFrame([(90,)], "k bigint")
    )
    v = lake_commit_occ(
        spark.createDataFrame([(500, 500, "mine")],
                              "k bigint, other bigint, src string"),
        path,
        read_version=1,
        read_keys=("k", [1, 2]),
    )
    assert v == 3
    got = {r.k for r in lake_read(spark, path).collect()}
    assert 90 not in got and 500 in got and 1 in got

    # overlapping delete aborts
    lake_delete_keys(
        spark, path, "k", keys=spark.createDataFrame([(2,)], "k bigint")
    )
    with pytest.raises(LakeConflictError, match="changed row visibility"):
        lake_commit_occ(
            spark.createDataFrame([(501, 501, "x")],
                                  "k bigint, other bigint, src string"),
            path,
            read_version=3,
            read_keys=("k", [1, 2]),
        )

    # different key column: unprovable, aborts
    lake_delete_keys(
        spark, path, "other",
        keys=spark.createDataFrame([(77,)], "other bigint"),
    )
    with pytest.raises(LakeConflictError):
        lake_commit_occ(
            spark.createDataFrame([(502, 502, "y")],
                                  "k bigint, other bigint, src string"),
            path,
            read_version=4,
            read_keys=("k", [1]),
        )

    # read_keys without read_version is a contract error
    with pytest.raises(ValueError, match="read_version"):
        lake_commit_occ(
            spark.createDataFrame([(503, 503, "z")],
                                  "k bigint, other bigint, src string"),
            path,
            read_keys=("k", [1]),
        )


def test_occ_vacuumed_intervening_commit_aborts(spark, tmp_path):
    """A vacuumed intervening manifest is unclassifiable: the erased
    commit may have been row-changing, so the RMW writer must abort
    rather than rebase over a vanished state (r13 review)."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_compact,
        lake_vacuum,
    )

    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 10, "base"), path)  # v1
    lake_delete_keys(
        spark, path, "k", keys=spark.createDataFrame([(3,)], "k bigint")
    )  # v2 (row-changing)
    lake_compact(spark, path, target_files=1)  # v3
    lake_vacuum(path, keep_versions=1, orphan_grace_seconds=0)  # drops v1-v2
    with pytest.raises(LakeConflictError, match="vacuumed"):
        lake_commit_occ(_frame(spark, 50, 52, "x"), path, read_version=1)


def test_occ_doomed_writer_leaves_no_orphan_files(spark, tmp_path):
    """Classification runs BEFORE the data write: a transaction doomed
    by commits that landed before entry aborts at manifest cost and
    writes nothing (r13 review)."""
    import os

    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 10, "base"), path)
    lake_delete_keys(
        spark, path, "k", keys=spark.createDataFrame([(3,)], "k bigint")
    )

    def count_data_files():
        total = 0
        for dirpath, _d, files in os.walk(os.path.join(path, "data")):
            total += sum(1 for f in files if f.endswith(".parquet"))
        return total

    before = count_data_files()
    with pytest.raises(LakeConflictError):
        lake_commit_occ(_frame(spark, 50, 52, "x"), path, read_version=1)
    assert count_data_files() == before


def test_occ_rebase_recovers_pre_evolution_schema(spark, tmp_path):
    """Rebasing onto a legacy manifest (no declared schema) recovers
    the union of the files' columns exactly as lake_commit does — no
    silent legacy-column loss, retype still rejected (r13 review)."""
    import json
    import os

    path = str(tmp_path / "t")
    lake_commit(
        spark.createDataFrame([(1, "a", 1.5)], "k bigint, s string, v double"),
        path,
    )
    # strip the declared schema to simulate a pre-evolution manifest
    mpath = os.path.join(path, "_manifests", "v1.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)

    v = lake_commit_occ(
        spark.createDataFrame([(2,)], "k bigint"), path
    )
    got = lake_read(spark, path, v)
    assert set(got.columns) == {"k", "s", "v"}  # legacy columns survive
    assert got.where("s = 'a'").count() == 1


def test_occ_four_way_race_all_land(spark, tmp_path):
    """Four concurrent blind appends: every writer lands exactly once
    (4 new versions), all rows preserved — the rebase chain works at
    depth, not just pairwise."""
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 5, "base"), path)
    barrier = threading.Barrier(4)
    errs: list[BaseException] = []

    def writer(i):
        try:
            df = _frame(spark, 1000 * i, 1000 * i + 10, f"w{i}")
            barrier.wait(timeout=60)
            lake_commit_occ(df, path, max_attempts=16)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(1, 5)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=240)
    assert not errs, errs
    assert current_version(path) == 5
    want = sorted(
        [(k, "base") for k in range(5)]
        + [
            (k, f"w{i}")
            for i in range(1, 5)
            for k in range(1000 * i, 1000 * i + 10)
        ]
    )
    assert _rows(spark, path) == want


# ---------------------------------------------------------------------------
# round 14 (VERDICT r13 #1): every non-append writer survives a rival
# commit — rebase where the rival provably commutes, full re-derivation
# otherwise, loud LakeConflictError only on true exhaustion.
# ---------------------------------------------------------------------------


def _inject_rival_once(monkeypatch, spark, path, on_op, make_rival):
    """Monkeypatch the CAS so the first publish of ``on_op`` loses a
    genuine race: a real rival commit lands first (stealing the version
    number), then the patched call proceeds and collides — the
    deterministic version of the thread races above."""
    orig = lake_mod._commit_manifest
    state = {"fired": False}

    def racy(p, version, files, op, *a, **kw):
        if op == on_op and not state["fired"]:
            state["fired"] = True
            make_rival()
        return orig(p, version, files, op, *a, **kw)

    monkeypatch.setattr(lake_mod, "_commit_manifest", racy)
    return state


def test_compact_rebases_over_rival_append(spark, tmp_path, monkeypatch):
    """A compaction losing the CAS to a rival append rebases: the
    rival's files are carried (never dropped), the compacted rewrite
    lands manifest-only, rows = union of both."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_compact,
        lake_history,
    )

    path = str(tmp_path / "t")
    for i in range(4):
        lake_commit(_frame(spark, i * 10, i * 10 + 10, f"b{i}"), path)
    state = _inject_rival_once(
        monkeypatch, spark, path, "compact",
        lambda: lake_commit(_frame(spark, 900, 910, "rival"), path),
    )
    v = lake_compact(spark, path)
    assert state["fired"] and v == 6  # 4 base + rival + compact
    assert [h["op"] for h in lake_history(path)][-2:] == ["append", "compact"]
    assert _rows(spark, path) == sorted(
        [(k, f"b{i}") for i in range(4) for k in range(i * 10, i * 10 + 10)]
        + [(k, "rival") for k in range(900, 910)]
    )


def test_cluster_rebases_over_rival_append_and_stays_prunable(
    spark, tmp_path, monkeypatch
):
    """A clustering rewrite losing the CAS to a rival append carries
    the rival's files UNCLUSTERED (no stats — conservatively scanned),
    and pruned reads stay exact on both old and rival rows."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        lake_cluster_by,
        lake_read_pruned,
    )

    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 200, "base"), path)
    state = _inject_rival_once(
        monkeypatch, spark, path, "cluster",
        lambda: lake_commit(
            _frame(spark, 50, 60, "rival").coalesce(1), path
        ),
    )
    v = lake_cluster_by(spark, path, "k", n_files=4)
    assert state["fired"] and v == 3
    m = _read_manifest(path, v)
    stats = m.get("stats") or {}
    with_stats = [f for f in m["files"] if f in stats]
    without = [f for f in m["files"] if f not in stats]
    assert len(with_stats) == 4 and len(without) == 1  # rival unclustered
    got = sorted(
        tuple(r) for r in lake_read_pruned(spark, path, "k", 50, 59).collect()
    )
    assert got == sorted(
        [(k, "base") for k in range(50, 60)]
        + [(k, "rival") for k in range(50, 60)]
    )


def test_bloom_rebases_over_rival_append_no_false_negative(
    spark, tmp_path, monkeypatch
):
    """A bloom build losing the CAS to a rival append lands manifest-
    only; the rival's file has NO bitmap and is conservatively kept by
    every probe (no false negatives), while base probes still prune."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        lake_bloom_index,
        lake_read_point,
        pruned_files_eq,
    )

    path = str(tmp_path / "t")
    lake_commit(
        _frame(spark, 0, 400, "base").repartition(4, "k"), path
    )
    state = _inject_rival_once(
        monkeypatch, spark, path, "bloom",
        lambda: lake_commit(
            _frame(spark, 9000, 9001, "rival").coalesce(1), path
        ),
    )
    v = lake_bloom_index(spark, path, "k")
    assert state["fired"] and v == 3
    m = _read_manifest(path, v)
    bitmapped = set(m["bloom"]["k"]["files"])
    assert len(m["files"]) == 5 and len(bitmapped) == 4
    # the rival's key is findable even though its file has no bitmap
    keep, total = pruned_files_eq(path, "k", 9000)
    assert total == 5 and any(f not in bitmapped for f in keep)
    assert [tuple(r) for r in lake_read_point(spark, path, "k", 9000).collect()] == [
        (9000, "rival")
    ]
    # a base probe prunes: opens < all files
    keep2, _ = pruned_files_eq(path, "k", 3)
    assert len(keep2) < 5


def test_delete_keys_rederives_over_rival_compact(
    spark, tmp_path, monkeypatch
):
    """A key delete losing the CAS to a rival COMPACT (files rewritten
    under it) re-derives its ``over`` scope from the new tip — the
    deleted keys stay deleted even though they now live in different
    files."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_compact,
        lake_delete_keys,
    )

    path = str(tmp_path / "t")
    for i in range(3):
        lake_commit(_frame(spark, i * 10, i * 10 + 10, f"b{i}"), path)
    victims = spark.createDataFrame([(5,), (15,), (25,)], "k bigint")
    state = _inject_rival_once(
        monkeypatch, spark, path, "delete_keys",
        lambda: lake_compact(spark, path),
    )
    v = lake_delete_keys(spark, path, "k", keys=victims)
    assert state["fired"] and current_version(path) == v
    want = sorted(
        (k, f"b{i}")
        for i in range(3)
        for k in range(i * 10, i * 10 + 10)
        if k not in (5, 15, 25)
    )
    assert _rows(spark, path) == want


def test_delete_keys_vs_append_thread_race_both_land(spark, tmp_path):
    """Genuine two-thread race: an equality delete and a blind append
    with disjoint keys BOTH land exactly once, in either order."""
    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 20, "base"), path)
    victims = spark.createDataFrame([(3,), (7,)], "k bigint")
    barrier = threading.Barrier(2)
    errs: list[BaseException] = []

    def deleter():
        try:
            barrier.wait(timeout=30)
            lake_delete_keys(spark, path, "k", keys=victims)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    def appender():
        try:
            df = _frame(spark, 100, 110, "app")
            barrier.wait(timeout=30)
            lake_commit_occ(df, path)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    ts = [threading.Thread(target=deleter), threading.Thread(target=appender)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=240)
    assert not errs, errs
    assert current_version(path) == 3
    assert _rows(spark, path) == sorted(
        [(k, "base") for k in range(20) if k not in (3, 7)]
        + [(k, "app") for k in range(100, 110)]
    )


def test_merge_upsert_rederives_over_rival_append(
    spark, tmp_path, monkeypatch
):
    """MERGE is read-modify-write: losing the CAS to a rival append
    re-derives the WHOLE merge at the new tip — the rival's rows are
    read, and those matching the merge keys are replaced (the serial
    rival-first order), never silently dropped."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_merge_upsert

    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 10, "base"), path)
    updates = _frame(spark, 5, 8, "upd")  # replaces keys 5,6,7
    state = _inject_rival_once(
        monkeypatch, spark, path, "merge",
        # rival append INCLUDES key 6 — the merge must replace it too
        lambda: lake_commit(_frame(spark, 6, 7, "rival6"), path),
    )
    lake_merge_upsert(spark, path, updates, "k")
    assert state["fired"]
    assert _rows(spark, path) == sorted(
        [(k, "base") for k in range(10) if k not in (5, 6, 7)]
        + [(k, "upd") for k in (5, 6, 7)]
    )


def test_delete_where_rederives_over_rival_append(
    spark, tmp_path, monkeypatch
):
    """A predicate delete losing the CAS re-derives at the new tip —
    rival rows matching the predicate are deleted too (serial order),
    rival rows outside it are preserved."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_delete_where

    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 10, "base"), path)
    state = _inject_rival_once(
        monkeypatch, spark, path, "delete",
        lambda: lake_commit(_frame(spark, 3, 5, "rival"), path),
    )
    lake_delete_where(spark, path, "k < 4")
    assert state["fired"]
    assert _rows(spark, path) == sorted(
        [(k, "base") for k in range(4, 10)] + [(4, "rival")]
    )


def test_occ_read_keys_mixed_type_footprint_above_cap(spark, tmp_path):
    """r14 review: a mixed int+float declared read footprint above
    KEYS_INSET_MAX must still PROVE disjointness against a rival
    delete (normalize-to-float + isin fallback — never a spurious
    LakeConflictError that flips on key count)."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        KEYS_INSET_MAX,
        lake_delete_keys,
    )

    path = str(tmp_path / "t")
    lake_commit(
        spark.range(0, 5000).selectExpr("id AS k", "'b' AS src"), path
    )
    # rival erases odd keys OUTSIDE the declared (even) footprint
    victims = spark.createDataFrame([(4999,), (4997,)], "k bigint")
    lake_delete_keys(spark, path, "k", keys=victims)
    footprint = [
        float(x) if x % 4 == 0 else x
        for x in range(0, 2 * (KEYS_INSET_MAX + 100), 2)
    ]
    v = lake_commit_occ(
        spark.createDataFrame([(9_000_001, "derived")], "k bigint, src string"),
        path,
        read_version=1,
        read_keys=("k", footprint),
    )
    assert v == current_version(path)
    got = lake_read(spark, path).where("k >= 9000000").collect()
    assert [(r.k, r.src) for r in got] == [(9_000_001, "derived")]


def test_compact_rederives_fold_over_rival_delete_keys(
    spark, tmp_path, monkeypatch
):
    """A compaction losing the CAS to a rival KEY DELETE cannot rebase
    (its cached rewrite would resurrect the deleted rows): the retry
    re-derives at the new tip, takes the FOLD branch (deletes pending),
    and the final snapshot has the keys gone with no delete debt."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        lake_compact,
        lake_delete_keys,
    )

    path = str(tmp_path / "t")
    for i in range(3):
        lake_commit(_frame(spark, i * 10, i * 10 + 10, f"b{i}"), path)
    victims = spark.createDataFrame([(5,), (25,)], "k bigint")
    state = _inject_rival_once(
        monkeypatch, spark, path, "compact",
        lambda: lake_delete_keys(spark, path, "k", keys=victims),
    )
    v = lake_compact(spark, path, small_file_bytes=1 << 30, target_files=1)
    assert state["fired"]
    m = _read_manifest(path, v)
    assert m["op"] == "compact" and not m.get("deletes")  # debt folded
    assert _rows(spark, path) == sorted(
        (k, f"b{i}")
        for i in range(3)
        for k in range(i * 10, i * 10 + 10)
        if k not in (5, 25)
    )


def test_restore_retries_past_rival_append(spark, tmp_path, monkeypatch):
    """A restore losing the CAS re-CASes at the new tip: rollback is
    declarative last-writer-wins — the rival's commit stays in history
    but the table reads as the restore target."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_history,
        lake_restore,
    )

    path = str(tmp_path / "t")
    lake_commit(_frame(spark, 0, 5, "v1"), path)
    lake_commit(_frame(spark, 5, 10, "v2"), path)
    state = _inject_rival_once(
        monkeypatch, spark, path, "restore",
        lambda: lake_commit(_frame(spark, 90, 95, "rival").coalesce(1), path),
    )
    v = lake_restore(spark, path, 1)
    assert state["fired"] and v == current_version(path)
    assert _rows(spark, path) == [(k, "v1") for k in range(5)]
    ops = [h["op"] for h in lake_history(path)]
    assert ops[-2:] == ["append", "restore"]  # rival preserved in history


@pytest.mark.parametrize("legacy_tip", [False, True])
def test_occ_append_writes_the_same_manifest_as_lake_commit(
    spark, tmp_path, legacy_tip
):
    """The append rule is shared: the same frame appended onto the same
    tip (clustering stats, a Bloom index and a pending delete entry) by
    ``lake_commit`` and by ``lake_commit_occ`` publishes identical
    manifests apart from the new files' names — also onto a
    pre-evolution tip, whose schema both recover from the files."""
    import json
    import os
    import shutil

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_bloom_index,
        lake_cluster_by,
    )

    base = str(tmp_path / "base")
    lake_commit(
        spark.range(0, 40).selectExpr("id AS k", "CAST(id AS STRING) AS s"),
        base,
    )
    lake_cluster_by(spark, base, "k", n_files=2)
    lake_delete_keys(spark, base, "k", "k < 3")
    tip = lake_bloom_index(spark, base, "s")
    mpath = os.path.join(base, "_manifests", f"v{tip}.json")
    with open(mpath) as f:
        tip_m = json.load(f)
    assert tip_m["stats"] and tip_m["bloom"] and tip_m["deletes"]
    if legacy_tip:
        del tip_m["schema"]
        with open(mpath, "w") as f:
            json.dump(tip_m, f)

    df = spark.range(100, 110).selectExpr(
        "id AS k", "CAST(id AS STRING) AS s", "id * 2 AS extra"
    ).coalesce(1)

    def shape(path, v):
        m = lake_mod._read_manifest(path, v)
        text = json.dumps(m, sort_keys=True)
        new = [f for f in m["files"] if f not in tip_m["files"]]
        for i, f in enumerate(new):
            text = text.replace(f, f"<new{i}>")
        return json.loads(text), len(new)

    shapes = []
    for name, commit in (("seq", lake_commit), ("occ", lake_commit_occ)):
        path = str(tmp_path / name)
        shutil.copytree(base, path)
        v = commit(df, path, stats_cols=("k",))
        assert v == tip + 1
        shapes.append(shape(path, v))
    assert shapes[0] == shapes[1]
    m, n_new = shapes[0]
    assert n_new == 1
    assert [f["name"] for f in m["schema"]["fields"]] == ["k", "s", "extra"]
    assert m["deletes"] == tip_m["deletes"] and m["bloom"] == tip_m["bloom"]
    assert m["stats"] == {**tip_m["stats"], **{"<new0>": m["stats"]["<new0>"]}}
