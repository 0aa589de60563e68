"""Persisted IVF index: the build/serve split of the in-query IVF search
(similarity.py). ``ivf_topk`` re-trains its quantizer and re-assigns the
corpus on every call — correct for one-shot analytics, wasteful for a
serving workload that answers many query batches against one corpus.

Index layout (plain parquet, no sidecar formats; versioned like the
lake layer so a rebuild is ATOMIC for readers):
    <index>/CURRENT                  pointer file -> live version
    <index>/CURRENT.lock             flock file of the publish CAS
    <index>/v_<id>/centroids.parquet (cell int, centroid array<double>)
    <index>/v_<id>/manifest.json     {"vector_roots": [...],
                                      "tombstone_roots": [...],
                                      "lake_version": n}
    <index>/v_<id>/vectors/cell=<c>/part-*.parquet
                                     IVF rows (vec_id, emb, *meta),
                                     cell-PARTITIONED
    <index>/v_<id>/codes/cell=<c>/part-*.parquet
                                     IVF-PQ rows (vec_id, codes, *meta),
                                     cell-PARTITIONED
    <index>/v_<id>/books.parquet     PQ codebooks (sub int, code int,
                                     centroid array<double>)
    <index>/v_<id>/rotation.parquet  OPQ rotation (i int, row array<double>)
    <index>/v_<id>/tombstones/       vec_ids this version deletes

Manifest roots are relative to ``<index>``; ``tombstone_roots`` and
``lake_version`` are written only when present, and versions that
predate the manifest serve their own ``vectors/`` or ``codes/``
directory (:func:`_read_manifest`). Every reader goes through one small
surface: :func:`_version_dir` (pinned or CURRENT), :func:`_read_manifest`,
one loader per artifact (the three artifact tables are read under the
declared schemas their writers use) and :func:`_live_rows`. The live
rows are ONE ``spark.read.parquet`` per root plus ``union``: a single
multi-path read of several cell-partitioned roots fails Spark's
partition discovery (CONFLICTING_DIRECTORY_STRUCTURES).

A rebuild writes a complete NEW version directory and atomically swaps
the CURRENT pointer (tmp + rename); a reader that resolved the pointer
keeps reading its immutable version even while a rebuild lands — no
mixed old-centroids/new-vectors state, no missing-file window. An
APPEND (:func:`append_ivf_index`) is a version whose manifest
references its ancestors' vector roots in place plus its own — the
incremental-ingest path, no data copied. Stale versions are reclaimed
by :func:`vacuum_index`, which keeps every version the live manifest
chain references.

The partitionBy("cell") layout is the mechanism, not a convenience: a
probe reads ``WHERE cell IN (...)`` and Spark's partition pruning turns
that into "open only the probed cells' directories" — the scan cost per
query batch is nprobe/n_cells of the corpus, enforced by the LAYOUT
rather than by a runtime filter (pinned by a plan test on
PartitionFilters). This is the same files-are-the-index idea behind the
lake layer's z-order/bucket levers (io.py).
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
    HARDNEG_K,
    IVF_RECALL_FLOOR,
    N_CELLS,
    N_QUERIES,
    NPROBE,
    TOP_K,
    QUANTIZER_SAMPLE,
    _fit_cells,
    _plan_probes,
    global_topk,
)
from cours_datalake_dwh_td_kafka_spark.registry import register

# declared schemas of the quantizer artifacts, shared by writer and
# loader: a load then reads no parquet footer to learn what the writer
# fixed (vector/code roots still infer — their columns carry meta_cols)
_CENTROIDS_DDL = "cell int, centroid array<double>"
_BOOKS_DDL = "sub int, code int, centroid array<double>"
_ROTATION_DDL = "i int, row array<double>"
#: vector/code row columns that are not filtered-ANN metadata
_CORE_COLS = ("vec_id", "emb", "codes", "cell")


def _current_version_dir(path: str) -> str:
    """Resolve the live version directory via the CURRENT pointer.

    Resolving also TOUCHES the pointer file: the drop_all vacuum sweep
    keys its grace window on the newest entry mtime under the tag dir,
    and serving alone never wrote anything — so an index older than the
    window could be rmtree'd out from under a concurrent reader that
    had just opened it (round-7 advice). Refreshing CURRENT's mtime on
    every resolve makes "recently served" count as "recently alive";
    best-effort because a read-only index is still servable."""
    current = os.path.join(path, "CURRENT")
    try:
        with open(current) as f:
            name = f.read().strip()
    except FileNotFoundError:
        raise ValueError(f"no IVF index at {path} (missing CURRENT)") from None
    try:
        os.utime(current)
    except OSError:
        pass
    return os.path.join(path, name)


class ConcurrentIndexMutation(RuntimeError):
    """A compare-and-swap publish lost to a rival writer: CURRENT no
    longer names the chain the new version was built against."""


def _replace_current(path: str, version_name: str) -> None:
    tmp = os.path.join(path, f"CURRENT.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(version_name)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, "CURRENT"))


def _publish_current(
    path: str, version_name: str, expect_parent: str | None = None
) -> None:
    """Atomically point CURRENT at ``version_name``.

    Without ``expect_parent``: plain replace — last writer wins, the
    right semantic for a full REBUILD (each rebuild is self-contained;
    whichever lands last is a complete index).

    With ``expect_parent``: single-winner compare-and-swap — publish
    only while CURRENT still names the version the new one chained from.
    Appends/compactions extend a SPECIFIC ancestor chain; two appends
    racing under last-writer-wins would both chain from the same parent
    and the loser's batch would silently vanish from the served index
    (then be vacuumed as unreferenced) — silent data loss (round-8
    advice). The CAS runs under an fcntl.flock on a persistent lock
    file so check and swap are one critical section. flock, not a
    create/unlink lock: the KERNEL releases the lock when the holder's
    fd closes (crash included), so there is no staleness heuristic —
    and therefore no stale-break TOCTOU where two breakers both delete
    the lock and both enter the critical section, and no risk of one
    publisher unlinking another's live lock (both were real races in
    the O_EXCL draft of this function). The lock file itself is
    created once and never removed. Losers get
    :class:`ConcurrentIndexMutation` (append_ivf_index re-chains and
    retries when the quantizer is unchanged).

    A REBUILD (``expect_parent=None``) takes the same lock before its
    unconditional swap: a lock-free rebuild could land INSIDE an
    appender's check-then-swap window and be silently overwritten by
    the appender's chained version — the exact silent-loss class the
    CAS exists to prevent, from the other direction. Under the shared
    lock the interleave cannot happen: the rebuild lands either before
    the appender's critical section (the CAS then fails loudly on the
    moved CURRENT) or after it (the rebuild wins by its own
    replace-everything semantics)."""
    import fcntl

    fd = os.open(os.path.join(path, "CURRENT.lock"), os.O_CREAT | os.O_RDWR)
    try:
        if expect_parent is None:
            # rebuilds have no parent expectation, so waiting out a
            # rival's microseconds-long critical section is always
            # safe — block instead of failing
            fcntl.flock(fd, fcntl.LOCK_EX)
            _replace_current(path, version_name)
            return
        # BOUNDED WAIT, not fail-on-busy: a rival merely HOLDING the
        # lock (slow fsync, networked FS) is not a lost CAS — CURRENT
        # may not have moved at all, and treating busy as moved made
        # appends fail spuriously after the re-chain retries (ADVICE
        # r9). Only an actually-moved CURRENT, checked below under the
        # lock, raises the re-chain signal. The wait is bounded so a
        # live-but-hung holder (kernel releases on crash, so only a
        # hung PROCESS can hold indefinitely) surfaces as a loud
        # timeout instead of a silent stall.
        import time as _t

        deadline = _t.monotonic() + 10.0
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if _t.monotonic() >= deadline:
                    raise TimeoutError(
                        f"publisher lock at {path} held for >10s; a "
                        "rival publisher appears hung — not a lost "
                        "CAS, do not re-chain"
                    ) from None
                _t.sleep(0.02)
        try:
            with open(os.path.join(path, "CURRENT")) as f:
                cur = f.read().strip()
        except FileNotFoundError:
            cur = None
        if cur != expect_parent:
            raise ConcurrentIndexMutation(
                f"CURRENT moved {expect_parent!r} -> {cur!r} while the "
                "new version was being written; re-chain from the live "
                "version and retry"
            )
        _replace_current(path, version_name)
    finally:
        os.close(fd)  # closing the fd releases the flock


class _Manifest(NamedTuple):
    vector_roots: list[str]
    tombstone_roots: list[str]
    lake_version: int | None


def _read_manifest(path: str, vdir: str) -> _Manifest:
    """THE reader of a version's ``manifest.json``: its vector (or PQ
    code) roots and tombstone roots, stored RELATIVE to the index path
    (an appended version references its ancestors' directories instead
    of copying them) and returned absolute, plus its lake pin.

    A version without a manifest predates append support — ``fmt1`` tag
    directories are reused across runs, so such a version can still be
    served: it owns exactly its local ``codes/`` (PQ layout) or
    ``vectors/`` directory, with no tombstones and no lake pin."""
    mpath = os.path.join(vdir, "manifest.json")
    if not os.path.exists(mpath):
        codes = os.path.join(vdir, "codes")
        local = codes if os.path.isdir(codes) else os.path.join(vdir, "vectors")
        return _Manifest([local], [], None)
    with open(mpath) as f:
        m = json.load(f)
    return _Manifest(
        [os.path.join(path, r) for r in m["vector_roots"]],
        [os.path.join(path, r) for r in m.get("tombstone_roots", [])],
        m.get("lake_version"),
    )


def _vector_roots(path: str, vdir: str) -> list[str]:
    """Vector (or PQ code) roots a version serves, absolute."""
    return _read_manifest(path, vdir).vector_roots


def _tombstone_roots(path: str, vdir: str) -> list[str]:
    """Tombstone roots of a version (absolute paths); empty for
    versions with no pending vector deletions."""
    return _read_manifest(path, vdir).tombstone_roots


def _version_dir(path: str, version: str | None) -> str:
    """The directory of version ``version``, or of the live version
    (through the CURRENT pointer) when ``version`` is None."""
    if version is None:
        return _current_version_dir(path)
    return os.path.join(path, version)


def _live_rows(
    spark: SparkSession, path: str, vdir: str, cells: list | None = None
) -> DataFrame:
    """The rows a version serves: its vector (or code) roots unioned,
    pruned to ``cells`` when given, minus every tombstoned vec_id.

    One ``spark.read.parquet(root)`` per root, then ``union``: a single
    multi-path read of several cell-partitioned roots fails partition
    discovery (CONFLICTING_DIRECTORY_STRUCTURES). The ``cell IN``
    filter on each root is what partition pruning turns into directory
    selection."""
    m = _read_manifest(path, vdir)
    parts = [spark.read.parquet(root) for root in m.vector_roots]
    if cells is not None:
        parts = [p.where(F.col("cell").isin(cells)) for p in parts]
    rows = functools.reduce(DataFrame.union, parts)
    if m.tombstone_roots:
        # no broadcast hint: AQE broadcasts a small tombstone set by
        # itself; a bulk erasure must shuffle
        tomb = (
            spark.read.parquet(*m.tombstone_roots).select("vec_id").distinct()
        )
        rows = rows.join(tomb, "vec_id", "left_anti")
    return rows


def _load_centroids(spark: SparkSession, vdir: str):
    """The version's coarse quantizer as an (n_cells, d) numpy matrix,
    row ``c`` = cell ``c``."""
    import numpy as np

    rows = (
        spark.read.schema(_CENTROIDS_DDL)
        .parquet(os.path.join(vdir, "centroids.parquet"))
        .collect()
    )
    if not rows:
        raise ValueError(f"empty IVF index at {os.path.dirname(vdir)}")
    cents = np.zeros((len(rows), len(rows[0].centroid)))
    for r in rows:
        cents[r.cell] = r.centroid
    return cents


def _load_books(spark: SparkSession, vdir: str):
    """The version's PQ codebooks as an (m, k, d/m) numpy array."""
    import numpy as np

    rows = (
        spark.read.schema(_BOOKS_DDL)
        .parquet(os.path.join(vdir, "books.parquet"))
        .collect()
    )
    m = max(r.sub for r in rows) + 1
    k = max(r.code for r in rows) + 1
    books = np.zeros((m, k, len(rows[0].centroid)))
    for r in rows:
        books[r.sub, r.code] = r.centroid
    return books


def _load_rotation(spark: SparkSession, vdir: str):
    """The version's OPQ rotation as a d x d numpy matrix, or None for
    a plain-PQ index (no rotation artifact persisted)."""
    import numpy as np

    rdir = os.path.join(vdir, "rotation.parquet")
    if not os.path.exists(rdir):
        return None
    rows = spark.read.schema(_ROTATION_DDL).parquet(rdir).collect()
    R = np.zeros((len(rows), len(rows)))
    for r in rows:
        R[r.i] = r.row
    return R


def _referenced_versions(path: str) -> set[str]:
    """Version-directory names the LIVE version's manifest chain still
    references (itself included) — these must survive a vacuum even
    though CURRENT does not point at them (an appended version reads
    its ancestors' vector files in place)."""
    try:
        vdir = _current_version_dir(path)
    except ValueError:
        return set()
    live = {os.path.basename(vdir)}
    m = _read_manifest(path, vdir)
    for root in m.vector_roots + m.tombstone_roots:
        rel = os.path.relpath(root, path)
        live.add(rel.split(os.sep)[0])
    return live


def vacuum_index(
    path: str,
    grace_seconds: float = 24 * 3600,
    drop_all: bool = False,
    dry_run: bool = False,
) -> list[str]:
    """Delete version directories the CURRENT pointer no longer
    references (the rebuild residue). Returns removed version names.
    ``dry_run=True`` returns what WOULD be removed without deleting —
    the reclaimability audit (e.g. proving a compaction released its
    ancestor chain while keeping the old versions pinnable).

    ``grace_seconds`` is the same retention-window guard the lake's
    vacuum uses: a version directory younger than the window is never
    swept, so a concurrent :func:`build_ivf_index` that has written its
    new ``v_*`` dir but not yet swapped CURRENT can't have it deleted
    out from under it (which would leave CURRENT pointing at a missing
    directory). Pass ``grace_seconds=0`` only when no rebuild can be
    in flight.

    ``drop_all=True`` retires the ENTIRE index (CURRENT included) —
    the content-drift case where the corpus fingerprint changed and
    this tag directory can never be served again. The whole tree is
    removed once its newest entry is older than the grace window; a
    reader that opened CURRENT inside the window is never pulled out
    from under."""
    import shutil
    import time

    cutoff = time.time() - grace_seconds
    if drop_all:
        if not os.path.isdir(path):
            return []
        newest = max(
            (
                os.path.getmtime(os.path.join(path, n))
                for n in os.listdir(path)
            ),
            default=os.path.getmtime(path),
        )
        if newest <= cutoff:
            if not dry_run:
                shutil.rmtree(path)
            return [os.path.basename(path)]
        return []

    # every version the live manifest chain references survives, not
    # just the one CURRENT names — an appended version reads its
    # ancestors' vector files in place (see _referenced_versions)
    live = _referenced_versions(path)
    removed = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if (
            name.startswith("v_")
            and name not in live
            and os.path.isdir(full)
            and os.path.getmtime(full) <= cutoff
        ):
            if not dry_run:
                shutil.rmtree(full)
            removed.append(name)
    return removed


def build_ivf_index(
    emb: DataFrame, path: str, n_cells: int = N_CELLS,
    meta_cols: tuple = (), lake_version: int | None = None,
) -> int:
    """Train the coarse quantizer (deterministic sample, O(1) in corpus
    size), assign every vector to its nearest cell (one BLAS
    mapInPandas pass, no shuffle), and persist a complete NEW index
    version, then atomically swap the CURRENT pointer — rebuild-in-place
    is safe under concurrent readers. Returns the cell count actually
    used (clamped on tiny corpora).

    ``meta_cols`` stores extra metadata columns alongside each vector
    row (the filtered-ANN shape: a label/language/license column the
    serving path can mask on INSIDE the probed cells, e.g.
    :func:`hard_negative_query_index` — joining metadata back per query
    would shuffle the candidate set every probe)."""
    import numpy as np

    spark = emb.sparkSession
    emb_d = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        *meta_cols,
    )
    sample_rows = (
        emb_d.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(QUANTIZER_SAMPLE)
        .select("emb")
        .collect()
    )
    centroids = _fit_cells([r.emb for r in sample_rows], n_cells)
    n_cells = len(centroids)
    assigned = _assign_cells(emb_d, np.asarray(centroids, dtype=np.float64))
    # fresh immutable version dir; the pointer swap below is the ONLY
    # mutation readers can observe, so a half-failed build never poisons
    # the path (its unreferenced v_ dir is vacuum_index residue) and a
    # racing reader never pairs old centroids with new vectors
    version = f"v_{uuid.uuid4().hex[:12]}"
    vdir = os.path.join(path, version)
    assigned.write.partitionBy("cell").parquet(f"{vdir}/vectors")
    spark.createDataFrame(
        list(enumerate(centroids)), _CENTROIDS_DDL
    ).write.parquet(f"{vdir}/centroids.parquet")
    _write_index_manifest(vdir, [f"{version}/vectors"], lake_version)
    os.makedirs(path, exist_ok=True)
    _publish_current(path, version)
    return n_cells


def _write_index_manifest(
    vdir: str,
    roots: list[str],
    lake_version: int | None = None,
    tombstone_roots: list[str] | None = None,
) -> None:
    m: dict = {"vector_roots": roots}
    if tombstone_roots:
        # merge-on-read vector deletion (round 10): vec_ids listed by
        # any tombstone root are anti-joined out of every probe on this
        # version; compaction drops the rows physically and clears the
        # list. The lake_delete_keys design applied to the index.
        m["tombstone_roots"] = tombstone_roots
    if lake_version is not None:
        # snapshot-consistency pin (round 10, verdict #4): the LAKE
        # version whose rows this index version was built/appended
        # from. A reader pairing this index version with any other lake
        # snapshot is measurably stale — index_lake_consistency attests
        # the set equality and surfaces the lag.
        m["lake_version"] = int(lake_version)
    with open(os.path.join(vdir, "manifest.json"), "w") as f:
        json.dump(m, f)


def index_lake_version(path: str, version: str | None = None) -> int | None:
    """The lake version recorded in an index version's manifest (None
    for indexes built without the pin, or pre-manifest versions).
    ``version`` pins a specific version directory; default CURRENT."""
    return _read_manifest(path, _version_dir(path, version)).lake_version


def _meta_schema(df: DataFrame, meta: "tuple | list") -> str:
    """DDL suffix (``, label string``) of ``df``'s metadata columns."""
    return "".join(f", {c} {t}" for c, t in df.dtypes if c in meta)


def _assign_cells(emb_d: DataFrame, cents) -> DataFrame:
    """(vec_id, emb, *meta) rows with their nearest ``cents`` cell."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ivf_assign_fn,
    )

    meta = [c for c in emb_d.columns if c not in _CORE_COLS]
    return emb_d.mapInPandas(
        ivf_assign_fn(cents),
        f"vec_id bigint, emb array<double>{_meta_schema(emb_d, meta)}, "
        "cell int",
    )


def _append_input(emb_new: DataFrame, path: str, vdir: str) -> DataFrame:
    """An appended batch as (vec_id, emb, *meta): the metadata columns
    (``meta_cols``) the version's rows carry — read from one root's
    schema — are PRESERVED, so the batch must carry them (round-10
    review: append used to silently strip the label column a
    filtered-ANN index depends on)."""
    root = _vector_roots(path, vdir)[0]
    meta = [
        c
        for c in emb_new.sparkSession.read.parquet(root).columns
        if c not in _CORE_COLS
    ]
    missing = [c for c in meta if c not in emb_new.columns]
    if missing:
        raise ValueError(
            f"index at {path} stores metadata columns {meta} but the "
            f"appended batch lacks {missing} — an append must carry the "
            "filtered-ANN metadata or later label-filtered probes break"
        )
    return emb_new.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        *meta,
    )


def append_ivf_index(
    emb_new: DataFrame, path: str, lake_version: int | None = None
) -> int:
    """Incremental index maintenance: fold a NEW vector batch into the
    served index WITHOUT rebuilding — the streaming-ingest shape (a
    daily crawl lands; re-encoding the existing 100 TB to admit 0.1 TB
    is the thing this avoids). The coarse quantizer stays FROZEN (the
    standard IVF append: assignment uses the live centroids, so probes
    keep meaning the same cells; quantizer drift is what
    ann_index_drift monitors and a full rebuild repairs). The new batch
    is assigned and written as a new version whose manifest references
    every ancestor vector root IN PLACE plus its own — no data copied,
    and the CURRENT swap stays atomic under readers. Prior versions
    keep serving their exact snapshot (their manifests never change);
    vacuum keeps every version the live chain references. Returns the
    number of vector roots the new version serves."""
    vdir = _current_version_dir(path)
    emb_d = _append_input(emb_new, path, vdir)
    cents = _load_centroids(emb_new.sparkSession, vdir)
    assigned = _assign_cells(emb_d, cents)
    version = f"v_{uuid.uuid4().hex[:12]}"
    new_vdir = os.path.join(path, version)
    assigned.write.partitionBy("cell").parquet(f"{new_vdir}/vectors")
    # single-winner publish: two appends racing under last-writer-wins
    # would both chain from the same parent and the loser's batch would
    # silently vanish (round-8 advice). On a lost CAS, re-chaining is
    # safe exactly when the quantizer is unchanged (a sibling append
    # copies centroids byte-for-byte; a rebuild retrains them) — then
    # the manifest is rewritten against the new live chain and the swap
    # retried; a landed rebuild means our cell assignments are stale, so
    # fail and let the caller re-append against the new index.
    _rechain_publish(
        path,
        vdir,
        new_vdir,
        ("centroids.parquet",),
        lake_version,
        own_root=f"{version}/vectors",
    )
    return len(_vector_roots(path, new_vdir))


def delete_from_ivf_index(
    vec_ids: DataFrame, path: str, lake_version: int | None = None
) -> int:
    """MERGE-ON-READ vector deletion — the index half of an erasure
    request (the lake half is ``lake_delete_keys``): write the deleted
    vec_ids as a TOMBSTONE root in a new chained version (O(deleted)
    write — never a rewrite of the 100 TB vector set), and every probe
    of this and later versions anti-joins them out before scoring.
    Ancestor versions still serve their exact snapshot (time travel —
    an erasure's physical removal deadline is vacuum's job, serving
    correctness is this function's). Appends CARRY the tombstone roots
    (a later batch cannot resurrect deleted vectors) and
    :func:`compact_ivf_index` folds them: tombstoned rows are dropped
    physically and the compacted manifest carries none. Same
    single-winner CAS publish as an append; the quantizer is untouched
    (copied), so a lost race against a sibling append safely
    re-chains. Returns the number of pending tombstone roots."""
    vdir = _current_version_dir(path)
    version = f"v_{uuid.uuid4().hex[:12]}"
    new_vdir = os.path.join(path, version)
    vec_ids.select("vec_id").distinct().write.parquet(
        f"{new_vdir}/tombstones"
    )
    # a tombstone version adds NO vector root of its own: its roots are
    # exactly the chain it lands on
    _rechain_publish(
        path,
        vdir,
        new_vdir,
        ("centroids.parquet",),
        lake_version,
        own_tombstone_root=f"{version}/tombstones",
    )
    return len(_tombstone_roots(path, new_vdir))


def _rechain_publish(
    path: str,
    parent_vdir: str,
    new_vdir: str,
    artifacts: tuple[str, ...],
    lake_version: int | None,
    own_root: str | None = None,
    own_tombstone_root: str | None = None,
) -> None:
    """Publish ``new_vdir`` as a version chained onto the live one: the
    CAS-publish-with-sibling-re-chain loop shared by the IVF and IVF-PQ
    appends and (since round 10) tombstone deletions.

    The frozen quantizer ``artifacts`` are copied from ``parent_vdir``
    so the new version stays self-describing (tiny — one row per cell
    or codeword). Every attempt then writes the manifest chained onto
    its parent: the parent's vector and tombstone roots plus
    ``own_root`` / ``own_tombstone_root``, and ``lake_version`` — None
    carries the first parent's pin, because rows appended from outside
    the lake protocol leave the recorded snapshot unchanged (None stays
    None for never-pinned indexes). A lost swap re-chains onto whatever
    version is live as long as its artifacts are byte-identical (sibling
    appends copy them); a rebuild retrains them and makes this
    version's assignments stale — fail loudly."""
    import shutil
    import time

    for artifact in artifacts:
        shutil.copytree(
            os.path.join(parent_vdir, artifact),
            os.path.join(new_vdir, artifact),
        )
    if lake_version is None:
        lake_version = _read_manifest(path, parent_vdir).lake_version
    version = os.path.basename(new_vdir)
    own = [own_root] if own_root is not None else []
    own_tomb = [own_tombstone_root] if own_tombstone_root else []
    for _attempt in range(5):
        parent = _read_manifest(path, parent_vdir)
        _write_index_manifest(
            new_vdir,
            [os.path.relpath(r, path) for r in parent.vector_roots] + own,
            lake_version,
            [os.path.relpath(r, path) for r in parent.tombstone_roots]
            + own_tomb,
        )
        try:
            _publish_current(
                path, version, expect_parent=os.path.basename(parent_vdir)
            )
            return
        except ConcurrentIndexMutation:
            time.sleep(0.05)
            live_vdir = _current_version_dir(path)
            if os.path.basename(live_vdir) == version:
                return  # our own swap actually landed
            if _quantizer_fingerprint(
                live_vdir, artifacts
            ) != _quantizer_fingerprint(new_vdir, artifacts):
                raise ConcurrentIndexMutation(
                    "a rebuild retrained the quantizer while this append "
                    "was in flight; its assignments are stale — re-run "
                    "the append against the new index"
                ) from None
            parent_vdir = live_vdir
    raise ConcurrentIndexMutation(
        f"append at {path} lost the publish race repeatedly"
    )


def _quantizer_fingerprint(vdir: str, dirs: tuple[str, ...]) -> str:
    """Content hash of a version's quantizer artifact files (centroid
    table; plus PQ codebooks for the PQ layout). Appends COPY their
    parent's artifacts byte-for-byte (frozen quantizer), rebuilds write
    fresh files — so fingerprint equality is exactly 'same quantizer',
    which is the re-chain-safety condition above."""
    import hashlib

    h = hashlib.sha256()
    for d in dirs:
        cdir = os.path.join(vdir, d)
        for name in sorted(os.listdir(cdir)):
            full = os.path.join(cdir, name)
            if name.startswith((".", "_")) or not os.path.isfile(full):
                continue
            h.update(f"{d}/{name}".encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def chain_length(path: str) -> int:
    """Number of vector roots the live version serves — 1 for a fresh
    build/compaction, +1 per append since. The compaction trigger's
    input."""
    return len(_vector_roots(path, _current_version_dir(path)))


def compact_ivf_index(
    spark: SparkSession, path: str, n_cells: int = N_CELLS
) -> int:
    """The maintenance rung :func:`append_ivf_index` needs to stay
    healthy (round-8 verdict #2): appends chain versions (per-probe
    directory fan-out grows per append) and FREEZE the coarse quantizer
    at epoch 0 while the corpus drifts — ``ann_index_drift`` measures
    the recall decay that causes. Compaction is the index analog of
    ``lake_compact``: RE-TRAIN the quantizer on the grown corpus (read
    from the chain itself — no source-table dependency), re-assign
    every vector, and publish a single-root version. The publish is the
    single-winner CAS: an append landing mid-compaction wins and the
    compaction fails loudly (its batch would otherwise vanish) — rerun
    it. Ancestors stay pinnable by version name until
    :func:`vacuum_index` sweeps them (post-compaction they are
    unreferenced, so the sweep reclaims the whole chain). Returns the
    new chain length (always 1).

    Scale shape: one union scan of the chain roots (each
    partition-parallel), the same O(1)-driver quantizer sample as
    :func:`build_ivf_index`, one assignment pass, one partitioned
    write. Readers never block: they keep their resolved snapshot."""
    import numpy as np

    vdir = _current_version_dir(path)
    parent = os.path.basename(vdir)
    # the fold: tombstoned vectors are dropped PHYSICALLY here and the
    # compacted manifest carries no tombstone roots; metadata columns
    # ride along
    vecs = _live_rows(spark, path, vdir).drop("cell")

    sample_rows = (
        vecs.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(QUANTIZER_SAMPLE)
        .select("emb")
        .collect()
    )
    centroids = _fit_cells([r.emb for r in sample_rows], n_cells)
    assigned = _assign_cells(vecs, np.asarray(centroids, dtype=np.float64))
    version = f"v_{uuid.uuid4().hex[:12]}"
    new_vdir = os.path.join(path, version)
    assigned.write.partitionBy("cell").parquet(f"{new_vdir}/vectors")
    spark.createDataFrame(
        list(enumerate(centroids)), _CENTROIDS_DDL
    ).write.parquet(f"{new_vdir}/centroids.parquet")
    # compaction rewrites the SAME rows, so the recorded lake snapshot
    # carries forward unchanged
    _write_index_manifest(
        new_vdir, [f"{version}/vectors"], index_lake_version(path, parent)
    )
    # CAS, no re-chain fallback: compaction rewrote a SPECIFIC chain;
    # if CURRENT moved, the compacted version is missing the rival's
    # batch and must not serve — its dir becomes vacuum residue
    _publish_current(path, version, expect_parent=parent)
    return 1


COMPACT_MAX_CHAIN = 4


def compact_if_needed(
    spark: SparkSession, path: str, max_chain: int = COMPACT_MAX_CHAIN
) -> bool:
    """Chain-length compaction trigger: compact when the live version
    references more than ``max_chain`` vector roots. The cadence knob a
    daily-append deployment runs after each append (the free check —
    :func:`compact_if_drifted` is the measured alternative when a truth
    probe is affordable). Returns whether a compaction ran."""
    if chain_length(path) <= max_chain:
        return False
    compact_ivf_index(spark, path)
    return True


DRIFT_GAP_MAX = 0.1


def compact_if_drifted(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    max_gap: float = DRIFT_GAP_MAX,
    nprobe: int = NPROBE,
) -> bool:
    """Drift-bound compaction trigger — the measured sibling of
    :func:`compact_if_needed`, wiring ``ann_index_drift``'s recall-gap
    diagnostic into the maintenance decision: answer one bounded probe
    batch three ways (the SERVED chained index; a FRESH in-query IVF
    whose quantizer is re-trained on today's corpus — exactly what a
    compaction would serve, without persisting anything; exact brute
    force as truth) and compact only when the fresh path's recall
    exceeds the served path's by more than ``max_gap``. Costs one
    brute-force probe over ``corpus`` for ``N_QUERIES`` queries — run
    it on the append cadence, not per query. Returns whether a
    compaction ran.

    What this repairs is QUANTIZER drift — stale cell boundaries over
    data the chain already contains (the append contract freezes the
    quantizer). A gap caused by vectors never appended at all is an
    ingestion failure compaction cannot fix: the rewrite only re-trains
    and re-assigns what the chain holds — if the trigger keeps firing
    after a compaction, look at the feed, not the index."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ann_topk_bruteforce,
        ivf_topk,
    )

    emb_d = corpus.select("vec_id", "embedding")
    q = emb_d.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    truth = ann_topk_bruteforce(corpus).select("query_id", "neighbor_id")
    n_truth = truth.count()
    if n_truth == 0:
        return False

    def hits(df: DataFrame) -> int:
        return (
            df.select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"], "leftsemi")
            .count()
        )

    served = hits(ivf_query_index(spark, path, q, nprobe=nprobe))
    fresh = hits(ivf_topk(corpus, nprobe=nprobe))
    if (fresh - served) / n_truth <= max_gap:
        return False
    compact_ivf_index(spark, path)
    return True


def ivf_query_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    nprobe: int = NPROBE,
    top_k: int = TOP_K,
    version: str | None = None,
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Answer a (query_id, emb) batch against a persisted index.

    The centroid table is tiny (one row per cell) — collected, the
    probed cells per query are a driver-side numpy matmul (the same
    probe-assignment shape as ivf_topk). The vector scan then carries
    ``cell IN (probed)``, which partition pruning resolves to directory
    selection — the corpus outside the probed cells is never opened;
    an appended index unions its manifest's vector roots, pruned per
    root. Scoring is one BLAS mapInPandas pass with the (small) query
    matrix in the closure; the global top-k is the shared tree reduce.
    ``version`` pins a specific version directory (time travel — e.g.
    the pre-append snapshot); default is the CURRENT pointer.

    ``exclude_label_col`` (round 10 — filtered ANN): name of a metadata
    column the index stores per vector (``build_ivf_index(...,
    meta_cols=...)``); ``queries`` must then carry a ``label`` column,
    and candidates sharing the query's label are masked out INSIDE the
    probed-cell scan, BEFORE the per-partition top-k — the served form
    of hard-negative mining, where post-hoc filtering of an unfiltered
    top-k would starve queries whose near neighbors are mostly
    same-label."""
    import numpy as np

    if exclude_label_col is not None and "label" not in queries.columns:
        # fail the contract loudly (ADVICE r10): without this, the
        # first r.label read below dies with a bare AttributeError
        raise ValueError(
            "exclude_label_col requires the query frame to carry a "
            f"'label' column; got columns {queries.columns}"
        )
    vdir = _version_dir(path, version)
    cents = _load_centroids(spark, vdir)

    q_rows = queries.collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rn BIGINT"
        )
    qmat = np.vstack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    qids = np.asarray([int(r.query_id) for r in q_rows])
    qlabels = (
        # labels compare in their OWN dtype (round-10 review): int(...)
        # coercion crashed on string labels and, worse, silently
        # disabled the mask for digit-string labels (int 3 != '3' is
        # always True); queries carry the label under the column name
        # 'label' whatever the index-side metadata column is called
        np.asarray([r.label for r in q_rows])
        if exclude_label_col is not None
        else None
    )
    cell_probes = _plan_probes(qmat, cents, nprobe)
    vecs = _live_rows(spark, path, vdir, cells=sorted(cell_probes))
    if exclude_label_col is not None and exclude_label_col not in vecs.columns:
        raise ValueError(
            f"index at {path} stores no {exclude_label_col!r} metadata "
            "column — build it with build_ivf_index(..., meta_cols=("
            f"{exclude_label_col!r},)) to serve label-filtered queries"
        )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for c, grp in pdf.groupby("cell", sort=False):
                probes = cell_probes.get(int(c))
                if not probes:
                    continue
                x = np.vstack(grp["emb"].to_numpy()).astype(np.float64)
                xn = x / np.maximum(
                    np.linalg.norm(x, axis=1, keepdims=True), 1e-12
                )
                sims = qmat[probes] @ xn.T
                ids = grp["vec_id"].to_numpy()
                labels = (
                    grp[exclude_label_col].to_numpy()
                    if qlabels is not None
                    else None
                )
                for row, qi in enumerate(probes):
                    mask = ids != qids[qi]
                    if qlabels is not None:
                        mask &= labels != qlabels[qi]
                    if not mask.any():
                        continue
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qids[qi],
                                "neighbor_id": ids[mask],
                                "cosine": np.round(sims[row][mask], 6),
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = vecs.mapInPandas(
        score, "query_id bigint, neighbor_id bigint, cosine double"
    )
    return global_topk(scored, top_k)


# ---------------------------------------------------------------------------
# Index–lake snapshot consistency (round 10, verdict #4): corpus_refresh
# MERGEs the lake and appends the index as separate protocol steps, so a
# reader landing between them pairs a lake snapshot with an index that
# does not hold its vectors (or vice versa). The contract that makes the
# window harmless: every index version RECORDS the lake version it was
# built/appended from, the recorded pairing stays exactly reproducible
# via time travel even after later MERGEs, and the freshness lag is a
# measured number (the ann_index_drift pattern applied to freshness).
# ---------------------------------------------------------------------------
def served_vec_ids(
    spark: SparkSession, path: str, version: str | None = None
) -> DataFrame:
    """The vec_id set an index version actually serves (union of its
    manifest's vector roots — metadata-only columns pruned at scan)."""
    return _live_rows(spark, path, _version_dir(path, version)).select(
        "vec_id"
    )


def _ids_match(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of two vec_id frames — ONE signed-tag action
    (r14; operators/attest.multiset_eq) instead of count + count +
    exceptAll, same NULL/NaN semantics."""
    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        multiset_eq,
    )

    return multiset_eq(a, b)


def index_lake_consistency(
    spark: SparkSession, e: DataFrame, workdir: str
) -> DataFrame:
    """The refresh protocol's index/lake interleave, attested: commit
    the base corpus to a versioned lake (v1), build the index recording
    lake_version=1, MERGE the increment (lake v2 — the index is now
    measurably 1 version behind), then append the increment to the
    index recording lake_version=2. Measured on the artifacts:

    - ``consistent_at_recorded_ok``: BETWEEN the MERGE and the append,
      the served index's vec set still equals the lake AT ITS RECORDED
      VERSION (time travel) — the recorded pairing is reproducible, so
      a reader that joins index results to lake rows must read the
      recorded snapshot, not latest;
    - ``lag_before``/``lag_after``: current lake version minus the
      index's recorded version — 1 inside the protocol window, 0 after
      the append closes it;
    - ``consistent_after_append_ok``: after the append, served ==
      lake@v2 — the appended index serves exactly the post-MERGE
      snapshot.

    Scale shape: two bounded set-equality checks on vec_id columns
    (metadata-pruned scans), one anti-join to derive the increment FROM
    the lake versions (the protocol never trusts a side channel for
    what changed), and the usual bounded index collects."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_commit,
        lake_merge_upsert,
        lake_read,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        INCREMENT_SPLIT,
    )

    emb = e.select("vec_id", "embedding")
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cut = int(lo) + int((int(hi) - int(lo)) * INCREMENT_SPLIT)
    lake_path = os.path.join(workdir, "emb_lake")
    idx = os.path.join(workdir, "idx")

    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        parallel_vals,
    )

    lake_commit(emb.where(F.col("vec_id") < cut), lake_path)  # v1
    # the index build (writes idx only) and the base count (read-only
    # over the settled v1) overlap (r14, guide §2.6)
    _, n_base = parallel_vals(
        lambda: build_ivf_index(
            lake_read(spark, lake_path, 1), idx, lake_version=1
        ),
        lambda: lake_read(spark, lake_path, 1).count(),
    )

    lake_merge_upsert(
        spark, lake_path, emb.where(F.col("vec_id") >= cut), "vec_id"
    )  # v2
    rec = index_lake_version(idx)
    lag_before = current_version(lake_path) - rec

    def _increment() -> DataFrame:
        # the increment is derived from the LAKE's own versions; pinned
        # EAGERLY in its own thunk — it feeds the count and the append
        return lake_read(spark, lake_path, 2).join(
            lake_read(spark, lake_path, 1).select("vec_id"),
            "vec_id",
            "left_anti",
        ).localCheckpoint(eager=True)

    # the recorded-version equality (read-only over idx + lake@rec)
    # and the increment derivation are independent — overlapped
    consistent_at_recorded, new_rows = parallel_vals(
        lambda: _ids_match(
            served_vec_ids(spark, idx),
            lake_read(spark, lake_path, rec).select("vec_id"),
        ),
        _increment,
    )
    n_batch = new_rows.count()
    append_ivf_index(new_rows, idx, lake_version=2)
    lag_after = current_version(lake_path) - index_lake_version(idx)
    consistent_after = _ids_match(
        served_vec_ids(spark, idx),
        lake_read(spark, lake_path, 2).select("vec_id"),
    )
    return spark.createDataFrame(
        [
            (
                int(n_base),
                int(n_batch),
                int(n_base + n_batch),
                int(lag_before),
                int(lag_after),
                bool(consistent_at_recorded),
                bool(consistent_after),
            )
        ],
        "n_base BIGINT, n_batch BIGINT, n_total BIGINT, "
        "lag_before BIGINT, lag_after BIGINT, "
        "consistent_at_recorded_ok BOOLEAN, consistent_after_append_ok "
        "BOOLEAN",
    )


def _consistency_sql() -> str:
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        INCREMENT_SPLIT,
    )

    return f"""
    WITH b AS (
      SELECT MIN(vec_id) + CAST(FLOOR((MAX(vec_id) - MIN(vec_id))
               * {INCREMENT_SPLIT}) AS BIGINT) AS cut
      FROM embeddings
    )
    SELECT (SELECT COUNT(*) FROM embeddings, b WHERE vec_id < cut)
             AS n_base,
           (SELECT COUNT(*) FROM embeddings, b WHERE vec_id >= cut)
             AS n_batch,
           (SELECT COUNT(*) FROM embeddings) AS n_total,
           CAST(1 AS BIGINT) AS lag_before,
           CAST(0 AS BIGINT) AS lag_after,
           TRUE AS consistent_at_recorded_ok,
           TRUE AS consistent_after_append_ok
    """


@register("index_lake_consistency", _consistency_sql())
def q_index_lake_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="graft_idx_lake_")
    try:
        return index_lake_consistency(spark, e, tmp)
    finally:
        # the result is a driver-local literal row
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Index-staleness drift monitor: the SERVED (epoch-0) index answered
# against the FULL (drifted) corpus, measured against brute-force truth
# ---------------------------------------------------------------------------
N_DRIFT_QUERIES = 10

_DRIFT_SQL = f"""
    SELECT CAST({N_DRIFT_QUERIES} AS BIGINT) AS n_queries,
           TRUE AS served_ids_stale_only,
           TRUE AS fresh_finds_drifted,
           TRUE AS drift_gain_ok
"""


def ann_index_drift(
    spark: SparkSession,
    e: DataFrame,
    index_path: str,
    top_k: int = TOP_K,
    n_queries: int = N_DRIFT_QUERIES,
) -> DataFrame:
    """Index-staleness as a monitored number — the refresh-loop health
    check a serving deployment runs per epoch. The corpus is split into
    an indexed SNAPSHOT (even vec_ids — epoch 0) and the drifted full
    corpus (odd ids arrived after the build). The same query batch is
    answered three ways: the persisted snapshot index
    (:func:`ivf_query_index` — what production serves), a fresh
    in-query IVF over the full corpus (what a rebuild would serve), and
    exact brute force over the full corpus (truth). Folded guarantees,
    all verified on the actual result sets:

    - ``served_ids_stale_only``: the served index can only ever return
      snapshot members (structural — the build saw no odd id);
    - ``fresh_finds_drifted``: the rebuilt path surfaces post-snapshot
      neighbors the served index cannot;
    - ``drift_gain_ok``: mean recall@k vs truth of the rebuilt path is
      >= the served path's (a rebuild never loses ground).

    Scale shape: the index build is one assignment pass over the
    snapshot + a partitioned write; serving scans only probed cells
    (partition pruning); truth is the two-stage tree-reduced brute
    force; recall arithmetic is exact integer counts over k·n_queries
    rows. Driver collects stay bounded: query batch + centroids."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ann_topk_bruteforce,
        ivf_topk,
    )

    emb_d = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    snapshot = emb_d.where(F.col("vec_id") % 2 == 0)
    # the SERVED index is the pre-existing epoch-0 snapshot — build it
    # only when absent (its content is deterministic per corpus, so an
    # existing CURRENT is exactly the index a prior epoch published;
    # rebuilding per probe would contradict the staleness story and
    # triple the monitor's cost)
    if not os.path.exists(os.path.join(index_path, "CURRENT")):
        build_ivf_index(
            snapshot.select(
                "vec_id", F.col("emb").alias("embedding")
            ),
            index_path,
        )
    q = emb_d.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    served = ivf_query_index(spark, index_path, q, top_k=top_k).select(
        "query_id", "neighbor_id"
    )
    fresh = ivf_topk(e, top_k=top_k, n_queries=n_queries).select(
        "query_id", "neighbor_id"
    )
    truth = ann_topk_bruteforce(e, top_k=top_k, n_queries=n_queries).select(
        F.col("query_id").alias("t_query_id"),
        F.col("neighbor_id").alias("t_neighbor_id"),
    )

    def recall_hits(path: DataFrame) -> DataFrame:
        return path.join(
            truth,
            (F.col("query_id") == F.col("t_query_id"))
            & (F.col("neighbor_id") == F.col("t_neighbor_id")),
            "leftsemi",
        ).agg(F.count(F.lit(1)).alias("hits"))

    served_stats = served.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("neighbor_id") % 2 != 0, 1).otherwise(0)
        ).alias("odd"),
    )
    fresh_odd = fresh.agg(
        F.sum(
            F.when(F.col("neighbor_id") % 2 != 0, 1).otherwise(0)
        ).alias("odd")
    )
    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        parallel_vals,
    )

    # five independent read-only verdict actions — one overlapped pool
    # (r14, guide §2.6); no lazy checkpoint is shared across thunks
    sh, fh, srow, f_odd, nq = parallel_vals(
        lambda: recall_hits(served).collect()[0].hits,
        lambda: recall_hits(fresh).collect()[0].hits,
        lambda: served_stats.collect()[0],
        lambda: fresh_odd.collect()[0].odd,
        lambda: q.count(),
    )
    return spark.createDataFrame(
        [
            (
                int(nq),
                int(srow.odd or 0) == 0,
                int(f_odd or 0) > 0,
                int(fh) >= int(sh),
            )
        ],
        "n_queries BIGINT, served_ids_stale_only BOOLEAN, "
        "fresh_finds_drifted BOOLEAN, drift_gain_ok BOOLEAN",
    )


def _user_index_root() -> str:
    """Per-user scratch root for served indexes, squat-proof: created
    0o700 under the system tempdir, and REJECTED if an entry with that
    name already exists but is owned by someone else (a hostile
    pre-created directory on a shared machine must never be written
    into or rmtree'd)."""
    import stat as stat_mod
    import tempfile

    parent = os.path.join(
        tempfile.gettempdir(), f"spark_graft_idx_u{os.getuid()}"
    )
    os.makedirs(parent, mode=0o700, exist_ok=True)
    # lstat, not stat: stat follows symlinks, so a hostile pre-created
    # symlink owned by us-after-makedirs (or pointing at a victim dir we
    # own elsewhere) would pass an os.stat ownership check while
    # redirecting every index write AND the prefix-matched rmtree sweep
    # into an attacker-chosen location (round-7 advice). Require a real
    # directory, owned by us, with no group/other access.
    st = os.lstat(parent)
    if (
        stat_mod.S_ISLNK(st.st_mode)
        or not stat_mod.S_ISDIR(st.st_mode)
        or st.st_uid != os.getuid()
        or (st.st_mode & 0o077) != 0
    ):
        raise RuntimeError(
            f"{parent} exists but is a symlink, not a 0o700 directory, "
            "or not owned by this user — refusing to serve an ANN index "
            "from a squattable directory"
        )
    return parent


def _corpus_tag(build_input: DataFrame, salt: str) -> str:
    """Content fingerprint for a served-index path: row count + id
    bounds + id sum of the BUILD INPUT in one aggregate. Keying the
    index directory on corpus CONTENT (not just the dataset path
    string) means regenerated data at the same path can never silently
    reuse an index built from the old corpus; the format salt retires
    indexes published by older layouts after a code change."""
    import hashlib

    fp = build_input.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("vec_id").alias("mx"),
        F.sum("vec_id").alias("sm"),
    ).collect()[0]
    return hashlib.md5(
        f"{salt}|n{fp.n}|mx{fp.mx}|sm{fp.sm}|fmt1".encode()
    ).hexdigest()[:10]


def _sweep_stale_tags(path: str, prefix: str) -> None:
    """Reclaim SIBLING tag directories of ``path`` (same query family,
    different corpus fingerprint — the residue content drift leaves
    behind) past the vacuum grace window. The live tag itself is never
    touched: build-once-reuse serves it across repeated runs."""
    root = os.path.dirname(path)
    for entry in os.listdir(root):
        sib = os.path.join(root, entry)
        if entry.startswith(prefix) and sib != path:
            vacuum_index(sib, grace_seconds=3600, drop_all=True)


@register("ann_index_drift", _DRIFT_SQL)
def q_ann_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e.where(F.col("vec_id") % 2 == 0), sf_dir)
    path = os.path.join(_user_index_root(), f"drift_idx_{tag}")
    out = ann_index_drift(spark, e, path)
    _sweep_stale_tags(path, "drift_idx_")
    return out


# ---------------------------------------------------------------------------
# kNN label probe over the SERVED index — the embedding-quality eval on
# the 100 TB path (knn_label_accuracy's brute-force search swapped for
# the persisted, partition-pruned IVF index)
# ---------------------------------------------------------------------------
_KNN_IVF_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb, label
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, q.label AS true_label, e.vec_id AS neighbor_id,
             e.label AS n_label,
             ROUND(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]),
                   6) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, n_label, COUNT(*) AS n_votes
      FROM ranked WHERE rn <= {TOP_K}
      GROUP BY query_id, true_label, n_label
    ),
    best AS (
      SELECT query_id, true_label, n_label AS predicted_label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_votes DESC, n_label) AS vr
      FROM votes
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(CASE WHEN predicted_label = true_label
                          THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS acc_exact,
           TRUE AS served_recall_ok,
           TRUE AS acc_delta_bounded
    FROM best WHERE vr = 1
"""


def knn_label_accuracy_ivf(
    spark: SparkSession,
    e: DataFrame,
    index_path: str,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
    floor: float = IVF_RECALL_FLOOR,
) -> DataFrame:
    """The kNN embedding-quality probe measured on the SERVING path:
    the same majority-vote eval as ``knn_label_accuracy``, but with the
    neighbor search answered by the persisted IVF index
    (:func:`ivf_query_index` — probed-cell partition pruning, the plan
    that survives a corpus brute force can't). One row out:

    - ``acc_exact``: the exact brute-force probe's accuracy — the
      deterministic anchor the oracle reproduces;
    - ``served_recall_ok``: every query's served recall@k clears the
      documented IVF floor (the ``ann_ivf_topk`` guarantee);
    - ``acc_delta_bounded``: |served_correct − exact_correct| <= the
      number of queries whose served top-k differs from truth — a
      MATHEMATICAL invariant (identical neighbor sets vote identically,
      tie-breaks included), so a violation means the vote half itself
      is broken, not that the index is merely stale.

    Scale shape: index build-once + partition-pruned serving; truth is
    the tree-reduced brute force, localCheckpointed because three
    consumers read it (exact vote, recall truth counts, hit join); all
    verdicts are integer algebra folded through scalar aggregates and
    broadcast crossJoins — no window, no driver collect beyond the
    bounded query batch + centroids."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ann_topk_bruteforce,
        knn_vote,
    )

    emb_d = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    if not os.path.exists(os.path.join(index_path, "CURRENT")):
        build_ivf_index(e.select("vec_id", "embedding"), index_path)
    q = emb_d.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    served = ivf_query_index(spark, index_path, q, top_k=top_k).select(
        "query_id", "neighbor_id"
    )
    exact = (
        ann_topk_bruteforce(e, top_k=top_k, n_queries=n_queries)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    pred_exact = knn_vote(exact, e)
    pred_ivf = knn_vote(served, e)
    k_truth = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k_truth")
    )
    hits = (
        served.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    rec_stats = (
        k_truth.join(hits, "query_id", "left")
        .select(
            "k_truth",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        )
        .agg(
            F.min(
                (F.col("n_hits") / F.col("k_truth") >= F.lit(floor)).cast(
                    "int"
                )
            ).alias("min_ok"),
            F.sum(
                (F.col("n_hits") < F.col("k_truth")).cast("int")
            ).alias("n_imperfect"),
        )
    )
    ex_stats = pred_exact.agg(
        F.count(F.lit(1)).alias("n_q"),
        F.sum(F.col("correct").cast("int")).alias("n_corr_exact"),
    )
    ivf_stats = pred_ivf.agg(
        F.sum(F.col("correct").cast("int")).alias("n_corr_ivf")
    )
    return (
        ex_stats.crossJoin(F.broadcast(ivf_stats))
        .crossJoin(F.broadcast(rec_stats))
        .select(
            F.col("n_q").cast("bigint").alias("n_queries"),
            F.round(F.col("n_corr_exact") / F.col("n_q"), 6).alias(
                "acc_exact"
            ),
            (F.col("min_ok") == 1).alias("served_recall_ok"),
            (
                F.abs(F.col("n_corr_ivf") - F.col("n_corr_exact"))
                <= F.col("n_imperfect")
            ).alias("acc_delta_bounded"),
        )
    )


@register("knn_label_accuracy_ivf", _KNN_IVF_SQL)
def q_knn_label_accuracy_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir)
    path = os.path.join(_user_index_root(), f"knn_idx_{tag}")
    out = knn_label_accuracy_ivf(spark, e, path)
    _sweep_stale_tags(path, "knn_idx_")
    return out


# ---------------------------------------------------------------------------
# IVF-served hard-negative mining (round 10, verdict #3): the exact miner
# collects the probe set and ships qmat in a closure — right for a bounded
# probe batch, impossible when the probe set is every training example.
# The served form probes the PERSISTED index with the label mask applied
# to the probed cells' candidates BEFORE the top-k (filtered ANN), so
# corpus-wide mining is a loop of bounded probe batches against one
# built-once index.
# ---------------------------------------------------------------------------
#: the mask removes the query's own (usually nearest) label cluster from
#: the candidate pool, so negatives live farther out in cosine space than
#: plain neighbors do — probe deeper than the unmasked default to keep
#: the same recall floor (measured: nprobe=NPROBE leaves label-crossing
#: queries below floor at sf0.001; doubling it clears the floor at every
#: tested SF while still pruning 2 of 8 cells)
HARDNEG_NPROBE = 2 * NPROBE


def hard_negative_mining_ivf(
    spark: SparkSession,
    e: DataFrame,
    index_path: str,
    top_k: int = HARDNEG_K,
    n_queries: int = N_QUERIES,
    floor: float = IVF_RECALL_FLOOR,
) -> DataFrame:
    """Hard negatives mined on the SERVING path, measured against the
    exact miner: per query, (k_truth, recall_ok) — the ivf_recall_check
    guarantee shape, with truth = :func:`hard_negative_mining` (exact
    BLAS scan, label mask inside the scan). The index stores ``label``
    as a metadata column (``meta_cols`` — the filtered-ANN layout), so
    the mask runs inside the probed-cell mapInPandas pass and never
    joins labels onto candidates at query time.

    Scale shape: build-once labeled index + partition-pruned probes;
    truth and served sides are both n_queries x k rows into the hit
    join; all collects are the bounded query batch + centroids."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        hard_negative_mining,
    )

    if not os.path.exists(os.path.join(index_path, "CURRENT")):
        build_ivf_index(
            e.select("vec_id", "embedding", "label"),
            index_path,
            meta_cols=("label",),
        )
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
        "label",
    )
    served = ivf_query_index(
        spark,
        index_path,
        q,
        nprobe=HARDNEG_NPROBE,
        top_k=top_k,
        exclude_label_col="label",
    ).select("query_id", "neighbor_id")
    truth = (
        hard_negative_mining(e, top_k, n_queries)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)  # feeds k_truth AND the hit join
    )
    k_truth = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_truth")
    )
    hits = (
        served.join(truth, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        k_truth.join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_truth",
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k_truth")
                >= F.lit(floor)
            ).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


_HARDNEG_IVF_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label,
             embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]),
                   6) AS cosine
      FROM q JOIN embeddings e
        ON e.vec_id <> q.query_id AND e.label <> q.q_label
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_truth, TRUE AS recall_ok
    FROM ranked WHERE rn <= {HARDNEG_K}
    GROUP BY query_id
    ORDER BY query_id
"""


@register("hard_negative_mining_ivf", _HARDNEG_IVF_SQL)
def q_hard_negative_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir)
    path = os.path.join(_user_index_root(), f"hneg_idx_{tag}")
    out = hard_negative_mining_ivf(spark, e, path)
    _sweep_stale_tags(path, "hneg_idx_")
    return out


# ---------------------------------------------------------------------------
# Corpus-wide SELF-PROBE hard-negative mining (round 11, verdict #3):
# the contrastive-training shape is probe set == EVERY vector — the
# served path above still driver-collects a bounded probe batch and
# ships the query matrix in a closure, impossible when the probe set is
# the corpus. Here nothing query-sized ever touches the driver: probe
# assignment is a distributed pass over the index's own vectors
# (centroids k x d in the closure, assignment entirely executor-side),
# and scoring is a cell-local COGROUP: probes grouped by (probed cell, query block) meet
# that cell's resident vectors, one BLAS matmul per group, label mask
# before the per-group top-k, global_topk tree reduce. Driver collects:
# the k x d centroid table and bounded protocol scalars — never a
# query matrix.
# ---------------------------------------------------------------------------
#: queries per scoring block — bounds each cogroup's probe matrix
#: (block x d floats) whatever the corpus size; residents are
#: replicated once per block (the distributed blocked-GEMM tradeoff:
#: ceil(n/block) extra resident copies through the shuffle buys
#: executor-memory-bounded kernels)
HARDNEG_QBLOCK = 4096


def hard_negative_mining_corpus(
    spark: SparkSession,
    index_path: str,
    nprobe: int | None = None,
    top_k: int = HARDNEG_K,
    label_col: str = "label",
    q_block: int = HARDNEG_QBLOCK,
    version: str | None = None,
) -> DataFrame:
    """Mine hard negatives for EVERY vector in a labeled IVF index —
    (query_id, neighbor_id, cosine, rn) of the top-k most-similar
    DIFFERENT-label vectors per corpus vector.

    ``nprobe=None`` probes every cell: each (query, resident) pair is
    then scored exactly once (residents are cell-partitioned; probes
    reach each cell once), so the full-probe result EQUALS the exact
    all-pairs miner by construction — the attestable form. A bounded
    ``nprobe`` is the production form: per-vector probed cells are
    computed executor-side with the same (-sim, cell) tie rule as
    :func:`ivf_query_index`, and only the probed cells' residents are
    scored.

    The scoring kernel is the exact miner's
    (:func:`similarity.hard_negative_mining`): identical float
    operation order and half-away round-6, so full-probe output is
    bit-identical to brute force. Self and same-label candidates are
    masked BEFORE the top-k."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators import gram

    vdir = _version_dir(index_path, version)
    cents = _load_centroids(spark, vdir)
    n_cells = len(cents)
    nprobe = n_cells if nprobe is None else min(nprobe, n_cells)

    vecs = _live_rows(spark, index_path, vdir)
    if label_col not in vecs.columns:
        raise ValueError(
            f"index at {index_path} stores no {label_col!r} metadata "
            "column — build it with build_ivf_index(..., meta_cols=("
            f"{label_col!r},)) for corpus-wide hard-negative mining"
        )
    vecs = vecs.select(
        "vec_id", "emb", F.col(label_col).alias("label"), "cell"
    ).localCheckpoint(eager=False)  # feeds the count, probes, residents
    n_vecs = vecs.count()
    n_blocks = max(1, -(-n_vecs // q_block))

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            qn = q / np.maximum(
                np.linalg.norm(q, axis=1, keepdims=True), 1e-12
            )
            sims = qn @ cents.T
            # stable argsort of -sims == the (-sim, cell) tie rule
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            ids = pdf["vec_id"].to_numpy()
            out = []
            for p in range(nprobe):
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": ids,
                            "q_label": pdf["label"].to_numpy(),
                            "q_emb": pdf["emb"].to_numpy(),
                            "probe_cell": order[:, p].astype("int32"),
                            "q_block": (ids % n_blocks).astype("int32"),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    label_t = dict(vecs.dtypes)["label"]
    probes = vecs.mapInPandas(
        assign,
        f"query_id bigint, q_label {label_t}, q_emb array<double>, "
        "probe_cell int, q_block int",
    )
    residents = vecs.withColumn(
        "q_block",
        F.explode(F.array(*[F.lit(i) for i in range(n_blocks)])),
    )

    def score(probes_pdf, res_pdf):
        import pandas as pd

        if not len(probes_pdf) or not len(res_pdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype(
                {"query_id": "int64", "neighbor_id": "int64",
                 "cosine": "float64"}
            )
        qmat = np.vstack(probes_pdf["q_emb"].to_numpy()).astype(np.float64)
        qnrm = np.linalg.norm(qmat, axis=1)
        qids = probes_pdf["query_id"].to_numpy()
        qlabels = probes_pdf["q_label"].to_numpy()
        ids = res_pdf["vec_id"].to_numpy()
        labels = res_pdf["label"].to_numpy()
        x = np.vstack(res_pdf["emb"].to_numpy()).astype(np.float64)
        xn = np.linalg.norm(x, axis=1)
        # IDENTICAL float ops + rounding to the exact miner's kernel —
        # full-probe output must be bit-equal to brute force
        sims = gram.round_half_away((x @ qmat.T) / np.outer(xn, qnrm))
        out = []
        for j in range(len(qids)):
            keep = (ids != qids[j]) & (labels != qlabels[j])
            cand_ids, cand_cos = ids[keep], sims[keep, j]
            if len(cand_ids) > top_k:
                idx = np.lexsort((cand_ids, -cand_cos))[:top_k]
                cand_ids, cand_cos = cand_ids[idx], cand_cos[idx]
            out.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(
                            len(cand_ids), qids[j], dtype="int64"
                        ),
                        "neighbor_id": cand_ids.astype("int64"),
                        "cosine": cand_cos,
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    scored = (
        probes.groupBy("probe_cell", "q_block")
        .cogroup(residents.groupBy("cell", "q_block"))
        .applyInPandas(
            score, "query_id bigint, neighbor_id bigint, cosine double"
        )
    )
    return global_topk(scored, top_k)


_HARDNEG_CORPUS_SQL = f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]), 6)
               AS cosine
      FROM embeddings q JOIN embeddings e
        ON e.vec_id <> q.vec_id AND e.label <> q.label
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn,
           TRUE AS probe_recall_ok
    FROM ranked WHERE rn <= {HARDNEG_K}
    ORDER BY query_id, rn
"""


@register("hard_negative_mining_corpus", _HARDNEG_CORPUS_SQL)
def q_hard_negative_mining_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-probe self-mining over the whole corpus (n_queries ==
    corpus size), value-hashed against the DuckDB all-pairs truth, plus
    a reduced-probe leg: the production nprobe's per-query recall
    against the full-probe truth must clear IVF_RECALL_FLOOR for EVERY
    query — the measured statement that bounded probing is safe for
    this corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir)
    path = os.path.join(_user_index_root(), f"hnegc_idx_{tag}")
    if not os.path.exists(os.path.join(path, "CURRENT")):
        build_ivf_index(
            e.select("vec_id", "embedding", "label"),
            path,
            meta_cols=("label",),
        )
    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        parallel_vals,
    )

    # the full-probe (attested truth) and reduced-probe (production)
    # mining legs are independent read-only pipelines over the same
    # index — overlapped (r14, guide §2.6). Both pinned EAGERLY inside
    # their own thunks: full feeds k_truth + the hit join + the
    # returned rows, reduced feeds the hit join.
    full, reduced = parallel_vals(
        lambda: hard_negative_mining_corpus(spark, path).localCheckpoint(
            eager=True
        ),
        lambda: hard_negative_mining_corpus(
            spark, path, nprobe=HARDNEG_NPROBE
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True),
    )
    k_truth = full.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k_truth")
    )
    hits = (
        reduced.join(
            full.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    recall_ok = bool(
        k_truth.join(hits, "query_id", "left")
        .agg(
            F.min(
                (
                    F.coalesce(F.col("n_hits"), F.lit(0))
                    / F.col("k_truth")
                    >= F.lit(IVF_RECALL_FLOOR)
                ).cast("int")
            ).alias("ok")
        )
        .first()
        .ok
        == 1
    )
    _sweep_stale_tags(path, "hnegc_idx_")
    return full.select(
        "query_id",
        "neighbor_id",
        "cosine",
        "rn",
        F.lit(recall_ok).alias("probe_recall_ok"),
    ).orderBy("query_id", "rn")


#: queries per PQ-mining block — smaller than the flat miner's
#: (each block materializes a (block, m, k) LUT tensor in the kernel:
#: 1024 x 16 x 256 doubles = 32 MB)
HARDNEG_PQ_QBLOCK = 1024
#: probes + shortlist depth for PQ MINING (vs the serving defaults):
#: the label mask discards the near, same-label half of every
#: shortlist, so ADC error needs headroom. Measured per-query-floor
#: sweep (sf0.001 / sf0.01 / sf0.1 / tie-dense replicated 10x lake):
#: (6, 16) and (7, 16) leave misses; (7, 32) clears every real SF but
#: 31/20k on the 10x lake; (8, 32) is WORSE there (13/20k — widening
#: the candidate pool without deepening the shortlist pushes true
#: negatives off it, so nprobe is NOT monotone); (7, 64) clears all
#: but 1/20k on the replicated lake. Rerank depth IS monotone (exact
#: rescoring over a superset shortlist), so (7, 64) dominates (7, 32)
#: everywhere and keeps cell pruning.
HARDNEG_PQ_NPROBE = 7
HARDNEG_PQ_RERANK = 64


def hard_negative_mining_corpus_pq(
    spark: SparkSession,
    index_path: str,
    emb_for_rerank: DataFrame,
    nprobe: int = HARDNEG_PQ_NPROBE,
    top_k: int = HARDNEG_K,
    rerank: int | None = None,
    label_col: str = "label",
    q_block: int = HARDNEG_PQ_QBLOCK,
    version: str | None = None,
) -> DataFrame:
    """Corpus-wide hard-negative mining over the PQ-CODED index — the
    100 TB production shape of :func:`hard_negative_mining_corpus`:
    the scoring join moves 16-byte codes instead of 512-byte float
    vectors (the resident replication per query block shrinks by the
    same 32x), the label mask runs inside the ADC scan, and the float
    table is touched only by the per-pair exact rerank.

    Stages, none of which materializes anything query-sized on the
    driver (collects: centroids k x d, codebooks m x k x d/m):
    1. probe assignment + query embedding fan-out from the SOURCE float
       table (the PQ index stores no floats), executor-side;
    2. cell-local cogroup ADC: each (probed cell, query block) group
       builds its block's lookup tables from the broadcast codebooks
       (block x m x k), gathers code dots, masks self + same-label,
       keeps a per-query shortlist partial;
    3. tree-reduced global shortlist (rerank * top_k per query);
    4. DISTRIBUTED exact rerank: the shortlist joins the float table
       on both sides (query and neighbor) and rescores with the exact
       miner's float-op order and half-away round-6 — so reranked
       cosines are bit-identical to the flat miner's for the same
       pairs; final per-query top-k is the shared tree reduce. (The
       served-batch path's broadcast ``exact_rerank`` would need the
       query matrix in a closure — impossible corpus-wide.)"""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators import gram

    rerank = HARDNEG_PQ_RERANK if rerank is None else rerank
    vdir = _version_dir(index_path, version)
    cents = _load_centroids(spark, vdir)
    nprobe = min(nprobe, len(cents))
    books_arr = _load_books(spark, vdir)  # (m, k, d_sub)
    m, _, d_sub = books_arr.shape
    norms2 = (books_arr**2).sum(axis=2)  # (m, k)

    codes = _live_rows(spark, index_path, vdir)
    if label_col not in codes.columns:
        raise ValueError(
            f"PQ index at {index_path} stores no {label_col!r} metadata "
            "column — build it with build_ivfpq_index(..., meta_cols=("
            f"{label_col!r},)) for corpus-wide hard-negative mining"
        )

    emb_d = emb_for_rerank.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.col(label_col).alias("label"),
    ).localCheckpoint(eager=False)  # feeds count, probes, both rerank legs
    n_vecs = emb_d.count()
    n_blocks = max(1, -(-n_vecs // q_block))
    shortlist_k = rerank * top_k

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            qn = q / np.maximum(
                np.linalg.norm(q, axis=1, keepdims=True), 1e-12
            )
            sims = qn @ cents.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            ids = pdf["vec_id"].to_numpy()
            out = []
            for p in range(nprobe):
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": ids,
                            "q_label": pdf["label"].to_numpy(),
                            # ADC scores against PRE-NORMALIZED queries
                            # (the _adc_score_fn convention: lut dots /
                            # reconstructed norm == cosine estimate)
                            "q_emb": list(qn),
                            "probe_cell": order[:, p].astype("int32"),
                            "q_block": (ids % n_blocks).astype("int32"),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    label_t = dict(emb_d.dtypes)["label"]
    probes = emb_d.mapInPandas(
        assign,
        f"query_id bigint, q_label {label_t}, q_emb array<double>, "
        "probe_cell int, q_block int",
    )
    residents = codes.withColumn(
        "q_block",
        F.explode(F.array(*[F.lit(i) for i in range(n_blocks)])),
    )

    def adc(probes_pdf, res_pdf):
        import pandas as pd

        empty = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "cosine": []}
        ).astype(
            {"query_id": "int64", "neighbor_id": "int64",
             "cosine": "float64"}
        )
        if not len(probes_pdf) or not len(res_pdf):
            return empty
        qn = np.vstack(probes_pdf["q_emb"].to_numpy()).astype(np.float64)
        qids = probes_pdf["query_id"].to_numpy()
        qlabels = probes_pdf["q_label"].to_numpy()
        # the block's lookup tables: lut[qi, mi, code] = q_sub . book
        lut = np.einsum(
            "qmd,mkd->qmk", qn.reshape(len(qn), m, d_sub), books_arr
        )
        rcodes = np.vstack(res_pdf["codes"].to_numpy())
        ids = res_pdf["vec_id"].to_numpy()
        labels = res_pdf["label"].to_numpy()
        mi_idx = np.arange(m)
        rnorm = np.sqrt(
            np.maximum(norms2[mi_idx[None, :], rcodes].sum(axis=1), 1e-24)
        )
        out = []
        for j in range(len(qids)):
            dots = lut[j][mi_idx[None, :], rcodes].sum(axis=1)
            sims = dots / rnorm
            keep = (ids != qids[j]) & (labels != qlabels[j])
            cand_ids, cand_cos = ids[keep], sims[keep]
            if len(cand_ids) > shortlist_k:
                idx = np.lexsort((cand_ids, -cand_cos))[:shortlist_k]
                cand_ids, cand_cos = cand_ids[idx], cand_cos[idx]
            out.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(
                            len(cand_ids), qids[j], dtype="int64"
                        ),
                        "neighbor_id": cand_ids.astype("int64"),
                        "cosine": cand_cos,
                    }
                )
            )
        return pd.concat(out, ignore_index=True) if out else empty

    scored = (
        probes.groupBy("probe_cell", "q_block")
        .cogroup(residents.groupBy("cell", "q_block"))
        .applyInPandas(
            adc, "query_id bigint, neighbor_id bigint, cosine double"
        )
    )
    shortlist = global_topk(scored, shortlist_k).select(
        "query_id", "neighbor_id"
    )

    # distributed exact rerank: floats join in by key on both sides
    paired = (
        shortlist.join(
            emb_d.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("emb").alias("n_emb"),
            ),
            "neighbor_id",
        )
        .join(
            emb_d.select(
                F.col("vec_id").alias("query_id"),
                F.col("emb").alias("q_emb"),
            ),
            "query_id",
        )
    )

    def rescore(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf["q_emb"].to_numpy()).astype(np.float64)
            x = np.vstack(pdf["n_emb"].to_numpy()).astype(np.float64)
            qn = np.linalg.norm(q, axis=1)
            xn = np.linalg.norm(x, axis=1)
            # IDENTICAL float ops + rounding to the flat miner's kernel
            cos = gram.round_half_away(
                (x * q).sum(axis=1) / (xn * qn)
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].astype("int64"),
                    "neighbor_id": pdf["neighbor_id"].astype("int64"),
                    "cosine": cos,
                }
            )

    reranked = paired.mapInPandas(
        rescore, "query_id bigint, neighbor_id bigint, cosine double"
    )
    return global_topk(reranked, top_k)


_HARDNEG_PQ_SQL = f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings e
        ON e.vec_id <> q.vec_id AND e.label <> q.label
    ),
    truth AS (
      SELECT query_id,
             CAST(LEAST({HARDNEG_K}, COUNT(*)) AS BIGINT) AS k_truth
      FROM scored GROUP BY query_id
    )
    SELECT query_id, k_truth, TRUE AS recall_ok
    FROM truth ORDER BY query_id
"""


@register("hard_negative_mining_pq", _HARDNEG_PQ_SQL)
def q_hard_negative_mining_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-served corpus-wide mining measured against the flat miner's
    full-probe truth (itself bit-equal to exact all-pairs): per query,
    (k_truth, recall_ok) with recall_ok = |served ∩ truth| / k_truth
    >= IVF_RECALL_FLOOR — the measured statement that 16-byte codes +
    bounded probes + exact rerank are safe for this corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir)
    flat_path = os.path.join(_user_index_root(), f"hnegc_idx_{tag}")
    if not os.path.exists(os.path.join(flat_path, "CURRENT")):
        build_ivf_index(
            e.select("vec_id", "embedding", "label"),
            flat_path,
            meta_cols=("label",),
        )
    pq_path = os.path.join(_user_index_root(), f"hnegpq_idx_{tag}")
    if not os.path.exists(os.path.join(pq_path, "CURRENT")):
        build_ivfpq_index(e, pq_path, meta_cols=("label",))
    truth = hard_negative_mining_corpus(spark, flat_path).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=False)
    served = hard_negative_mining_corpus_pq(spark, pq_path, e).select(
        "query_id", "neighbor_id"
    )
    k_truth = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_truth")
    )
    hits = (
        served.join(truth, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = (
        k_truth.join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_truth",
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k_truth")
                >= F.lit(IVF_RECALL_FLOOR)
            ).alias("recall_ok"),
        )
        .orderBy("query_id")
    )
    _sweep_stale_tags(flat_path, "hnegc_idx_")
    _sweep_stale_tags(pq_path, "hnegpq_idx_")
    return out


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index: the build/serve split of similarity.ivfpq_topk —
# what a 100 TB deployment actually stores. The version directory holds
# the coarse centroids, the PQ codebooks, and the corpus as
# cell-PARTITIONED (vec_id, codes) rows: 16 sub-byte codes per vector
# instead of 256 float bytes, so the hot path (probed-cell scan) moves
# 16x less data; the float column stays in the source table and is
# touched only by the broadcast-sized exact rerank.
# ---------------------------------------------------------------------------
def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_cells: int = N_CELLS,
    m: int | None = None,
    k: int | None = None,
    lake_version: int | None = None,
    meta_cols: tuple = (),
    opq: bool = False,
) -> int:
    """Train the coarse quantizer AND the PQ codebooks on one
    deterministic sample (both O(1) in corpus size), encode every vector
    to (cell, codes) in one BLAS mapInPandas pass, persist a complete
    NEW version (codes cell-partitioned, centroids + codebooks as tiny
    parquet tables), and atomically swap CURRENT — the same
    rebuild-under-readers protocol as :func:`build_ivf_index`. Returns
    the cell count actually used.

    ``meta_cols`` (r11) stores metadata columns alongside each code row
    — the filtered-ANN layout on the PQ side, so a label mask can run
    inside the ADC scan (:func:`hard_negative_mining_corpus_pq`);
    :func:`append_ivfpq_index` preserves them (the round-10
    maintenance-strips-metadata lesson).

    ``opq=True`` (r11) trains an OPQ rotation (Ge et al. 2013,
    :func:`similarity.fit_opq`) on the same sample and builds the WHOLE
    index — coarse cells, codebooks, codes — in the rotated frame; the
    d x d rotation persists as ``rotation.parquet`` next to the
    codebooks, appends copy it frozen (it joins the re-chain
    fingerprint: an append encoded under a different rotation would be
    silently wrong), and the serving path rotates queries before the
    probe. Same storage, same ADC scan, lower quantization error."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        _fit_pq_books,
        fit_opq,
        pq_encode_fn,
    )

    m = PQ_M if m is None else m
    k = PQ_K if k is None else k
    spark = emb.sparkSession
    emb_d = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        *meta_cols,
    )
    sample_rows = (
        emb_d.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(QUANTIZER_SAMPLE)
        .select("emb")
        .collect()
    )
    sample = [r.emb for r in sample_rows]
    rotation = None
    if opq:
        rotation, books, _, _ = fit_opq(sample, m, k)
        xs = np.asarray(sample, dtype=np.float64)
        xs /= np.maximum(np.linalg.norm(xs, axis=1, keepdims=True), 1e-12)
        cell_sample = [list(v) for v in xs @ rotation]
    else:
        books = _fit_pq_books(sample, m, k)
        cell_sample = sample
    centroids = _fit_cells(cell_sample, n_cells)
    n_cells = len(centroids)
    cents = np.asarray(centroids, dtype=np.float64)

    # THE shared encoder (similarity.pq_encode_fn): the persisted index
    # and the in-query twin can never compute different codes
    encoded = emb_d.mapInPandas(
        pq_encode_fn(cents, books, meta_cols, rotation=rotation),
        "vec_id BIGINT, cell INT, codes ARRAY<INT>"
        + _meta_schema(emb_d, meta_cols),
    )
    version = f"v_{uuid.uuid4().hex[:12]}"
    vdir = os.path.join(path, version)
    encoded.write.partitionBy("cell").parquet(f"{vdir}/codes")
    spark.createDataFrame(
        list(enumerate(centroids)), _CENTROIDS_DDL
    ).write.parquet(f"{vdir}/centroids.parquet")
    spark.createDataFrame(
        [
            (mi, ci, [float(v) for v in books[mi][ci]])
            for mi in range(m)
            for ci in range(len(books[mi]))
        ],
        _BOOKS_DDL,
    ).write.parquet(f"{vdir}/books.parquet")
    if rotation is not None:
        spark.createDataFrame(
            [(i, [float(v) for v in rotation[i]]) for i in range(len(rotation))],
            _ROTATION_DDL,
        ).write.parquet(f"{vdir}/rotation.parquet")
    _write_index_manifest(vdir, [f"{version}/codes"], lake_version)
    os.makedirs(path, exist_ok=True)
    _publish_current(path, version)
    return n_cells


def _pq_artifact_dirs(vdir: str) -> tuple[str, ...]:
    """The quantizer artifacts a PQ version is defined by — appends
    copy them byte-for-byte and the re-chain fingerprint covers them.
    The OPQ rotation, when present, is as assignment-defining as the
    codebooks: an append encoded under a different rotation would be
    silently wrong, so it MUST participate in the frozen-quantizer
    fingerprint."""
    base = ("centroids.parquet", "books.parquet")
    if os.path.exists(os.path.join(vdir, "rotation.parquet")):
        return base + ("rotation.parquet",)
    return base


def append_ivfpq_index(
    emb_new: DataFrame, path: str, lake_version: int | None = None
) -> int:
    """Incremental PQ index maintenance — the PQ twin of
    :func:`append_ivf_index`: encode a NEW vector batch with the live
    index's FROZEN coarse quantizer AND frozen codebooks (both copied
    byte-for-byte into the new version so it stays self-describing, and
    both the re-chain-safety fingerprint), write the codes as a new
    version whose manifest references every ancestor code root in
    place, and CAS-swap CURRENT (single-winner; sibling appends
    re-chain, a landed rebuild fails the append loudly). Returns the
    number of code roots the new version serves.

    No separate PQ compaction rung exists ON PURPOSE: codes are lossy,
    so re-training the quantizer/codebooks on the chain's own contents
    is impossible — the floats live in the source table, and
    :func:`build_ivfpq_index` over that table IS the compaction
    (retrain + single-root rewrite + atomic swap); gate it on
    :func:`chain_length` exactly like :func:`compact_if_needed`."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        pq_encode_fn,
    )

    vdir = _current_version_dir(path)
    spark = emb_new.sparkSession
    emb_d = _append_input(emb_new, path, vdir)
    meta = tuple(c for c in emb_d.columns if c not in _CORE_COLS)
    # an OPQ index's appends encode under the SAME frozen rotation —
    # it is copied with the codebooks and fingerprinted with them
    encoded = emb_d.mapInPandas(
        pq_encode_fn(
            _load_centroids(spark, vdir),
            _load_books(spark, vdir),
            meta,
            rotation=_load_rotation(spark, vdir),
        ),
        "vec_id BIGINT, cell INT, codes ARRAY<INT>"
        + _meta_schema(emb_d, meta),
    )
    version = f"v_{uuid.uuid4().hex[:12]}"
    new_vdir = os.path.join(path, version)
    encoded.write.partitionBy("cell").parquet(f"{new_vdir}/codes")
    _rechain_publish(
        path,
        vdir,
        new_vdir,
        _pq_artifact_dirs(vdir),
        lake_version,
        own_root=f"{version}/codes",
    )
    return len(_vector_roots(path, new_vdir))


def ivfpq_query_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    emb_for_rerank: DataFrame,
    nprobe: int = NPROBE,
    top_k: int = TOP_K,
    rerank: int | None = None,
    version: str | None = None,
) -> DataFrame:
    """Answer a (query_id, emb) batch against a persisted IVF-PQ index:
    partition pruning opens only the probed cells' code directories, the
    ADC scan gathers per-query lookup tables over the 16-byte codes, and
    the broadcast-sized shortlist reranks with true cosines from
    ``emb_for_rerank`` (the source float table — the index itself never
    stores floats). With the same parameters this serves EXACTLY what
    the in-query :func:`~.similarity.ivfpq_topk` computes (pinned in
    tests). ``version`` pins a specific version directory (time travel
    — e.g. the pre-append snapshot); default is the CURRENT pointer."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        PQ_RERANK,
        _adc_score_fn,
        _pq_probe_tables,
        exact_rerank,
    )

    rerank = PQ_RERANK if rerank is None else rerank
    vdir = _version_dir(path, version)
    cents = _load_centroids(spark, vdir)
    books = _load_books(spark, vdir)

    q_rows = queries.collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rn BIGINT"
        )
    qmat = np.vstack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # OPQ: queries probe and ADC-score in the index's rotated frame;
    # the exact rerank below stays in the ORIGINAL frame (rotation
    # preserves cosine, and the floats come from the source table),
    # so it gets the unrotated qmat
    rotation = _load_rotation(spark, vdir)
    qmat_probe = qmat if rotation is None else qmat @ rotation
    qids = np.asarray([int(r.query_id) for r in q_rows])
    cell_probes = _plan_probes(qmat_probe, cents, nprobe)

    luts, norms2 = _pq_probe_tables(qmat_probe, books, len(books))
    shortlist_k = rerank * top_k
    # an appended index unions its manifest's code roots, pruned per
    # root (the IVF serving shape applied to the PQ layout)
    codes = _live_rows(spark, path, vdir, cells=sorted(cell_probes))
    scored = codes.mapInPandas(
        _adc_score_fn(cell_probes, luts, norms2, qids, shortlist_k),
        "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE",
    )
    shortlist = global_topk(scored, shortlist_k).select(
        "query_id", "neighbor_id"
    )
    emb_d = emb_for_rerank.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return exact_rerank(emb_d, shortlist, qmat, qids, top_k)


_IVFPQ_INDEX_SQL = f"""
    WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings)
    SELECT vec_id AS query_id,
           CAST(LEAST({TOP_K}, n_vecs - 1) AS BIGINT) AS k_truth,
           TRUE AS recall_ok
    FROM embeddings, n
    WHERE vec_id < {N_QUERIES}
    ORDER BY query_id
"""


@register("ann_ivfpq_index", _IVFPQ_INDEX_SQL)
def q_ann_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ search measured on the SERVING path: build-once persisted
    codes (cell-partitioned, 16 bytes/vector), partition-pruned ADC
    probe, exact rerank from the source table — value-oracled via the
    same per-query recall bound as the in-query twin. served == in-query
    at equal parameters is pinned in tests."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ivf_recall_check,
    )

    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir)
    path = os.path.join(_user_index_root(), f"pq_idx_{tag}")
    if not os.path.exists(os.path.join(path, "CURRENT")):
        build_ivfpq_index(e, path)
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    ).where(F.col("query_id") < N_QUERIES)
    served = ivfpq_query_index(spark, path, q, e)
    out = ivf_recall_check(e, served)
    _sweep_stale_tags(path, "pq_idx_")
    return out


_OPQ_INDEX_SQL = f"""
    WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings)
    SELECT vec_id AS query_id,
           CAST(LEAST({TOP_K}, n_vecs - 1) AS BIGINT) AS k_truth,
           TRUE AS recall_ok
    FROM embeddings, n
    WHERE vec_id < {N_QUERIES}
    ORDER BY query_id
"""


@register("ann_opq_index", _OPQ_INDEX_SQL)
def q_ann_opq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPQ-rotated PQ index on the SERVING path: the rotation
    persists as a version artifact (frozen across appends — it joins
    the re-chain fingerprint), queries probe and ADC-score in the
    rotated frame, the exact rerank stays in the original frame, and
    the per-query recall bound is the SAME floor the plain PQ row
    clears — OPQ buys reconstruction accuracy at zero storage or scan
    cost (one d x d matmul at encode/probe time)."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ivf_recall_check,
    )

    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir)
    path = os.path.join(_user_index_root(), f"opq_idx_{tag}")
    if not os.path.exists(os.path.join(path, "CURRENT")):
        build_ivfpq_index(e, path, opq=True)
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    ).where(F.col("query_id") < N_QUERIES)
    served = ivfpq_query_index(spark, path, q, e)
    out = ivf_recall_check(e, served)
    _sweep_stale_tags(path, "opq_idx_")
    return out


# ---------------------------------------------------------------------------
# append lifecycle as a driver-attested row: build on the even snapshot,
# append the odd batch, and fold the protocol's guarantees to booleans
# ---------------------------------------------------------------------------
_APPEND_SQL = """
    SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_base,
           CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_appended,
           TRUE AS appended_searchable,
           TRUE AS snapshot_unchanged,
           TRUE AS recall_ok
    FROM embeddings
"""


def ann_index_append_lifecycle(
    spark: SparkSession, e: DataFrame, path: str
) -> DataFrame:
    """The incremental-maintenance protocol folded to one deterministic
    row: an index built on the even-id snapshot, with the odd-id batch
    APPENDED (frozen quantizer, manifest-chained version — no data
    rewritten):

    - ``appended_searchable``: the post-append CURRENT finds odd
      neighbors (the new batch is served immediately);
    - ``snapshot_unchanged``: querying the PRE-append version by name
      still returns only snapshot members — append never mutates an
      existing version (time travel, the lake discipline);
    - ``recall_ok``: post-append recall@k vs brute force over the FULL
      corpus clears the proportional probe floor (0.8 * nprobe/n_cells,
      the ann_ivf_topk guarantee) for every query at nprobe=5 — the
      frozen even-trained quantizer serves the grown corpus within the
      same class of guarantee the fresh index gives (a frozen quantizer
      needs a probe or two more than a fresh one; that, measured, is
      the price of skipping the rebuild)."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ivf_recall_check,
    )

    append_nprobe = 5

    emb_d = e.select("vec_id", "embedding")
    base = emb_d.where(F.col("vec_id") % 2 == 0)
    extra = emb_d.where(F.col("vec_id") % 2 == 1)
    if not os.path.exists(os.path.join(path, "CURRENT")):
        build_ivf_index(base, path)
    # resume-safe: a run that died between build and append leaves
    # CURRENT with a 1-root chain — checking CURRENT alone would skip
    # the append forever and wedge the attested row; the manifest chain
    # length is the real completion signal
    if chain_length(path) < 2:
        append_ivf_index(extra, path)
    vdir = _current_version_dir(path)
    roots = _vector_roots(path, vdir)
    old_version = os.path.relpath(roots[0], path).split(os.sep)[0]
    q = emb_d.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        parallel_vals,
    )

    # served_new feeds the odd-count AND the recall check: pin it
    # EAGERLY (two pooled thunks read it), then overlap the five
    # independent read-only verdict actions (r14, guide §2.6)
    served_new = ivf_query_index(
        spark, path, q, nprobe=append_nprobe
    ).localCheckpoint(eager=True)
    served_old = ivf_query_index(
        spark, path, q, nprobe=append_nprobe, version=old_version
    )
    odd_new, odd_old, rc, n_base, n_extra = parallel_vals(
        lambda: served_new.where(F.col("neighbor_id") % 2 == 1).count(),
        lambda: served_old.where(F.col("neighbor_id") % 2 == 1).count(),
        lambda: ivf_recall_check(
            e, served_new, floor=0.8 * append_nprobe / N_CELLS
        )
        .agg(F.min(F.col("recall_ok").cast("int")).alias("m"))
        .collect()[0]
        .m,
        lambda: base.count(),
        lambda: extra.count(),
    )
    return spark.createDataFrame(
        [
            (
                int(n_base),
                int(n_extra),
                odd_new > 0,
                odd_old == 0,
                int(rc or 0) == 1,
            )
        ],
        "n_base BIGINT, n_appended BIGINT, appended_searchable BOOLEAN, "
        "snapshot_unchanged BOOLEAN, recall_ok BOOLEAN",
    )


@register("ann_index_append", _APPEND_SQL)
def q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir + "#append")
    path = os.path.join(_user_index_root(), f"app_idx_{tag}")
    out = ann_index_append_lifecycle(spark, e, path)
    _sweep_stale_tags(path, "app_idx_")
    return out


# ---------------------------------------------------------------------------
# PQ append lifecycle as a driver-attested row: the PQ twin of
# ann_index_append (frozen quantizer AND codebooks, code-root chaining)
# ---------------------------------------------------------------------------
_PQ_APPEND_SQL = """
    SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_base,
           CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_appended,
           TRUE AS appended_searchable,
           TRUE AS snapshot_unchanged,
           TRUE AS recall_ok
    FROM embeddings
"""


def ann_ivfpq_append_lifecycle(
    spark: SparkSession, e: DataFrame, path: str
) -> DataFrame:
    """:func:`ann_index_append_lifecycle` applied to the PQ layout: an
    index built on the even-id snapshot with the odd-id batch APPENDED
    as chained 16-byte codes (frozen coarse quantizer and frozen
    codebooks — no float rewritten, no code re-trained). Same measured
    guarantees: the post-append CURRENT finds odd neighbors, the
    pre-append version still serves only snapshot members, and
    post-append recall@k vs brute force clears the proportional probe
    floor at nprobe=5 — through the lossy-code ADC scan PLUS the exact
    rerank, so the bound also certifies the codes' fidelity on the
    appended half. The rerank depth is 20 (vs the serving default):
    ADC distances are approximations, and at small nprobe the lossy
    shortlist needs extra depth for the exact rerank to recover the
    floor on the appended half — exactly the knob PQ deployments turn,
    measured here rather than assumed. Scope note: the per-query floor
    holds from ~1k-vector snapshots up (the driver and bench scales);
    on a few-hundred-vector snapshot the even-half-trained quantizer's
    cell boundaries are themselves sampling noise and individual
    queries can miss — the regime where one would not deploy IVF at
    all."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ivf_recall_check,
    )

    append_nprobe = 5
    append_rerank = 20

    emb_d = e.select("vec_id", "embedding")
    base = emb_d.where(F.col("vec_id") % 2 == 0)
    extra = emb_d.where(F.col("vec_id") % 2 == 1)
    if not os.path.exists(os.path.join(path, "CURRENT")):
        build_ivfpq_index(base, path)
    # resume-safe: the code-root chain length is the completion signal
    # (the ann_index_append rule — CURRENT alone would wedge the row)
    if chain_length(path) < 2:
        append_ivfpq_index(extra, path)
    vdir = _current_version_dir(path)
    roots = _vector_roots(path, vdir)
    old_version = os.path.relpath(roots[0], path).split(os.sep)[0]
    q = emb_d.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        parallel_vals,
    )

    # served_new feeds the odd-count AND the recall check: pin it
    # EAGERLY (two pooled thunks read it), then overlap the five
    # independent read-only verdict actions (r14, guide §2.6)
    served_new = ivfpq_query_index(
        spark, path, q, e, nprobe=append_nprobe, rerank=append_rerank
    ).localCheckpoint(eager=True)
    served_old = ivfpq_query_index(
        spark,
        path,
        q,
        e,
        nprobe=append_nprobe,
        rerank=append_rerank,
        version=old_version,
    )
    odd_new, odd_old, rc, n_base, n_extra = parallel_vals(
        lambda: served_new.where(F.col("neighbor_id") % 2 == 1).count(),
        lambda: served_old.where(F.col("neighbor_id") % 2 == 1).count(),
        lambda: ivf_recall_check(
            e, served_new, floor=0.8 * append_nprobe / N_CELLS
        )
        .agg(F.min(F.col("recall_ok").cast("int")).alias("m"))
        .collect()[0]
        .m,
        lambda: base.count(),
        lambda: extra.count(),
    )
    return spark.createDataFrame(
        [
            (
                int(n_base),
                int(n_extra),
                odd_new > 0,
                odd_old == 0,
                int(rc or 0) == 1,
            )
        ],
        "n_base BIGINT, n_appended BIGINT, appended_searchable BOOLEAN, "
        "snapshot_unchanged BOOLEAN, recall_ok BOOLEAN",
    )


@register("ann_ivfpq_append", _PQ_APPEND_SQL)
def q_ann_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir + "#pqappend")
    path = os.path.join(_user_index_root(), f"pqa_idx_{tag}")
    out = ann_ivfpq_append_lifecycle(spark, e, path)
    _sweep_stale_tags(path, "pqa_idx_")
    return out


# ---------------------------------------------------------------------------
# compaction lifecycle as a driver-attested row: build + append (the
# chained state), compact, and fold the rung's guarantees to booleans
# ---------------------------------------------------------------------------
COMPACT_NPROBE = 5

_COMPACT_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(2 AS BIGINT) AS chain_before,
           CAST(1 AS BIGINT) AS chain_after,
           TRUE AS full_probe_exact,
           TRUE AS recall_not_worse,
           TRUE AS ancestors_reclaimable
    FROM embeddings
"""


def ann_index_compact_lifecycle(
    spark: SparkSession, e: DataFrame, path: str
) -> DataFrame:
    """The compaction protocol folded to one deterministic row. State
    machine (resume-safe at every crash point — the round-8 memory
    rule: completion signals, never existence checks):

      no marker, no CURRENT        -> build(even) ; append(odd)
      no marker, chain >= 2        -> (append already done)
      marker written, CURRENT==pre -> compact (idempotent retry; a
                                      half-written compact version is
                                      unreferenced vacuum residue)
      marker written, CURRENT!=pre -> compaction landed; measure only

    The marker (``COMPACTED.json``, atomic tmp+rename) records the
    pre-compaction version name BEFORE compacting, so a re-run can
    always distinguish "chain==1 because compacted" from "chain==1
    because the append never ran" — and can still pin the pre-compact
    version for the chained-vs-compacted comparison, because the
    protocol only ever DRY-RUNS the vacuum (ancestors stay on disk,
    exactly the audit the row attests).

    Guarantees (all measured on the actual result sets):
    - ``chain_before``/``chain_after``: 2 -> 1 (the rung's point);
    - ``full_probe_exact``: the compacted index at full probe equals
      exact brute force over the whole corpus — nothing was lost or
      duplicated in the rewrite;
    - ``recall_not_worse``: at equal nprobe, total recall@k vs truth
      of the compacted (re-trained quantizer) index >= the chained
      (epoch-0 frozen quantizer) index — re-training repairs the drift
      decay ``ann_index_drift`` measures;
    - ``ancestors_reclaimable``: a dry-run vacuum reports every
      pre-compaction version as sweepable (the chain is released)."""
    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        legs,
        multiset_eq,
        parallel_vals,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ann_topk_bruteforce,
    )

    emb_d = e.select("vec_id", "embedding")
    # r15 (guide §2.6, the ann_index_delete recipe): the brute-force
    # truth reads only the input frame — start its eager pin before the
    # build/append/compact chain so the BLAS pass rides underneath.
    with legs(spark) as bg:
        truth_fut = bg.submit(
            lambda: ann_topk_bruteforce(e)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )
        base = emb_d.where(F.col("vec_id") % 2 == 0)
        extra = emb_d.where(F.col("vec_id") % 2 == 1)
        marker = os.path.join(path, "COMPACTED.json")
        if not os.path.exists(marker):
            if not os.path.exists(os.path.join(path, "CURRENT")):
                build_ivf_index(base, path)
            if chain_length(path) < 2:
                append_ivf_index(extra, path)
            pre = os.path.basename(_current_version_dir(path))
            tmp = marker + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump({"pre": pre}, f)
            os.replace(tmp, marker)
        with open(marker) as f:
            pre = json.load(f)["pre"]
        if os.path.basename(_current_version_dir(path)) == pre:
            compact_ivf_index(spark, path)

        chain_before = len(_vector_roots(path, os.path.join(path, pre)))
        chain_after = chain_length(path)
        q = emb_d.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        # truth feeds four actions (two counts, exceptAll, two recall_hits
        # semi-joins) and full two — pin each so the BLAS brute force and
        # the full-probe scan run once, not per action (truth's pin was
        # started before the build chain; joined here)
        truth = truth_fut.result()
    full = (
        ivf_query_index(spark, path, q, nprobe=N_CELLS)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    def recall_hits(df: DataFrame) -> int:
        return (
            df.select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"], "leftsemi")
            .count()
        )

    # truth is already materialized (eager pin above): overlap the four
    # independent read-only checks (r14, guide §2.6; the equality is
    # one signed-tag action)
    chained = ivf_query_index(
        spark, path, q, nprobe=COMPACT_NPROBE, version=pre
    )
    compacted = ivf_query_index(spark, path, q, nprobe=COMPACT_NPROBE)
    full_exact, hits_compacted, hits_chained, n_vectors = parallel_vals(
        lambda: multiset_eq(full, truth),
        lambda: recall_hits(compacted),
        lambda: recall_hits(chained),
        lambda: e.count(),
    )
    recall_ok = hits_compacted >= hits_chained

    ancestors = {
        os.path.relpath(r, path).split(os.sep)[0]
        for r in _vector_roots(path, os.path.join(path, pre))
    } | {pre}
    reclaimable = set(vacuum_index(path, grace_seconds=0, dry_run=True))
    return spark.createDataFrame(
        [
            (
                int(n_vectors),
                int(chain_before),
                int(chain_after),
                bool(full_exact),
                bool(recall_ok),
                ancestors <= reclaimable,
            )
        ],
        "n_vectors BIGINT, chain_before BIGINT, chain_after BIGINT, "
        "full_probe_exact BOOLEAN, recall_not_worse BOOLEAN, "
        "ancestors_reclaimable BOOLEAN",
    )


@register("ann_index_compact", _COMPACT_SQL)
def q_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    tag = _corpus_tag(e, sf_dir + "#compact")
    path = os.path.join(_user_index_root(), f"cmp_idx_{tag}")
    out = ann_index_compact_lifecycle(spark, e, path)
    _sweep_stale_tags(path, "cmp_idx_")
    return out


# ---------------------------------------------------------------------------
# vector deletion lifecycle (round 10, beyond-brief): the erasure loop —
# tombstone -> serve-without -> snapshot isolation -> compaction fold
# ---------------------------------------------------------------------------
_DELETE_SQL = f"""
    WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
    d AS (
      SELECT COUNT(*) AS n_deleted FROM embeddings
      WHERE vec_id >= {N_QUERIES} AND vec_id % 10 = 5
    )
    SELECT CAST(n.n_vecs AS BIGINT) AS n_vecs,
           CAST(d.n_deleted AS BIGINT) AS n_deleted,
           TRUE AS served_excludes_deleted,
           TRUE AS full_probe_exact_after_delete,
           TRUE AS snapshot_still_serves,
           TRUE AS compact_drops_rows,
           TRUE AS post_compact_exact
    FROM n CROSS JOIN d
"""


def ann_index_delete_lifecycle(
    spark: SparkSession, e: DataFrame, path: str
) -> DataFrame:
    """Drive :func:`delete_from_ivf_index` through its whole contract:

    - the tombstone version serves the corpus MINUS the deleted ids —
      no deleted vector appears in any result, and full-probe answers
      equal exact brute force over the REMAINING corpus (the delete is
      invisible except for the erased rows);
    - the pre-delete version still serves the original corpus by name
      (snapshot isolation — erasure SERVING takes effect at publish,
      physical removal is vacuum's explicit, audited step);
    - compaction folds the tombstones: the compacted chain's raw row
      count drops by exactly the deleted set, no tombstone roots
      remain, and full-probe answers still equal the remaining-corpus
      truth."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ann_topk_bruteforce,
    )

    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        legs,
        multiset_eq,
        parallel_vals,
    )

    emb = e.select("vec_id", "embedding")
    del_pred = (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") % 10 == 5)
    deleted = emb.where(del_pred).select("vec_id")
    # r15 (guide §2.6, the corpus_refresh recipe): BOTH brute-force
    # truth tables read only the source frame — zero dependency on the
    # index store — yet they waited behind build + delete. Start them
    # first so they ride under the build/delete chain; eager pins keep
    # the pooled consumers race-free exactly as before.
    with legs(spark) as bg:
        truth_all_fut = bg.submit(
            lambda: ann_topk_bruteforce(e)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )
        truth_rem_fut = bg.submit(
            lambda: ann_topk_bruteforce(e.where(~del_pred))
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )
        # index build + two read-only counts overlapped (r14, guide §2.6)
        _, n_vecs, n_deleted = parallel_vals(
            lambda: build_ivf_index(emb, path),
            lambda: emb.count(),
            lambda: deleted.count(),
        )
        pinned = os.path.basename(_current_version_dir(path))
        delete_from_ivf_index(deleted, path)

        q = emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        def _snapshot_check() -> bool:
            snap = ivf_query_index(
                spark, path, q, nprobe=N_CELLS, version=pinned
            ).select("query_id", "neighbor_id")
            return multiset_eq(snap, truth_all_fut.result())

        # EAGER: served/truth_rem feed several pooled checks (truth_rem
        # also the post-compaction one) — materialize once, race-free.
        # The snapshot check rides the SAME wave: it reads only the
        # immutable pinned version + the early-started truth pin (r14/r15,
        # guide §2.6)
        served, truth_rem, snapshot_ok = parallel_vals(
            lambda: ivf_query_index(spark, path, q, nprobe=N_CELLS)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True),
            truth_rem_fut.result,
            _snapshot_check,
        )

    # each equality is one signed-tag action (VERDICT r13 #4)
    excludes, exact_after = parallel_vals(
        lambda: served.join(
            deleted.withColumnRenamed("vec_id", "neighbor_id"),
            "neighbor_id",
            "leftsemi",
        ).count()
        == 0,
        lambda: multiset_eq(served, truth_rem),
    )
    compact_ivf_index(spark, path)
    cur = _current_version_dir(path)

    def _compact_drops_check() -> bool:
        raw = _live_rows(spark, path, cur).count()
        return raw == n_vecs - n_deleted and not _tombstone_roots(path, cur)

    def _post_exact_check() -> bool:
        post = ivf_query_index(spark, path, q, nprobe=N_CELLS).select(
            "query_id", "neighbor_id"
        )
        return multiset_eq(post, truth_rem)

    compact_drops, post_exact = parallel_vals(
        _compact_drops_check, _post_exact_check
    )
    return spark.createDataFrame(
        [
            (
                int(n_vecs),
                int(n_deleted),
                bool(excludes),
                bool(exact_after),
                bool(snapshot_ok),
                bool(compact_drops),
                bool(post_exact),
            )
        ],
        "n_vecs BIGINT, n_deleted BIGINT, served_excludes_deleted BOOLEAN, "
        "full_probe_exact_after_delete BOOLEAN, snapshot_still_serves "
        "BOOLEAN, compact_drops_rows BOOLEAN, post_compact_exact BOOLEAN",
    )


@register("ann_index_delete", _DELETE_SQL)
def q_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="graft_ann_delete_")
    try:
        return ann_index_delete_lifecycle(spark, e, os.path.join(tmp, "idx"))
    finally:
        # the result is a driver-local literal row
        shutil.rmtree(tmp, ignore_errors=True)
