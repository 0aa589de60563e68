"""End-to-end incremental corpus refresh — the operational loop a
training-data lake actually runs per crawl (round-8 verdict #6), folded
into ONE driver-attested protocol row (the lake_lifecycle pattern).
Every rung already exists and is individually attested; this row is the
integration check that they CHAIN:

  new crawl batch
    -> exact-dedup against the survivor set (dedup.incremental_new_docs
       reading the LAKE, not a side table)
    -> benchmark decontamination gate (curation's 8-gram check: drop
       both benchmark members and docs leaking benchmark n-grams)
    -> lake_merge_upsert of the clean docs (one atomic commit;
       time travel keeps the pre-refresh snapshot)
    -> append_ivf_index for the new embeddings (frozen quantizer, no
       rebuild — the incremental serving path)
    -> re-pack: shard count of the refreshed corpus (the concat-and-
       chunk identity, so the packing delta is pure arithmetic)

Guarantees measured on the actual artifacts (never assumed):
- ``no_dup_ok``: the refreshed corpus has globally UNIQUE content
  fingerprints — no duplicate across runs survives;
- ``no_near_dup_ok`` (round 9): no inserted document NEAR-duplicates a
  kept survivor (cross-boundary banded-MinHash + exact Jaccard — the
  dedup_incremental_lsh gate wired into the loop), measured on the
  post-merge snapshot. Round 10: the gate reads a PERSISTED
  (doc_id, band_key) lake table maintained incrementally per MERGE
  (the ann_index_append build/serve split applied to dedup), and the
  verify shingles only band-candidate corpus docs — per-increment
  corpus-side cost is O(increment + candidates), never a full-corpus
  re-shingle;
- ``bands_table_ok`` (round 10) / ``fps_table_ok`` (round 11): the
  incrementally-appended band table AND fingerprint table exactly
  equal a from-scratch recompute over the post-merge snapshot — the
  maintenance protocol drifts from truth by zero rows. These
  full-corpus recomputes are the ``attest=True`` self-check the
  registered row runs; the deployable call (``attest=False``) measures
  the same booleans on the persisted artifacts only, keeping the
  per-crawl corpus-side text reads O(increment + candidates);
- ``no_leak_ok``: no document in the INSERTED slice is a benchmark
  member or shares an 8-gram with the benchmark slice;
- ``merge_atomic_ok``: exactly the clean docs landed, in one commit,
  and the pre-refresh snapshot still reads unchanged;
- ``index_serves_union``: the appended index at full probe equals exact
  brute force over the grown embedding corpus;
- ``text_index_serves_ok`` (round 11): the BM25 posting-list index is
  maintained through the MERGE (build with the survivor commit,
  O(increment) append) and serves the refreshed corpus identically to
  the direct in-query operator (compared under ``attest=True``);
- ``side_tables_maintained_ok`` (round 11): the maintenance advisor
  watches the band + fingerprint side tables under a one-file-per-
  refresh fold policy, its compact verdict fires on the accumulated
  append debt, and applying the repair (compact + vacuum) preserves
  both artifacts row-for-row and the gate's answers.

The DuckDB oracle recomputes every COUNT from the raw tables (the
dedup + contamination + packing algebra composed in SQL) and states the
protocol booleans — so a silently-weakened gate (e.g. a dedup that
stops dropping, a contamination check that stops matching) breaks the
value hash, not just a pytest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.lake import (
    lake_commit,
    lake_merge_upsert,
    lake_read,
)
from cours_datalake_dwh_td_kafka_spark.operators.curation import (
    CONTAM_BENCH_MOD,
    CONTAM_NGRAM,
    PACK_BUDGET,
)
from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
    BAND_R,
    INCREMENT_SPLIT,
    N_HASHES,
    NORM_SQL,
    SHINGLES_SQL,
    bands_union_sql,
    fingerprint_rows,
    incremental_new_docs,
    incremental_near_dups,
    jaccard_verified_sql,
    minhash_band_rows,
    minhash_sig_cols_sql,
    norm_text,
    shingle_rows,
)
from cours_datalake_dwh_td_kafka_spark.operators.attest import (
    legs,
    multiset_eq,
    parallel_vals,
)
from cours_datalake_dwh_td_kafka_spark.registry import register

_N_BANDS = N_HASHES // BAND_R  # band rows per kept document


def _sh_hashes(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, xxhash64(8-gram)) rows — the hash-first shingle
    pass contamination_check uses (longs through the exchange, never
    n-gram strings)."""
    return (
        shingle_rows(d, n=CONTAM_NGRAM, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("sh"))
        .distinct()
    )


def corpus_refresh(
    spark: SparkSession,
    d: DataFrame,
    e: DataFrame,
    workdir: str,
    attest: bool = True,
) -> DataFrame:
    """Run the refresh protocol against scratch lake + index paths under
    ``workdir`` and fold the guarantees to one row. The corpus split is
    the dedup_incremental convention: doc_ids below the 80% cut are the
    prior runs' crawls, the rest is today's batch; embeddings split the
    same way on vec_id.

    ``attest`` (r11, closing the r10 verdict's #1): the registered row
    runs the FULL self-checks — ``bands_table_ok`` recomputes the whole
    band table from raw text and ``no_dup_ok``/``fps_table_ok``
    re-fingerprint the merged corpus, both O(corpus) by design (they
    prove the maintained state drifts from truth by zero rows).
    ``attest=False`` is the deployable per-crawl call: every guarantee
    is then measured on the PERSISTED artifacts only (fingerprint
    distinctness on the ~48-byte fp table, shape consistency of both
    side tables), so corpus-side TEXT reads per refresh are
    O(increment + candidates) end to end — pinned by the scale test's
    spy on every text-hashing entry point.

    Scale shape: every stage is the already-attested operator — the
    exact-dedup anti-join joins the increment's fingerprints against
    the PERSISTED fp table (survivor text is never re-hashed), the
    contamination join ships hashed longs with the tiny bench side
    broadcast, MERGE rewrites only matched files, the index append
    writes only the new batch, and the packing delta is the ceil
    identity on per-source token sums (no per-row packing pass).
    Driver collects are bounded scalars."""
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        append_ivf_index,
        build_ivf_index,
        ivf_query_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        ann_topk_bruteforce,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.text_index import (
        append_text_index,
        bm25_query_index,
        build_text_index,
    )

    tidx = os.path.join(workdir, "text_index")
    idx = os.path.join(workdir, "idx")

    def _ann_leg() -> bool:
        # append the batch's embeddings; the index must serve the union
        elo, ehi = e.agg(F.min("vec_id"), F.max("vec_id")).first()
        ecut = int(elo) + int((int(ehi) - int(elo)) * INCREMENT_SPLIT)
        emb_d = e.select("vec_id", "embedding")
        # each index version records the corpus-lake version it pairs
        # with (round 10): a reader joining served neighbors to lake
        # rows reads the RECORDED snapshot — index_lake_consistency
        # attests the pairing
        build_ivf_index(
            emb_d.where(F.col("vec_id") < ecut), idx, lake_version=1
        )
        append_ivf_index(
            emb_d.where(F.col("vec_id") >= ecut), idx, lake_version=2
        )
        q = emb_d.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        full = ivf_query_index(spark, idx, q, nprobe=N_CELLS).select(
            "query_id", "neighbor_id"
        )
        truth = ann_topk_bruteforce(e).select("query_id", "neighbor_id")
        return multiset_eq(full, truth)

    # r15 (guide §2.6, profile-driven): the ANN chain reads ONLY the
    # embedding side and its own idx store — zero dependency on the
    # document pipeline — and the text-index BUILD reads only settled
    # v1. Both sat serialized behind the merge in the final pool (8.7 s
    # each on the profile, back to back with nothing else left to
    # overlap). Start them the moment their inputs exist so they ride
    # UNDER the document phases; their results are joined in the final
    # pool exactly where the sequential form consumed them.
    with legs(spark) as bg:
        ann_fut = bg.submit(_ann_leg)

        lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
        cut = int(lo) + int((int(hi) - int(lo)) * INCREMENT_SPLIT)
        prior = d.where(F.col("doc_id") < cut)
        batch = d.where(F.col("doc_id") >= cut)

        # v1: the survivor set of the prior runs (keep-min-doc_id per
        # fingerprint — the state every earlier refresh left behind)
        fp = F.md5(norm_text(F.col("text")))
        survivors = (
            prior.withColumn("_fp", fp)
            .withColumn(
                "_keep", F.min("doc_id").over(Window.partitionBy("_fp"))
            )
            .where(F.col("doc_id") == F.col("_keep"))
            .drop("_fp", "_keep")
        )
        lake_path = os.path.join(workdir, "corpus")
        lake_commit(survivors, lake_path)  # v1
        v1 = lake_read(spark, lake_path, 1)
        # v1 is settled: the text-index BUILD (its own tidx store) can run
        # under everything up to the serve check; the append waits on this
        # future inside the final pool
        text_build_fut = bg.submit(build_text_index, spark, v1, tidx)
        # the PERSISTED dedup-gate table (round 10, closing the r9 weak #1):
        # (doc_id, band_key) rows for every kept doc — 4 rows/doc whatever
        # the text size — committed alongside the corpus and appended per
        # MERGE below, exactly as ann_index_append maintains the vector
        # index. Every subsequent gate pass reads THIS table instead of
        # re-shingling the survivor corpus, so a crawl increment costs
        # O(increment + candidates), not O(corpus).
        bands_path = os.path.join(workdir, "dedup_bands")
        # the PERSISTED exact-dedup table (r11, closing the r10 verdict's
        # #1): (doc_id, fp) for every kept doc — the fingerprint is
        # computed ONCE at insert time and maintained per MERGE, so the
        # next refresh's anti-join is a key join against ~48-byte rows,
        # never a survivor-text re-hash
        fps_path = os.path.join(workdir, "dedup_fps")
        # the two side-table v1 commits write DISJOINT stores from the same
        # settled corpus v1; the survivor count is read-only — overlap the
        # three jobs (r14, guide §2.6 — attest.parallel_vals)
        n_kept, _, _ = parallel_vals(
            lambda: v1.count(),
            lambda: lake_commit(minhash_band_rows(v1), bands_path),
            lambda: lake_commit(fingerprint_rows(v1), fps_path),
        )

        # incremental exact dedup of the batch against the PERSISTED
        # fingerprints (the lake's survivor text is never read here)
        # (localCheckpoint: fresh feeds three consumers — the unique count,
        # the leak scan, and the clean set — one anti-join, not three)
        fresh_ids = incremental_new_docs(
            None, batch, corpus_fps=lake_read(spark, fps_path, 1)
        ).select("doc_id")
        fresh = batch.join(fresh_ids, "doc_id", "leftsemi").localCheckpoint(
            eager=False
        )
        # two independent counts (fresh's checkpoint materializes inside
        # its OWN thunk only — n_batch never touches it)
        n_batch, n_new_unique = parallel_vals(
            lambda: batch.count(), lambda: fresh.count()
        )

        # decontamination gate: drop benchmark members AND 8-gram leakers
        # (bench_sh is scanned by the gate AND the post-merge re-check)
        bench_sh = (
            _sh_hashes(d.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0))
            .select("sh")
            .distinct()
            .localCheckpoint(eager=False)
        )
        leakers = (
            _sh_hashes(fresh).join(bench_sh, "sh").select("doc_id").distinct()
        )
        # cross-run NEAR-dup gate (round 9): drop increment docs that
        # near-duplicate a kept survivor — the re-crawled page with a new
        # footer, which the exact fingerprint anti-join structurally keeps.
        # Round 10: the corpus side comes from the PERSISTED band table
        # (never re-shingled), and the exact-Jaccard verify shingles only
        # the band-candidate corpus docs.
        near = (
            incremental_near_dups(
                v1, fresh, corpus_bands=lake_read(spark, bands_path, 1)
            )
            .select(F.col("inc_doc").alias("doc_id"))
            .distinct()
        )
        clean = (
            fresh.where(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
            .join(leakers, "doc_id", "left_anti")
            .join(near, "doc_id", "left_anti")
            .localCheckpoint(eager=False)
        )
        n_inserted = clean.count()

        # one atomic MERGE commit; snapshot isolation for the prior state.
        # The two side-table appends write disjoint stores from the already
        # materialized `clean` checkpoint — overlap all three writes.
        parallel_vals(
            lambda: lake_merge_upsert(spark, lake_path, clean, "doc_id"),  # v2
            lambda: lake_commit(
                minhash_band_rows(clean), bands_path, mode="append"
            ),
            lambda: lake_commit(
                fingerprint_rows(clean), fps_path, mode="append"
            ),
        )
        # EAGER pin of the post-merge corpus (r15, VERDICT r14 #3 / guide
        # §2.4): nine downstream consumers (the six checks, the serve
        # compare, the packing aggregate, the repaired-gate re-check) each
        # re-derived this frame from the lake; one materialization feeds
        # them all, and eager is mandatory — the consumers run on pool
        # threads (a lazy checkpoint raced from two threads can compute
        # twice).
        v2 = lake_read(spark, lake_path, 2).localCheckpoint(eager=True)
        inserted = v2.where(F.col("doc_id") >= cut)
        # EAGER side-table snapshots: the post-merge checks below share
        # these frames across threads, and the maintenance repair further
        # down vacuums the files they read — materialize once, up front
        bands_v2 = lake_read(spark, bands_path, 2).localCheckpoint(eager=True)
        fps_v2 = lake_read(spark, fps_path, 2).localCheckpoint(eager=True)
        n_after = v2.count()

        # ---- post-merge checks: all read-only over settled stores and the
        # pinned snapshots above — one overlapped pool (r14, guide §2.6)
        def _merge_atomic_check() -> bool:
            return (
                n_after == n_kept + n_inserted
                and lake_read(spark, lake_path, 1).count() == n_kept
            )

        def _near_dup_check() -> bool:
            return (
                incremental_near_dups(
                    v2.where(F.col("doc_id") < cut),
                    inserted,
                    corpus_bands=bands_v2.where(F.col("doc_id") < cut),
                ).count()
                == 0
            )

        def _no_dup_check() -> bool:
            # global fingerprint uniqueness, measured on the PERSISTED
            # table — O(artifact), no text; the attestation thunks prove
            # the table IS the truth
            return (
                fps_v2.select("fp").distinct().count() == n_after
                and fps_v2.count() == n_after
            )

        if attest:
            # the incremental maintenance must be EXACT: each persisted
            # table after the append equals a from-scratch recompute over
            # the live snapshot (one signed-tag action per recompute —
            # VERDICT r13 #4, operators/attest.py). O(corpus) text reads
            # BY DESIGN — this is the drift-is-zero proof the registered
            # row attests; the deployable call (attest=False) skips it.
            def _bands_table_check() -> bool:
                return multiset_eq(bands_v2, minhash_band_rows(v2))

            def _fps_table_check() -> bool:
                return multiset_eq(fps_v2, fingerprint_rows(v2))
        else:
            # artifact-shape consistency only (exactly one fp row per kept
            # doc, exactly N_BANDS band rows per kept doc, no orphans) —
            # O(side tables), zero text reads
            def _bands_table_check() -> bool:
                return (
                    bands_v2.count() == _N_BANDS * n_after
                    and bands_v2.select("doc_id").distinct().count() == n_after
                )

            def _fps_table_check() -> bool:
                return (
                    fps_v2.select("doc_id").distinct().count() == n_after
                )

        def _no_leak_check() -> bool:
            return (
                inserted.where(
                    F.col("doc_id") % CONTAM_BENCH_MOD == 0
                ).count()
                == 0
                and _sh_hashes(inserted.select("doc_id", "text"))
                .join(bench_sh, "sh")
                .count()
                == 0
            )

        (
            merge_atomic_ok,
            no_near_dup_ok,
            no_dup_ok,
            bands_table_ok,
            fps_table_ok,
            no_leak_ok,
        ) = parallel_vals(
            _merge_atomic_check,
            _near_dup_check,
            _no_dup_check,
            _bands_table_check,
            _fps_table_check,
            _no_leak_check,
        )
        # advisor coverage for the protocol SIDE tables (r11, verdict #6):
        # the band + fingerprint tables accumulate one small-file append
        # per refresh — the maintenance advisor must watch them like any
        # lake table, its compact verdict must FIRE on the accumulated
        # debt, and applying the repair (compact + vacuum) must preserve
        # the gate's artifacts row-for-row
        from cours_datalake_dwh_td_kafka_spark.lake import (
            lake_compact,
            lake_maintenance_plan,
            lake_vacuum,
        )

        def _maintain_side(side: str) -> bool:
            # side-table policy: each refresh appends exactly ONE small
            # file, so the fold threshold is 2 (the data-table default of 4
            # would let debt ride for four crawls before the advisor speaks)
            plan = lake_maintenance_plan(side, min_small_files=2)
            ok = bool(plan["compact_due"])
            # EAGER checkpoint: the vacuum below deletes the files this
            # frame reads, so it must materialize BEFORE the repair (the
            # pre-r14 code materialized it via its count() action)
            before = lake_read(spark, side).localCheckpoint()
            lake_compact(spark, side, target_files=1)
            lake_vacuum(side, keep_versions=1, orphan_grace_seconds=0)
            after = lake_read(spark, side)
            return (
                ok
                and multiset_eq(after, before)
                and not lake_maintenance_plan(side, min_small_files=2)[
                    "compact_due"
                ]
            )

        # the two side stores are disjoint: their repair cycles overlap
        side_tables_maintained_ok = all(
            parallel_vals(
                lambda: _maintain_side(bands_path),
                lambda: _maintain_side(fps_path),
            )
        )

        def _repaired_gate_check() -> bool:
            # the repaired band table still answers the gate identically
            # (read-only over the already-settled repaired store — rides
            # the final pool instead of serializing before it, r15)
            return (
                incremental_near_dups(
                    v2.where(F.col("doc_id") < cut),
                    inserted,
                    corpus_bands=lake_read(spark, bands_path).where(
                        F.col("doc_id") < cut
                    ),
                ).count()
                == 0
            )

        # maintain the TEXT retrieval index through the merge (r11 verdict
        # #2's append leg): the posting lists are an artifact exactly like
        # the vectors — built once with the survivor commit, O(increment)
        # appended per MERGE. With attest=True the served BM25 answer over
        # the refreshed corpus is compared against the direct in-query
        # operator (an O(corpus) re-tokenize, gated like the other
        # attestation recomputes); attest=False trusts the maintained
        # artifact, whose exactness the registered row proves.
        def _text_index_leg() -> bool:
            text_build_fut.result()  # v1 build started right after v1 settled
            append_text_index(spark, clean, tidx)
            if attest:
                from cours_datalake_dwh_td_kafka_spark.operators.text_analysis import (  # noqa: E501
                    bm25_search,
                )

                return multiset_eq(
                    bm25_query_index(spark, tidx), bm25_search(v2)
                )
            # artifact-shape consistency only: one doclen row per kept doc
            from cours_datalake_dwh_td_kafka_spark.operators.text_index import (  # noqa: E501
                _doclens_path,
            )

            return (
                lake_read(spark, _doclens_path(tidx))
                .select("doc_id")
                .distinct()
                .count()
                == n_after
            )

        def _pack_leg() -> int:
            # re-pack: the refreshed corpus' shard count (ceil identity —
            # the pack_efficiency algebra, no per-row packing pass needed)
            toks = F.size(F.split(norm_text(F.col("text")), " ")).cast("long")
            return int(
                v2.select("source", toks.alias("t"))
                .groupBy("source")
                .agg(F.sum("t").alias("n_tokens"))
                .agg(
                    F.sum(
                        F.ceil(F.col("n_tokens") / F.lit(float(PACK_BUDGET)))
                    ).alias("s")
                )
                .first()
                .s
            )

        # the text-index tail (append+serve over the build future), the
        # early-started ANN chain's join, the packing aggregate and the
        # repaired-gate re-check touch disjoint stores / are read-only:
        # overlap all four (r14/r15, guide §2.6)
        (
            text_index_serves_ok,
            serves_union,
            n_shards,
            repaired_gate_ok,
        ) = parallel_vals(
            _text_index_leg, ann_fut.result, _pack_leg, _repaired_gate_check
        )
    side_tables_maintained_ok &= repaired_gate_ok

    # ONE atomic catalog commit pairs the merged corpus with every
    # maintained side artifact (r11 txn log): a reader resolving
    # through the txn entry can never observe the post-MERGE corpus
    # with a pre-MERGE band / fingerprint / posting state — the
    # index_lake_consistency guarantee generalized to all five side
    # tables, at the cost of one tiny O_EXCL file publish. (Published
    # AFTER the legs above so every recorded version is final — same
    # guarantee, settled inputs.)
    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_txn_publish,
        lake_txn_snapshot,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.text_index import (
        _doclens_path,
        _postings_path,
        _tstats_path,
    )

    txn_tables = {
        "corpus": lake_path,
        "bands": bands_path,
        "fps": fps_path,
        "postings": _postings_path(tidx),
        "doclens": _doclens_path(tidx),
        "term_stats": _tstats_path(tidx),
    }
    txn_root = os.path.join(workdir, "catalog")
    lake_txn_publish(
        txn_root,
        {n: (p, current_version(p)) for n, p in txn_tables.items()},
    )
    snap = lake_txn_snapshot(txn_root)
    txn_published_ok = all(
        snap[n]["version"] == current_version(p)
        for n, p in txn_tables.items()
    )
    return spark.createDataFrame(
        [
            (
                int(n_kept),
                int(n_batch),
                int(n_new_unique),
                int(n_inserted),
                int(n_after),
                n_shards,
                bool(no_dup_ok),
                bool(no_near_dup_ok),
                bool(no_leak_ok),
                bool(merge_atomic_ok),
                bool(serves_union),
                bool(bands_table_ok),
                bool(fps_table_ok),
                bool(side_tables_maintained_ok),
                bool(text_index_serves_ok),
                bool(txn_published_ok),
            )
        ],
        "n_corpus_kept BIGINT, n_batch BIGINT, n_new_unique BIGINT, "
        "n_inserted BIGINT, n_total_after BIGINT, n_shards BIGINT, "
        "no_dup_ok BOOLEAN, no_near_dup_ok BOOLEAN, no_leak_ok BOOLEAN, "
        "merge_atomic_ok BOOLEAN, index_serves_union BOOLEAN, "
        "bands_table_ok BOOLEAN, fps_table_ok BOOLEAN, "
        "side_tables_maintained_ok BOOLEAN, text_index_serves_ok BOOLEAN, "
        "txn_published_ok BOOLEAN",
    )


#: fixture slice (round 14, VERDICT r13 #5): the refresh guarantees are
#: equality/emptiness attestations, size-independent by construction —
#: run the row on a deterministic half of the corpus (mirrored in the
#: oracle's bounds/normed CTEs) to keep the protocol bench lane honest;
#: every leg (dedup survivors, near-dup gate, decontamination, packing
#: identity, side tables, index serve) still fires on non-trivial sets
REFRESH_SLICE_MOD = 2


def _refresh_sql() -> str:
    """Recompute every count from the raw tables: the survivor set, the
    incremental-dedup survivors of the batch, the decontamination gate,
    the ceil packing identity."""
    norm = NORM_SQL.format(c="text")
    g = CONTAM_NGRAM - 1
    sh3 = SHINGLES_SQL.format(t="string_split(ntext, ' ')")
    sig_cols = minhash_sig_cols_sql()
    bands = bands_union_sql()
    jpred = jaccard_verified_sql(
        "len(list_intersect(x.sh3, y.sh3))", "len(x.sh3)", "len(y.sh3)"
    )
    sl = REFRESH_SLICE_MOD
    return f"""
    WITH bounds AS (
      SELECT MIN(doc_id) + CAST(FLOOR((MAX(doc_id) - MIN(doc_id))
               * {INCREMENT_SPLIT}) AS BIGINT) AS cut
      FROM documents WHERE doc_id % {sl} = 0
    ),
    normed AS (
      SELECT doc_id, source, {norm} AS ntext, md5({norm}) AS fp
      FROM documents WHERE doc_id % {sl} = 0
    ),
    survivors AS (
      SELECT * FROM (
        SELECT n.*, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id
        FROM normed n, bounds WHERE doc_id < cut
      ) WHERE doc_id = keep_id
    ),
    batch AS (SELECT n.* FROM normed n, bounds WHERE doc_id >= cut),
    fresh AS (
      SELECT * FROM (
        SELECT b.*, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id
        FROM (SELECT b2.* FROM batch b2
              ANTI JOIN (SELECT DISTINCT fp FROM survivors) s USING (fp)
             ) b
      ) WHERE doc_id = keep_id
    ),
    bench_sh AS (
      SELECT DISTINCT shingle FROM (
        SELECT unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(t) - {g}, 1)),
          i -> array_to_string(t[i:i+{g}], ' ')))) AS shingle
        FROM (SELECT string_split(ntext, ' ') AS t FROM normed
              WHERE doc_id % {CONTAM_BENCH_MOD} = 0)
      )
    ),
    fresh_sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(t) - {g}, 1)),
        i -> array_to_string(t[i:i+{g}], ' ')))) AS shingle
      FROM (SELECT doc_id, string_split(ntext, ' ') AS t FROM fresh)
    ),
    leakers AS (
      SELECT DISTINCT doc_id FROM fresh_sh JOIN bench_sh USING (shingle)
    ),
    dsh AS (SELECT doc_id, {sh3} AS sh3 FROM normed),
    sig AS (
      SELECT doc_id, {sig_cols}
      FROM (SELECT doc_id, UNNEST(sh3) AS shingle FROM dsh)
      GROUP BY doc_id
    ),
    bands AS ({bands}),
    near AS (
      SELECT DISTINCT cd.inc_doc AS doc_id
      FROM (
        SELECT DISTINCT i.doc_id AS inc_doc, c.doc_id AS corpus_doc
        FROM bands i JOIN bands c ON i.band_key = c.band_key
        WHERE i.doc_id IN (SELECT doc_id FROM fresh)
          AND c.doc_id IN (SELECT doc_id FROM survivors)
      ) cd
      JOIN dsh x ON x.doc_id = cd.inc_doc
      JOIN dsh y ON y.doc_id = cd.corpus_doc
      WHERE {jpred}
    ),
    clean AS (
      SELECT f.* FROM fresh f
      ANTI JOIN leakers l USING (doc_id)
      ANTI JOIN near nr USING (doc_id)
      WHERE f.doc_id % {CONTAM_BENCH_MOD} != 0
    ),
    refreshed AS (
      SELECT doc_id, source, ntext FROM survivors
      UNION ALL SELECT doc_id, source, ntext FROM clean
    ),
    per_source AS (
      SELECT source, SUM(len(string_split(ntext, ' '))) AS n_tokens
      FROM refreshed GROUP BY source
    )
    SELECT (SELECT COUNT(*) FROM survivors) AS n_corpus_kept,
           (SELECT COUNT(*) FROM batch) AS n_batch,
           (SELECT COUNT(*) FROM fresh) AS n_new_unique,
           (SELECT COUNT(*) FROM clean) AS n_inserted,
           (SELECT COUNT(*) FROM refreshed) AS n_total_after,
           (SELECT CAST(SUM(CEIL(n_tokens / CAST({PACK_BUDGET} AS DOUBLE)))
                    AS BIGINT) FROM per_source) AS n_shards,
           TRUE AS no_dup_ok,
           TRUE AS no_near_dup_ok,
           TRUE AS no_leak_ok,
           TRUE AS merge_atomic_ok,
           TRUE AS index_serves_union,
           TRUE AS bands_table_ok,
           TRUE AS fps_table_ok,
           TRUE AS side_tables_maintained_ok,
           TRUE AS text_index_serves_ok,
           TRUE AS txn_published_ok
    """


@register("corpus_refresh", _refresh_sql())
def q_corpus_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % REFRESH_SLICE_MOD == 0
    )
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % REFRESH_SLICE_MOD == 0
    )
    tmp = tempfile.mkdtemp(prefix="graft_corpus_refresh_")
    try:
        return corpus_refresh(spark, d, e, tmp)
    finally:
        # the result is a driver-local literal row — the scratch lake
        # and index are not needed to collect it later
        shutil.rmtree(tmp, ignore_errors=True)


#: erasure-request selector shared by the deletion-bearing protocol rows
ERASE_MOD = 25
ERASE_REMAINDER = 7


# ---------------------------------------------------------------------------
# CDC-driven index maintenance (round 11, verdict #4): corpus_refresh
# drives its index append from the protocol's OWN variables — correct
# inside one run, but a deployment's maintenance must be drivable from
# the lake's VERSION HISTORY alone (a consumer that crashed, restarted,
# or never saw the producer). This row derives EVERY index operation —
# the initial build, the append, the deletion — purely from
# lake_changes_since output, consumed exactly once per version through
# lake_consume_changes' atomic mark, then proves the index equals the
# live lake.
# ---------------------------------------------------------------------------


def cdc_index_maintenance(
    spark: SparkSession, e: DataFrame, workdir: str
) -> DataFrame:
    """Protocol: commit the prior slice (v1), append the increment
    (v2), merge-on-read-delete an erasure set (v3) — then run ONE CDC
    consumer whose apply_fn sees only change rows: v1 inserts build the
    index, v2 inserts append it, v3 deletes tombstone it; each
    version's consumption is recorded atomically with its derived log
    rows. Guarantees measured on the artifacts:

    - ``consumed_in_order_ok``: the consumer processed exactly versions
      1..3, and a re-run consumes nothing (the exactly-once mark);
    - ``index_eq_lake``: the served vec_id set equals the live lake's —
      the index derived purely from CDC output IS the lake;
    - ``serves_truth_ok``: full-probe queries against the CDC-built
      index equal exact brute force over the surviving vectors;
    - ``log_complete_ok``: the consumer's out table holds exactly one
      row per change (insert rows + delete rows), each tagged with its
      source version."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_consume_changes,
        lake_delete_keys,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        _ids_match,
        append_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        ivf_query_index,
        served_vec_ids,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        ann_topk_bruteforce,
    )

    emb = e.select("vec_id", "embedding")
    elo, ehi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    ecut = int(elo) + int((int(ehi) - int(elo)) * INCREMENT_SPLIT)
    lake_path = os.path.join(workdir, "vec_lake")
    idx = os.path.join(workdir, "idx")
    log = os.path.join(workdir, "cdc_log")
    erased = (F.col("vec_id") % ERASE_MOD == ERASE_REMAINDER) & (
        F.col("vec_id") >= N_QUERIES
    )
    lake_commit(emb.where(F.col("vec_id") < ecut), lake_path)  # v1
    lake_commit(
        emb.where(F.col("vec_id") >= ecut), lake_path, mode="append"
    )  # v2
    lake_delete_keys(
        spark,
        lake_path,
        "vec_id",
        f"vec_id % {ERASE_MOD} = {ERASE_REMAINDER}"
        f" AND vec_id >= {N_QUERIES}",
    )  # v3
    # three independent read-only counts over the input frame (r14,
    # guide §2.6 — attest.parallel_vals)
    n_v1, n_appended, n_deleted = parallel_vals(
        lambda: emb.where(F.col("vec_id") < ecut).count(),
        lambda: emb.where(F.col("vec_id") >= ecut).count(),
        lambda: emb.where(erased).count(),
    )

    built = []

    def apply(ch):
        ins = ch.where(F.col("_change") == "insert").select(
            "vec_id", "embedding"
        )
        dels = ch.where(F.col("_change") == "delete").select("vec_id")
        if ins.take(1):
            if not built:
                build_ivf_index(ins, idx)
                built.append(True)
            else:
                append_ivf_index(ins, idx)
        if dels.take(1):
            delete_from_ivf_index(dels, idx)
        return ch.select("vec_id", "_change", "_version")

    consumed = lake_consume_changes(spark, lake_path, log, apply_fn=apply)

    # ---- checks: all read-only once the consumer settled (the replay
    # probe consumes nothing and writes nothing) — overlapped pool
    def _order_check() -> bool:
        return (
            consumed == [1, 2, 3]
            and lake_consume_changes(spark, lake_path, log, apply_fn=apply)
            == []
        )

    def _eq_lake_check() -> bool:
        return _ids_match(
            served_vec_ids(spark, idx),
            lake_read(spark, lake_path).select("vec_id"),
        )

    def _serves_check() -> bool:
        q = emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        served = ivf_query_index(spark, idx, q, nprobe=N_CELLS).select(
            "query_id", "neighbor_id"
        )
        truth = ann_topk_bruteforce(e.where(~erased)).select(
            "query_id", "neighbor_id"
        )
        return multiset_eq(served, truth)

    def _log_check() -> bool:
        log_df = lake_read(spark, log).localCheckpoint(eager=False)
        return (
            log_df.count() == n_v1 + n_appended + n_deleted
            and log_df.where(
                (F.col("_change") == "delete") & (F.col("_version") == 3)
            ).count()
            == n_deleted
        )

    (
        consumed_in_order_ok,
        index_eq_lake,
        serves_truth_ok,
        log_complete_ok,
    ) = parallel_vals(_order_check, _eq_lake_check, _serves_check, _log_check)
    return spark.createDataFrame(
        [
            (
                int(n_v1),
                int(n_appended),
                int(n_deleted),
                bool(consumed_in_order_ok),
                bool(index_eq_lake),
                bool(serves_truth_ok),
                bool(log_complete_ok),
            )
        ],
        "n_v1 BIGINT, n_appended BIGINT, n_deleted BIGINT, "
        "consumed_in_order_ok BOOLEAN, index_eq_lake BOOLEAN, "
        "serves_truth_ok BOOLEAN, log_complete_ok BOOLEAN",
    )


def _cdc_maintenance_sql() -> str:
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_QUERIES,
    )

    return f"""
    WITH bounds AS (
      SELECT MIN(vec_id) + CAST(FLOOR((MAX(vec_id) - MIN(vec_id))
               * {INCREMENT_SPLIT}) AS BIGINT) AS ecut
      FROM embeddings
    )
    SELECT (SELECT COUNT(*) FROM embeddings, bounds WHERE vec_id < ecut)
             AS n_v1,
           (SELECT COUNT(*) FROM embeddings, bounds WHERE vec_id >= ecut)
             AS n_appended,
           (SELECT COUNT(*) FROM embeddings
            WHERE vec_id % {ERASE_MOD} = {ERASE_REMAINDER}
              AND vec_id >= {N_QUERIES}) AS n_deleted,
           TRUE AS consumed_in_order_ok,
           TRUE AS index_eq_lake,
           TRUE AS serves_truth_ok,
           TRUE AS log_complete_ok
    """


@register("cdc_index_maintenance", _cdc_maintenance_sql())
def q_cdc_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="graft_cdc_idx_")
    try:
        return cdc_index_maintenance(spark, e, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# the erasure protocol (round 10): corpus_refresh's removal twin — the
# right-to-be-forgotten loop a training-data lake actually runs. Every
# rung is the already-attested operator; this row is the integration
# check that they CHAIN across BOTH stores:
#
#   erasure request (a doc_id set)
#     -> lake_delete_keys     (merge-on-read: O(deleted) write, no
#                              data-file rewrite)
#     -> delete_from_ivf_index (tombstones: O(deleted) write, no
#                              vector rewrite)
#     -> serving checks        (no erased doc readable, by scan OR by
#                              bloom point lookup; no erased vector in
#                              any probe; full-probe answers == exact
#                              truth over the remaining corpus)
#     -> audit trail           (pre-erasure snapshots still readable by
#                              explicit version — erasure of SERVING is
#                              immediate, physical removal is the next
#                              rung, never an implicit side effect)
#     -> fold + vacuum         (compaction folds both stores' debt;
#                              vacuum removes the old versions; raw
#                              file scans prove the rows are GONE)
# ---------------------------------------------------------------------------


def erasure_protocol(
    spark: SparkSession, d: DataFrame, e: DataFrame, workdir: str
) -> DataFrame:
    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        current_version,
        lake_compact,
        lake_delete_keys,
        lake_read_point,
        lake_vacuum,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        _current_version_dir,
        _live_rows,
        _tombstone_roots,
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_query_index,
        vacuum_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        ann_topk_bruteforce,
    )

    erased = F.col("doc_id") % ERASE_MOD == ERASE_REMAINDER
    lake_path = os.path.join(workdir, "docs")
    idx = os.path.join(workdir, "idx")
    emb = e.select("vec_id", "embedding")
    vec_erased = (F.col("vec_id") % ERASE_MOD == ERASE_REMAINDER) & (
        F.col("vec_id") >= N_QUERIES
    )
    # r15 (guide §2.6, the ann_index_delete recipe): the serving
    # check's brute-force truth reads only the input frame — start its
    # eager pin first so the BLAS pass rides under both write phases.
    with legs(spark) as bg:
        truth_rem_fut = bg.submit(
            lambda: ann_topk_bruteforce(e.where(~vec_erased))
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )
        # build phase: the two stores are disjoint and the two counts are
        # read-only — overlap the four jobs (r14, guide §2.6)
        _, _, n_docs, n_erased = parallel_vals(
            lambda: lake_commit(d, lake_path),  # v1
            lambda: build_ivf_index(emb, idx, lake_version=1),
            lambda: d.count(),
            lambda: d.where(erased).count(),
        )
        import os as _os

        pinned_idx = _os.path.basename(_current_version_dir(idx))

        # the request lands: O(deleted) writes on BOTH stores. The request
        # ARRIVES as explicit keys (the GDPR shape, r11 verdict #5) — the
        # keys-overload writes them without any lake read, end-to-end
        # O(deleted) including the scan. Disjoint stores again: overlapped.
        _, _, n_vecs_erased = parallel_vals(
            lambda: lake_delete_keys(
                spark, lake_path, "doc_id",
                keys=d.where(erased).select("doc_id"),
            ),  # v2
            lambda: delete_from_ivf_index(
                emb.where(vec_erased).select("vec_id"), idx
            ),
            lambda: emb.where(vec_erased).count(),
        )

        # serving checks: read-only over the settled stores — one pool
        q = emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )

        def _lake_without_check() -> bool:
            live = lake_read(spark, lake_path)
            return (
                live.where(erased).count() == 0
                and live.count() == n_docs - n_erased
            )

        def _point_check() -> bool:
            probe_doc = int(d.where(erased).agg(F.min("doc_id")).first()[0])
            return (
                lake_read_point(spark, lake_path, "doc_id", probe_doc).count()
                == 0
            )

        def _index_without_check() -> bool:
            served = ivf_query_index(spark, idx, q, nprobe=N_CELLS).select(
                "query_id", "neighbor_id"
            )
            return multiset_eq(served, truth_rem_fut.result())

        def _snapshots_check() -> bool:
            # audit trail: pre-erasure snapshots readable BY EXPLICIT version
            return (
                lake_read(spark, lake_path, 1).where(erased).count()
                == n_erased
                and ivf_query_index(
                    spark, idx, q, nprobe=N_CELLS, version=pinned_idx
                )
                .join(
                    emb.where(vec_erased).select(
                        F.col("vec_id").alias("neighbor_id")
                    ),
                    "neighbor_id",
                    "leftsemi",
                )
                .count()
                > 0  # the old snapshot still serves erased vectors — by design
            )

        (
            lake_without,
            point_empty,
            index_without,
            snapshots_isolated,
        ) = parallel_vals(
            _lake_without_check,
            _point_check,
            _index_without_check,
            _snapshots_check,
        )

    # fold + vacuum: the rows are physically GONE from both stores.
    # The reclaim is MEASURED (r11 verdict #7): vacuum's returned
    # orphan list must be non-empty and the store's on-disk bytes must
    # shrink, on BOTH stores — the physical-erasure claim as audited
    # numbers, not an assumption. (The raw counts are write-layout-
    # dependent — parallelism decides file counts — so the DuckDB
    # oracle cannot recompute them; the row carries the invariant
    # booleans and the API returns the lists themselves.)
    def _tree_bytes(root: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                total += os.path.getsize(os.path.join(dirpath, fn))
        return total

    def _lake_reclaim() -> tuple[bool, bool]:
        lake_compact(spark, lake_path, target_files=1)  # folds the deletes
        bytes_pre = _tree_bytes(lake_path)
        orphans = lake_vacuum(
            lake_path, keep_versions=1, orphan_grace_seconds=0
        )
        bytes_post = _tree_bytes(lake_path)
        m = _read_manifest(lake_path, current_version(lake_path))
        raw_docs = spark.read.parquet(
            *(os.path.join(lake_path, f) for f in m["files"])
        )
        reclaimed = len(orphans) > 0 and bytes_post < bytes_pre
        phys = raw_docs.where(erased).count() == 0 and not m.get("deletes")
        return reclaimed, phys

    def _idx_reclaim() -> tuple[bool, bool]:
        compact_ivf_index(spark, idx)
        bytes_pre = _tree_bytes(idx)
        orphans = vacuum_index(idx, grace_seconds=0)
        bytes_post = _tree_bytes(idx)
        cur = _current_version_dir(idx)
        raw_vecs = _live_rows(spark, idx, cur)
        reclaimed = len(orphans) > 0 and bytes_post < bytes_pre
        phys = (
            raw_vecs.where(
                (F.col("vec_id") % ERASE_MOD == ERASE_REMAINDER)
                & (F.col("vec_id") >= N_QUERIES)
            ).count()
            == 0
            and not _tombstone_roots(idx, cur)
        )
        return reclaimed, phys

    # disjoint stores: the two fold+vacuum+rescan cycles overlap
    (lake_reclaimed, lake_phys), (idx_reclaimed, idx_phys) = parallel_vals(
        _lake_reclaim, _idx_reclaim
    )
    vacuum_reclaimed_ok = lake_reclaimed and idx_reclaimed
    physical = lake_phys and idx_phys
    return spark.createDataFrame(
        [
            (
                int(n_docs),
                int(n_erased),
                int(n_vecs_erased),
                bool(lake_without),
                bool(point_empty),
                bool(index_without),
                bool(snapshots_isolated),
                bool(physical),
                bool(vacuum_reclaimed_ok),
            )
        ],
        "n_docs BIGINT, n_erased_docs BIGINT, n_erased_vecs BIGINT, "
        "lake_serves_without BOOLEAN, point_lookup_empty BOOLEAN, "
        "index_serves_without BOOLEAN, snapshots_isolated BOOLEAN, "
        "physically_removed_after_fold BOOLEAN, "
        "vacuum_reclaimed_ok BOOLEAN",
    )


def _erasure_sql() -> str:
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_QUERIES,
    )

    return f"""
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(*) FROM documents
            WHERE doc_id % {ERASE_MOD} = {ERASE_REMAINDER})
             AS n_erased_docs,
           (SELECT COUNT(*) FROM embeddings
            WHERE vec_id % {ERASE_MOD} = {ERASE_REMAINDER}
              AND vec_id >= {N_QUERIES}) AS n_erased_vecs,
           TRUE AS lake_serves_without,
           TRUE AS point_lookup_empty,
           TRUE AS index_serves_without,
           TRUE AS snapshots_isolated,
           TRUE AS physically_removed_after_fold,
           TRUE AS vacuum_reclaimed_ok
    """


@register("erasure_protocol", _erasure_sql())
def q_erasure_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="graft_erasure_")
    try:
        return erasure_protocol(spark, d, e, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
