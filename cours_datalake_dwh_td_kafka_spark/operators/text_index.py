"""Build/serve split for text retrieval (round-11 verdict #2) — the
posting lists are the ARTIFACT, exactly as vectors are for ANN.

``bm25_search`` and ``phrase_search`` recompute the inverted /
positional index per query; correct, but at 100 TB the tokenize +
explode pass dominates every query. This module persists the index as
two versioned-lake tables under one root:

- ``postings``:  (term, doc_id, tf, positions array<int>) — one row per
  (term, doc) pair; positions ride along as a compact array so ONE
  artifact serves both the bag-of-words scorer (tf = size) and the
  adjacency operator (explode positions for the phrase chain).
  Clustered by ``term`` at the build commit (range-partition +
  per-file stats; lake_cluster_by remains the RE-cluster rung), so a query
  term's postings resolve to O(matching files) via manifest min/max
  pruning — the read-side shape of a Lucene term dictionary, expressed
  at the manifest layer.
- ``doclens``:   (doc_id, dl) — the per-document length sidecar; corpus
  stats (n_docs, avg_dl) are ONE aggregate over it, never a text scan.

Maintenance is the band-table protocol (``corpus_refresh``): build once
with the initial commit, O(increment) appends per MERGE (appended files
carry no cluster stats and are conservatively scanned until the advisor
re-clusters — the same carry-forward rule every lake index follows).

Serving (`bm25_query_index`, `phrase_query_index`) recomputes NOTHING
from text: tf/df/dl all come from the artifact, and the scoring
expression is shared with the in-query operators, so served == direct
bit-for-bit (the ``bm25_served`` row attests both parities).

Reference scope note: the reference has no retrieval surface; this is
beyond-reference infrastructure following public Lucene/Iceberg shapes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.lake import (
    lake_commit,
    lake_delete_keys,
    lake_read,
    lake_read_pruned,
)
from cours_datalake_dwh_td_kafka_spark.operators.attest import (
    legs,
    multiset_eq,
    parallel_vals,
)
from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
    INCREMENT_SPLIT,
    NORM_SQL,
    norm_text,
)
from cours_datalake_dwh_td_kafka_spark.operators.text_analysis import (
    _BM25_CTES,
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    BM25_TOP_N,
    PHRASE_QUERY,
    bm25_ctes,
    bm25_search,
    phrase_search,
)
from cours_datalake_dwh_td_kafka_spark.registry import register


def postings_rows(d: DataFrame) -> DataFrame:
    """(term, doc_id, tf, positions) rows straight from raw documents —
    THE persistable retrieval artifact. Positions are 1-based (the
    phrase_search convention); tf is materialized (not recomputed as
    size(positions) at query time) so the BM25 read never touches the
    array column at all — column pruning drops it at the parquet scan."""
    toks = F.split(norm_text(F.col("text")), " ")
    return (
        d.select("doc_id", F.posexplode(toks).alias("p0", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list(F.col("p0") + 1)).alias(
                "positions"
            ),
        )
    )


def doclen_rows(d: DataFrame) -> DataFrame:
    """(doc_id, dl) — token count per document, the BM25 length sidecar."""
    return d.select(
        "doc_id", F.size(F.split(norm_text(F.col("text")), " ")).alias("dl")
    )


def _postings_path(path: str) -> str:
    return os.path.join(path, "postings")


def _doclens_path(path: str) -> str:
    return os.path.join(path, "doclens")


def _tstats_path(path: str) -> str:
    return os.path.join(path, "term_stats")


def term_stats_rows(postings: DataFrame, doclens: DataFrame) -> DataFrame:
    """(term, df, max_tf, min_dl) for one slice, derived from that
    slice's ALREADY-COMPUTED posting/doclen frames (zero extra
    tokenize). These are the MaxScore bound ingredients: the per-term
    BM25 score is increasing in tf and decreasing in dl, so
    (max_tf, min_dl) yield a provable per-term score upper bound, and
    df feeds the exact idf. All three are associative under the
    append-only maintenance protocol — a query aggregates SUM(df) /
    MAX(max_tf) / MIN(min_dl) across slices, so appends just add rows
    and never rewrite (the same carry-forward rule as the posting
    files themselves)."""
    return (
        postings.join(doclens, "doc_id")
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
        )
    )


def _slice_frames(
    d: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One tokenize pass per artifact for a slice: postings and doclens
    are lazily checkpointed so the derived term_stats frame reuses
    their materialization instead of re-tokenizing (pinned by the
    corpus_refresh text-work spy test, which counts calls to
    postings_rows/doclen_rows — term_stats must not add one)."""
    p = postings_rows(d).localCheckpoint(eager=False)
    dl = doclen_rows(d).localCheckpoint(eager=False)
    return p, dl, term_stats_rows(p, dl)


def build_text_index(
    spark: SparkSession, d: DataFrame, path: str, n_files: int = 8
) -> None:
    """Tokenize ``d`` ONCE and commit the postings + doclens + term
    stats tables, the postings and term stats CLUSTERED by term so a
    query term's read opens O(matching files). The one-time build is
    the only full-corpus text pass the retrieval surface ever makes.

    r14 (guide §2.4/§6): the build used to commit unclustered and then
    ``lake_cluster_by`` both term-keyed stores — writing the whole
    postings table twice and reading it back in between. The initial
    commit now range-partitions by term and records per-file [min, max]
    term stats via ``lake_commit(stats_cols=...)`` (the r14
    stats-on-append hook), which IS the 1-D clustered layout: disjoint
    per-file ranges, manifest-as-term-dictionary, identical pruned
    reads — one write instead of write + clustered rewrite. The three
    commits land on DISJOINT stores from the two pinned slice frames,
    so they overlap (guide §2.6); the pins materialize first, in
    parallel, because the tstats commit reads both."""
    p, dl, ts = _slice_frames(d)
    # materialize the shared lazy checkpoints BEFORE the pooled commits
    # (two threads racing a lazy checkpoint's first action can compute
    # it twice — attest.parallel_vals contract)
    parallel_vals(lambda: p.count(), lambda: dl.count())
    parallel_vals(
        lambda: lake_commit(
            p.repartitionByRange(n_files, "term").sortWithinPartitions(
                "term"
            ),
            _postings_path(path),
            stats_cols=("term",),
        ),
        lambda: lake_commit(dl, _doclens_path(path)),
        lambda: lake_commit(
            ts.repartitionByRange(
                max(2, n_files // 2), "term"
            ).sortWithinPartitions("term"),
            _tstats_path(path),
            stats_cols=("term",),
        ),
    )


def append_text_index(spark: SparkSession, d: DataFrame, path: str) -> None:
    """O(increment) maintenance per MERGE: append the new docs' posting,
    length, and term-stat rows. Appended files carry no cluster stats —
    pruned term reads conservatively scan them until a re-cluster (the
    advisor's reindex rung), which is correctness-free debt: over-scan
    only, never a miss. Term stats stay exact under appends because
    every doc lands in exactly one slice and df/max_tf/min_dl compose
    associatively across slices. The three appends land on DISJOINT
    stores from the two pinned slice frames — overlapped (r14,
    guide §2.6), pins materialized first."""
    p, dl, ts = _slice_frames(d)
    parallel_vals(lambda: p.count(), lambda: dl.count())
    parallel_vals(
        lambda: lake_commit(p, _postings_path(path), mode="append"),
        lambda: lake_commit(dl, _doclens_path(path), mode="append"),
        lambda: lake_commit(ts, _tstats_path(path), mode="append"),
    )


def erase_from_text_index(
    spark: SparkSession, erased: DataFrame, path: str
) -> int:
    """O(erased + affected terms) right-to-be-forgotten maintenance for
    the retrieval index (round 13, VERDICT r12 #2). ``erased`` is the
    erased docs' (doc_id, text) — the wave arrives WITH its raw rows
    (the erasure request precedes the base-table delete, so the text is
    still at hand; re-tokenizing the wave is what keeps affected-term
    discovery O(erased), no forward index needed):

    - postings + doclens: merge-on-read equality deletes on doc_id —
      O(keys) writes, every read path anti-joins them (the
      lake_delete_keys contract);
    - term_stats: the (df, max_tf, min_dl) sidecar is associative under
      APPENDS but not deletes — df would overcount and the MaxScore
      upper bounds, while still VALID (removing docs only lowers true
      maxima), would drift from the from-scratch build and the exact df
      the scorer reads would be wrong. So the wave's AFFECTED TERMS
      (tokenized from the wave itself) are key-deleted and ONE exact
      row per surviving affected term is appended, recomputed from the
      remaining postings semi-joined to the affected set — O(affected
      terms' postings), never a corpus pass.

    Returns the number of affected terms."""
    ids = erased.select("doc_id")
    terms = (
        postings_rows(erased).select("term").distinct()
        .localCheckpoint(eager=False)
    )
    n_terms = terms.count()
    lake_delete_keys(spark, _postings_path(path), "doc_id", keys=ids)
    lake_delete_keys(spark, _doclens_path(path), "doc_id", keys=ids)
    if n_terms == 0:
        return 0
    lake_delete_keys(spark, _tstats_path(path), "term", keys=terms)
    rem_p = lake_read(spark, _postings_path(path)).join(
        F.broadcast(terms), "term", "left_semi"
    )
    rem_dl = lake_read(spark, _doclens_path(path))
    recomputed = term_stats_rows(rem_p, rem_dl)
    if recomputed.isEmpty():
        return n_terms  # every affected term vanished with the wave
    lake_commit(recomputed, _tstats_path(path), mode="append")
    return n_terms


def _term_postings(
    spark: SparkSession, path: str, terms: tuple[str, ...]
) -> DataFrame:
    """Union of per-term PRUNED posting reads — each term opens only the
    files whose recorded [min, max] term range covers it (plus
    stats-less appended files). len(terms) bounded manifest reads; the
    corpus outside the probed terms is never opened on a clustered
    index. Duplicate query terms read once (isin semantics — a
    repeated term must not double its tf rows)."""
    out = None
    for t in dict.fromkeys(terms):
        one = lake_read_pruned(spark, _postings_path(path), "term", t, t)
        out = one if out is None else out.unionByName(one)
    return out


def _doclen_stats(lens: DataFrame) -> DataFrame:
    """(n_docs, avg_dl) — one broadcastable scalar row over the doclens
    sidecar, same decimal/round-6 algebra as bm25_search's stats."""
    return lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("dl").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_dl"),
    )


def _score_and_rank(
    tf: DataFrame,
    lens: DataFrame,
    df: DataFrame,
    stats: DataFrame,
    k1: float,
    b: float,
    top_n: int,
) -> DataFrame:
    """The shared BM25 scoring tail — identical expression, decimal-sum
    discipline, round-6 tie rule, and limit-first top-k as
    :func:`text_analysis.bm25_search`, factored so the exhaustive
    served path and the MaxScore-pruned path cannot drift from each
    other (their equality is what ``bm25_maxscore`` attests)."""
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term_score = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avg_dl")))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(term_score.cast("decimal(28,6)")).cast("double"), 6
            ).alias("bm25")
        )
    )
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(top_n)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        "bm25",
        F.row_number().over(w).cast("long").alias("rn"),
    ).orderBy("rn")


def bm25_query_index(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...] = BM25_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_n: int = BM25_TOP_N,
) -> DataFrame:
    """Okapi BM25 served FROM the persisted index — same schema, same
    round-6 decimal-summed scores, same tie rule as
    :func:`text_analysis.bm25_search`, with zero text reads: tf/df come
    from the pruned posting lists, dl from the doclens sidecar, corpus
    stats from one aggregate over it. The scoring expression is kept
    textually in step with bm25_search so the two can never drift
    (bm25_served attests equality every attestation round)."""
    lens = lake_read(spark, _doclens_path(path)).localCheckpoint(
        eager=False
    )
    stats = _doclen_stats(lens)
    tf = (
        _term_postings(spark, path, terms)
        .select("term", "doc_id", "tf")
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return _score_and_rank(tf, lens, df, stats, k1, b, top_n)


def phrase_query_index(
    spark: SparkSession, path: str, phrase: str = PHRASE_QUERY
) -> DataFrame:
    """Exact phrase matching served FROM the persisted positional
    postings — same adjacency chain and output schema as
    :func:`text_analysis.phrase_search`, with each join leg a pruned
    one-term posting read (positions exploded from the stored array)
    instead of a corpus tokenize."""
    terms = phrase.split(" ")
    posted = _term_postings(spark, path, tuple(set(terms)))

    def leg(term: str) -> DataFrame:
        return (
            posted.where(F.col("term") == term)
            .select("doc_id", F.explode("positions").alias("pos"))
        )

    cur = leg(terms[0])
    for i, term in enumerate(terms[1:], start=1):
        nxt = leg(term).select(
            F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
        )
        cur = cur.join(
            nxt,
            (F.col("doc_id") == F.col("d2"))
            & (F.col("p2") == F.col("pos") + i),
        ).select("doc_id", "pos")
    return (
        cur.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


def text_index_protocol(
    spark: SparkSession, d: DataFrame, workdir: str
) -> DataFrame:
    """The attested build/serve lifecycle: build the index on the prior
    slice (the 80% INCREMENT_SPLIT convention), APPEND the increment's
    postings per the maintenance protocol, then prove the served paths
    equal the in-query operators over the full corpus — BM25 top-n
    multiset-equal (count + one-sided exceptAll) and the phrase result
    multiset-equal. Returns the SERVED BM25 rows with the parity
    booleans riding along, so the driver's value hash pins the served
    scores themselves, not just the booleans.

    Two scan-shape facts ride along as attested columns (round-12
    verdict #5/#6, the lake_bloom probe pattern):

    - ``served_files_pruned``: the BM25 term reads opened strictly
      fewer posting files than the table holds — on the term-clustered
      layout each query term's range keeps ~1 clustered file (plus the
      stats-less appended files, conservatively), never the other
      terms' files. The assertion is GUARDED on the layout making
      pruning possible at all (>1 file, at least one of them carrying
      term stats): on a single-file or stats-less layout the reads are
      correct but nothing is prunable, and attesting FALSE there would
      fail the value hash for a layout accident, not a serving bug
      (ADVICE r12) — the guard makes the boolean mean "pruning holds
      wherever the layout admits it";
    - ``phrase_posting_rows``: the EXACT number of posting rows the
      phrase chain reads (one row per (term, doc) for the phrase's
      terms) — oracle-recomputed from raw text, so the served path
      provably consumes the candidate set and nothing more. The
      measured serve-only latency lives in tools/measure_serving.py +
      README (wall time is not hashable)."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        _read_manifest,
        current_version,
        pruned_files,
    )

    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = int(lo) + int((int(hi) - int(lo)) * INCREMENT_SPLIT)
    idx = os.path.join(workdir, "text_index")
    # r15 (guide §2.6, the corpus_refresh recipe): both in-query
    # recompute legs read only the INPUT corpus — start their eager
    # pins before the build+append chain so the full-corpus tokenize
    # rides underneath; the parity checks join them where the
    # sequential form recomputed them.
    with legs(spark) as bg:
        bm25_want_fut = bg.submit(
            lambda: bm25_search(d).localCheckpoint(eager=True)
        )
        phrase_want_fut = bg.submit(
            lambda: phrase_search(d).localCheckpoint(eager=True)
        )
        build_text_index(spark, d.where(F.col("doc_id") < cut), idx)
        append_text_index(spark, d.where(F.col("doc_id") >= cut), idx)

        # EAGER: the served frame feeds the parity check AND the returned
        # rows; one materialization up front keeps the pooled checks below
        # race-free (r14, guide §2.6 — attest.parallel_vals)
        served = bm25_query_index(spark, idx).localCheckpoint(eager=True)

        def _bm25_eq_check() -> bool:
            # one signed-tag action (VERDICT r13 #4) instead of
            # count + count + exceptAll
            return multiset_eq(served, bm25_want_fut.result())

        def _phrase_eq_check() -> bool:
            return multiset_eq(
                phrase_query_index(spark, idx), phrase_want_fut.result()
            )

        def _phrase_rows_count() -> int:
            return _term_postings(
                spark, idx, tuple(set(PHRASE_QUERY.split(" ")))
            ).count()

        bm25_eq, phrase_eq, phrase_rows = parallel_vals(
            _bm25_eq_check, _phrase_eq_check, _phrase_rows_count
        )
    opened: set[str] = set()
    total = 0
    for t in dict.fromkeys(BM25_TERMS):
        fs, total = pruned_files(_postings_path(idx), "term", t, t)
        opened.update(fs)
    pm = _read_manifest(
        _postings_path(idx), current_version(_postings_path(idx))
    )
    has_term_stats = any(
        ((pm.get("stats") or {}).get(f) or {}).get("cols", {}).get("term")
        for f in pm["files"]
    )
    # guarded assertion (see docstring): only claim pruning when the
    # layout actually admits it
    files_pruned = (
        len(opened) < total if (total > 1 and has_term_stats) else True
    )
    return served.select(
        "doc_id",
        "bm25",
        "rn",
        F.lit(bool(bm25_eq)).alias("served_eq_direct"),
        F.lit(bool(phrase_eq)).alias("phrase_eq_direct"),
        F.lit(bool(files_pruned)).alias("served_files_pruned"),
        F.lit(int(phrase_rows)).cast("long").alias("phrase_posting_rows"),
    ).orderBy("rn")


def _phrase_posting_rows_sql(phrase: str) -> str:
    """Scalar subquery: how many (term, doc) posting rows the phrase's
    terms have — DuckDB recomputes it from raw text with the same
    normalizer, pinning the served chain's candidate volume."""
    term_in = ", ".join(f"'{t}'" for t in dict.fromkeys(phrase.split(" ")))
    return f"""(SELECT CAST(COUNT(*) AS BIGINT) FROM (
        SELECT doc_id, s FROM (
          SELECT doc_id,
                 unnest(string_split({NORM_SQL.format(c="text")}, ' ')) AS s
          FROM documents)
        WHERE s IN ({term_in}) GROUP BY doc_id, s))"""


_BM25_SERVED_SQL = f"""
    WITH {_BM25_CTES}
    SELECT doc_id, bm25, CAST(rn AS BIGINT) AS rn,
           TRUE AS served_eq_direct, TRUE AS phrase_eq_direct,
           TRUE AS served_files_pruned,
           {_phrase_posting_rows_sql(PHRASE_QUERY)} AS phrase_posting_rows
    FROM ranked WHERE rn <= {BM25_TOP_N}
    ORDER BY rn
"""


@register("bm25_served", _BM25_SERVED_SQL)
def q_bm25_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_text_index_")
    try:
        return text_index_protocol(spark, d, tmp)
    finally:
        # the returned frame's lineage is cut (localCheckpoint) before
        # the parity collects, and the served rows are re-selected off
        # that checkpoint — safe to drop the scratch index
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# MaxScore-pruned exact top-k (Turtle & Flood 1995, mapped to lake reads)
# ---------------------------------------------------------------------------
MAXSCORE_TERMS = ("dup", "scan", "line")
MAXSCORE_TOP_N = 10
# safety margin between the pruning threshold and the per-doc upper
# bounds: scores are ranked at round-6, so a doc whose TRUE score is
# below theta by more than 1e-6 cannot round into a tie with the k-th
# candidate (ties break by doc_id, which an excluded doc must never win)
_MAXSCORE_EPS = 1e-6


def _term_stats(
    spark: SparkSession, path: str, terms: tuple[str, ...]
) -> DataFrame:
    """(term, df, max_tf, min_dl) for the query terms, folded across
    append slices — pruned per-term reads on the clustered term_stats
    table, then the associative SUM/MAX/MIN fold. len(terms) bounded
    manifest reads; never the whole vocabulary."""
    out = None
    for t in dict.fromkeys(terms):
        one = lake_read_pruned(spark, _tstats_path(path), "term", t, t)
        out = one if out is None else out.unionByName(one)
    return out.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.max("max_tf").alias("max_tf"),
        F.min("min_dl").alias("min_dl"),
    )


def bm25_maxscore_query(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...] = MAXSCORE_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_n: int = MAXSCORE_TOP_N,
) -> tuple[DataFrame, dict]:
    """Exact BM25 top-k with MaxScore document pruning (Turtle & Flood
    1995; the batch shape of the WAND family) served from the persisted
    index — provably the SAME answer as the exhaustive scorer, with the
    fat posting lists of low-impact terms never entering candidate
    generation:

    1. per-term score upper bounds UB_t from the persisted
       (df, max_tf, min_dl) sidecar (the BM25 term score is increasing
       in tf and decreasing in dl, so plugging max_tf / min_dl bounds
       every posting of t) — |Q| rows collected, never the corpus;
    2. a seed threshold theta = the k-th best EXACT score among docs
       containing the rarest query term (a lower bound on the true
       k-th best, since the seed set is a subset of all scored docs);
    3. terms sorted by ascending UB; the maximal prefix N with
       sum(UB) < theta - eps is NON-ESSENTIAL: a doc containing only
       N-terms scores <= sum_N UB, strictly below theta even after
       round-6, so it cannot enter the top-k nor win a tie — candidate
       docs are exactly those containing >= 1 essential term;
    4. one exact scoring pass over candidates (all query-term postings
       SEMI-JOINED to the candidate set — df comes from the sidecar,
       exact under the append-only invariant, so scores match the
       exhaustive path bit-for-bit).

    100 TB shape: exhaustive BM25 shuffles and aggregates EVERY posting
    of every query term; MaxScore reduces that to the essential terms'
    postings plus a candidate-bounded semi-join — a stopword-heavy
    query with one rare term aggregates the rare term's postings, not
    the stopword's. The semi-join sits below the shuffle, and with a
    small candidate set AQE broadcasts it, so the fat lists never
    repartition by doc_id at full volume. Returns (top-k frame, a
    measurements dict: n_essential / candidate vs exhaustive posting
    rows / theta), equality attested by the ``bm25_maxscore`` row."""
    import math

    lens = lake_read(spark, _doclens_path(path)).localCheckpoint(
        eager=False
    )
    stats = _doclen_stats(lens).localCheckpoint(eager=False)
    srow = stats.first()
    n_docs, avg_dl = int(srow["n_docs"]), float(srow["avg_dl"])

    tstats = _term_stats(spark, path, terms)
    df_frame = tstats.select("term", "df").localCheckpoint(eager=False)
    trows = {r["term"]: r for r in tstats.collect()}  # |Q| rows
    missing = [t for t in terms if t not in trows]
    if missing:
        raise ValueError(
            f"query terms absent from the term_stats sidecar: {missing}"
        )

    def _ub(r) -> float:
        idf = math.log(
            (n_docs - r["df"] + 0.5) / (r["df"] + 0.5) + 1
        )
        mt, mdl = float(r["max_tf"]), float(r["min_dl"])
        return idf * mt * (k1 + 1) / (
            mt + k1 * (1 - b + b * mdl / avg_dl)
        )

    ubs = {t: _ub(trows[t]) for t in dict.fromkeys(terms)}

    tf_all = (
        _term_postings(spark, path, terms)
        .select("term", "doc_id", "tf")
        .localCheckpoint(eager=False)
    )

    # seed: exact scores of the rarest term's docs give the threshold
    seed_term = min(ubs, key=lambda t: (trows[t]["df"], t))
    seed_docs = tf_all.where(F.col("term") == seed_term).select("doc_id")
    seed_top = _score_and_rank(
        tf_all.join(seed_docs, "doc_id", "left_semi"),
        lens,
        df_frame,
        stats,
        k1,
        b,
        top_n,
    ).collect()  # <= top_n rows
    theta = (
        float(seed_top[-1]["bm25"])
        if len(seed_top) == top_n
        else float("-inf")
    )

    # essential partition: ascending-UB prefix whose bound sum stays
    # strictly below theta (minus the round-6 tie margin) is prunable
    nonessential: list[str] = []
    cum = 0.0
    for t in sorted(ubs, key=lambda t: (ubs[t], t)):
        if cum + ubs[t] < theta - _MAXSCORE_EPS:
            cum += ubs[t]
            nonessential.append(t)
        else:
            break
    essential = [t for t in dict.fromkeys(terms) if t not in nonessential]

    cand = (
        tf_all.where(F.col("term").isin(essential))
        .select("doc_id")
        .unionByName(seed_docs)
        .distinct()
        .localCheckpoint(eager=False)
    )
    tf_cand = tf_all.join(cand, "doc_id", "left_semi")
    result = _score_and_rank(
        tf_cand, lens, df_frame, stats, k1, b, top_n
    )
    # the two posting-row measurements are independent read-only counts
    # over pinned frames — overlapped (r14, guide §2.6)
    cand_rows, all_rows = parallel_vals(
        lambda: tf_cand.count(), lambda: tf_all.count()
    )
    meas = {
        "n_query_terms": len(ubs),
        "n_essential_terms": len(essential),
        "theta": theta,
        "candidate_posting_rows": cand_rows,
        "exhaustive_posting_rows": all_rows,
    }
    return result, meas


def maxscore_protocol(
    spark: SparkSession, d: DataFrame, workdir: str
) -> DataFrame:
    """The attested MaxScore lifecycle: build the index on the prior
    slice, APPEND the increment (so the (df, max_tf, min_dl) sidecar's
    associative fold across slices is itself under test), run the
    pruned top-k, and prove it row-for-row equal to the exhaustive
    served scorer over the same index. Returns the pruned top-k with
    the equality + pruning-fired booleans riding along so the driver's
    value hash pins the pruned scores themselves."""
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = int(lo) + int((int(hi) - int(lo)) * INCREMENT_SPLIT)
    idx = os.path.join(workdir, "text_index")
    build_text_index(spark, d.where(F.col("doc_id") < cut), idx)
    append_text_index(spark, d.where(F.col("doc_id") >= cut), idx)

    pruned, meas = bm25_maxscore_query(spark, idx)
    pruned = pruned.localCheckpoint(eager=False)
    # one signed-tag action (VERDICT r13 #4) instead of count + count +
    # exceptAll; pruned's checkpoint materializes here and the returned
    # rows below reuse it
    eq = multiset_eq(
        pruned,
        bm25_query_index(
            spark, idx, terms=MAXSCORE_TERMS, top_n=MAXSCORE_TOP_N
        ),
    )
    fired = (
        meas["n_essential_terms"] < meas["n_query_terms"]
        and meas["candidate_posting_rows"]
        < meas["exhaustive_posting_rows"]
    )
    return pruned.select(
        "doc_id",
        "bm25",
        "rn",
        F.lit(bool(eq)).alias("maxscore_eq_exhaustive"),
        F.lit(bool(fired)).alias("pruning_fired"),
    ).orderBy("rn")


_BM25_MAXSCORE_SQL = f"""
    WITH {bm25_ctes(MAXSCORE_TERMS)}
    SELECT doc_id, bm25, CAST(rn AS BIGINT) AS rn,
           TRUE AS maxscore_eq_exhaustive, TRUE AS pruning_fired
    FROM ranked WHERE rn <= {MAXSCORE_TOP_N}
    ORDER BY rn
"""


@register("bm25_maxscore", _BM25_MAXSCORE_SQL)
def q_bm25_maxscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="graft_maxscore_")
    try:
        return maxscore_protocol(spark, d, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
