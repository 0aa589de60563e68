"""Distributed byte-pair-encoding (BPE) tokenizer training (Sennrich et
al., "Neural Machine Translation of Rare Words with Subword Units", ACL
2016) — the step every LLM data pipeline runs between curation and
packing, here as a pure DataFrame algorithm.

Like PageRank (graph.py) this is iterative AND data-dependent (each
merge depends on the counts the previous merge produced), which usually
forces rows-only checking — but every step is individually declarative,
so the DuckDB oracle unrolls the SAME fixed number of steps into chained
CTEs and the learned merge table matches exactly, tie-breaks included.

The algorithmic kernel is greedy left-to-right pair merging, which looks
sequential but is the gaps-and-islands parity trick in disguise: within
a RUN of consecutive match positions (only possible for self-chaining
pairs like (a,a) on 'aaaa'), greedy selects every other match starting
at the run head — (pos - run_start) % 2 == 0. Everything else is keyed
windows and joins.

Scale shape: the ONLY corpus-scale pass is the word-count aggregation
(one shuffle on the word key). Every merge step then runs over the
DISTINCT-word table — vocabulary-sized, orders of magnitude smaller than
the corpus — with per-word windows (bounded by word length) and one
single-row argmax collected to the driver per step (a decision scalar,
the same pattern as pagerank's node count, NOT a data collect). The
word table is localCheckpoint-ed per step so plan depth stays O(1) in
the merge count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
    NORM_SQL,
    norm_text,
)
from cours_datalake_dwh_td_kafka_spark.registry import register

BPE_MERGES = 6


def _bpe_sql(merges: int = BPE_MERGES, final_select: str | None = None) -> str:
    """Unroll ``merges`` BPE steps into chained MATERIALIZED CTEs
    (DuckDB inlines plain CTEs per reference — a 3-way-referenced chain
    would re-derive the whole prefix exponentially). Each step derives
    pair counts from w{t}, picks the (count desc, left, right) argmax,
    and rebuilds w{t+1} with that pair greedily merged."""
    ctes = [
        f"""w0 AS MATERIALIZED (
      SELECT word, cnt, string_split(word, '') AS repr
      FROM (
        SELECT s AS word, COUNT(*) AS cnt
        FROM (
          SELECT unnest(string_split({NORM_SQL.format(c='text')}, ' ')) AS s
          FROM documents
        )
        GROUP BY s
      )
    )"""
    ]
    for t in range(merges):
        ctes.append(
            f"""wl{t} AS MATERIALIZED (
      SELECT word, cnt, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM (
        SELECT word, cnt,
               unnest(repr) AS sym,
               unnest(generate_series(1, len(repr), 1)) AS pos
        FROM w{t}
      )
    ),
    top{t} AS MATERIALIZED (
      SELECT sym AS l, nxt AS r, CAST(SUM(cnt) AS BIGINT) AS c
      FROM wl{t} WHERE nxt IS NOT NULL
      GROUP BY sym, nxt
      ORDER BY c DESC, l, r LIMIT 1
    ),
    sel{t} AS MATERIALIZED (
      SELECT word, pos FROM (
        SELECT word, pos, pos - MIN(pos) OVER (PARTITION BY word, isl)
                 AS off
        FROM (
          SELECT wl.word, wl.pos,
                 wl.pos - row_number() OVER (
                   PARTITION BY wl.word ORDER BY wl.pos) AS isl
          FROM wl{t} wl, top{t} t
          WHERE wl.sym = t.l AND wl.nxt = t.r
        )
      ) WHERE off % 2 = 0
    ),
    w{t + 1} AS MATERIALIZED (
      SELECT wl.word, wl.cnt,
             list(CASE WHEN s.pos IS NOT NULL THEN wl.sym || wl.nxt
                       ELSE wl.sym END ORDER BY wl.pos) AS repr
      FROM wl{t} wl
      LEFT JOIN sel{t} s  ON s.word = wl.word AND s.pos = wl.pos
      LEFT JOIN sel{t} s2 ON s2.word = wl.word AND s2.pos = wl.pos - 1
      WHERE s2.pos IS NULL
      GROUP BY wl.word, wl.cnt
    )"""
        )
    chain = ",\n    ".join(ctes)
    if final_select is None:
        final_select = "\n    UNION ALL ".join(
            f"SELECT {t + 1} AS step, l AS left_sym, r AS right_sym,"
            f" l || r AS merged, c AS pair_count FROM top{t}"
            for t in range(merges)
        ) + "\n    ORDER BY step"
    return f"""
    WITH {chain}
    {final_select}
"""


def _bpe_core(d: DataFrame, merges: int):
    """Shared train loop: returns (merge rows, final word-repr DataFrame).

    Per step: per-word adjacent pairs via a lead window (partitioned by
    word — bounded), weighted counts, a ONE-ROW argmax to the driver
    (ties broken count desc then lexicographic, identical in the
    oracle), greedy merge application via islands-parity selection, and
    a rebuild of the symbol arrays (collect sorted structs — per-word
    arrays, bounded by word length)."""
    words = (
        d.select(
            F.explode(F.split(norm_text(F.col("text")), " ")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", "cnt", F.split("word", "").alias("repr"))
        .localCheckpoint(eager=True)
    )
    out_rows = []
    w_pos = Window.partitionBy("word").orderBy("pos")
    for step in range(1, merges + 1):
        syms = words.select(
            "word", "cnt", F.posexplode("repr").alias("p0", "sym")
        ).select(
            "word", "cnt", (F.col("p0") + 1).alias("pos"), "sym"
        )
        wl = syms.withColumn("nxt", F.lead("sym").over(w_pos))
        top = (
            wl.where(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("l"), F.col("nxt").alias("r"))
            .agg(F.sum("cnt").cast("bigint").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break  # every word is a single symbol: nothing left to merge
        lt, rt, ct = top[0]["l"], top[0]["r"], top[0]["c"]
        out_rows.append((step, lt, rt, lt + rt, ct))
        mtch = wl.where(
            (F.col("sym") == lt) & (F.col("nxt") == rt)
        ).select(
            "word",
            "pos",
            (F.col("pos") - F.row_number().over(w_pos)).alias("isl"),
        )
        sel = (
            mtch.withColumn(
                "off",
                F.col("pos")
                - F.min("pos").over(Window.partitionBy("word", "isl")),
            )
            .where(F.col("off") % 2 == 0)
            .select("word", F.col("pos").alias("sel_pos"))
        )
        s1 = sel.select(
            F.col("word").alias("w1"), F.col("sel_pos").alias("p1")
        )
        s2 = sel.select(
            F.col("word").alias("w2"), F.col("sel_pos").alias("p2")
        )
        rebuilt = (
            wl.join(
                s1,
                (F.col("word") == F.col("w1"))
                & (F.col("pos") == F.col("p1")),
                "left",
            )
            .join(
                s2,
                (F.col("word") == F.col("w2"))
                & (F.col("pos") - 1 == F.col("p2")),
                "left",
            )
            .where(F.col("p2").isNull())
            .select(
                "word",
                "cnt",
                "pos",
                F.when(
                    F.col("p1").isNotNull(),
                    F.concat(F.col("sym"), F.col("nxt")),
                )
                .otherwise(F.col("sym"))
                .alias("newsym"),
            )
        )
        words = (
            rebuilt.groupBy("word", "cnt")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "newsym"))
                    ),
                    lambda x: x["newsym"],
                ).alias("repr")
            )
            .localCheckpoint(eager=True)
        )
    return out_rows, words


def bpe_train(d: DataFrame, merges: int = BPE_MERGES) -> DataFrame:
    """Learn the first ``merges`` BPE merge rules from the corpus,
    returning (step, left_sym, right_sym, merged, pair_count)."""
    out_rows, _ = _bpe_core(d, merges)
    return d.sparkSession.createDataFrame(
        out_rows,
        "step int, left_sym string, right_sym string, merged string,"
        " pair_count bigint",
    ).orderBy("step")


# Training is the expensive step (merges x [argmax job + rebuild +
# eager localCheckpoint]) and BOTH registered queries need its output —
# the merge list for bpe_train_merges, the final word-repr table for
# bpe_segment_stats. Memoize on (Spark app id, corpus path, merges): the
# checkpointed `words` DataFrame is only valid within the session that
# materialized it, and the registered corpus is immutable test data.
# SINGLE-slot by design: a new key evicts the old entry, so a dead
# session's checkpoint blocks never pin memory across corpora, and the
# lock closes the check-then-train race between concurrent callers.
# The library entry point (bpe_train) stays uncached — it accepts
# arbitrary DataFrames whose identity we cannot key on.
import threading as _threading

_CORE_CACHE: dict[tuple[str, str, int], tuple[list, DataFrame]] = {}
_CORE_LOCK = _threading.Lock()


def _bpe_core_cached(spark: SparkSession, sf_dir: str, merges: int):
    key = (spark.sparkContext.applicationId, sf_dir, merges)
    with _CORE_LOCK:
        if key in _CORE_CACHE:
            return _CORE_CACHE[key]
    # train outside the lock (minutes-long); worst case two concurrent
    # FIRST callers train once each, later callers always hit
    result = _bpe_core(load_table(spark, sf_dir, "documents"), merges)
    with _CORE_LOCK:
        _CORE_CACHE.clear()  # single slot: drop any stale session/corpus
        _CORE_CACHE[key] = result
    return result


@register("bpe_train_merges", _bpe_sql())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_rows, _ = _bpe_core_cached(spark, sf_dir, BPE_MERGES)
    return spark.createDataFrame(
        out_rows,
        "step int, left_sym string, right_sym string, merged string,"
        " pair_count bigint",
    ).orderBy("step")


# ---------------------------------------------------------------------------
# Apply the learned merges back to the corpus: per-doc subword stats.
# ---------------------------------------------------------------------------
_SEGMENT_SELECT = """SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(w.repr)) AS BIGINT) AS n_subwords,
           ROUND(CAST(SUM(len(w.repr)) AS DOUBLE) / COUNT(*), 6)
             AS avg_pieces_per_word
    FROM (
      SELECT doc_id,
             unnest(string_split({norm}, ' ')) AS word
      FROM documents
    ) d
    JOIN w{m} w ON w.word = d.word
    GROUP BY d.doc_id
    ORDER BY d.doc_id"""


def _segment_from_words(d: DataFrame, words: DataFrame) -> DataFrame:
    pieces = words.select(
        F.col("word").alias("w"), F.size("repr").alias("n_pieces")
    )
    corpus = d.select(
        "doc_id",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"),
    )
    return (
        corpus.join(pieces, corpus.word == pieces.w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_subwords"),
            F.round(
                F.sum("n_pieces").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_pieces_per_word"),
        )
        .orderBy("doc_id")
    )


@register(
    "bpe_segment_stats",
    _bpe_sql(
        final_select=_SEGMENT_SELECT.format(
            norm=NORM_SQL.format(c="text"), m=BPE_MERGES
        )
    ),
)
def q_bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, words = _bpe_core_cached(spark, sf_dir, BPE_MERGES)
    return _segment_from_words(
        load_table(spark, sf_dir, "documents"), words
    )
