"""Structured Streaming speed layer — SURVEY.md §2.9 (T1-T10).

Reproduces the reference's streaming topology with idiomatic state
handling:

- transform: Kafka-shaped JSON value -> parse -> enrich with alert levels
  (reference: work/spark_processor.py:19-47).
- sliding/tumbling/session window aggregates with WATERMARKS — the
  reference ran outputMode("complete") with no watermark, growing state
  forever (work/spark_windowed_aggregation.py:31-46); our default bounds
  state, `complete` survives as a compat option.
- stream-static anomaly join against the batch profile on the full
  (type, month) key (reference: work/anomaly_detector.py:35-49 + the spec
  key from KAFKA exos (1).pdf §Exercice 13).

Everything is source-agnostic: pipelines take a DataFrame (batch or
streaming) and return a DataFrame, so the same plan runs under Kafka in
production and under file/rate/memory sources in tests. Kafka wiring lives
in sources/kafka.py.

Scale notes: watermark + update mode keeps the state store bounded by
(keys x open windows); the stream-static join broadcasts the static side
per micro-batch; shuffle partitions for stateful ops follow the session
conf (state store count = shuffle partitions — fixed at first run, size it
for the target throughput up front).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cours_datalake_dwh_td_kafka_spark.operators.relational import band3

#: Reference weather stream schema (work/spark_processor.py:10-16)
WEATHER_SCHEMA = (
    "city STRING, country STRING, temperature DOUBLE, windspeed DOUBLE, "
    "timestamp DOUBLE"
)


def parse_kafka_json(raw: DataFrame, schema: StructType | str) -> DataFrame:
    """Kafka value bytes -> typed columns (T1 front half;
    reference: work/spark_processor.py:26-28)."""
    return (
        raw.selectExpr("CAST(value AS STRING) AS json_str")
        .select(F.from_json("json_str", schema).alias("data"))
        .select("data.*")
    )


def enrich_alerts(
    parsed: DataFrame,
    event_time: Column | None = None,
) -> DataFrame:
    """T1 back half: event-time column + 3-level alert banding
    (reference: work/spark_processor.py:30-38; thresholds 10/20 wind,
    25/35 heat). The reference stamps processing time
    (current_timestamp); we honor an explicit event-time column when the
    payload carries one — processing time is not reproducible.

    The default falls back to processing time for rows without a
    parseable ``timestamp``. In a stream, ``F.current_timestamp()``
    becomes a fresh literal in every micro-batch, and Spark inlines it
    into the generated code. The codegen cache never matches that code,
    so each micro-batch compiles 2 new classes. Those were all 16
    compiles left in a warm benchmark ``stream_drain`` round; the same
    drain with
    ``event_time=F.to_timestamp(F.col("timestamp").cast("double"))``
    compiles none after its first run. Callers whose payload always
    carries an event time should pass it as ``event_time=``."""
    if event_time is None:
        event_time = F.coalesce(
            F.to_timestamp(F.col("timestamp").cast("double")),
            F.current_timestamp(),
        )
    return (
        parsed.withColumn("event_time", event_time)
        .withColumn("wind_alert_level", band3(F.col("windspeed"), 10, 20))
        .withColumn("heat_alert_level", band3(F.col("temperature"), 25, 35))
    )


def sliding_window_agg(
    enriched: DataFrame,
    window: str = "5 minutes",
    slide: str = "1 minute",
    watermark: str | None = "10 minutes",
    keys: tuple[str, ...] = ("city", "country"),
    value_col: str = "temperature",
    alert_col: str = "wind_alert_level",
) -> DataFrame:
    """T2: sliding-window multi-aggregate keyed by (window, *keys)
    (reference: work/spark_windowed_aggregation.py:31-41 — 5 min window,
    1 min slide, avg/min/max + conditional alert counts).

    ``watermark=None`` reproduces the reference's unbounded-state behavior
    (only valid with outputMode complete); the default bounds state and
    admits append/update output.

    Late-data note: Spark's drop guarantee is relative to the watermark
    committed in the checkpoint. Within a single run a late row for an
    already-finalized window may still be admitted and re-emitted
    (best-effort); after restart-from-checkpoint the drop is strict
    (counted in numRowsDroppedByWatermark). tests/test_streaming.py
    pins both behaviors.
    """
    df = enriched
    if watermark is not None:
        df = df.withWatermark("event_time", watermark)
    v = F.col(value_col)
    return (
        df.groupBy(F.window("event_time", window, slide), *keys)
        .agg(
            F.round(F.avg(v), 6).alias("avg_value"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
            F.count(F.when(F.col(alert_col) != "level_0", 1)).alias("n_alerts"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "avg_value",
            "min_value",
            "max_value",
            "n_alerts",
            "n_obs",
        )
    )


def tumbling_window_agg(
    enriched: DataFrame,
    window: str = "5 minutes",
    watermark: str | None = "10 minutes",
    keys: tuple[str, ...] = ("city", "country"),
    value_col: str = "temperature",
) -> DataFrame:
    """T10: tumbling windows = sliding with slide == window."""
    df = enriched
    if watermark is not None:
        df = df.withWatermark("event_time", watermark)
    v = F.col(value_col)
    return (
        df.groupBy(F.window("event_time", window), *keys)
        .agg(
            F.round(F.avg(v), 6).alias("avg_value"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "avg_value",
            "n_obs",
        )
    )


def session_window_agg(
    enriched: DataFrame,
    gap: str = "5 minutes",
    watermark: str | None = "10 minutes",
    keys: tuple[str, ...] = ("city", "country"),
    value_col: str = "temperature",
) -> DataFrame:
    """T10: gap-based session windows (absent from the reference; part of
    the engine's streaming surface)."""
    df = enriched
    if watermark is not None:
        df = df.withWatermark("event_time", watermark)
    v = F.col(value_col)
    return (
        df.groupBy(F.session_window("event_time", gap), *keys)
        .agg(
            F.round(F.avg(v), 6).alias("avg_value"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "avg_value",
            "n_obs",
        )
    )


def anomaly_stream(
    enriched: DataFrame,
    profile: DataFrame,
    value_col: str = "temperature",
    mean_col: str = "value_mean",
    std_col: str = "value_std",
    join_keys: tuple[str, ...] = ("city", "country", "month"),
) -> DataFrame:
    """T6/T9: stream-static join flagging deviations from the batch profile.

    The static profile side is broadcast per micro-batch (it is tiny:
    keys x months). Emits the T9 contract fields
    (reference: work/anomaly_detector.py:35-49; join key per spec is the
    full {country, city, month}, not the reference's month-only bug).
    """
    withm = enriched.withColumn("month", F.month("event_time"))
    joined = withm.join(F.broadcast(profile), list(join_keys))
    v = F.col(value_col)
    mean, std = F.col(mean_col), F.col(std_col)
    return joined.where(F.abs(v - mean) > 2 * std).select(
        *[k for k in join_keys if k != "month"],
        F.col("event_time"),
        F.lit(value_col).alias("variable"),
        v.alias("observed_value"),
        mean.alias("expected_value"),
        F.when(v > mean + 2 * std, "high").otherwise("low").alias("anomaly_type"),
        F.lit(True).alias("is_anomaly"),
    )


def stream_dedup(
    enriched: DataFrame,
    watermark: str = "10 minutes",
    key_cols: tuple[str, ...] | None = None,
    event_time_col: str = "event_time",
) -> DataFrame:
    """Streaming exact dedup: drop replayed records (producer re-sends,
    at-least-once upstream) inside the watermark horizon.

    ``key_cols=None`` dedups on full content: an md5 fingerprint of every
    column (the streaming twin of the batch fingerprint dedup,
    operators/dedup.py). ``dropDuplicatesWithinWatermark`` bounds the
    state store by the watermark window — plain ``dropDuplicates`` on a
    stream keeps every key seen forever, which is exactly the unbounded
    state the reference's complete-mode jobs suffered from.
    """
    df = enriched.withWatermark(event_time_col, watermark)
    if key_cols is None:
        df = df.withColumn(
            "fingerprint", F.md5(F.to_json(F.struct(*enriched.columns)))
        )
        return df.dropDuplicatesWithinWatermark(["fingerprint"]).drop(
            "fingerprint"
        )
    return df.dropDuplicatesWithinWatermark(list(key_cols))


def stream_image_dedup(
    images: DataFrame,
    watermark: str = "10 minutes",
    event_time_col: str = "event_time",
) -> DataFrame:
    """Streaming PERCEPTUAL image dedup: phash every payload (the
    integer-DCT hash of operators/image_dedup.py, computed in a
    stateless passthrough mapInPandas) and drop rows whose hash was
    already seen inside the watermark horizon. Catches what the
    byte-fingerprint :func:`stream_dedup` structurally cannot: a
    re-encoded or brightness-shifted copy has different BYTES but the
    IDENTICAL pHash (exact invariances pinned in
    tests/test_image_dedup.py). State is one 60-bit hash per distinct
    image within the watermark — bounded, like every stateful op here.
    Undecodable payloads hash to NULL and are DROPPED (the DLQ posture:
    one poisoned record must not kill the stream, and a corrupt blob is
    not trainable data anyway). (Hamming-distance near-dups beyond hash
    equality stay a batch concern: the banded candidate join needs a
    corpus-wide index, not per-record state.)"""
    from cours_datalake_dwh_td_kafka_spark.operators.image_dedup import (
        with_phash,
    )

    return (
        with_phash(images, strict=False)
        .where(F.col("phash").isNotNull())
        .withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["phash"])
    )


def stream_audio_dedup(
    clips: DataFrame,
    watermark: str = "10 minutes",
    event_time_col: str = "event_time",
) -> DataFrame:
    """Streaming PERCEPTUAL audio dedup — the audio twin of
    :func:`stream_image_dedup`: fingerprint every WAV payload (the
    energy-envelope integer hash of operators/audio_dedup.py, computed
    in a stateless passthrough mapInPandas) and drop rows whose hash
    was already seen inside the watermark horizon. Catches what the
    byte-fingerprint :func:`stream_dedup` structurally cannot: a
    gain-re-mastered copy has different BYTES but the IDENTICAL
    fingerprint (exact gain invariance pinned in
    tests/test_audio_dedup.py). State is one 60-bit hash per distinct
    clip within the watermark — bounded. Undecodable or too-short
    payloads hash to NULL and are DROPPED (the DLQ posture:
    one poisoned record must not kill the stream, and a corrupt clip is
    not trainable data anyway). (Hamming-distance near-dups beyond hash
    equality stay a batch concern: the banded candidate join needs a
    corpus-wide index, not per-record state.)"""
    from cours_datalake_dwh_td_kafka_spark.operators.audio_dedup import (
        with_audio_fingerprint,
    )

    return (
        with_audio_fingerprint(clips, strict=False)
        .where(F.col("ahash").isNotNull())
        .withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["ahash"])
    )


def stream_cell_occupancy(
    vecs: DataFrame,
    centroids: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    event_time_col: str = "event_time",
) -> DataFrame:
    """Streaming quantizer-occupancy monitor — the ingestion-time feed
    of the batch drift diagnostics (`ann_index_drift`,
    `compact_if_drifted`): as embedding vectors arrive, assign each to
    its nearest centroid of the STATIC centroid table (the stateless
    int64-exact kernel :func:`operators.clustering.with_cell_assign`,
    shared verbatim with batch, so stream == batch assignment by
    construction) and emit per-(window, cell) arrival counts. A cell
    whose live occupancy share drifts away from its share at index-build
    time is the earliest possible re-train signal — it fires while the
    drifted vectors are still in flight, before any index append or
    recall probe sees them. State is one count per (window, cell):
    k-bounded per window, watermark-bounded across windows."""
    from cours_datalake_dwh_td_kafka_spark.operators.clustering import (
        with_cell_assign,
    )

    # watermark AFTER the stateless assignment (the event-time column
    # passes straight through the kernel, and declaring it downstream
    # avoids relying on watermark propagation through mapInPandas)
    assigned = with_cell_assign(vecs, centroids).withWatermark(
        event_time_col, watermark
    )
    return (
        assigned.groupBy(F.window(event_time_col, window), "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "cell",
            "n",
        )
    )


def stream_near_dup_alerts(
    docs: DataFrame,
    corpus: DataFrame,
    watermark: str = "10 minutes",
    event_time_col: str = "event_time",
    corpus_bands: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Ingestion-time NEAR-dup alerts against the kept corpus — the
    streaming twin of ``dedup_incremental_lsh``: as documents arrive,
    emit one alert per doc that near-duplicates (banded MinHash
    candidates + exact Jaccard) a document in the STATIC survivor set.
    Catches the re-crawled page with a new footer while it is still in
    flight; the batch gate inside ``corpus_refresh`` stays the
    authoritative sweep.

    A stream cannot explode-regroup per doc without a stateful
    aggregate, so the stream side uses the PER-ROW column forms
    (``dedup.shingle_array`` / ``dedup.minhash_cols`` — value-identical
    to the batch kernels, pinned in tests): shingle set, signature, and
    band keys are stateless projections, the band match and the
    Jaccard verify are the supported stream-static inner joins, and one
    doc matching several survivors collapses to ONE alert via
    dropDuplicatesWithinWatermark on doc_id — watermark-bounded state,
    like every stateful op here.

    ``corpus_bands`` / ``corpus_shingles`` (round 10): the PERSISTED
    gate artifacts — (doc_id, band_key) rows and (doc_id, sh, n_sh)
    shingle arrays, exactly what ``corpus_refresh`` maintains per MERGE
    — so a stream start against a 100 TB survivor set reads two tables
    instead of re-normalizing and re-shingling the whole corpus text.
    When omitted (self-contained tests), both recompute from
    ``corpus``; the value parity of the two forms is pinned in
    tests/test_streaming.py."""
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _band_rows,
        _doc_shingles,
        _signature_of_shingles,
        band_key_array,
        minhash_cols,
        shingle_array,
    )

    shc = (
        corpus_shingles
        if corpus_shingles is not None
        else _doc_shingles(corpus).localCheckpoint(eager=True)
    )
    static_bands = (
        corpus_bands
        if corpus_bands is not None
        else _band_rows(_signature_of_shingles(shc)).localCheckpoint(
            eager=True
        )
    ).select(F.col("doc_id").alias("corpus_doc"), "band_key")
    static_sh = shc.select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    ).localCheckpoint(eager=True)

    sh = docs.withColumn("sh", shingle_array(F.col("text")))
    sig = sh.select(
        "doc_id", event_time_col, "sh", *minhash_cols(F.col("sh"))
    )
    banded = sig.select(
        "doc_id",
        event_time_col,
        "sh",
        F.explode(band_key_array()).alias("band_key"),
    )
    verified = (
        banded.join(static_bands, "band_key")
        .join(static_sh, "corpus_doc")
        .withColumn("n_shared", F.size(F.array_intersect("sh", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.size("sh") + F.col("n_b") - F.col("n_shared")),
                6,
            ),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_id", event_time_col, "corpus_doc", "jaccard")
    )
    return verified.withWatermark(
        event_time_col, watermark
    ).dropDuplicatesWithinWatermark(["doc_id"])


def stream_contamination_alerts(
    docs: DataFrame,
    bench: DataFrame,
    n: int | None = None,
    watermark: str = "10 minutes",
    event_time_col: str = "event_time",
) -> DataFrame:
    """Streaming benchmark-decontamination gate: as documents arrive,
    emit an alert row for every doc sharing an ``n``-gram with the
    STATIC benchmark set — contamination caught at ingestion time, not
    at the next batch sweep. The stream's shingles are a stateless
    explode (the batch shingle_rows plan, hashed to longs on the map
    side); the bench side is the static shingle set, so the inner join
    is the supported stream-static shape (broadcast per micro-batch
    when it fits); one doc sharing many shingles collapses to ONE alert
    via dropDuplicatesWithinWatermark on doc_id — watermark-bounded
    state, like every stateful op here. The quarantine topology:
    alerts feed a side sink; the batch layer owns the authoritative
    anti-join (contamination_check), because a stream cannot anti-join
    itself retroactively."""
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        CONTAM_NGRAM,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import shingle_rows

    n = CONTAM_NGRAM if n is None else n
    bench_sh = (
        shingle_rows(bench, n=n, distinct=False)
        .select(F.xxhash64("shingle").alias("shingle"))
        .distinct()
    )
    # shingle_rows keeps only (doc_id, shingle); the stream side needs
    # event time carried through, so inline the same explode-first plan
    # with the extra column
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " "
    )
    pos = docs.select("doc_id", event_time_col, toks.alias("toks")).select(
        "doc_id",
        event_time_col,
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0)))
        ).alias("i"),
    )
    doc_sh = pos.select(
        "doc_id",
        event_time_col,
        F.xxhash64(
            F.concat_ws(" ", F.slice("toks", F.col("i") + 1, n))
        ).alias("shingle"),
    )
    hits = doc_sh.join(bench_sh, "shingle").select(
        "doc_id", event_time_col
    )
    return (
        hits.withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["doc_id"])
        .withColumn("contaminated", F.lit(True))
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: tuple[str, ...],
    left_time: str,
    right_time: str,
    watermark: str = "10 minutes",
    max_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream INNER interval join: pair each left row with the
    right rows sharing ``on`` whose event time lands in
    ``[left_time, left_time + max_delay]`` (the click->purchase /
    reading->reading correlation absent from the reference, which only
    joins stream x static — work/anomaly_detector.py:35).

    Both sides carry a watermark, and the join condition bounds
    right_time relative to left_time — together these let the engine
    EXPIRE buffered rows: left state is dropped once
    watermark > left_time + max_delay, right state once
    watermark > right_time. An unbounded-condition stream-stream join
    buffers both streams forever; this shape is the production-safe
    form, and at 100 TB/day state is O(throughput x (watermark +
    max_delay)), not O(history).

    Source-agnostic (works on batch frames unchanged, where the
    watermark is a no-op) — the oracle-paired batch twin is
    ``interval_join_events``. Non-key column names must not collide
    across sides; key columns are emitted once (from the left)."""
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    la, ra = lw.alias("l"), rw.alias("r")
    cond = F.lit(True)
    for k in on:
        cond = cond & (la[k] == ra[k])
    cond = (
        cond
        & (ra[right_time] >= la[left_time])
        & (ra[right_time] <= la[left_time] + F.expr(f"INTERVAL {max_delay}"))
    )
    joined = la.join(ra, cond, "inner")
    keep_left = [la[c] for c in left.columns]
    keep_right = [ra[c] for c in right.columns if c not in on]
    return joined.select(*keep_left, *keep_right)


def write_stream_to_lake(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = ("country", "city"),
    fmt: str = "json",
):
    """S16 replacement: partitioned streaming file sink with checkpoint —
    the reference appended per-message via webhdfs from a consumer loop
    (work/weather_to_hdfs.py:15-36); a partitioned append sink gives the
    same lake layout with exactly-once file commits."""
    return (
        df.writeStream.format(fmt)
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_by)
    )


def checkpoint_query_id(checkpoint: str) -> str:
    """The streaming query's persistent UUID, read from the
    checkpoint's ``metadata`` file — Spark writes it (one JSON) at
    query start, before any batch runs, and it survives restarts but
    changes when the checkpoint is rebuilt. A missing file fails with
    the exactly-once protocol named, not a bare FileNotFoundError
    (ADVICE r10): committing without the id could replay or skip
    batches."""
    import json
    import os

    meta = os.path.join(checkpoint, "metadata")
    try:
        with open(meta) as f:
            return json.load(f)["id"]
    except FileNotFoundError:
        raise RuntimeError(
            f"exactly-once replay guard needs {meta}: the lake commit "
            "is scoped by the streaming query's persistent id, which "
            "Spark records in the checkpoint's metadata file at query "
            "start — a missing file means the checkpoint was never "
            "materialized or was deleted mid-run, and committing "
            "without it could replay or skip batches"
        ) from None


def commit_stream_to_lake(
    df: DataFrame,
    path: str,
    checkpoint: str,
    stats_cols=(),
):
    """Streaming ingestion into the VERSIONED manifest lake (round 10,
    verdict #6): per micro-batch, one atomic ``lake_commit`` append —
    so streamed rows are first-class lake citizens (time travel, CDC
    diff, stats/bloom pruning, the maintenance advisor), unlike the
    plain partitioned file sink (:func:`write_stream_to_lake`), whose
    files live outside the manifest protocol and are invisible to all
    of them.

    EXACTLY-ONCE COMMITS: each commit records (query id, micro-batch
    id) in the manifest — the Delta txn-(appId, version) rule — every
    later commit carries the mark forward, and a replayed batch (kill
    between the lake commit and the checkpoint ack) is detected by
    ``batch_id <= last_stream_batch_id(path, query_id)`` and skipped —
    no duplicate version, no duplicate rows (pinned by the
    kill-and-resume test). The query id comes from the CHECKPOINT's
    metadata file, so it survives normal restarts but changes when the
    checkpoint is rebuilt — whose batch ids restart from 0 and must
    COMMIT, not be skipped against a dead stream's high-water mark
    (round-10 review: the bare-id guard silently dropped data there).
    Batch ids are per-checkpoint monotone, so the guard assumes ONE
    stream writer per STREAM identity; since round 14 the commit rides
    :func:`~cours_datalake_dwh_td_kafka_spark.lake.lake_commit_occ` —
    a blind append that REBASES over rival appends and row-preserving
    maintenance (compact / cluster / bloom / mark), so the advisor's
    own recommended topology (this ingest stream plus a compact_due
    daemon on one table) runs concurrently instead of dying on the raw
    single-winner CAS (VERDICT r13 #1). The replay mark is checked
    before the write and re-checked inside the publish loop, closing
    the check-then-act window.

    ONE SPARK JOB PER MICRO-BATCH: the sink never looks at the batch
    before writing it (``foreachBatch`` hands over a plan whose every
    action re-runs the source scan and enrichment). Emptiness is read
    from the parquet footers of the files the write produced: a batch
    with zero rows publishes no version, advances no mark, leaves no
    ``data/<commit-id>/`` directory and raises nothing.

    Scale shape: a commit writes only the batch's files plus one
    manifest — O(batch), never O(lake); compaction of the resulting
    small files is the advisor's compact_due rung.

    ``stats_cols`` (round 14, stats-on-append): per micro-batch, record
    the batch files' [min, max] of the named columns in the manifest —
    for an ingest stream whose batches are time- or key-wave-narrow,
    pruned reads (``lake_read_pruned`` / ``lake_read_keys``) then skip
    most batch files instead of conservatively scanning every append
    since the last recluster. One extra aggregate per batch, over the
    batch's files only. Use for naturally-narrow columns (event time,
    monotone ids); see ``lake_commit``'s caveat on random keys."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_commit_occ

    qid_cache: list[str] = []

    def _query_id() -> str:
        # the id is immutable for the checkpoint's lifetime, so cache
        # it after the first read instead of re-opening per micro-batch
        if not qid_cache:
            qid_cache.append(checkpoint_query_id(checkpoint))
        return qid_cache[0]

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        lake_commit_occ(
            batch_df, path, stream_batch_id=batch_id, stream_id=_query_id(),
            stats_cols=stats_cols, _skip_empty=True,
        )

    return (
        df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def consume_lake_changes_stream(
    spark,
    src_path: str,
    out_path: str,
    checkpoint: str,
    apply_fn=None,
):
    """Streaming CDC consumer (round 11, verdict #4): a ``foreachBatch``
    poller that drains the versioned lake's change feed each
    micro-batch — the downstream-maintenance daemon shape (index
    appends, side-table upkeep) driven by version history instead of
    the producer's variables.

    The versioned lake has no native Structured Streaming source, so
    the stream is a one-row rate tick whose only job is scheduling;
    EXACTLY-ONCE comes from :func:`lake.lake_consume_changes`' atomic
    version marks, NOT the checkpoint — a rebuilt checkpoint, a
    replayed batch, or two interleaved runs all re-read the consumer
    table's high-water mark and skip consumed versions (the mark and
    the derived rows are one manifest publish). ``availableNow`` drains
    everything committed so far and stops — the catch-up-then-exit
    daemon; re-invoke per poll interval or swap in a processingTime
    trigger for a resident one."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_consume_changes

    def poll(_batch_df: DataFrame, _batch_id: int) -> None:
        lake_consume_changes(spark, src_path, out_path, apply_fn=apply_fn)

    tick = spark.readStream.format("rate").option(
        "rowsPerSecond", 1
    ).load()
    return (
        tick.writeStream.foreachBatch(poll)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def merge_stream_to_lake(
    df: DataFrame,
    path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    partition_col: str,
    order_col: str | None = None,
):
    """Streaming UPSERT into a parquet lake via ``foreachBatch`` +
    dynamic partition overwrite: per micro-batch, only the partitions the
    batch actually touches are read back, merged (batch rows win on key
    collision), and atomically replaced. Partitions outside the batch
    are never read or written, so per-batch cost is O(touched
    partitions), not O(lake) — the standard plain-parquet merge shape
    when no table format (Delta/Iceberg) manages row-level commits.

    CONTRACT: ``partition_col`` must be stable per key (derived from the
    key, or immutable like an entity's home region). The merge only
    rewrites partitions the batch touches, so a key that MOVES partition
    would leave its old row behind in the old partition — model moving
    entities with an append sink + compaction, or a table format.

    ``order_col`` names the column that decides which of several
    same-key rows in ONE batch wins (max value wins — e.g. an event
    timestamp). Without it the choice falls to ``dropDuplicates``,
    which keeps an arbitrary row — fine for idempotent re-sends,
    wrong for in-batch corrections; pass it whenever upstream can emit
    multiple versions per key per batch.

    The append-only sink (:func:`write_stream_to_lake`) is the right
    default for immutable events; this one is for mutable entities
    (latest reading per station, profile snapshots) where replays or
    corrections must not duplicate keys. Checkpointed offsets +
    idempotent-per-partition overwrite give effectively-once output
    for deterministic batches.

    RESTART CONTRACT (checkpoint upgrade): the query may be restarted
    from its existing checkpoint with ADDED projected columns — the lake
    read merges schemas across files and the union fills missing columns
    with NULL on whichever side lacks them, so pre-upgrade rows coexist
    with post-upgrade rows (pinned by
    tests/test_streaming.py::test_merge_lake_restart_with_added_column).
    Keys, ``partition_col`` and ``order_col`` must NOT change across
    restarts (they define row identity); type changes of an existing
    column are not supported (parquet mergeSchema rejects them)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if order_col is not None:
            from pyspark.sql import Window as _W

            w = _W.partitionBy(*keys).orderBy(F.desc(order_col))
            batch_dedup = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            batch_dedup = batch_df.dropDuplicates(list(keys))
        parts = [
            r[0]
            for r in batch_dedup.select(partition_col).distinct().collect()
        ]
        if not parts:
            return  # empty micro-batch: nothing to merge
        # existence is checked EXPLICITLY: a blanket try/except around
        # the read would also swallow transient FS/schema errors and
        # then overwrite surviving rows with batch-only data
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        if fs.exists(hpath):
            # mergeSchema: after a checkpoint-upgrade restart the stream
            # may project MORE columns than the files written before the
            # upgrade; the merged read surfaces the union schema so the
            # new column isn't silently dropped from surviving rows
            existing = (
                spark.read.option("mergeSchema", "true")
                .parquet(path)
                .where(F.col(partition_col).isin(parts))
            )
            survivors = existing.join(
                F.broadcast(batch_dedup.select(*keys).distinct()),
                list(keys),
                "left_anti",
            )
            # allowMissingColumns: pre-upgrade survivors carry NULL for
            # columns the upgraded stream added (and vice versa on a
            # column retirement) — the restart contract below
            merged = survivors.unionByName(
                batch_dedup, allowMissingColumns=True
            )
        else:  # first batch: lake doesn't exist yet
            merged = batch_dedup
        # writer-scoped dynamic overwrite (takes precedence over the
        # session conf since Spark 2.4): a static-mode overwrite here
        # would truncate the whole lake before reading it, and setting
        # the session conf instead would leak dynamic semantics to every
        # concurrent write in the session for the duration of the batch
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )

    return (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def curate_stream(
    docs: DataFrame,
    watermark: str = "10 minutes",
    q_min: float | None = None,
) -> DataFrame:
    """Speed-layer twin of the batch curation pipeline
    (operators/text_analysis.curation_pipeline): quality-gate ->
    content dedup, incrementally over a document stream.

    ``docs`` needs (doc_id, event_time, text, source). Stage 1 scores
    each document with the SAME inline quality expression as the batch
    gate (pure projections — streaming-safe, evaluated in the scan
    stage so rejected bytes never reach state). Stage 2 drops
    re-published content via the content fingerprint inside the
    watermark horizon (dropDuplicatesWithinWatermark — state bounded by
    the lateness allowance, NOT the corpus; the batch keeper rule
    min-doc-id-ever needs the full history and stays a batch job, see
    dedup_incremental for the cross-run reconcile).

    Emits the curated stream in append mode: (doc_id, event_time,
    source, n_tokens, quality_score, fingerprint)."""
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import norm_text
    from cours_datalake_dwh_td_kafka_spark.operators.text_analysis import (
        _STOPWORDS,
        CURATION_QUALITY_MIN,
    )

    if q_min is None:
        q_min = CURATION_QUALITY_MIN
    toks = F.split(norm_text(F.col("text")), " ")
    feat = docs.select(
        "doc_id",
        "event_time",
        "source",
        F.md5(norm_text(F.col("text"))).alias("fingerprint"),
        F.size(toks).alias("n_tokens"),
        (
            F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast(
                "double"
            )
            / F.size(toks)
        ).alias("stop_r"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("dist_r"),
        (
            F.length(
                F.regexp_replace("text", r"[^.,!?;:]", "")
            ).cast("double")
            / F.nullif(F.length("text"), F.lit(0))
        ).alias("punct_r"),
    )
    score = (
        0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.3 * F.col("dist_r")
        + 0.2 * F.least(F.col("stop_r") * 5.0, F.lit(1.0))
        + 0.1 * (1.0 - F.least(F.col("punct_r") * 10.0, F.lit(1.0)))
    )
    gated = feat.withColumn("quality_score", F.round(score, 6)).where(
        F.col("quality_score") >= q_min
    )
    if docs.isStreaming:
        gated = gated.withWatermark("event_time", watermark)
        deduped = gated.dropDuplicatesWithinWatermark(["fingerprint"])
    else:
        deduped = gated.dropDuplicates(["fingerprint"])
    return deduped.select(
        "doc_id",
        "event_time",
        "source",
        "n_tokens",
        "quality_score",
        "fingerprint",
    )


def trending_topk(
    enriched: DataFrame,
    window: str = "5 minutes",
    watermark: str | None = "10 minutes",
    key: str = "city",
):
    """Windowed trending top-k: per tumbling window, the ``k`` hottest
    keys by event count. Streaming aggregations cannot carry a rank
    window (no analytic functions over an unfinished aggregate), so
    this returns the per-(window, key) COUNT stream; the k lives on
    :func:`rank_topk_snapshot`, which ranks it in a foreachBatch sink — each micro-batch
    ranks the aggregate snapshot it was handed, which is exactly the
    "trending now" board a dashboard wants (complete/update mode).

    At scale the count stream is the standard watermark-bounded state
    (one row per open window x key); the ranking step runs over the
    already-aggregated snapshot — windows x keys rows, not events."""
    df = enriched
    if watermark is not None:
        df = df.withWatermark("event_time", watermark)
    return df.groupBy(F.window("event_time", window), key).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def rank_topk_snapshot(counts: DataFrame, key: str = "city", k: int = 3) -> DataFrame:
    """Rank a (window, key, n_events) aggregate snapshot to its per-window
    top-k — the batch-side half of :func:`trending_topk` (ties break on
    the key for determinism). Works identically on a foreachBatch
    micro-batch snapshot and on a batch twin of the same aggregate, which
    is what the stream/batch parity test pins."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window").orderBy(F.desc("n_events"), F.asc(key))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("window.start").alias("window_start"),
            key,
            "n_events",
            "rank",
        )
        .orderBy("window_start", "rank")
    )


def drift_monitor_stream(
    docs: DataFrame,
    ref: DataFrame,
    on_psi,
    checkpoint: str,
):
    """Streaming corpus-drift monitor (round 11): maintain the ARRIVING
    corpus's feature histograms as a streaming aggregation and evaluate
    the Population Stability Index against a static REFERENCE snapshot
    after every micro-batch.

    Scale split, same shape as the trending-top-k sink: the part that
    scales with data volume — counting (feature, bin) occurrences — runs
    as a regular streaming ``groupBy().count()`` in update mode, so
    Spark's state store handles partial aggregation, shuffle, and
    recovery; the part that needs ALL bins at once — the PSI formula —
    runs in a ``foreachBatch`` callback over the BOUNDED histogram
    (len/lang bins are capped by construction in
    :mod:`~cours_datalake_dwh_td_kafka_spark.operators.drift`, never by
    corpus size). The callback keeps the merged histogram in process
    memory (update mode emits only changed bins per trigger) and calls
    ``on_psi(batch_id, {feature: psi})`` each trigger — the same smoothed
    decimal-summed formula as the batch row, so a drained stream's final
    verdict equals ``corpus_drift_psi(ref, streamed_docs)`` bit-for-bit
    (pytest-pinned).

    ``ref`` is read ONCE at start into a bounded dict (bins, not rows).
    Returns the StreamingQuery.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from cours_datalake_dwh_td_kafka_spark.operators.drift import (
        _feature_rows,
    )

    ref_counts: dict[tuple[str, str], int] = {
        (r.feature, r.bin): r.cnt
        for r in _feature_rows(ref, "is_ref")
        .groupBy("feature", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    cur_counts: dict[tuple[str, str], int] = {}

    def _psi() -> dict[str, float]:
        feats = {f for f, _ in ref_counts} | {f for f, _ in cur_counts}
        out = {}
        for feat in sorted(feats):
            # null-safe sort: a null lang bin is a real bin (ADVICE r11 —
            # sorted() over {None, "en"} raises TypeError in Python 3)
            bins = sorted(
                {b for f, b in ref_counts if f == feat}
                | {b for f, b in cur_counts if f == feat},
                key=lambda b: (b is None, b),
            )
            n_ref = sum(c for (f, _), c in ref_counts.items() if f == feat)
            n_cur = sum(c for (f, _), c in cur_counts.items() if f == feat)
            nb = len(bins)
            total = Decimal(0)
            for b in bins:
                p_ref = (ref_counts.get((feat, b), 0) + 0.5) / (
                    n_ref + 0.5 * nb
                )
                p_cur = (cur_counts.get((feat, b), 0) + 0.5) / (
                    n_cur + 0.5 * nb
                )
                raw = (p_cur - p_ref) * math.log(p_cur / p_ref)
                # half-AWAY rounding on the double's repr — exactly what
                # Spark's ROUND does for doubles (BigDecimal.valueOf →
                # Double.toString → HALF_UP). The previous
                # floor(abs*1e6+0.5) emulation could flip near-tie bins
                # because the *1e6 multiply itself injects float error
                # (ADVICE r11); Decimal(repr(raw)) has no such step.
                total += Decimal(repr(raw)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            out[feat] = float(total)
        return out

    def evaluate(batch_df: DataFrame, batch_id: int) -> None:
        # COMPLETE mode re-emits every bin each trigger (bounded by the
        # bin space, never by corpus size), so the in-process histogram
        # is rebuilt wholesale — a daemon RESTART from an existing
        # checkpoint is correct by construction (update mode would
        # re-emit only bins the new data touched, silently dropping
        # every unchanged bin from the PSI after a restart)
        cur_counts.clear()
        for r in batch_df.collect():
            cur_counts[(r.feature, r.bin)] = int(r.cnt)
        on_psi(batch_id, _psi())

    hist = (
        _feature_rows(docs, "is_cur")
        .groupBy("feature", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        hist.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(evaluate)
        .start()
    )


def drift_monitor_stream_ks(
    docs: DataFrame,
    ref: DataFrame,
    on_ks,
    checkpoint: str,
):
    """Streaming binned-KS drift monitor (round 12): the ordered
    complement of :func:`drift_monitor_stream`, same scale split — the
    volume-scaling part (counting length-bucket occurrences) runs as a
    complete-mode streaming aggregation over the BOUNDED bin space, the
    all-bins part (cumulative CDFs, max gap, the alpha=0.05 verdict)
    runs in ``foreachBatch`` over <= 16 rows of in-process state. The
    drained stream's verdict equals the batch
    ``operators.drift.corpus_drift_ks`` bit-for-bit (pytest-pinned):
    per-bin gaps round through Decimal(repr(x)) HALF_UP — exactly
    Spark's double ROUND — before the max.

    ``on_ks(batch_id, ks_stat, critical_value, alert)`` fires per
    trigger. ``ref`` is read ONCE into a bounded histogram dict."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from cours_datalake_dwh_td_kafka_spark.operators.drift import (
        KS_COEFF,
        ks_len_bin,
    )

    def _len_bins(d: DataFrame) -> DataFrame:
        # the batch operator's exact binning (null mass -> KS_NULL_BIN,
        # a real ordered bin) so stream == batch holds on null inputs
        return d.select(ks_len_bin().alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )

    ref_counts: dict[int, int] = {
        r.bin: r.cnt for r in _len_bins(ref).collect()
    }
    cur_counts: dict[int, int] = {}

    def _round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def _ks() -> tuple[float, float, bool]:
        bins = sorted(set(ref_counts) | set(cur_counts))
        n_ref = sum(ref_counts.values())
        n_cur = sum(cur_counts.values())
        if not bins or n_ref == 0 or n_cur == 0:
            return 0.0, float("inf"), False
        ks = 0.0
        cum_r = cum_c = 0
        for b in bins:
            cum_r += ref_counts.get(b, 0)
            cum_c += cur_counts.get(b, 0)
            ks = max(ks, _round6(abs(cum_r / n_ref - cum_c / n_cur)))
        crit = _round6(
            KS_COEFF * math.sqrt((n_ref + n_cur) / (n_ref * n_cur))
        )
        return ks, crit, ks > crit

    def evaluate(batch_df: DataFrame, batch_id: int) -> None:
        # complete mode re-emits every bin each trigger (bounded by the
        # bin space), so a restart rebuilds the histogram wholesale —
        # the drift_monitor_stream restart rule
        cur_counts.clear()
        for r in batch_df.collect():
            cur_counts[r.bin] = int(r.cnt)
        ks, crit, alert = _ks()
        on_ks(batch_id, ks, crit, alert)

    hist = _len_bins(docs)
    return (
        hist.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(evaluate)
        .start()
    )


#: streaming sketch union re-compaction threshold (points, not rows)
QS_COMPRESS_CAP = 8192


def quantile_monitor_stream(
    rows: DataFrame,
    col: str,
    on_quantiles,
    checkpoint: str,
    ps=None,
):
    """Streaming percentiles over an unbounded column (round 13): the
    quantile member of the stateful-sketch twins (CMS / HLL / MG).
    Each micro-batch folds DISTRIBUTED into per-partition compactor
    summaries (operators.quantile_sketch — the exact code the batch
    row runs), whose bounded (value, weight) rows merge into the
    monitor's running sketch by union: associative, commutative, and
    error-free, so the running (n, err) accounting stays EXACT across
    any batch arrival order. When the union grows past QS_COMPRESS_CAP
    points it re-compacts through the same compactor, folding the
    re-compaction cost into the carried err — state stays bounded no
    matter how long the stream runs, and the rank-error guarantee
    (|true rank - target| <= err) remains self-reported and checkable
    at every trigger.

    RESTART-CORRECT (r13 review): unlike the histogram monitors, a
    compacting sketch cannot live in a complete-mode aggregation, and
    Structured Streaming does NOT replay committed batches after a
    restart — so the running state is persisted BESIDE the checkpoint
    after every folded batch (atomic tmp+rename, stamped with the
    batch id) and reloaded on start. A replayed batch (foreachBatch's
    at-least-once tail) is detected by its id and re-emitted from the
    stored state without re-merging — the standard foreachBatch
    idempotence recipe, applied to sketch state.

    ``on_quantiles(batch_id, {p: estimate}, n, err)`` fires per
    trigger. Returns the started StreamingQuery."""
    import json as _json
    import os as _os
    import uuid as _uuid

    from cours_datalake_dwh_td_kafka_spark.operators.quantile_sketch import (
        QS_PS,
        quantile_sketch_summary,
        sketch_compress,
        sketch_merge,
        sketch_quantile,
    )

    probe = tuple(QS_PS if ps is None else ps)
    state_path = _os.path.join(checkpoint, "graft_sketch_state.json")
    state = {"points": [], "n": 0, "err": 0, "last_bid": -1}
    if _os.path.exists(state_path):
        with open(state_path) as f:
            saved = _json.load(f)
        state.update(
            points=[tuple(p) for p in saved["points"]],
            n=saved["n"],
            err=saved["err"],
            last_bid=saved["last_bid"],
        )
    cap = QS_COMPRESS_CAP

    def _persist() -> None:
        _os.makedirs(checkpoint, exist_ok=True)
        tmp = state_path + f".tmp.{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            _json.dump(
                {
                    "points": state["points"],
                    "n": state["n"],
                    "err": state["err"],
                    "last_bid": state["last_bid"],
                },
                f,
            )
            f.flush()
            _os.fsync(f.fileno())
        _os.replace(tmp, state_path)

    def _emit(batch_id: int) -> None:
        ests = {
            p: sketch_quantile(state["points"], state["n"], p)
            for p in probe
        }
        on_quantiles(batch_id, ests, state["n"], state["err"])

    def evaluate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state["last_bid"]:
            _emit(batch_id)  # replayed batch: already folded, re-emit
            return
        rows_ = quantile_sketch_summary(batch_df, col).collect()
        pts = [(r.value, r.weight) for r in rows_ if r.value is not None]
        n_b = sum(r.n for r in rows_)
        err_b = sum(r.err for r in rows_)
        state["points"], state["n"], state["err"] = sketch_merge(
            state["points"], state["n"], state["err"], pts, n_b, err_b
        )
        if len(state["points"]) > cap:
            state["points"], state["n"], state["err"] = sketch_compress(
                state["points"], state["n"], state["err"]
            )
        state["last_bid"] = batch_id
        _persist()
        _emit(batch_id)

    return (
        rows.select(col)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(evaluate)
        .start()
    )


def quantile_monitor_stream_by_group(
    rows: DataFrame,
    key: str,
    col: str,
    on_quantiles,
    checkpoint: str,
    ps=None,
):
    """Per-COHORT streaming percentiles (round 14, VERDICT r13 #3):
    the grouped twin of :func:`quantile_monitor_stream` and the shape
    production monitoring actually runs — latency percentiles per
    event type, length percentiles per source. Each micro-batch folds
    distributed into per-(partition, key) compactor summaries
    (``quantile_sketch_summary_by`` — the exact code the batch row
    runs), which union into one running sketch PER KEY: every cohort's
    (n, err) accounting stays exact and independent (a hot cohort's
    compactions never tax a quiet one's budget — the grouped batch
    row's independent-budget rule, live). A key's sketch re-compacts
    past QS_COMPRESS_CAP points, so total state is bounded by
    keys x cap — the promise a per-key monitor must keep to run
    forever.

    RESTART-CORRECT by the same recipe as the global monitor: the
    {key -> sketch} map persists beside the checkpoint after every
    folded batch (atomic tmp+rename, stamped with the batch id) and
    reloads on start; a replayed batch re-emits from stored state
    without re-merging. Deterministic: the compactor is
    deterministic, so the same batch sequence yields bit-identical
    per-key estimates (pytest-pinned).

    ``on_quantiles(batch_id, {key: {p: estimate}}, {key: n},
    {key: err})`` fires per trigger. NULL cohort keys are real cohorts
    (JSON round-trips them as null). Returns the StreamingQuery."""
    import json as _json
    import os as _os
    import uuid as _uuid

    from cours_datalake_dwh_td_kafka_spark.operators.quantile_sketch import (
        QS_GROUP_PS,
        quantile_sketch_summary_by,
        sketch_compress,
        sketch_merge,
        sketch_quantile,
    )

    probe = tuple(QS_GROUP_PS if ps is None else ps)
    state_path = _os.path.join(checkpoint, "graft_sketch_state_by.json")
    state: dict = {"groups": {}, "last_bid": -1}

    def _gkey(k):
        # dict key for the in-memory map; JSON-safe via the entry list
        return k

    if _os.path.exists(state_path):
        with open(state_path) as f:
            saved = _json.load(f)
        state["last_bid"] = saved["last_bid"]
        for k, pts, n, err in saved["groups"]:
            state["groups"][_gkey(k)] = {
                "pts": [tuple(p) for p in pts], "n": n, "err": err
            }

    def _persist() -> None:
        _os.makedirs(checkpoint, exist_ok=True)
        tmp = state_path + f".tmp.{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            _json.dump(
                {
                    "groups": [
                        [k, st["pts"], st["n"], st["err"]]
                        for k, st in state["groups"].items()
                    ],
                    "last_bid": state["last_bid"],
                },
                f,
            )
            f.flush()
            _os.fsync(f.fileno())
        _os.replace(tmp, state_path)

    def _emit(batch_id: int) -> None:
        ests = {
            k: {p: sketch_quantile(st["pts"], st["n"], p) for p in probe}
            for k, st in state["groups"].items()
        }
        ns = {k: st["n"] for k, st in state["groups"].items()}
        errs = {k: st["err"] for k, st in state["groups"].items()}
        on_quantiles(batch_id, ests, ns, errs)

    def evaluate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state["last_bid"]:
            _emit(batch_id)  # replayed batch: already folded, re-emit
            return
        rows_ = quantile_sketch_summary_by(batch_df, key, col).collect()
        incoming: dict = {}
        for r in rows_:
            b = incoming.setdefault(
                _gkey(r[key]), {"pts": [], "n": 0, "err": 0}
            )
            if r.value is not None:
                b["pts"].append((r.value, r.weight))
            else:
                b["n"] += r.n
                b["err"] += r.err
        for k, b in incoming.items():
            st = state["groups"].setdefault(
                k, {"pts": [], "n": 0, "err": 0}
            )
            st["pts"], st["n"], st["err"] = sketch_merge(
                st["pts"], st["n"], st["err"], b["pts"], b["n"], b["err"]
            )
            if len(st["pts"]) > QS_COMPRESS_CAP:
                st["pts"], st["n"], st["err"] = sketch_compress(
                    st["pts"], st["n"], st["err"]
                )
        state["last_bid"] = batch_id
        _persist()
        _emit(batch_id)

    return (
        rows.select(key, col)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(evaluate)
        .start()
    )


def drift_monitor_stream_ks_adaptive(
    docs: DataFrame,
    ref: DataFrame,
    on_ks,
    checkpoint: str,
):
    """Streaming EQUI-DEPTH KS drift monitor (round 13): the adaptive
    twin of :func:`drift_monitor_stream_ks`. Bin edges are derived
    ONCE from the reference snapshot (the batch row's exact deciles —
    a deployment substitutes the mergeable quantile sketch's
    estimates), then the stream side is identical machinery: a
    complete-mode histogram over the bounded bin space (|KSA_PS| + 2
    bins), the CDF/verdict math in foreachBatch. Drained verdict ==
    ``corpus_drift_ks_adaptive`` bit-for-bit on (ks_stat,
    critical_value, drift_alert) — shared bin expression, shared
    Decimal(repr) HALF_UP rounding (pytest-pinned).

    ``on_ks(batch_id, ks_stat, critical_value, alert)`` per trigger."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from cours_datalake_dwh_td_kafka_spark.operators.drift import (
        KS_COEFF,
        ksa_bin_expr,
        ksa_edges,
    )

    edges = ksa_edges(ref)

    def _bins(d: DataFrame) -> DataFrame:
        return (
            d.select(ksa_bin_expr(edges, F.col("n_chars")).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    ref_counts: dict[int, int] = {
        r.bin: r.cnt for r in _bins(ref).collect()
    }
    cur_counts: dict[int, int] = {}

    def _round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def _ks() -> tuple[float, float, bool]:
        bins = sorted(set(ref_counts) | set(cur_counts))
        n_ref = sum(ref_counts.values())
        n_cur = sum(cur_counts.values())
        if not bins or n_ref == 0 or n_cur == 0:
            return 0.0, float("inf"), False
        ks = 0.0
        cum_r = cum_c = 0
        for b in bins:
            cum_r += ref_counts.get(b, 0)
            cum_c += cur_counts.get(b, 0)
            ks = max(ks, _round6(abs(cum_r / n_ref - cum_c / n_cur)))
        crit = _round6(
            KS_COEFF * math.sqrt((n_ref + n_cur) / (n_ref * n_cur))
        )
        return ks, crit, ks > crit

    def evaluate(batch_df: DataFrame, batch_id: int) -> None:
        cur_counts.clear()
        for r in batch_df.collect():
            cur_counts[r.bin] = int(r.cnt)
        ks, crit, alert = _ks()
        on_ks(batch_id, ks, crit, alert)

    return (
        _bins(docs)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(evaluate)
        .start()
    )
