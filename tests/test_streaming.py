"""Structured Streaming tests without a Kafka broker: file sources feeding
the same pipeline functions production runs over Kafka, memory sinks for
assertions, checkpoint-restart replay, and watermark/late-data behavior
(SURVEY.md §5 item 3)."""

from __future__ import annotations

import datetime
import json
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
    WEATHER_SCHEMA,
    anomaly_stream,
    enrich_alerts,
    parse_kafka_json,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

RAW_SCHEMA = StructType(
    [
        StructField("city", StringType()),
        StructField("country", StringType()),
        StructField("temperature", DoubleType()),
        StructField("windspeed", DoubleType()),
        StructField("timestamp", DoubleType()),
    ]
)

BASE_TS = 1_700_000_000.0  # 2023-11-14 22:13:20 UTC


_batch_seq = 0


def _write_batch(dirpath, rows, name):
    """Write one micro-batch file with a strictly increasing mtime: the
    file source orders by modification time, and same-second writes tie —
    which would let a later batch (e.g. a watermark-flush row) process
    FIRST and silently change the scenario."""
    global _batch_seq
    import os

    _batch_seq += 1
    path = f"{dirpath}/{name}.json"
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (1_000_000 + _batch_seq * 60, 1_000_000 + _batch_seq * 60))


def _rows(n0, count, city="Paris", country="France", temp=20.0, wind=5.0, step=60):
    return [
        {
            "city": city,
            "country": country,
            "temperature": temp,
            "windspeed": wind,
            "timestamp": BASE_TS + (n0 + i) * step,
        }
        for i in range(count)
    ]


def _run_to_memory(df, name, mode="update"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    return str(d)


def _read_stream(spark, stream_dir):
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(stream_dir)
    )


def test_transform_enrich_alert_banding(spark, stream_dir):
    """T1: parse -> enrich matches the reference banding thresholds
    exactly at the boundaries (10/20 wind, 25/35 heat —
    work/spark_processor.py:31-38)."""
    rows = (
        _rows(0, 1, temp=24.9, wind=9.9)
        + _rows(1, 1, temp=25.0, wind=10.0)
        + _rows(2, 1, temp=35.0, wind=20.0)
        + _rows(3, 1, temp=35.1, wind=20.1)
    )
    _write_batch(stream_dir, rows, "b0")
    enriched = enrich_alerts(_read_stream(spark, stream_dir))
    name = f"t1_{uuid.uuid4().hex[:8]}"
    _run_to_memory(enriched, name, mode="append")
    got = {
        round(r.windspeed, 1): (r.wind_alert_level, r.heat_alert_level)
        for r in spark.table(name).collect()
    }
    assert got[9.9] == ("level_0", "level_0")
    assert got[10.0] == ("level_1", "level_1")
    assert got[20.0] == ("level_1", "level_1")
    assert got[20.1] == ("level_2", "level_2")


def test_sliding_window_agg_streaming_matches_batch(spark, stream_dir):
    """T2: the same pipeline function produces identical results in
    streaming (file source, two micro-batches) and batch execution."""
    rows = _rows(0, 30, temp=20.0) + _rows(30, 30, temp=30.0)
    _write_batch(stream_dir, rows[:40], "b0")
    _write_batch(stream_dir, rows[40:], "b1")

    stream_out = sliding_window_agg(
        enrich_alerts(_read_stream(spark, stream_dir))
    )
    name = f"t2_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stream_out, name, mode="update")
    got = {
        (r.window_start, r.window_end): (r.avg_value, r.n_obs, r.n_alerts)
        for r in spark.table(name).collect()
    }

    batch_df = spark.createDataFrame(
        [tuple(r.values()) for r in rows], RAW_SCHEMA
    )
    expect = {
        (r.window_start, r.window_end): (r.avg_value, r.n_obs, r.n_alerts)
        for r in sliding_window_agg(
            enrich_alerts(batch_df), watermark=None
        ).collect()
    }
    assert got == expect
    # 5-min windows sliding by 1 min: every event in 5 windows
    assert sum(v[1] for v in got.values()) == len(rows) * 5


def test_watermark_drops_late_rows(spark, stream_dir, tmp_path):
    """T3: with a 10-minute watermark, a row arriving behind the committed
    watermark is dropped from the aggregate state; the reference's
    no-watermark complete mode would have kept it (documented deviation,
    SURVEY.md §2.9 T3).

    Spark's drop guarantee is relative to the CHECKPOINTED watermark:
    within a single run, a late row for an already-finalized window may
    still be admitted (best-effort semantics). So this test commits the
    watermark via a checkpointed run, then restarts with the late row.
    """
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")

    def run():
        agg = tumbling_window_agg(
            enrich_alerts(_read_stream(spark, stream_dir))
        )
        q = (
            agg.writeStream.format("json")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    _write_batch(stream_dir, _rows(0, 20), "b0")  # watermark -> BASE+9min
    run()
    late = [
        {
            "city": "Paris",
            "country": "France",
            "temperature": 99.0,
            "windspeed": 0.0,
            "timestamp": BASE_TS - 3600,  # one hour before the stream began
        }
    ]
    _write_batch(stream_dir, late, "b1")
    q = run()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1, "late row must be dropped by the committed watermark"
    rows = spark.read.json(outdir).collect()
    assert rows, "on-time rows must aggregate"
    assert all(r.avg_value != 99.0 for r in rows)


def test_checkpoint_restart_no_duplicates(spark, stream_dir, tmp_path):
    """T4: stop after batch 1, restart with the same checkpoint, feed
    batch 2 — the restarted query must not reprocess batch 1 (file sink is
    append-only, so duplicates would show up as extra rows)."""
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    _write_batch(stream_dir, _rows(0, 10), "b0")

    def start():
        enriched = enrich_alerts(_read_stream(spark, stream_dir)).select(
            "city", "country", "event_time", "temperature", "wind_alert_level"
        )
        return (
            enriched.writeStream.format("json")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(120)
    n1 = spark.read.json(outdir).count()
    assert n1 == 10

    _write_batch(stream_dir, _rows(10, 7), "b1")
    q = start()
    q.awaitTermination(120)
    n2 = spark.read.json(outdir).count()
    assert n2 == 17, f"expected 17 rows after restart, got {n2}"


def test_stream_static_anomaly_join(spark, stream_dir):
    """T6/T9: live stream ⋈ broadcast static profile on the full
    (city, country, month) key; only deviating rows emitted with the T9
    contract fields."""
    normal = _rows(0, 5, temp=20.0)
    hot = _rows(5, 1, temp=45.0)
    cold = _rows(6, 1, temp=-10.0)
    _write_batch(stream_dir, normal + hot + cold, "b0")

    month = time.gmtime(BASE_TS).tm_mon
    profile = spark.createDataFrame(
        [("Paris", "France", month, 20.0, 2.0)],
        "city STRING, country STRING, month INT, value_mean DOUBLE, value_std DOUBLE",
    )
    out = anomaly_stream(enrich_alerts(_read_stream(spark, stream_dir)), profile)
    name = f"t6_{uuid.uuid4().hex[:8]}"
    _run_to_memory(out, name, mode="append")
    got = spark.table(name).collect()
    assert len(got) == 2
    types = {r.observed_value: r.anomaly_type for r in got}
    assert types[45.0] == "high" and types[-10.0] == "low"
    assert all(
        r.variable == "temperature" and r.is_anomaly and r.expected_value == 20.0
        for r in got
    )


def test_session_window_stream(spark, stream_dir):
    """T10: session windows close after the gap; two bursts 3 hours apart
    with a 5-minute gap -> two sessions. Session windows only support
    append output in streaming, so sessions emit once the watermark passes
    their end — a far-future flush row (other city) advances it."""
    burst1 = _rows(0, 3, step=60)
    burst2 = _rows(0, 3, step=60)
    for r in burst2:
        r["timestamp"] += 3 * 3600
    _write_batch(stream_dir, burst1 + burst2, "b0")
    flush = _rows(0, 1, city="Nice")
    flush[0]["timestamp"] = BASE_TS + 86400  # watermark past both sessions
    _write_batch(stream_dir, flush, "b1")
    out = session_window_agg(
        enrich_alerts(_read_stream(spark, stream_dir)), gap="5 minutes"
    )
    name = f"t10_{uuid.uuid4().hex[:8]}"
    _run_to_memory(out, name, mode="append")
    rows = [r for r in spark.table(name).collect() if r.city == "Paris"]
    assert len(rows) == 2
    assert all(r.n_obs == 3 for r in rows)
    # session end = last event + gap
    for r in rows:
        assert (r.session_end - r.session_start).total_seconds() == 2 * 60 + 300


def test_parse_kafka_json_shape(spark):
    """T1 parsing path against Kafka-shaped binary value rows."""
    raw = spark.createDataFrame(
        [(json.dumps({"city": "Lyon", "country": "France", "temperature": 21.5,
                      "windspeed": 11.0, "timestamp": BASE_TS}).encode(),)],
        "value BINARY",
    )
    parsed = parse_kafka_json(raw, WEATHER_SCHEMA)
    row = parsed.collect()[0]
    assert (row.city, row.country, row.windspeed) == ("Lyon", "France", 11.0)


def test_complete_mode_compat(spark, stream_dir):
    """Reference-compat path: outputMode('complete') with NO watermark
    (work/spark_windowed_aggregation.py:44) — every window ever seen is
    re-emitted each trigger and late rows always merge. Kept as a compat
    option; the engine default is watermarked update/append."""
    _write_batch(stream_dir, _rows(0, 10), "b0")
    late = _rows(0, 1, temp=50.0)
    late[0]["timestamp"] = BASE_TS - 7200  # 2h before the stream
    _write_batch(stream_dir, late, "b1")

    out = tumbling_window_agg(
        enrich_alerts(_read_stream(spark, stream_dir)), watermark=None
    )
    name = f"tc_{uuid.uuid4().hex[:8]}"
    _run_to_memory(out, name, mode="complete")
    rows = spark.table(name).collect()
    # unbounded state: the late window exists alongside the on-time ones
    assert any(r.avg_value == 50.0 for r in rows)
    assert sum(r.n_obs for r in rows) == 11


def test_write_stream_to_lake_partitioned_layout(spark, stream_dir, tmp_path):
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        write_stream_to_lake,
    )

    _write_batch(stream_dir, _rows(0, 3), "b0")
    _write_batch(stream_dir, _rows(0, 2, city="Lyon"), "b1")

    out_dir = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    q = (
        write_stream_to_lake(
            enrich_alerts(_read_stream(spark, stream_dir)), out_dir, ckpt
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    import glob as g

    parts = sorted(
        p.split(out_dir + "/")[1]
        for p in g.glob(f"{out_dir}/country=*/city=*")
    )
    assert parts == ["country=France/city=Lyon", "country=France/city=Paris"]
    back = spark.read.json(out_dir)
    assert back.count() == 5
    # partition columns round-trip through the directory layout
    assert {r.city for r in back.select("city").distinct().collect()} == {
        "Paris",
        "Lyon",
    }


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner interval join (click -> purchase within 10
    min, same user): in-window pairs join, out-of-window and
    wrong-direction pairs don't, and batch execution of the same
    function yields the identical result set."""
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        stream_stream_join,
    )

    ldir, rdir = tmp_path / "clicks", tmp_path / "purchases"
    ldir.mkdir(), rdir.mkdir()
    clicks = [
        {"user_id": 1, "click_id": 10, "ts": BASE_TS},
        {"user_id": 3, "click_id": 30, "ts": BASE_TS + 600},
    ]
    purchases = [
        # joins: 5 min after user 1's click
        {"user_id": 1, "purchase_id": 100, "ts": BASE_TS + 300, "value": 9.5},
        # no join: 15 min after the click (> max_delay)
        {"user_id": 1, "purchase_id": 101, "ts": BASE_TS + 900, "value": 1.0},
        # no join: no click from user 2
        {"user_id": 2, "purchase_id": 102, "ts": BASE_TS + 60, "value": 2.0},
        # no join: purchase BEFORE user 3's click
        {"user_id": 3, "purchase_id": 103, "ts": BASE_TS + 540, "value": 3.0},
    ]
    _write_batch(str(ldir), clicks, "c0")
    _write_batch(str(rdir), purchases, "p0")

    c_schema = "user_id LONG, click_id LONG, ts DOUBLE"
    p_schema = "user_id LONG, purchase_id LONG, ts DOUBLE, value DOUBLE"

    def prep(df, tcol):
        return df.withColumn(tcol, F.timestamp_seconds("ts")).drop("ts")

    def run(cdf, pdf):
        return stream_stream_join(
            prep(cdf, "click_ts"),
            prep(pdf, "purchase_ts"),
            on=("user_id",),
            left_time="click_ts",
            right_time="purchase_ts",
            max_delay="10 minutes",
        )

    sc = spark.readStream.schema(c_schema).json(str(ldir))
    sp = spark.readStream.schema(p_schema).json(str(rdir))
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(run(sc, sp), name, mode="append")
    got = {
        (r.click_id, r.purchase_id) for r in spark.table(name).collect()
    }
    assert got == {(10, 100)}

    bc = spark.read.schema(c_schema).json(str(ldir))
    bp = spark.read.schema(p_schema).json(str(rdir))
    batch = {(r.click_id, r.purchase_id) for r in run(bc, bp).collect()}
    assert batch == got


def test_windowed_agg_restart_with_added_column(spark, stream_dir, tmp_path):
    """The sliding-window agg restarted from its checkpoint with an
    added DOWNSTREAM projection (derived after the stateful agg, so the
    state-store schema is untouched) keeps processing; rows emitted
    before the upgrade lack the column, rows after carry it."""
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        sliding_window_agg,
    )

    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")

    def run(with_ratio: bool):
        agg = sliding_window_agg(
            enrich_alerts(_read_stream(spark, stream_dir))
        )
        if with_ratio:
            agg = agg.withColumn(
                "alert_ratio",
                F.round(F.col("n_alerts") / F.col("n_obs"), 6),
            )
        q = (
            agg.writeStream.format("json")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1 + a watermark-advancing flush so windows finalize pre-upgrade
    _write_batch(stream_dir, _rows(0, 5, step=60), "b0")
    flush1 = _rows(0, 1, city="Nice")
    flush1[0]["timestamp"] = BASE_TS + 3600
    _write_batch(stream_dir, flush1, "b0f")
    run(with_ratio=False)
    n1 = spark.read.json(outdir).count()
    assert n1 > 0

    # upgrade: restart same checkpoint with the derived column; new data
    later = _rows(0, 5, step=60)
    for r in later:
        r["timestamp"] += 7200
    _write_batch(stream_dir, later, "b1")
    flush2 = _rows(0, 1, city="Nice")
    flush2[0]["timestamp"] = BASE_TS + 86400
    _write_batch(stream_dir, flush2, "b1f")
    run(with_ratio=True)

    rows = spark.read.json(outdir).collect()
    assert len(rows) > n1, "restarted query must emit the new windows"
    with_col = [r for r in rows if "alert_ratio" in r.asDict()
                and r["alert_ratio"] is not None]
    without_col = [r for r in rows if r.asDict().get("alert_ratio") is None]
    assert with_col, "post-upgrade rows must carry the derived column"
    assert without_col, "pre-upgrade rows must survive without it"


def test_lambda_architecture_end_to_end(spark, stream_dir, tmp_path):
    """The reference's full Lambda topology, assembled from the engine's
    own pieces: a BATCH layer (historical events committed to the
    versioned lake), a SPEED layer (file-stream -> enrich -> partitioned
    streaming lake sink), and a SERVING view that unions the two and
    must equal a pure-batch recompute over ALL events — the Lambda
    correctness contract."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_commit, lake_read
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        write_stream_to_lake,
    )

    hist_rows = _rows(0, 12, temp=21.0) + _rows(0, 6, city="Lyon", temp=27.0)
    live_rows = _rows(100, 8, temp=31.0) + _rows(
        100, 4, city="Lyon", temp=19.0
    )

    # batch layer: history enriched once, committed to the lake
    batch_src = spark.createDataFrame(
        [tuple(r.values()) for r in hist_rows], RAW_SCHEMA
    )
    batch_path = str(tmp_path / "batch_lake")
    lake_commit(enrich_alerts(batch_src), batch_path)

    # speed layer: live stream through the SAME enrichment into a
    # partitioned streaming sink
    _write_batch(stream_dir, live_rows, "live0")
    speed_path = str(tmp_path / "speed")
    q = (
        write_stream_to_lake(
            enrich_alerts(_read_stream(spark, stream_dir)),
            speed_path,
            str(tmp_path / "ckpt"),
            fmt="parquet",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # serving: batch snapshot UNION speed partition, one aggregate
    def per_city(df):
        return {
            (r.city, r.n, round(r.avg_t, 6), r.n_alerts)
            for r in df.groupBy("city")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("temperature").alias("avg_t"),
                F.sum(
                    (F.col("wind_alert_level") != "level_0").cast("int")
                ).alias("n_alerts"),
            )
            .collect()
        }

    cols = ["city", "temperature", "wind_alert_level"]
    serving = lake_read(spark, batch_path).select(*cols).unionByName(
        spark.read.parquet(speed_path).select(*cols)
    )

    # ground truth: one batch pass over EVERYTHING
    truth_src = spark.createDataFrame(
        [tuple(r.values()) for r in hist_rows + live_rows], RAW_SCHEMA
    )
    truth = enrich_alerts(truth_src).select(*cols)

    assert per_city(serving) == per_city(truth)


def test_commit_stream_to_lake_exactly_once_commits(
    spark, tmp_path, monkeypatch
):
    """Round-10 streaming lake ingestion: each micro-batch lands as ONE
    atomic versioned commit (time travel + CDC see streamed rows), and
    a batch replayed after a kill between the lake commit and the
    checkpoint ack is detected via the manifest's recorded batch id and
    skipped — no duplicate version, no duplicate rows."""
    import cours_datalake_dwh_td_kafka_spark.lake as lakemod
    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_diff,
        lake_maintenance_plan,
        lake_read,
        last_stream_batch_id,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        commit_stream_to_lake,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    schema = "station LONG, reading DOUBLE"

    def run():
        s = spark.readStream.schema(schema).json(str(indir))
        q = commit_stream_to_lake(s, lake, ckpt).start()
        q.awaitTermination(120)

    # arm a genuine kill INSIDE the window: the lake commit lands, then
    # the sink dies before Spark can ack the batch to the checkpoint
    # (the sink rides lake_commit_occ since round 14)
    orig_commit = lakemod.lake_commit_occ
    state = {"crash": True}

    def crashing(df, path, **kw):
        v = orig_commit(df, path, **kw)
        if state["crash"]:
            state["crash"] = False
            raise RuntimeError("simulated kill after commit, before ack")
        return v

    monkeypatch.setattr(lakemod, "lake_commit_occ", crashing)
    _write_batch(
        str(indir),
        [{"station": 1, "reading": 10.0}, {"station": 2, "reading": 20.0}],
        "b0",
    )
    with pytest.raises(Exception, match="simulated kill"):
        run()
    # the commit survived the kill; the checkpoint never acked batch 0
    assert current_version(lake) == 1
    assert last_stream_batch_id(lake) == 0

    # resume: Spark replays batch 0 with the SAME id — the guard skips
    run()
    assert current_version(lake) == 1, "replayed batch committed twice"
    assert lake_read(spark, lake).count() == 2

    _write_batch(str(indir), [{"station": 3, "reading": 30.0}], "b1")
    run()
    assert current_version(lake) == 2
    assert last_stream_batch_id(lake) == 1
    assert lake_read(spark, lake).count() == 3

    # REBUILT checkpoint (round-10 review): batch ids restart from 0
    # under a fresh query id — the guard must scope to the query id and
    # COMMIT the new stream's batches instead of silently skipping ids
    # 0..mark against the dead stream's high-water mark
    import shutil

    shutil.rmtree(ckpt)
    _write_batch(str(indir), [{"station": 4, "reading": 40.0}], "b2")
    run()  # fresh query: reprocesses ALL input as its batch 0
    assert current_version(lake) == 3, "rebuilt checkpoint was skipped"
    assert lake_read(spark, lake).count() == 3 + 4  # reprocess semantics
    # streamed rows are first-class lake citizens: time travel and CDC
    assert lake_read(spark, lake, 1).count() == 2
    diff = lake_diff(spark, lake, 1, 2).collect()
    assert [(r.station, r._change) for r in diff] == [(3, "insert")]
    # and the advisor sees the per-batch small files piling up
    assert lake_maintenance_plan(lake)["n_files"] >= 2


def test_commit_stream_to_lake_restart_with_added_column(
    spark, tmp_path, monkeypatch
):
    """Checkpoint-upgrade compatibility (SURVEY §7 hard-point #1): the
    versioned-lake sink restarted from its existing checkpoint with an
    ADDED projected column commits under the evolved schema. The new
    version declares the column, pre-upgrade rows read NULL in it, the
    old version still reads without it, and the upgraded batch replayed
    after a kill between its commit and the checkpoint ack does not
    commit twice."""
    import cours_datalake_dwh_td_kafka_spark.lake as lakemod
    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_history,
        lake_read,
        last_stream_batch_id,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        checkpoint_query_id,
        commit_stream_to_lake,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    def run(*cols):
        s = spark.readStream.schema(
            "station LONG, reading DOUBLE, quality STRING"
        ).json(str(indir))
        q = commit_stream_to_lake(s.select(*cols), lake, ckpt).start()
        q.awaitTermination(120)

    _write_batch(
        str(indir),
        [{"station": 1, "reading": 10.0}, {"station": 2, "reading": 20.0}],
        "b0",
    )
    run("station", "reading")
    qid = checkpoint_query_id(ckpt)
    assert lake_read(spark, lake).columns == ["station", "reading"]

    # upgrade: same checkpoint, one more projected column; the sink dies
    # after committing the upgraded batch and before the checkpoint ack
    orig_commit = lakemod.lake_commit_occ
    state = {"crash": True}

    def crashing(df, path, **kw):
        v = orig_commit(df, path, **kw)
        if state["crash"]:
            state["crash"] = False
            raise RuntimeError("simulated kill after commit, before ack")
        return v

    monkeypatch.setattr(lakemod, "lake_commit_occ", crashing)
    _write_batch(
        str(indir), [{"station": 3, "reading": 30.0, "quality": "good"}], "b1"
    )
    with pytest.raises(Exception, match="simulated kill"):
        run("station", "reading", "quality")
    run("station", "reading", "quality")  # replays batch 1: skipped

    assert checkpoint_query_id(ckpt) == qid
    assert current_version(lake) == 2, "replayed batch committed twice"
    assert last_stream_batch_id(lake, qid) == 1
    assert [h["op"] for h in lake_history(lake)] == ["append", "append"]
    cur = lake_read(spark, lake)
    assert cur.columns == ["station", "reading", "quality"]
    assert sorted(tuple(r) for r in cur.collect()) == [
        (1, 10.0, None),
        (2, 20.0, None),
        (3, 30.0, "good"),
    ]
    assert lake_read(spark, lake, 1).columns == ["station", "reading"]


def test_commit_stream_to_lake_empty_batch_publishes_nothing(spark, tmp_path):
    """A micro-batch that filters to zero rows publishes no version,
    advances no mark, leaves no ``data/<commit-id>/`` directory and
    raises nothing; the next non-empty batch commits v1 under its own
    batch id."""
    import os

    from cours_datalake_dwh_td_kafka_spark.lake import (
        current_version,
        lake_history,
        lake_read,
        last_stream_batch_id,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        commit_stream_to_lake,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    def run():
        s = spark.readStream.schema("station LONG, reading DOUBLE").json(
            str(indir)
        )
        q = commit_stream_to_lake(s.where("reading > 0"), lake, ckpt).start()
        q.awaitTermination(120)
        assert q.exception() is None
        return q.lastProgress["batchId"]

    _write_batch(str(indir), [{"station": 1, "reading": -1.0}], "b0")
    assert run() == 0
    assert current_version(lake) == 0
    assert last_stream_batch_id(lake) == -1
    data = os.path.join(lake, "data")
    assert not os.path.isdir(data) or os.listdir(data) == []

    _write_batch(str(indir), [{"station": 2, "reading": 2.0}], "b1")
    assert run() == 1
    assert current_version(lake) == 1
    assert last_stream_batch_id(lake) == 1
    assert lake_history(lake)[0]["op"] == "append"
    assert [tuple(r) for r in lake_read(spark, lake).collect()] == [(2, 2.0)]
    assert len(os.listdir(data)) == 1


def _drain_to_lake(spark, tmp_path, name, k):
    """A ``commit_stream_to_lake`` drain over ``k`` one-file micro-batches
    of a plain JSON source, returned unstarted as a callable."""
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        commit_stream_to_lake,
    )

    indir = tmp_path / f"{name}_in"
    indir.mkdir()
    for i in range(k):
        _write_batch(
            str(indir),
            [{"station": 10 * i + j, "reading": 1.0} for j in range(5)],
            f"b{i}",
        )
    lake = str(tmp_path / f"{name}_lake")

    def drain():
        s = (
            spark.readStream.schema("station LONG, reading DOUBLE")
            .option("maxFilesPerTrigger", 1)
            .json(str(indir))
        )
        q = commit_stream_to_lake(s, lake, str(tmp_path / f"{name}_ckpt"))
        q = q.start()
        q.awaitTermination(120)
        assert q.exception() is None
        return lake

    return drain


def test_commit_stream_to_lake_one_job_per_batch(spark, tmp_path):
    """The exactly-once sink's only Spark job per micro-batch is the
    data write: K non-empty batches of a plain JSON source submit K
    jobs, counted by ``count_jobs`` under the query's ``runId`` job
    group."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_history
    from tests.conftest import spark_jobs

    k = 3
    lake, n_jobs = spark_jobs(spark, _drain_to_lake(spark, tmp_path, "s", k))
    assert [h["op"] for h in lake_history(lake)] == ["append"] * k
    assert n_jobs == k


def test_count_jobs_counts_a_streams_jobs(spark, tmp_path):
    """A streaming query runs its micro-batch jobs under its own
    ``runId`` job group: ``count_jobs`` over a K-batch drain reports
    exactly K more jobs than the same drain over no input, and its
    stream listener is removed afterwards, also when ``fn`` raises."""
    from cours_datalake_dwh_td_kafka_spark.plans.inspect import count_jobs

    def listeners():
        return len(spark._jsparkSession.streams().listListeners())

    before = listeners()
    k = 3
    _, setup = count_jobs(spark, _drain_to_lake(spark, tmp_path, "e", 0))
    _, n_jobs = count_jobs(spark, _drain_to_lake(spark, tmp_path, "k", k))
    assert n_jobs == setup + k
    assert listeners() == before

    def boom():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        count_jobs(spark, boom)
    assert listeners() == before


def test_checkpoint_query_id_missing_metadata_names_protocol(tmp_path):
    """ADVICE r11: the exactly-once replay guard must fail with the
    protocol named when the checkpoint's metadata file is absent —
    not a bare FileNotFoundError."""
    import pytest

    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        checkpoint_query_id,
    )

    with pytest.raises(RuntimeError, match="exactly-once replay guard"):
        checkpoint_query_id(str(tmp_path / "never-materialized"))


def test_stream_cdc_consumer_exactly_once_across_restarts(spark, tmp_path):
    """The foreachBatch CDC poller consumes each lake version exactly
    once ACROSS stream restarts and checkpoint rebuilds — the marks
    live in the consumer table's manifests, not the checkpoint."""
    import shutil

    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_read,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        consume_lake_changes_stream,
    )

    src = str(tmp_path / "s")
    out = str(tmp_path / "o")
    ckpt = str(tmp_path / "ck")
    lake_commit(spark.range(0, 5).select(F.col("id").alias("k")), src)
    lake_commit(spark.range(5, 9).select(F.col("id").alias("k")), src)

    q = consume_lake_changes_stream(spark, src, out, ckpt).start()
    q.awaitTermination(120)
    assert lake_read(spark, out).count() == 9

    # more commits land; restart with a REBUILT checkpoint — version
    # marks, not the checkpoint, carry the exactly-once state
    lake_commit(spark.range(9, 12).select(F.col("id").alias("k")), src)
    shutil.rmtree(ckpt)
    q2 = consume_lake_changes_stream(
        spark, src, out, str(tmp_path / "ck2")
    ).start()
    q2.awaitTermination(120)
    got = lake_read(spark, out)
    assert got.count() == 12
    assert got.select("k").distinct().count() == 12


@pytest.mark.slow
def test_ingest_daemon_end_to_end(spark, tmp_path):
    """Capstone integration (r10+r11): STREAMED ingestion into the
    versioned lake, with every derived artifact — exact-dedup
    fingerprints, MinHash bands, the BM25 text index — maintained by
    the CDC consumer from version history alone. Two ingest waves
    through one checkpoint; after each, the daemon catches up; at the
    end every artifact equals a from-scratch recompute and the served
    BM25 answer equals the direct operator. Exactly-once throughout."""
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_consume_changes,
        lake_read,
    )
    from cours_datalake_dwh_td_kafka_spark.operators import text_index as ti
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        fingerprint_rows,
        minhash_band_rows,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.text_analysis import (
        bm25_search,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        commit_stream_to_lake,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = int(lo) + (int(hi) - int(lo)) // 2
    schema = docs.schema

    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    fps = str(tmp_path / "fps")
    bands = str(tmp_path / "bands")
    tidx = str(tmp_path / "tidx")
    log = str(tmp_path / "log")

    def drop_wave(name, frame):
        rows = [r.asDict() for r in frame.collect()]
        with open(os.path.join(src_dir, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def ingest():
        stream = (
            spark.readStream.schema(StructType(schema.fields))
            .json(src_dir)
        )
        q = commit_stream_to_lake(stream, lake, ckpt).start()
        q.awaitTermination(180)

    built = []

    def daemon_apply(ch):
        from cours_datalake_dwh_td_kafka_spark.lake import lake_commit

        ins = ch.where(F.col("_change") == "insert").drop(
            "_change", "_version"
        )
        if ins.take(1):
            ins = ins.localCheckpoint(eager=False)
            lake_commit(fingerprint_rows(ins), fps, mode="append")
            lake_commit(minhash_band_rows(ins), bands, mode="append")
            if not built:
                ti.build_text_index(spark, ins, tidx)
                built.append(True)
            else:
                ti.append_text_index(spark, ins, tidx)
        return ch.select("doc_id", "_change", "_version")

    # wave 1: first half streams in, daemon catches up
    drop_wave("a.json", docs.where(F.col("doc_id") < cut))
    ingest()
    v1_consumed = lake_consume_changes(
        spark, lake, log, apply_fn=daemon_apply
    )
    assert v1_consumed  # at least one streamed commit consumed

    # wave 2: the rest arrives; SAME checkpoint resumes; daemon resumes
    drop_wave("b.json", docs.where(F.col("doc_id") >= cut))
    ingest()
    v2_consumed = lake_consume_changes(
        spark, lake, log, apply_fn=daemon_apply
    )
    assert v2_consumed and min(v2_consumed) > max(v1_consumed)
    assert lake_consume_changes(spark, lake, log, apply_fn=daemon_apply) == []

    # the lake holds exactly the corpus
    live = lake_read(spark, lake)
    n = docs.count()
    assert live.count() == n
    assert live.select("doc_id").distinct().count() == n

    # every maintained artifact equals a from-scratch recompute
    def eq(a, b):
        return a.count() == b.count() and a.exceptAll(b).count() == 0

    assert eq(lake_read(spark, fps), fingerprint_rows(docs))
    assert eq(lake_read(spark, bands), minhash_band_rows(docs))
    assert eq(ti.bm25_query_index(spark, tidx), bm25_search(docs))


def test_streamed_mv_maintenance_via_cdc_daemon(spark, tmp_path):
    """The MV delta derivation rides the streaming CDC daemon: streamed
    ingest commits versions into the source lake, the foreachBatch
    poller folds each version's deltas into the MV, and the served view
    equals a from-scratch recompute — including after a restart with a
    FRESH checkpoint (exactly-once lives in the lake marks, not the
    checkpoint)."""
    import json as _json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType as _St

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.lake import lake_read
    from cours_datalake_dwh_td_kafka_spark.operators.lake_queries import (
        mv_delta_rows,
        mv_serve,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        commit_stream_to_lake,
        consume_lake_changes_stream,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = int(lo) + (int(hi) - int(lo)) // 2
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    lake = str(tmp_path / "lake")
    mv = str(tmp_path / "mv")

    def drop(name, frame):
        with open(os.path.join(src_dir, name), "w") as f:
            for r in frame.collect():
                f.write(_json.dumps(r.asDict()) + "\n")

    def ingest(ck):
        stream = spark.readStream.schema(_St(docs.schema.fields)).json(
            src_dir
        )
        q = commit_stream_to_lake(stream, lake, str(tmp_path / ck)).start()
        q.awaitTermination(180)

    def daemon(ck):
        q = consume_lake_changes_stream(
            spark, lake, mv, str(tmp_path / ck), apply_fn=mv_delta_rows
        ).start()
        q.awaitTermination(180)

    drop("a.json", docs.where(F.col("doc_id") < cut))
    ingest("ick1")
    daemon("dck1")
    drop("b.json", docs.where(F.col("doc_id") >= cut))
    ingest("ick1")
    daemon("dck2")  # FRESH daemon checkpoint: marks carry the state

    served = mv_serve(spark, mv)
    direct = (
        lake_read(spark, lake)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    assert served.count() == direct.count()
    assert served.exceptAll(direct).count() == 0
    # a third drain with nothing new adds no MV versions
    from cours_datalake_dwh_td_kafka_spark.lake import current_version

    v_before = current_version(mv)
    daemon("dck3")
    assert current_version(mv) == v_before


@pytest.mark.slow
def test_sessions_maintenance_daemon_end_to_end(spark, tmp_path):
    """The flagship sessions table maintained by the streaming CDC
    daemon: cold-start bootstrap from v1, a late insert wave, and an
    event-lake ERASURE (merge-on-read delete) each fold exactly once —
    after every drain the table equals a from-scratch recompute, a
    second drain consumes nothing, and marks (not the checkpoint)
    carry the exactly-once state."""
    from datetime import datetime

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_commit,
        lake_delete_keys,
        lake_read,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.session_queries import (
        maintain_sessions_from_cdc,
        sessions_maintenance_stream,
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
    ev_path = str(tmp_path / "events")
    sess_path = str(tmp_path / "sessions")

    lake_commit(
        spark.createDataFrame(
            [ev(1, 1, 0), ev(2, 1, 10), ev(3, 2, 0), ev(4, 2, 20)], schema
        ),
        ev_path,
    )

    def drain(ck):
        q = sessions_maintenance_stream(
            spark, ev_path, sess_path, str(tmp_path / ck)
        ).start()
        q.awaitTermination(120)

    def assert_consistent():
        final = lake_read(spark, sess_path)
        want = sessionize_events(lake_read(spark, ev_path))
        assert final.exceptAll(want).count() == 0
        assert want.exceptAll(final).count() == 0

    drain("ck1")  # cold start: bootstraps the table from v1
    assert_consistent()

    # late wave: an error mid-run splits user 1's session
    lake_commit(
        spark.createDataFrame([ev(5, 1, 5, "error")], schema),
        ev_path,
        mode="append",
    )
    drain("ck2")  # FRESH checkpoint: marks carry exactly-once, not it
    assert_consistent()
    assert lake_read(spark, sess_path).where("user_id = 1").count() == 2

    # erasure on the EVENT lake: user 2's events disappear -> their
    # sessions must too (delete-direction changes touch users)
    lake_delete_keys(
        spark,
        ev_path,
        "user_id",
        keys=spark.createDataFrame([(2,)], "user_id bigint"),
    )
    drain("ck3")
    assert_consistent()
    assert lake_read(spark, sess_path).where("user_id = 2").count() == 0

    # nothing new: the daemon consumes zero versions
    assert maintain_sessions_from_cdc(spark, ev_path, sess_path) == []


def test_commit_stream_to_lake_stats_on_append_prunes_batches(
    spark, tmp_path
):
    """Round 14 stats-on-append through the streaming sink: each
    micro-batch's files carry their [min, max], so a pruned read over
    a narrow range opens only the matching batch's file — the ingest
    stream stops eroding pruned reads between reclusters."""
    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_read_pruned,
        pruned_files,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        commit_stream_to_lake,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    # three disjoint station-id waves, one file per batch
    for i, lo in enumerate((0, 1000, 2000)):
        _write_batch(
            str(indir),
            [{"station": lo + j, "reading": 1.0} for j in range(50)],
            f"b{i}",
        )
    s = (
        spark.readStream.schema("station LONG, reading DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = commit_stream_to_lake(s, lake, ckpt, stats_cols=("station",)).start()
    q.awaitTermination(120)
    keep, total = pruned_files(lake, "station", 1000, 1049)
    assert total >= 3 and len(keep) < total  # other batches skipped
    got = lake_read_pruned(spark, lake, "station", 1000, 1049)
    assert got.count() == 50
